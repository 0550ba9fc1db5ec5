"""Physical-plan quality gates: the scale contract, enforced in CI.

Correctness says the query returns the right rows; these tests say it
returns them with the *plan you'd want on 100 TB*: filters reaching the
parquet reader, only needed columns scanned, small dimensions broadcast,
no accidental cartesian/nested-loop joins, hot paths inside whole-stage
codegen. A regression here is a 100×-at-scale bug even when sf0.001
results stay correct.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from thread_based_map_reduce_spark.plans.catalog import queries

_QS = None
# (name, execute) -> plan text. Five all-catalog sweeps walk every plan;
# without this cache each sweep re-built all ~350 DataFrames (py4j plan
# construction alone is ~0.3-0.7 s per query), which was ~21 minutes of
# the suite wall-clock (r13 --durations profile). The session, sf_dir and
# catalog are fixed for a pytest run, so the plan text is too.
_PLAN_CACHE: dict[tuple[str, bool], str] = {}


def plan_of(spark, sf_dir: str, name: str, execute: bool = False) -> str:
    global _QS
    cached = _PLAN_CACHE.get((name, execute))
    if cached is not None:
        return cached
    if _QS is None:
        _QS = queries()
    df = _QS[name](spark, sf_dir)
    if execute:
        # AQE only annotates codegen ids / final exchanges once the plan is
        # final — run THIS DataFrame's own action (a sink write would execute
        # a separate QueryExecution and leave this plan non-final).
        df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    _PLAN_CACHE[(name, execute)] = plan
    return plan


def count_nodes(plan: str, node: str) -> int:
    # An executed AQE plan repeats the tree as "== Final Plan ==" then
    # "== Initial Plan ==" — count only the final tree. Without AQE markers,
    # count detail headers ("(4) Exchange"), one per node.
    if "== Final Plan ==" in plan:
        tree = plan.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
        return len(re.findall(rf"\b{node} \(\d+\)", tree))
    return len(re.findall(rf"^\(\d+\) {node}", plan, flags=re.MULTILINE))


def test_q6_filters_pushed_to_parquet(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "tpch_q6_revenue")
    assert "PushedFilters" in plan
    assert "PushedFilters: []" not in plan, "no filter reached the parquet scan"


def test_q6_column_pruning(spark, sf_dir):
    # Q6 needs 4 of lineitem's 11 columns; the scan must not read the rest.
    plan = plan_of(spark, sf_dir, "tpch_q6_revenue")
    read_schema_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema_lines, "no ReadSchema in plan"
    schema = " ".join(read_schema_lines)
    for needed in ("l_shipdate", "l_discount", "l_quantity", "l_extendedprice"):
        assert needed in schema
    for pruned in ("l_orderkey", "l_partkey", "l_returnflag", "l_comment"):
        assert pruned not in schema, f"scan reads unneeded column {pruned}"


@pytest.mark.parametrize("name", ["join_star_revenue", "tpch_q3_toporders", "percentiles"])
def test_dim_joins_are_broadcast(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    assert "BroadcastHashJoin" in plan, f"{name}: dimension join is not broadcast"


@pytest.mark.parametrize(
    "name",
    [
        "dedup_minhash_lsh_pairs",
        "dedup_jaccard_blocked",
        "dedup_embedding_cosine",
        "dedup_embedding_lsh",
        "ann_bruteforce_topk",
        "ann_lsh_bucketed",
        "ann_lsh_multiprobe",
        "ivf_search_nprobe2",
        "asof_join_signup",
        "range_join_clicks",
    ],
)
def test_no_cartesian_or_nested_loop(spark, sf_dir, name):
    # Pair-generation and as-of/range joins must never degrade to a global
    # cross product — that is the O(n²) cliff at scale.
    plan = plan_of(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, f"{name}: plan has a cartesian product"


@pytest.mark.parametrize("name", ["charcount", "tpch_q1", "filter_pushdown"])
def test_hot_path_in_codegen(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name, execute=True)
    assert "codegen id" in plan, f"{name}: no whole-stage codegen span in plan"


def test_exact_dedup_single_shuffle(spark, sf_dir):
    # hash → groupBy is one exchange; a second exchange would mean the
    # narrow-key design regressed.
    plan = plan_of(spark, sf_dir, "dedup_exact", execute=True)
    assert count_nodes(plan, "Exchange") <= 1


def test_cogroup_shuffle_immune_to_aqe_coalescing(spark, sf_dir):
    # Per-key Python cogroup cost scales with KEY COUNT, not bytes; AQE's
    # byte-based coalescing sees a few MB, collapses the shuffle to one
    # partition, and serializes every per-key merge call on one core
    # (measured 14.3 s vs 2.5 s at sf0.1). Both cogroup inputs must arrive
    # via explicit REPARTITION_BY_NUM exchanges, which AQE never coalesces.
    plan = plan_of(spark, sf_dir, "cogroup_user_activity")
    assert plan.count("REPARTITION_BY_NUM") >= 2, (
        "cogroup inputs lost their explicit repartition — AQE will coalesce "
        "the Python lane to one partition"
    )


# Queries whose POINT is the Python lane (parity/UDF/multimodal kernels).
_PYTHON_LANE = {
    "mr_charcount",
    "mr_wordcount_filtered",
    "mr_lang_source_expand",
    "udtf_tokenize",
    "cogroup_user_activity",
    "pandas_udf_token_count",
    "multimodal_decode_stats",
    "multimodal_resize_thumbs",
    "multimodal_pgm_decode",
    "multimodal_png_decode",
    "multimodal_flip_augment",
    "pandas_udaf_micro_mean",
    "multimodal_wav_features",
    "multimodal_wav_decode",
    "multimodal_y4m_decode",
    "multimodal_y4m_motion",
    # r7: the baseline-JPEG codec is two Arrow-batched mapInPandas kernels
    # (Huffman entropy coding is not expressible as SQL expressions)
    "multimodal_jpeg_decode",
    # r8: the AC-lane twin rides the same mapInPandas codec
    "multimodal_jpeg_ac_decode",
    # r9: the BMP struct-unpack parser kernel (same pattern as PGM/WAV)
    "multimodal_bmp_decode",
}
_PY_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")


def test_declarative_queries_have_no_python_in_plan(spark, sf_dir):
    # The JVM-only claim (SCALE.md §1), enforced: every non-parity query's
    # physical plan must be free of Python evaluation nodes.
    global _QS
    if _QS is None:
        _QS = queries()
    offenders = []
    for name, fn in _QS.items():
        if name in _PYTHON_LANE or name in ("dedup_clusters", "dedup_keep_best", "ivf_kmeans_assignments"):  # iterative: build eagerly
            continue
        plan = plan_of(spark, sf_dir, name)
        if any(node in plan for node in _PY_NODES):
            offenders.append(name)
    assert not offenders, f"Python in supposedly-JVM-only plans: {offenders}"


def test_global_sort_uses_range_partitioning(spark, sf_dir):
    # orderBy must plan a range exchange (sampled split points -> balanced
    # sorted partitions), not a single-partition sort
    plan = plan_of(spark, sf_dir, "limit_offset_page")
    assert "rangepartitioning" in plan.lower() or "TakeOrderedAndProject" in plan, (
        "global sort neither range-partitioned nor top-k optimized"
    )


def test_shuffle_hash_hint_respected(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "join_hint_shuffle_hash")
    assert "ShuffledHashJoin" in plan, "SHUFFLE_HASH hint did not change the strategy"


def test_pack_sequences_bounded_windows(spark, sf_dir):
    # VERDICT r3 wrong #2 fix: the running token sum must use the
    # bucket-prefix-sum shape — the corpus-sized window partitions on
    # (_shard, _bucket) so no window task scans corpus/PACK_SHARDS rows,
    # and the prefix-sum window touches only the tiny bucket-total rows.
    # Shape gates: the (_shard, _bucket) windowspec exists, bucket offsets
    # ship as a broadcast (never a corpus-wide shuffle join), documents is
    # scanned once (both branches reuse the checkpointed narrow frame),
    # and exactly ONE corpus-sized exchange remains (the window's
    # hash(_shard, _bucket) route; the others move post-aggregate rows).
    plan = plan_of(spark, sf_dir, "pack_sequences_stats")
    spec = re.search(r"windowspecdefinition\(_shard\S*, _bucket\S*,", plan)
    assert spec, "running sum no longer partitioned by (_shard, _bucket)"
    assert count_nodes(plan, "BroadcastExchange") >= 1, (
        "bucket offsets not broadcast"
    )
    assert count_nodes(plan, "Scan parquet") == 0, (
        "branches re-scan parquet instead of reusing the checkpointed "
        "narrow token frame"
    )


def test_zorder_rank_stage_shape(spark, sf_dir):
    # the quantized frame is checkpointed once, so the final plan reads the
    # materialized RDD (no per-branch parquet re-scan) and must not contain
    # a cartesian product; rank windows are per-bucket (PartitionBy), never
    # a global single-partition window over the data.
    plan = plan_of(spark, sf_dir, "zorder_pruning_stats")
    assert "CartesianProduct" not in plan
    assert count_nodes(plan, "Scan parquet") == 0, (
        "zorder branches re-scan parquet instead of reusing the "
        "checkpointed quantized frame"
    )


def test_skyline_windows_are_bucketed(spark, sf_dir):
    # the strictly-cheaper cumulative max must run per range-bucket (_b),
    # not as one global window over the distinct prices; the bucket prefix
    # and minmax bounds ship as broadcasts; no cartesian anywhere
    plan = plan_of(spark, sf_dir, "skyline_pareto_parts")
    assert "CartesianProduct" not in plan
    assert re.search(r"windowspecdefinition\(_b\S*, pr", plan), (
        "cumulative max no longer partitioned by the price bucket"
    )
    assert count_nodes(plan, "BroadcastExchange") >= 2, (
        "bounds / bucket-prefix no longer broadcast"
    )


def test_streak_windows_all_partition_by_user(spark, sf_dir):
    # every windowspec in the streak plan must lead with user_id — the
    # per-user bound is the whole scale story
    plan = plan_of(spark, sf_dir, "longest_streak_per_user")
    specs = re.findall(r"windowspecdefinition\((\w+)", plan)
    assert specs and all(s.startswith("user_id") for s in specs), specs


def test_pq_codes_are_broadcast(spark, sf_dir):
    # the 128-row codebook must be the broadcast side; assignment must not
    # shuffle the exploded subvector frame before the argmin aggregation
    plan = plan_of(spark, sf_dir, "pq_codebook_stats")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, "codebook join is not broadcast"


def test_decayed_trend_no_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "events_decayed_trend")
    assert "CartesianProduct" not in plan


def test_bloom_probe_bit_join_broadcast(spark, sf_dir):
    # the M-bit set must be the broadcast side of the probe join — that IS
    # the runtime-filter pattern; the one-row stat crossJoins may be BNLJ
    # but a real CartesianProduct is always a bug
    plan = plan_of(spark, sf_dir, "bloom_filter_join_stats")
    assert "CartesianProduct" not in plan
    assert re.search(r"keys \[1\]: \[bit", plan), (
        "bloom bit set no longer broadcast to the probe side"
    )
    assert "BroadcastHashJoin Inner" in plan


def test_countmin_probe_joins_broadcast_sketch(spark, sf_dir):
    # the fixed-size sketch must broadcast to the probe — at scale the
    # probe side is the big one
    plan = plan_of(spark, sf_dir, "countmin_topk_estimate")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, "sketch lookup join is not broadcast"


def test_gini_rank_windows_are_bucketed(spark, sf_dir):
    # the within-nation rank must run per (nation, bucket), never as one
    # window per nation scanning all of that nation's customers
    plan = plan_of(spark, sf_dir, "revenue_gini_by_nation")
    assert "CartesianProduct" not in plan
    assert re.search(r"windowspecdefinition\(c_nationkey\S*, _bkt", plan), (
        "customer-rank window no longer partitioned by (nation, bucket)"
    )


def test_semantic_dedup_pairs_join_on_cell(spark, sf_dir):
    # the quadratic cosine-verify stage must be keyed on the cluster cell
    # (hash/merge join on cell) — an unkeyed pair join is corpus^2
    plan = plan_of(spark, sf_dir, "semantic_dedup_stats")
    assert "CartesianProduct" not in plan
    assert re.search(r"keys \[1\]: \[cell", plan), (
        "pair join lost its cell equi-key"
    )
    # both pair stats must come from ONE pass over the verify join
    assert len(re.findall(r"SortMergeJoin Inner", plan)) <= 1, (
        "the quadratic cosine-verify join is executed more than once"
    )


def test_attribution_window_partitions_by_user(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "funnel_attribution_last_touch")
    specs = re.findall(r"windowspecdefinition\((\w+)", plan)
    assert specs and all(s.startswith("user_id") for s in specs), specs


def test_dq_audit_anti_joins_broadcast(spark, sf_dir):
    # all three referential checks should run as broadcast anti-joins at
    # this dimension scale (AQE may legitimately pick SMJ for huge dims,
    # but losing broadcast HERE means a hint/stats regression)
    plan = plan_of(spark, sf_dir, "dq_audit_stats")
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"BroadcastHashJoin .*LeftAnti", plan)) >= 3


def test_peak_concurrency_windows_are_day_bucketed(spark, sf_dir):
    # the global running sum must run per day-bucket (_b) with broadcast
    # offsets — never one global window over all distinct timestamps
    plan = plan_of(spark, sf_dir, "peak_concurrency")
    assert "CartesianProduct" not in plan
    assert re.search(r"windowspecdefinition\(_b", plan), (
        "running sum no longer partitioned by the day bucket"
    )
    assert count_nodes(plan, "BroadcastExchange") >= 2, (
        "offsets / peak row no longer broadcast"
    )


def test_mannwhitney_rank_windows_are_bucketed(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "mannwhitney_price_urgent")
    assert "CartesianProduct" not in plan
    assert re.search(r"windowspecdefinition\(_b", plan), (
        "rank reconstruction no longer partitioned by the price bucket"
    )


def test_nb_scoring_has_no_python_and_no_cartesian_blowup(spark, sf_dir):
    # the classifier is pure DataFrame ops: no Python evaluation anywhere,
    # and the only nested-loop joins are one-row broadcast aggregates
    # (vstats / ntr); the token-scoring join must be an equi-join
    plan = plan_of(spark, sf_dir, "nb_langid_train_eval")
    assert "CartesianProduct" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    assert count_nodes(plan, "BroadcastHashJoin") + count_nodes(
        plan, "SortMergeJoin"
    ) + count_nodes(plan, "ShuffledHashJoin") >= 2, (
        "token likelihood/scoring joins vanished — scoring no longer a join"
    )


def test_ols_is_single_aggregation_pass(spark, sf_dir):
    # regression-as-aggregation: exactly one join (orders x per-order
    # features), no Python, no window — the solve is projection-only math
    plan = plan_of(spark, sf_dir, "ols_price_model")
    assert "CartesianProduct" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "Window"):
        assert marker not in plan, f"unexpected {marker} in OLS plan"


def test_stump_window_runs_on_bin_table(spark, sf_dir):
    # split pricing must window over (feature, bin) — a table bounded at
    # ~76 rows — never over raw orders
    plan = plan_of(spark, sf_dir, "decision_stump_train")
    assert re.search(r"windowspecdefinition\(feature", plan), (
        "cumulative class counts no longer partitioned by feature"
    )
    assert count_nodes(plan, "BroadcastExchange") >= 1, (
        "price min/max bounds no longer broadcast"
    )


@pytest.mark.parametrize(
    "name", ["word_freq_topn", "char_trigram_profile", "token_pmi_pairs", "zipf_fit_stats"]
)
def test_text_topk_is_distributed(spark, sf_dir, name):
    # VERDICT r4 #3: global top-k over an unbounded input (vocabulary /
    # co-occurring-pair set, both corpus-growing) must be orderBy+limit —
    # TakeOrderedAndProject, per-partition heaps — never an unpartitioned
    # row_number window ranking the full set in one task. A rank window is
    # only allowed ABOVE the limit (it then runs over <= K rows).
    plan = plan_of(spark, sf_dir, name)
    # tree section only (parents printed before children); detail blocks
    # after the first blank line repeat node names in id order — excluded
    tree = plan.split("== Physical Plan ==", 1)[-1].split("\n\n", 1)[0]
    assert "TakeOrderedAndProject" in tree, f"{name}: top-k is not distributed"
    # formatted explain prints parents before children: any Window must be
    # a CONSUMER of the TakeOrderedAndProject (appear earlier in the tree),
    # i.e. rank over the already-bounded <= K rows
    take_pos = tree.index("TakeOrderedAndProject")
    for m in re.finditer(r"Window", tree):
        assert m.start() < take_pos, (
            f"{name}: Window below TakeOrderedAndProject — ranking an unbounded input"
        )


def test_cumulative_share_topk_is_distributed(spark, sf_dir):
    # the top-100 cut must be TakeOrderedAndProject; the cum-sum/rank
    # window then runs over <= 100 rows (never the full orders table)
    plan = plan_of(spark, sf_dir, "cumulative_revenue_share")
    tree = plan.split("== Physical Plan ==", 1)[-1].split("\n\n", 1)[0]
    assert "TakeOrderedAndProject" in tree
    take_pos = tree.index("TakeOrderedAndProject")
    for m in re.finditer(r"Window", tree):
        assert m.start() < take_pos, "Window ranks an unbounded input"


def test_ltv_deciles_rank_windows_are_bucketed(spark, sf_dir):
    # the per-customer rank must come from the two-level bucket-prefix
    # shape: the only window allowed to run unpartitioned is the
    # bucket-prefix sum over the <= 64-row bucket-count table (ordered by
    # _bkt; Catalyst folds the constant group column out of its partition
    # spec) — never a window ordering the per-customer spend itself
    plan = plan_of(spark, sf_dir, "customer_ltv_deciles")
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "bucketed rank windows vanished"
    for s in specs:
        first = s.split(",")[0]
        if " ASC" in first or " DESC" in first:  # unpartitioned window
            assert first.startswith("_bkt"), (
                f"unpartitioned window over unbounded input: {s[:80]}"
            )


def test_approx_aggregates_sketches_split_from_distinct(spark, sf_dir):
    # the sketch pass (HLL++/quantile buffers) and the countDistinct pass
    # must be SEPARATE aggregations joined on the group key: fused, the
    # Expand-based distinct rewrite allocates every ~16 KB sketch buffer
    # per (group, gid, distinct-value) partial group (measured 226 s vs
    # ~3 s at sf0.1). The join disappearing means someone re-fused them.
    plan = plan_of(spark, sf_dir, "approx_aggregates")
    assert count_nodes(plan, "Expand") == 1, (
        "expected exactly one Expand (the distinct-only pass); the sketch "
        "pass must not sit behind a distinct rewrite"
    )
    assert re.search(r"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", plan), (
        "sketch and distinct aggregations are no longer joined — re-fused?"
    )
    # the Expand branch must carry no sketch buffers
    expand_idx = plan.find("Expand")
    assert "approx_count_distinct" not in plan[expand_idx : expand_idx + 400].lower()


# ---------------------------------------------------------------------------
# Generic unpartitioned-window sweep (VERDICT r5 next-round #3).
#
# Every `Window`/`WindowInPandas` with an EMPTY partition spec runs on a
# single task after an Exchange SinglePartition — the one shape that cannot
# scale past one core no matter how many executors exist. Each site below
# was individually audited (r5 judge + per-site gates above) as bounded by
# construction: 256-row bucket prefix sums, <= K post-limit rank windows,
# calendar-month / study-day grids, the |types|^3 path table, per-bin CDF
# tables. This sweep freezes that audit as an invariant over ALL catalog
# plans: a new query introducing a partition-less window fails CI here until
# its boundedness is argued in a comment and the site is allowlisted.
# ---------------------------------------------------------------------------

# query name -> max number of partition-less Window nodes its physical plan
# may contain. Counts frozen from the round-6 sweep of all 290 plans.
_BOUNDED_GLOBAL_WINDOW_SITES = {
    # analytics/statistics wave: small grids (bins, months, study days,
    # ranks over <= K rows) — boundedness comments at each W.orderBy site
    "approx_quantile_eval": 1,
    "chi2_lang_source_independence": 2,
    "emd_price_urgent_binned": 1,
    "km_survival_signup_purchase": 2,
    "mannwhitney_price_urgent": 1,
    "orders_backlog_monthly": 1,
    "peak_concurrency": 3,
    "segmented_trend_breakpoint": 2,
    "skyline_pareto_parts": 1,
    "user_path_trigrams": 1,
    "weighted_median_price_by_flag": 1,
    # post-limit rank windows (TakeOrderedAndProject above, <= K rows)
    "word_freq_topn": 1,
    # r8 audit: the rank window runs over the ARES_K=100-row TakeOrdered
    # result (curation.py q_weighted_sample_ares — boundedness comment at
    # the site)
    "weighted_sample_ares": 1,
    # r9 audit: ntile + position windows both run over the
    # <= CURR_DOC_BUDGET=200-row quota-selected manifest, never the
    # corpus (boundedness comment at the site in q_curriculum_manifest)
    "curriculum_manifest": 2,
    "char_trigram_profile": 1,
    "countmin_topk_estimate": 1,
    "vocab_growth_curve": 1,
    "zipf_fit_stats": 1,
    "inverted_index_stats": 2,
    "lateral_topk_per_nation": 1,
    "dedup_keep_best": 1,
    "customer_ltv_deciles": 1,
    "cumulative_revenue_share": 1,
    # calendar / month-spine grids (bounded by the calendar)
    "orders_monthly_growth": 1,
    "recursive_month_spine": 1,
    "events_anomaly_trailing_z": 1,
    # one-row / distinct-stats / bucket-count tables
    "zscore_outliers": 1,
    "ratio_to_report": 1,
    "doc_char_entropy": 1,
    "shard_assignment_stats": 1,
    "zorder_pruning_stats": 2,
    "key_skew_report": 2,
    "decision_stump_train": 1,
    # rank over the two-level bucket table (W * n candidates, gated above)
    "dedup_sorted_neighborhood": 2,
    # r10 audit: the same two bounded prefix-sum windows as
    # zorder_pruning_stats — each runs over the <= RANK_BUCKETS=256-row
    # bucket-count table (boundedness comment at _global_rank_layouts), one per
    # layout branch
    "hilbert_pruning_stats": 2,
}


def _toplevel_bracket_groups(s: str) -> int:
    """Count top-level [...] groups in a formatted-plan Arguments line."""
    depth = groups = 0
    for ch in s:
        if ch == "[":
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups += 1
    return groups


def unpartitioned_window_count(plan: str) -> int:
    """Partition-less Window nodes in a formatted physical plan.

    A Window detail section prints ``Arguments: [exprs], [part], [order]``
    (3 top-level bracket groups) when partitioned and only
    ``Arguments: [exprs], [order]`` (2 groups) when global.
    """
    n = 0
    for m in re.finditer(
        r"^\(\d+\) (?:Window(?:InPandas)?)\n((?:.+\n)+?)\n", plan + "\n", re.M
    ):
        am = re.search(r"^Arguments: (.*)$", m.group(1), re.M)
        if not am:
            continue
        args = am.group(1)
        if _toplevel_bracket_groups(args) != 2:
            continue
        # Two groups is EITHER [exprs], [order] (global — offender) or
        # [exprs], [partition] (partitioned frame-only window, e.g.
        # count(*) OVER (PARTITION BY k) — fine). Spark always prints
        # sort directions in an ordering group, so the last group is an
        # ordering iff it carries ASC/DESC.
        last = args[args.rindex("["):]
        if re.search(r"\b(ASC|DESC)\b", last):
            n += 1
    return n


def test_unpartitioned_window_detector_fires(spark, sf_dir):
    # A deliberately-unbounded probe: rank the full documents table in one
    # global window. The detector MUST see it — otherwise the sweep below
    # is vacuous.
    import contextlib as _ctx
    import io as _io

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from thread_based_map_reduce_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    probe = docs.withColumn("rn", F.row_number().over(W.orderBy("doc_id")))
    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        probe.explain("formatted")
    assert unpartitioned_window_count(buf.getvalue()) >= 1
    # and a properly bucketed twin must NOT trip it
    ok = docs.withColumn(
        "rn", F.row_number().over(W.partitionBy("lang").orderBy("doc_id"))
    )
    buf2 = _io.StringIO()
    with _ctx.redirect_stdout(buf2):
        ok.explain("formatted")
    assert unpartitioned_window_count(buf2.getvalue()) == 0


def test_unpartitioned_window_sweep_all_plans(spark, sf_dir):
    # Walk every catalog plan; partition-less windows are allowed only at
    # the frozen bounded sites, and only up to their frozen count.
    qs = queries()
    offenders = {}
    for name, fn in qs.items():
        plan = plan_of(spark, sf_dir, name)
        n = unpartitioned_window_count(plan)
        if n > _BOUNDED_GLOBAL_WINDOW_SITES.get(name, 0):
            offenders[name] = n
    assert not offenders, (
        "partition-less Window nodes outside the audited bounded sites "
        f"(add a boundedness comment + allowlist entry if truly bounded): {offenders}"
    )


# ---------------------------------------------------------------------------
# Generic join-degradation sweep, companion to the window sweep above.
#
# CartesianProduct is the O(n^2)-shuffle cliff: it must never appear in ANY
# catalog plan (the r5 judge verified this by hand-grep; this freezes it).
# BroadcastNestedLoopJoin is legitimate ONLY for the audited pattern of
# crossJoin against a broadcast one-row aggregate / tiny stats table — the
# counts below are frozen from the round-6 sweep of all 291 plans, so a new
# query (or a regressed join condition that stops being an equi-join) cannot
# introduce an unaudited nested-loop join without failing here.
# ---------------------------------------------------------------------------

# query name -> max BroadcastNestedLoopJoin nodes its plan may contain; every
# site is a crossJoin against a broadcast one-row aggregate or a tiny
# stats/centroid/bin table (audited r5 judge grep + per-site gates above).
#
# RE-AUDIT CONTRACT (ADVICE r6): bumping a count here is an audit claim, not
# a test fix. Before raising any number, .explain("formatted") the plan and
# verify the NEW BroadcastNestedLoopJoin's build side is a broadcast one-row
# aggregate or a bounded stats table (grep the plan for the broadcast
# exchange feeding it), then record the query + build-side relation in the
# bump commit message. A count that DROPS is fine (optimizer improved); a
# plan that reshapes while keeping the count can hide an unaudited site —
# if the query's join logic changed, re-audit even when the number fits.
_AUDITED_BNLJ_SITES = {
    # r7 audit: bm25's one site is the crossJoin against the broadcast
    # one-row (n, avgdl) corpus-stats aggregate (IdentityBroadcastMode
    # build side verified in the formatted plan, node (51) in the r7 audit)
    "bm25_retrieval_topk": 1,
    # r7 audit: kll's two sites are crossJoins against broadcast one-row
    # aggregates — (n_total, level) at node (13) and the six-column
    # sketch/estimate row at node (20); both BroadcastExchange inputs
    # verified one-row in the formatted plan
    "kll_quantile_sketch": 2,
    # r8 audit: the composed recall eval inherits exactly its twins' sites —
    # the brute-force truth's crossJoin against the broadcast 10-row query
    # set (ann_bruteforce_topk's site) and ivf_search's two centroid
    # crossJoins (broadcast 10-row centroid table); verified in the
    # formatted plan (3 BNLJ, all BuildRight on bounded broadcasts)
    "ann_method_recall_eval": 3,
    # r8 growth audit (formatted plans verified: every site BuildRight over
    # a BroadcastExchange of an ungrouped = one-row HashAggregate):
    # theta's three are th_a x th_b (two one-row k-th-minimum aggregates),
    # merged x theta, and counts x exact; dsir/temperature cross the
    # broadcast one-row totals aggregate; leakage crosses the one-row
    # leak-count audit aggregate.
    "theta_sketch_setops": 3,
    "dsir_importance_select": 1,
    "temperature_mix_allocation": 1,
    "leakage_safe_split": 1,
    # r12 audit (formatted plan verified): both sites are crossJoins
    # against the broadcast ONE-ROW matched-budget aggregate
    # (min(n_pairs) over the checkpointed 3-row stats table) — node (8)
    # the final stats x budget assembly, node (51) the ranked-pairs cut
    # (the where-clause rk <= n_budget is folded into the join
    # condition); both BuildRight over a one-row HashAggregate, the
    # dedup_blocking_recall_eval pattern
    "dedup_removal_sweep": 2,
    # bpe: per merge round, the one-row argmax broadcast feeding the merge
    # replace AND the one-row (argmax x stats) output row — 2 x 3 rounds,
    # every build side an ungrouped (or LIMIT 1) one-row aggregate
    "bpe_train_merges": 6,
    # r8: the broadcast one-row training-token-total (ntr) crossJoin
    "heldout_backoff_nll": 1,
    # r9 audit: the one-row ztemp normalizer crossJoin (the same
    # temperature_mix_allocation site, BuildRight over a one-row
    # ungrouped HashAggregate broadcast)
    "curriculum_manifest": 1,
    # r9 late-batch audit (every site verified BuildRight over an
    # IdentityBroadcastMode BroadcastExchange of an ungrouped = ONE-ROW
    # aggregate in the executed plan):
    # ams: the one-row median-of-means percentile aggregate and the
    # one-row exact-F2 sum crossed onto the one-row mean estimator row
    "ams_f2_sketch_estimate": 2,
    # ccnet: the one-row vocabulary-total aggregate — the identical
    # audited site unigram_nll_quality carries (same machinery)
    "ccnet_perplexity_buckets": 1,
    # outer-join runtime: the one-row terminal-watermark-cutoff max
    # aggregate crossed onto the sink for the boundary filter
    "streaming_outer_join_runtime": 1,
    # r10 re-audit (the 5-family matched-budget rewrite): the per-family
    # count/hit crossJoins now sit BEHIND the stats checkpoint; the final
    # plan's three sites are the one-row n_truth aggregate, and the
    # one-row min-n_pairs budget aggregate crossed twice (the budgeted
    # cut and the output projection) — all BuildRight over one-row
    # broadcasts
    "dedup_blocking_recall_eval": 3,
    # r10 audit: the one-row moment-totals aggregate (tot) and the
    # one-row leak-count audit aggregate — the ols_kfold_cv /
    # leakage_safe_split sites composed
    "group_kfold_cv": 2,
    "ann_bruteforce_topk": 1, "ann_recall_eval": 1, "approx_quantile_eval": 5,
    "association_rules_lift": 1, "benford_digit_stats": 1, "bloom_filter_join_stats": 4,
    "cdc_merge_apply": 4, "churn_label_stats": 1, "consistent_hash_rebalance": 1,
    "cross_join_bounded": 1, "cumulative_revenue_share": 1, "customer_ltv_deciles": 3,
    "decision_stump_train": 1, "dq_audit_stats": 3, "dup_graph_degree_stats": 1,
    "emd_price_urgent_binned": 5, "funnel_attribution_last_touch": 1, "hll_distinct_estimate": 1,
    "inverted_index_stats": 2, "ivf_kmeans_assignments": 1, "ivf_search": 2,
    "ivf_search_nprobe2": 2, "join_cardinality_eval": 2, "key_skew_report": 2,
    "km_survival_signup_purchase": 3, "kmv_distinct_estimate": 1, "lsh_band_tuning_curve": 4,
    "mannwhitney_price_urgent": 2, "nb_langid_train_eval": 4, "ols_kfold_cv": 1,
    "pca_power_iteration": 3, "peak_concurrency": 2, "pq_recall_eval": 1,
    "psi_drift_stats": 6, "range_partition_balance": 3, "revenue_gini_by_nation": 2,
    "rfm_segments": 1, "segmented_trend_breakpoint": 1, "semantic_dedup_stats": 5,
    "skyline_pareto_parts": 2, "source_lang_kl": 6, "subquery_scalar": 1,
    "tfidf_top_terms": 1, "token_pmi_pairs": 1, "tpch_q11_value_concentration": 1,
    "tpch_q22_idle_customers": 1, "trend_slope_per_type": 1, "unigram_nll_quality": 1,
    "vocab_growth_curve": 3, "woe_iv_price_bins": 1,
}


def test_join_degradation_sweep_all_plans(spark, sf_dir):
    qs = queries()
    cartesian, bnlj_offenders = {}, {}
    for name, fn in qs.items():
        plan = plan_of(spark, sf_dir, name)
        c = count_nodes(plan, "CartesianProduct")
        if c:
            cartesian[name] = c
        b = count_nodes(plan, "BroadcastNestedLoopJoin")
        if b > _AUDITED_BNLJ_SITES.get(name, 0):
            bnlj_offenders[name] = b
    assert not cartesian, f"CartesianProduct in catalog plans: {cartesian}"
    assert not bnlj_offenders, (
        "BroadcastNestedLoopJoin beyond the audited one-row-broadcast sites "
        "(fix the join condition, or audit the site and bump its frozen "
        f"count): {bnlj_offenders}"
    )


def test_grouped_python_shuffles_are_coalesce_exempt(spark, sf_dir):
    # Companion sweep to the cogroup gate above, generalized: every per-key
    # grouped-Python node (FlatMapGroupsInPandas / FlatMapCoGroupsInPandas,
    # and their r13 Arrow twins FlatMapGroupsInArrow / FlatMapCoGroupsInArrow
    # — one Python call per key) must be fed by explicit REPARTITION_BY_NUM
    # exchanges. A plain ENSURE_REQUIREMENTS shuffle under these nodes is
    # eligible for AQE byte-based coalescing, which collapses a small-bytes
    # / many-keys stage to one partition and serializes the Python lane.
    qs = queries()
    offenders = {}
    for name, fn in qs.items():
        plan = plan_of(spark, sf_dir, name)
        need = (
            count_nodes(plan, "FlatMapGroupsInPandas")
            + count_nodes(plan, "FlatMapGroupsInArrow")
            + 2 * count_nodes(plan, "FlatMapCoGroupsInPandas")
            + 2 * count_nodes(plan, "FlatMapCoGroupsInArrow")
        )
        if need and plan.count("REPARTITION_BY_NUM") < need:
            offenders[name] = (need, plan.count("REPARTITION_BY_NUM"))
    assert not offenders, (
        "grouped-Python nodes fed by coalescible shuffles (pin with "
        f"repartition(n, *keys) — see mapreduce.run_map_reduce): {offenders}"
    )


# ---------------------------------------------------------------------------
# Generic pushed-filter expression-blowup sweep (round 6).
#
# When a query filters on a COMPUTED column (quality score, ngram array,
# assignment rank), Catalyst pushes the predicate below the projection and
# substitutes the full defining expression into the Filter condition.
# Predicate codegen does no cross-reference elimination, so an expression
# referenced k times in the condition is evaluated k times per row — the r6
# audit found split(text) inlined 3-4x per row this way in six queries
# (text_repetition_ratio alone was 2.1s -> 0.9s at sf0.1 once fixed by
# filtering on the cheap equivalent predicate, or materializing the column
# below an exchange/checkpoint first). One occurrence per condition is
# legitimate (a predicate must evaluate its expression once); TWO-or-more of
# the same expensive call in a single Filter condition is the re-inlining
# signature and fails here.
# ---------------------------------------------------------------------------

# expensive (per-row allocating / O(len) or worse) SQL functions whose
# duplication inside one Filter condition indicates substituted re-evaluation
_EXPENSIVE_FILTER_FNS = (
    "split(", "transform(", "aggregate(", "array_distinct(", "sort_array(",
    "array_sort(", "regexp_extract_all(", "sentences(", "flatten(", "zip_with(",
)

# query name -> {fn: max occurrences within a single Filter condition}.
# Frozen empty by the round-6 sweep of all 291 plans after the six fixes.
_AUDITED_FILTER_BLOWUP_SITES: dict = {}


def repeated_expensive_filter_fns(plan: str) -> dict:
    """Max per-condition multiplicity (>= 2) of each expensive fn in Filters."""
    worst: dict = {}
    # NB: [ \t] not \s in the optional suffix — \s matches the newline and
    # would swallow the section's first detail line for un-suffixed nodes
    for m in re.finditer(
        r"^\(\d+\) Filter(?:[ \t].*)?\n((?:.+\n)+?)\n", plan + "\n", re.M
    ):
        cm = re.search(r"^Condition\s*:\s*(.*)$", m.group(1), re.M)
        if not cm:
            continue
        cond = cm.group(1)
        for f in _EXPENSIVE_FILTER_FNS:
            c = cond.count(f)
            if c >= 2:
                key = f.rstrip("(")
                worst[key] = max(worst.get(key, 0), c)
    return worst


def test_filter_blowup_detector_fires(spark, sf_dir):
    # Rebuild the exact pre-fix curate_corpus shape: a quality expression
    # referencing tokens() twice, filtered ABOVE a window so pushdown
    # substitutes the token pipeline into the Filter condition (4x split).
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from thread_based_map_reduce_spark.functions.textfns import tokens
    from thread_based_map_reduce_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    quality = 0.5 * (
        F.size(F.array_distinct(toks)).cast("double")
        / F.nullif(F.size(toks), F.lit(0))
    ) + 0.3 * F.least(F.size(toks) / F.lit(20.0), F.lit(1.0))
    w = W.partitionBy("lang").orderBy("doc_id")
    probe = (
        docs.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .withColumn("q", quality)
        .where(F.col("q") >= 0.5)
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probe.explain("formatted")
    hits = repeated_expensive_filter_fns(buf.getvalue())
    assert hits.get("split", 0) >= 2, f"detector missed the probe: {hits}"


def test_filter_blowup_sweep_all_plans(spark, sf_dir):
    qs = queries()
    offenders = {}
    for name, fn in qs.items():
        hits = repeated_expensive_filter_fns(plan_of(spark, sf_dir, name))
        audited = _AUDITED_FILTER_BLOWUP_SITES.get(name, {})
        bad = {f: c for f, c in hits.items() if c > audited.get(f, 0)}
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "expensive expression inlined >= 2x into a single Filter condition "
        "(filter on the cheap equivalent predicate on the RAW column, or "
        "materialize the computed column below an exchange/checkpoint before "
        f"filtering — see text_repetition_ratio / pipeline.curate_corpus): {offenders}"
    )


def test_filter_blowup_sweep_stream_plans(spark, sf_dir):
    # The catalog sweep above sees only the memory-sink plans of the
    # streaming runtime entries, so the stream builders' own plans are
    # swept here (a shingle-array filter in minhash_dedup_stream once put
    # split x3 and transform x2 into one Filter condition).
    from thread_based_map_reduce_spark.streaming import events

    builders = sorted(
        n for n in dir(events) if n.endswith("_stream") and not n.startswith("_")
    )
    assert "minhash_dedup_stream" in builders
    offenders = {}
    for name in builders:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            getattr(events, name)(spark, sf_dir).explain("formatted")
        hits = repeated_expensive_filter_fns(buf.getvalue())
        if hits:
            offenders[name] = hits
    assert not offenders, (
        f"expensive expression inlined >= 2x into a stream's Filter: {offenders}"
    )


@pytest.mark.parametrize("name", ["dedup_embedding_lsh", "dedup_embedding_cosine"])
def test_cosine_verify_dot_is_staged(spark, sf_dir, name):
    # The verify stage projects the 64-element dot product ONCE as _dot and
    # filters on the scalar; if the cos expression is ever written back into
    # both where and select, pushdown re-inlines the aggregate fold into the
    # Filter condition and it evaluates per reference (the r6
    # dedup_embedding_lsh fix — 2.94 s -> 2.43 s interleaved at sf0.1).
    # Zero `aggregate(` in ANY Filter condition is the frozen invariant.
    # (semantic_dedup_stats is deliberately different: its dot is used
    # by the filter ONLY, so filter-side evaluation is already optimal.)
    plan = plan_of(spark, sf_dir, name)
    for m in re.finditer(
        r"^\(\d+\) Filter(?:[ \t].*)?\n((?:.+\n)+?)\n", plan + "\n", re.M
    ):
        cm = re.search(r"^Condition\s*:\s*(.*)$", m.group(1), re.M)
        if cm:
            assert "aggregate(" not in cm.group(1), (
                f"{name}: dot-product fold re-inlined into a Filter — "
                f"stage it as _dot before the where: {cm.group(1)[:200]}"
            )


def _python_rdd_scans(df) -> list[str]:
    """Scans in ``df``'s physical plan that read a Python RDD: what
    ``createDataFrame`` of Python rows plans as (``Scan ExistingRDD`` over
    a ``PythonRDD``, unpickled by Python workers). A pyarrow table plans as
    a ``LocalTableScan``; checkpoint scans have no Python lineage."""

    def nodes(plan):
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.executedPlan()
        yield plan
        children = plan.children()
        for i in range(children.size()):
            yield from nodes(children.apply(i))

    return [
        node.toString()
        for node in nodes(df._jdf.queryExecution().executedPlan())
        if node.getClass().getSimpleName() == "RDDScanExec"
        and re.search(r"\bPythonRDD\[\d+\]", node.rdd().toDebugString())
    ]


def _kmeans(spark, sf_dir, monkeypatch):
    from thread_based_map_reduce_spark.operators.similarity import kmeans_train

    return kmeans_train(spark, sf_dir, k=4, iters=1)[0]


def _kmeans_exact(spark, sf_dir, monkeypatch):
    from thread_based_map_reduce_spark.operators.similarity import kmeans_train_exact

    return kmeans_train_exact(spark, sf_dir, k=4, iters=1)[0]


def _jaccard_hot_block(spark, sf_dir, monkeypatch):
    import pyarrow as pa

    from thread_based_map_reduce_spark.operators import dedup

    # the hot-block anti-join feeds a checkpoint; without it the anti-join
    # stays in the returned frame's plan
    monkeypatch.setattr(dedup, "reliable_checkpoint", lambda df: df)
    spam = [f"spam spam spam spam {i % 2}" for i in range(12)]
    docs = spark.createDataFrame(
        pa.table({
            "doc_id": pa.array(range(14), pa.int64()),
            "lang": ["en", "en"] + ["xx"] * 12,
            "text": ["a b c d e f", "a b c d e g"] + spam,
        })
    )
    return dedup.jaccard_blocked_pairs(docs, max_block=10)


def _approx_quantiles(spark, sf_dir, monkeypatch):
    from thread_based_map_reduce_spark.operators.analytics import q_approx_quantile_eval

    return q_approx_quantile_eval(spark, sf_dir)


@pytest.mark.parametrize(
    "build", [_kmeans, _kmeans_exact, _jaccard_hot_block, _approx_quantiles],
    ids=lambda f: f.__name__.lstrip("_"),
)
def test_driver_built_frames_are_local_table_scans(spark, sf_dir, monkeypatch, build):
    # centroids, hot blocks and quantile lists are built on the driver;
    # reading them must not start Python workers
    df = build(spark, sf_dir, monkeypatch)
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
    assert not _python_rdd_scans(df)
