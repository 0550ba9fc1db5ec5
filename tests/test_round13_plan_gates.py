"""Round-13 plan-shape gates + focused tests for r13 operator internals.

VERDICT r12 #2: the r12 rewrites (map-only gopher, zero-exchange winnow,
single-groupBy seed chain, one-pass layout ranks) had no plan gates, so a
regression re-introducing an exchange would go unnoticed. The counts below
were frozen from the r13 AQE-final plans (same capture path: execute the
Dataset's own QueryExecution, then count only the Final Plan tree);
``scripts/dump_plans.py`` prints a query's executed plan to compare.
"""

from __future__ import annotations

import numpy as np
import pytest

from test_plans import count_nodes, plan_of


def test_gopher_repetition_is_map_only_plus_spread(spark, sf_dir):
    # r12 rewrite: the whole filter is in-row HOF work; the only exchange
    # is spread_small_scan's round-robin repartition of the tiny corpus
    # (a no-op at scale). No join, no window, ever.
    plan = plan_of(spark, sf_dir, "gopher_repetition_rules")
    assert count_nodes(plan, "Exchange") <= 1, plan
    for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                 "Window", "CartesianProduct"):
        assert count_nodes(plan, node) == 0, (node, plan)


def test_winnow_selected_is_map_only_plus_spread(spark, sf_dir):
    # _winnow_selected (winnowing_fingerprints and every consumer's front
    # half) computes selection in-row: no window pass, no decode join.
    plan = plan_of(spark, sf_dir, "winnowing_fingerprints")
    assert count_nodes(plan, "Exchange") <= 1, plan
    for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                 "Window"):
        assert count_nodes(plan, node) == 0, (node, plan)


def test_winnow_pairs_seed_chain_exchanges_frozen(spark, sf_dir):
    # df band filter + ONE groupBy seed generation: 3 exchanges total
    # (distinct, df-agg/semi-join side, final pair groupBy sharing the
    # (fp,gram) partitioning). A 4th exchange = the r12 shape regressed.
    plan = plan_of(spark, sf_dir, "dedup_winnow_pairs")
    assert count_nodes(plan, "Exchange") <= 3, plan
    assert count_nodes(plan, "SortMergeJoin") == 0, plan


def test_exact_substring_spans_exchanges_frozen(spark, sf_dir):
    # seed chain (winnow ckpt scan is exchange-free, df semi-join +
    # groupBy share one (fp,gram) partitioning) + seed_arr groupBy + two
    # shuffle-hash token joins: 8 exchanges in the initial plan (the
    # AQE-final plan reuses one — 7 in its r13 executed plan). The extension
    # joins must never degrade to sort-merge (checkpoint-scan broadcast
    # hazard is pinned SHUFFLE_HASH).
    plan = plan_of(spark, sf_dir, "dedup_exact_substring_spans")
    assert count_nodes(plan, "Exchange") <= 8, plan
    assert count_nodes(plan, "SortMergeJoin") == 0, plan


def test_layout_ranks_single_pass_frozen(spark, sf_dir):
    # _global_rank_layouts: both layouts ranked in ONE layout-exploded
    # pass — one rank window partitioned by layout (+ the bucket-count
    # window), never per-layout copies + union. Frozen from the r13 dump:
    # 5 exchanges, 2 windows.
    plan = plan_of(spark, sf_dir, "zorder_pruning_stats")
    assert count_nodes(plan, "Exchange") <= 5, plan
    assert count_nodes(plan, "Window") <= 2, plan


def test_cogroup_is_arrow_and_repartition_pinned(spark, sf_dir):
    # r13: the cogroup merge moved to applyInArrow — the plan must show
    # the ARROW cogroup node (still a per-key Python lane) and keep both
    # explicit REPARTITION_BY_NUM inputs (AQE-coalesce exemption).
    plan = plan_of(spark, sf_dir, "cogroup_user_activity")
    assert count_nodes(plan, "FlatMapCoGroupsInArrow") == 1, plan
    assert plan.count("REPARTITION_BY_NUM") >= 2, plan


def test_jaccard_truth_ships_no_arrays(spark, sf_dir):
    # r13 truth rewrite (guide §2.3): |A∩B| over hash sets is counted via
    # the inverted index — the truth plan must contain no array_intersect
    # and no collect_set of the hash columns.
    from thread_based_map_reduce_spark.operators.dedup import (
        _exact_jaccard_truth,
    )
    import contextlib, io

    df = _exact_jaccard_truth(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "array_intersect" not in plan, plan
    assert "collect_set" not in plan, plan


def test_jaccard_truth_equals_bruteforce_on_planted_corpus(spark):
    # Focused correctness test for the count-based truth: equality with
    # the direct per-pair exact Jaccard over distinct shingle hash sets.
    import os
    import tempfile

    from pyspark.sql import functions as F

    from thread_based_map_reduce_spark.functions import (
        portable_hash64,
        tokens,
    )
    from thread_based_map_reduce_spark.functions.textfns import (
        ngrams_of_tokens,
    )
    from thread_based_map_reduce_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        _exact_jaccard_truth,
    )

    base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
    docs = [
        (1, base),
        (2, base + " extra"),            # near-dup of 1
        (3, "a b c d e f g h i j"),
        (4, "a b c d e f g h i xx"),     # near-dup of 3
        (5, "completely different text here now ok"),
        (6, base),                        # exact dup of 1
    ]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
            os.path.join(td, "documents.parquet")
        )
        got = {
            (r.doc_a, r.doc_b) for r in _exact_jaccard_truth(spark, td).collect()
        }
        hd = (
            spark.read.parquet(os.path.join(td, "documents.parquet"))
            .select(
                "doc_id",
                F.explode(
                    F.array_distinct(ngrams_of_tokens(tokens("text"), 3))
                ).alias("s"),
            )
            .select("doc_id", portable_hash64("s").alias("h"))
            .distinct()
            .collect()
        )
    sets: dict[int, set] = {}
    for r in hd:
        sets.setdefault(r.doc_id, set()).add(r.h)
    want = set()
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            if inter and inter / len(sets[a] | sets[b]) >= JACCARD_THRESHOLD:
                want.add((a, b))
    assert got == want and want  # non-degenerate: some pair qualifies


def test_span_seed_occurrence_cap_agrees_with_oracle(spark):
    # Focused test for _WIN_OCC_CAP (ADVICE r12): a degenerate doc pair
    # repeating one 4-gram far past the cap must still produce the SAME
    # spans from the Spark in-row cap filter and the oracle's
    # row_number()<=K woccs CTE (the cap fires on both sides here —
    # testdata never reaches it, this corpus does).
    import duckdb
    import os
    import tempfile

    from thread_based_map_reduce_spark.plans.catalog import CATALOG, _load_all

    _load_all()
    # one 4-token phrase repeated 24x in both docs => one (fp, gram) with
    # 20+ selected positions per doc, far beyond the cap of 8
    phrase = "p q r s "
    t1 = (phrase * 24).strip()
    t2 = (phrase * 24).strip() + " tail marker"
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            [(1, t1), (2, t2), (3, "unrelated words only here")],
            "doc_id long, text string",
        ).write.parquet(os.path.join(td, "documents.parquet"))
        got = sorted(
            tuple(r)
            for r in CATALOG["dedup_exact_substring_spans"]
            .fn(spark, td)
            .collect()
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{os.path.join(td, 'documents.parquet')}/*.parquet')"
        )
        want = sorted(
            tuple(r)
            for r in con.execute(
                CATALOG["dedup_exact_substring_spans"].oracle
            ).fetchall()
        )
        con.close()
    assert got == want and got  # cap path exercised, engines agree


def test_jpeg_lut_decoder_matches_bitreader_on_random_tables():
    # Focused equivalence test for the r13 LUT entropy decoder: for random
    # canonical Huffman tables and random bitstreams, _decode_lut +
    # _ScanBits.read_code must decode the same symbol sequence the per-bit
    # _BitReader/_read_huff probe loop does (same values, same consumed
    # positions), including the run-dry error point.
    from thread_based_map_reduce_spark.operators.multimodal_jpeg import (
        _BitReader,
        _ScanBits,
        _build_decode_table,
        _decode_lut,
        _read_huff,
    )

    rng = np.random.RandomState(13)
    for trial in range(25):
        # random canonical table: counts per length that stay prefix-free
        bits = [0] * 16
        code_space = 2
        k = 0
        vals = []
        for length in range(1, 17):
            n = int(rng.randint(0, min(code_space, 3)))
            bits[length - 1] = n
            code_space = (code_space - n) * 2
            for _ in range(n):
                vals.append(int(rng.randint(0, 256)))
                k += 1
        if not vals:
            continue
        payload = bytes(rng.randint(0, 256, 64).astype(np.uint8).tolist())
        payload = payload.replace(b"\xff", b"\xfe")  # no markers/stuffing
        table = _build_decode_table(bits, vals)
        lut_val, lut_len = _decode_lut(tuple(bits), tuple(vals))
        br = _BitReader(payload, 0)
        sb = _ScanBits(payload, 0)
        while True:
            try:
                want = _read_huff(br, table)
            except ValueError:
                with pytest.raises(ValueError):
                    sb.read_code(lut_val, lut_len)
                break
            got = sb.read_code(lut_val, lut_len)
            assert got == want
