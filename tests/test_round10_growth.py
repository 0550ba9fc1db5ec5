"""Round-10 growth tests.

1. Exact-substring seed-and-extend (VERDICT r9 #1): on a planted fixture
   the operator's span set must equal the BRUTE-FORCE maximal duplicated
   spans >= the winnowing guarantee threshold — both directions (sound:
   every emitted span is a real maximal duplicated run; complete: every
   maximal run >= _SPAN_MIN_TOKENS is found).

2. BMP header validation (ADVICE r9 low): crafted w <= 0 / h == 0 headers
   must fail with the explicit dimension error, not a misleading
   pixel-array length mismatch.
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil
import struct

import pytest
from pyspark.sql import DataFrameWriter

from thread_based_map_reduce_spark.operators.dedup import (
    _SPAN_MIN_TOKENS,
    exact_substring_spans_impl,
)
from thread_based_map_reduce_spark.operators.multimodal import decode_bmp


def _brute_force_spans(docs: dict[int, str], min_len: int) -> set[tuple]:
    """All maximal cross-document duplicated token runs >= min_len, by
    walking every alignment diagonal of every pair."""
    toks = {d: t.split() for d, t in docs.items()}
    out = set()
    ids = sorted(toks)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            ta, tb = toks[a], toks[b]
            for d in range(-(len(tb) - 1), len(ta)):
                # diagonal d: ta[i] vs tb[i - d]
                i = max(0, d)
                while i < len(ta) and i - d < len(tb):
                    if ta[i] == tb[i - d]:
                        j = i
                        while j < len(ta) and j - d < len(tb) and ta[j] == tb[j - d]:
                            j += 1
                        if j - i >= min_len:
                            out.add((a, b, i, i - d, j - i))
                        i = j
                    else:
                        i += 1
    return out


@pytest.fixture(scope="module")
def planted_docs():
    span9 = " ".join(f"s{i}" for i in range(9))  # 9 tokens, > threshold
    span7 = " ".join(f"t{i}" for i in range(7))  # exactly the threshold
    span6 = " ".join(f"u{i}" for i in range(6))  # below threshold: invisible
    return {
        1: f"f1 f2 {span9} f3 f4 f5 {span7}",
        2: f"g1 g2 g3 g4 {span9} g5 {span6}",
        3: f"{span7} h1 h2 h3 h4 h5 h6 h7",
        4: f"k1 {span6} k2 k3 k4 k5 k6 k7 k8",
        # span9 appears TWICE -> two alignment diagonals vs docs 1 and 2
        5: f"m1 {span9} m2 m3 {span9} m4",
        6: "n1 n2 n3 n4 n5 n6 n7 n8 n9 n10",
    }


def test_exact_substring_spans_match_bruteforce(spark, planted_docs):
    docs = spark.createDataFrame(
        [(d, t) for d, t in planted_docs.items()], "doc_id long, text string"
    )
    got = {
        (r.doc_a, r.doc_b, r.start_a, r.start_b, r.span_len)
        for r in exact_substring_spans_impl(docs).collect()
    }
    want = _brute_force_spans(planted_docs, _SPAN_MIN_TOKENS)
    assert got == want
    # the fixture actually exercises the interesting cases
    assert (1, 2, 2, 4, 9) in want  # long span, shifted offsets
    assert (1, 3, 14, 0, 7) in want  # exactly-threshold span
    assert any(p[:2] == (1, 5) for p in want)  # multi-diagonal doc
    assert sum(1 for p in want if p[:2] == (1, 5)) == 2
    assert not any(p[:2] == (2, 4) for p in want)  # 6-token span invisible
    assert not any(p[0] == 6 or p[1] == 6 for p in want)


def test_exact_substring_spans_empty_and_short(spark):
    # corpora with no doc reaching W+K-1 tokens select nothing and the
    # operator returns an EMPTY frame, not an error
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "")], "doc_id long, text string"
    )
    assert exact_substring_spans_impl(docs).count() == 0


def test_span_coverage_matches_bruteforce(spark, planted_docs):
    """dup_span_coverage_exact's interval union must equal the Python
    merge of the brute-force span set on the planted fixture — including
    zero-coverage docs and the overlapping multi-partner case."""
    from thread_based_map_reduce_spark.operators.dedup import span_coverage_impl

    docs = spark.createDataFrame(
        [(d, t) for d, t in planted_docs.items()], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.covered_tokens)
        for r in span_coverage_impl(docs).collect()
    }
    spans = _brute_force_spans(planted_docs, _SPAN_MIN_TOKENS)
    ivals: dict[int, list[tuple[int, int]]] = {d: [] for d in planted_docs}
    for a, b, sa, sb, ln in spans:
        ivals[a].append((sa, sa + ln))
        ivals[b].append((sb, sb + ln))
    want = {}
    for d, text in planted_docs.items():
        merged, cov = [], 0
        for s, e in sorted(ivals[d]):
            if merged and s <= merged[-1][1]:
                merged[-1] = (merged[-1][0], max(merged[-1][1], e))
            else:
                merged.append((s, e))
        cov = sum(e - s for s, e in merged)
        want[d] = (len(text.split()), cov)
    assert got == want
    assert want[6][1] == 0  # the unrelated doc has zero coverage
    assert want[5][1] >= 18  # doc 5 carries the 9-token span twice


def test_record_linkage_em_reorders_vs_fixed_weights(spark, sf_dir):
    """The learned EM posterior must REORDER at least one agreement-pattern
    pair relative to the fixed Fellegi-Sunter weights — i.e. EM actually
    learned something the hand-set weights get wrong (VERDICT r9 #2's
    done-criterion), and the learned parameters are sane probabilities."""
    from thread_based_map_reduce_spark.plans.catalog import CATALOG, _load_all

    _load_all()
    rows = CATALOG["record_linkage_em_weights"].fn(spark, sf_dir).collect()
    assert len(rows) >= 4  # the blocked candidates cover several patterns
    r0 = rows[0]
    for v in (
        r0.p_milli,
        r0.m_seg_milli, r0.m_bal_milli, r0.m_nat_milli,
        r0.u_seg_milli, r0.u_bal_milli, r0.u_nat_milli,
    ):
        assert 1 <= v <= 999
    reorders = [
        (a, b)
        for a in rows
        for b in rows
        if a.fixed_score_micro > b.fixed_score_micro
        and a.posterior_micro < b.posterior_micro
    ]
    assert reorders, "EM posterior must reorder at least one pattern pair"
    # the planted near-dups agree on balance band: EM must discover the
    # balance field as a discriminator (m >> u)
    assert r0.m_bal_milli > r0.u_bal_milli


def test_group_kfold_cv_leak_free_by_construction(spark, sf_dir):
    """Group-aware folds must have ZERO verified near-dup pairs straddling
    a fold boundary (the fold is a function of the cluster), while the
    naive doc-hash assignment audited alongside measurably leaks — the
    contamination the operator exists to remove. Folds must also
    partition the corpus."""
    from thread_based_map_reduce_spark.plans.catalog import CATALOG, _load_all
    from thread_based_map_reduce_spark.sources.registry import load_table

    _load_all()
    rows = CATALOG["group_kfold_cv"].fn(spark, sf_dir).collect()
    assert len(rows) >= 2
    assert all(r.leaky_pairs_group_fold == 0 for r in rows)
    assert rows[0].leaky_pairs_doc_fold > 0
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_test for r in rows) == n_docs
    assert all(r.n_train + r.n_test == n_docs for r in rows)


def test_record_linkage_em_pairs_disagree_with_fixed_rule(spark, sf_dir):
    """The learned decision rule must actually CHANGE decisions: at least
    one pair kept by the EM posterior is rejected by the fixed-weight
    rule (record_linkage_customer), and every EM-kept pair is a blocked
    candidate (the EM never invents pairs)."""
    from thread_based_map_reduce_spark.plans.catalog import CATALOG, _load_all

    _load_all()
    em = {
        (r.cust_a, r.cust_b)
        for r in CATALOG["record_linkage_em_pairs"].fn(spark, sf_dir).collect()
    }
    fixed = {
        (r.cust_a, r.cust_b)
        for r in CATALOG["record_linkage_customer"].fn(spark, sf_dir).collect()
    }
    assert em, "EM rule keeps at least one pair on the fixture"
    assert em - fixed, "EM decisions must differ from the fixed-weight rule"
    from thread_based_map_reduce_spark.operators.dedup import _rl_agreement_flags

    cand = {
        (r.cust_a, r.cust_b) for r in _rl_agreement_flags(spark, sf_dir).collect()
    }
    assert em <= cand


def test_rl_em_python_reference_fixed_point():
    """The integer EM recurrence on a hand-built pattern table: a clearly
    separated mixture must drive m above u for the separating field and
    stay inside the clamp range."""
    from thread_based_map_reduce_spark.operators.dedup import _rl_em_python

    # 100 matched-looking pairs agree everywhere; 10k random pairs agree
    # only occasionally
    patterns = [(1, 1, 1, 100), (0, 0, 0, 9000), (1, 0, 0, 500), (0, 1, 0, 400)]
    p, m, u = _rl_em_python(patterns)
    assert 1 <= p <= 999
    assert all(1 <= x <= 999 for x in m + u)
    assert m[2] > u[2]  # nation agreement only ever co-occurs with matches


def test_lsh_verify_join_rides_bucketing(spark, sf_dir):
    """The round-10 verify-join shape: both exact-Jaccard verify joins are
    SortMergeJoins whose signature side is the doc_id-BUCKETED table scan
    with NO Exchange and NO Sort above it (the corpus never reshuffles),
    and nothing in the plan broadcasts (the r9 corpus-broadcast invariant,
    now strategy-pinned by the merge hint)."""
    from thread_based_map_reduce_spark.operators.dedup import _lsh_verified_pairs

    plan = (
        _lsh_verified_pairs(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("SortMergeJoin") == 2
    assert "BroadcastExchange" not in plan
    assert "Bucketed: true" in plan
    # the only Sorts are on the candidate side: one per SMJ (a sig-side
    # Exchange+Sort would make this 4)
    assert plan.count("Sort ") <= 2
    # no Exchange may sit between an SMJ and a bucketed signature scan —
    # equivalently, the bucketed scans outnumber the exchanges feeding
    # sorts: check no Exchange line mentions the signature table's output
    for line in plan.splitlines():
        if "Exchange" in line and "tbmr_lsh_sig" in line:
            raise AssertionError(f"signature scan is being exchanged: {line}")


@contextlib.contextmanager
def _shuffle_width(spark, n: int):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@pytest.fixture
def saved(monkeypatch):
    """(table, frame) of every saveAsTable call made while it is active."""
    calls = []
    save = DataFrameWriter.saveAsTable

    def record(writer, name, *args, **kwargs):
        calls.append((name, writer._df))
        return save(writer, name, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "saveAsTable", record)
    return calls


def _inputs(sf_dir, tmp_path, *tables):
    """A fresh input directory holding copies of ``tables``, so the
    memoized builds run again inside the test."""
    d = tmp_path / "sf"
    d.mkdir()
    for t in tables:
        shutil.copyfile(os.path.join(sf_dir, f"{t}.parquet"), d / f"{t}.parquet")
    return str(d)


def _nodes(plan):
    """Every node of a physical plan, looking inside AQE's wrapper."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _nodes(children.apply(i))


def _plan(df):
    return df._jdf.queryExecution().executedPlan()


def _catalog_layout(spark, table: str) -> tuple[int, list[str]]:
    """(Num Buckets, data files) of a catalog table."""
    info = {
        r.col_name: r.data_type
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    }
    path = info["Location"].removeprefix("file:")
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    return int(info["Num Buckets"]), files


def _assert_bucketed_write(spark, table, frame, key, columns, n):
    """The table has n buckets and at most n files, and the write's only
    Exchange hash-partitions ``key`` into n over exactly ``columns``, so
    any derivation runs above it."""
    buckets, files = _catalog_layout(spark, table)
    assert buckets == n
    assert len(files) <= n, files
    exchanges = [x for x in _nodes(_plan(frame)) if "Exchange" in x.nodeName()]
    assert len(exchanges) == 1, [x.nodeName() for x in exchanges]
    [ex] = exchanges
    assert re.fullmatch(
        rf"hashpartitioning\({key}#\d+L?, {n}\)", ex.outputPartitioning().toString()
    ), ex.outputPartitioning().toString()
    out = ex.child().output()
    assert [out.apply(i).name() for i in range(out.size())] == columns


def _assert_no_exchange_below_joins(df, *, sides=(1,)):
    """Each SortMergeJoin's ``sides`` read their bucketed scan with no
    Exchange or Sort in between."""
    joins = [x for x in _nodes(_plan(df)) if x.nodeName() == "SortMergeJoin"]
    assert joins
    for join in joins:
        for side in sides:
            below = [x.nodeName() for x in _nodes(join.children().apply(side))]
            assert not [n for n in below if "Exchange" in n or n == "Sort"], below
            assert any(n.startswith("Scan") or "FileScan" in n for n in below), below


def test_lsh_signature_table_buckets_at_the_shuffle_width(spark, sf_dir, tmp_path, saved):
    """The signature table has as many buckets as the shuffle width at
    build time; the signature pass runs after the doc_id exchange, which
    carries only (doc_id, text); a later width change leaves the verify
    join's signature side unshuffled and its pairs unchanged."""
    from thread_based_map_reduce_spark.operators.dedup import (
        _bucketed_lsh_signatures,
        _lsh_verified_pairs,
    )

    d = _inputs(sf_dir, tmp_path, "documents")
    with _shuffle_width(spark, 3):
        _bucketed_lsh_signatures(spark, d)
        built = set(_lsh_verified_pairs(spark, d).collect())
    [(table, frame)] = saved
    _assert_bucketed_write(spark, table, frame, "doc_id", ["doc_id", "text"], 3)
    assert built
    with _shuffle_width(spark, 7):
        pairs = _lsh_verified_pairs(spark, d)
        _assert_no_exchange_below_joins(pairs)
        assert set(pairs.collect()) == built
    assert len(saved) == 1  # memoized: the width change did not rebuild


def test_layout_tables_bucket_at_the_shuffle_width(spark, sf_dir, tmp_path, saved):
    """orders/lineitem go through the same writer: n buckets at build
    time, one key exchange over the selected columns, and the co-located
    join stays exchange- and sort-free after the width changes."""
    from thread_based_map_reduce_spark.operators.layout import (
        _bucketed_tables,
        q_bucketed_join_revenue,
    )

    d = _inputs(sf_dir, tmp_path, "orders", "lineitem")
    with _shuffle_width(spark, 3):
        _bucketed_tables(spark, d)
    (t_orders, orders), (t_lineitem, lineitem) = saved
    _assert_bucketed_write(
        spark, t_orders, orders, "o_orderkey",
        ["o_orderkey", "o_orderpriority", "o_orderdate"], 3,
    )
    _assert_bucketed_write(
        spark, t_lineitem, lineitem, "l_orderkey",
        ["l_orderkey", "l_extendedprice", "l_discount"], 3,
    )
    with _shuffle_width(spark, 7):
        _assert_no_exchange_below_joins(q_bucketed_join_revenue(spark, d), sides=(0, 1))


@pytest.mark.parametrize("n_docs", [0, 2])
def test_tiny_corpus_writes_at_most_one_file_per_bucket(
    spark, sf_dir, tmp_path, saved, n_docs
):
    import pyarrow.parquet as pq

    from thread_based_map_reduce_spark.operators.dedup import _bucketed_lsh_signatures

    d = tmp_path / "sf"
    d.mkdir()
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(docs.slice(0, n_docs), d / "documents.parquet")
    with _shuffle_width(spark, 3):
        sig = _bucketed_lsh_signatures(spark, str(d))
    assert sig.count() <= n_docs
    [(table, _)] = saved
    buckets, files = _catalog_layout(spark, table)
    assert buckets == 3 and len(files) <= 3, files


def test_hilbert_transform_is_the_hilbert_curve(spark):
    """The unrolled xy2d column expression must (a) agree with the Python
    reference on every cell, (b) be a bijection onto 0..255, and (c) have
    the UNIT-STEP ADJACENCY property — consecutive Hilbert indices are
    always grid neighbors (the locality Morton order lacks, and the whole
    reason the layout twin exists)."""
    from thread_based_map_reduce_spark.operators.layout import (
        ZQ_BITS,
        ZQ_CELLS,
        hilbert_d_col,
        hilbert_xy2d_py,
    )

    cells = spark.createDataFrame(
        [(x, y) for x in range(ZQ_CELLS) for y in range(ZQ_CELLS)],
        "xq long, yq long",
    )
    got = {
        (r.xq, r.yq): r.hv
        for r in hilbert_d_col(cells, ZQ_BITS, "xq", "yq").collect()
    }
    want = {
        (x, y): hilbert_xy2d_py(ZQ_BITS, x, y)
        for x in range(ZQ_CELLS)
        for y in range(ZQ_CELLS)
    }
    assert got == want
    assert sorted(got.values()) == list(range(ZQ_CELLS * ZQ_CELLS))
    by_d = {d: xy for xy, d in got.items()}
    for d in range(ZQ_CELLS * ZQ_CELLS - 1):
        (x1, y1), (x2, y2) = by_d[d], by_d[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, f"step {d} not adjacent"


def test_hilbert_layout_beats_zorder(spark, sf_dir):
    """On the testdata the Hilbert layout must produce tighter per-file
    bounding boxes than Z-order (strictly smaller avg 2-D cell cover) and
    read no MORE files for the fixed probe rectangle."""
    from thread_based_map_reduce_spark.plans.catalog import CATALOG, _load_all

    _load_all()
    rows = {
        r.layout: r
        for r in CATALOG["hilbert_pruning_stats"].fn(spark, sf_dir).collect()
    }
    assert rows["hilbert"].avg_cell_cover < rows["zorder"].avg_cell_cover
    assert rows["hilbert"].files_hit_q <= rows["zorder"].files_hit_q


def _bmp_header(w: int, h: int, payload_len: int) -> bytes:
    hdr = b"BM" + struct.pack("<III", payload_len, 0, 54)
    dib = struct.pack("<IiihHI", 40, w, h, 1, 24, 0) + b"\x00" * 20
    return hdr + dib


def test_bmp_rejects_nonpositive_dimensions():
    for w, h in ((0, 4), (-3, 4), (2, 0)):
        payload = _bmp_header(w, h, 54)
        with pytest.raises(ValueError, match="invalid BMP dimensions"):
            decode_bmp(payload)
