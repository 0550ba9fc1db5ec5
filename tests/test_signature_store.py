"""Incremental-dedup signature store: layout and round-trip contracts
beyond the catalog oracle (which gates the VALUES end-to-end), and the
short-document contract of the signature it stores."""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from thread_based_map_reduce_spark.operators.dedup import (
    N_BANDS,
    N_PERMS,
    _minhash_sig_sql,
    _signature_combined,
    build_signature_store,
)
from thread_based_map_reduce_spark.plans.catalog import CATALOG


def test_store_layout_is_band_partitioned(spark, sf_dir):
    store = build_signature_store(spark, sf_dir)
    band_dirs = sorted(
        d for d in os.listdir(os.path.join(store, "corpus_bands"))
        if d.startswith("band=")
    )
    assert band_dirs == [f"band={b}" for b in range(N_BANDS)]
    assert os.path.isdir(os.path.join(store, "corpus_tsets"))


def test_store_read_back_matches_written(spark, sf_dir):
    store = build_signature_store(spark, sf_dir)
    bands = spark.read.schema("doc_id bigint, x bigint, y bigint, band int").parquet(
        f"{store}/corpus_bands"
    )
    # every corpus doc (doc_id % 10 != 0, with shingles) contributes
    # exactly N_BANDS band rows
    per_doc = bands.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    assert per_doc, "store is empty at the smoke scale factor"
    assert all(r.n == N_BANDS for r in per_doc)
    assert all(r.doc_id % 10 != 0 for r in per_doc)
    tsets = spark.read.schema("doc_id bigint, ts array<bigint>").parquet(
        f"{store}/corpus_tsets"
    )
    assert tsets.where(F.size("ts") == 0).count() == 0


def test_e2e_equals_single_plan_incremental(spark, sf_dir):
    # the storage round trip must be value-preserving: identical pair set
    # to the single-plan dedup_incremental_pairs
    e2e = {
        (r.doc_corpus, r.doc_new, r.jaccard)
        for r in CATALOG["dedup_incremental_e2e"].fn(spark, sf_dir).collect()
    }
    one = {
        (r.doc_corpus, r.doc_new, r.jaccard)
        for r in CATALOG["dedup_incremental_pairs"].fn(spark, sf_dir).collect()
    }
    assert e2e == one


def test_append_then_compact_reduces_files_and_preserves_rows(spark, sf_dir):
    from thread_based_map_reduce_spark.operators.dedup import (
        append_batch_to_store,
        compact_signature_store,
    )

    store = build_signature_store(spark, sf_dir)
    base_rows = spark.read.schema(
        "doc_id bigint, x bigint, y bigint, band int"
    ).parquet(f"{store}/corpus_bands").count()
    append_batch_to_store(spark, sf_dir, store)
    appended_rows = spark.read.schema(
        "doc_id bigint, x bigint, y bigint, band int"
    ).parquet(f"{store}/corpus_bands").count()
    assert appended_rows > base_rows  # the batch really appended
    stats = compact_signature_store(spark, store)
    assert stats["files_after"] <= stats["files_before"]
    assert stats["files_after"] == N_BANDS  # one file per band partition
    after = spark.read.schema(
        "doc_id bigint, x bigint, y bigint, band int"
    ).parquet(f"{store}/corpus_bands")
    assert after.count() == appended_rows  # layout rewrite, not a data change
    assert after.select("doc_id", "x", "y", "band").distinct().count() == appended_rows


def test_only_docs_with_a_trigram_get_a_signature(spark, tmp_path):
    # The per-row signature keeps a doc by its token count; documents of
    # 0-2 tokens, whitespace-only and NULL text have no trigram and no row,
    # exactly as in the oracle's GROUP BY over exploded shingles.
    texts = {1: "", 2: "alpha", 3: "alpha beta", 4: "alpha  beta gamma", 5: "   ", 6: None}
    path = tmp_path / "documents.parquet"
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(list(texts), pa.int64()),
                "text": pa.array(list(texts.values()), pa.string()),
            }
        ),
        path,
    )
    rows = _signature_combined(spark.read.parquet(str(path)), checkpoint=False).collect()
    assert [r.doc_id for r in rows] == [4]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    oracle = con.execute(f"WITH {_minhash_sig_sql()} SELECT * FROM sig").fetchall()
    assert oracle == [(4, *[rows[0][f"mh{i}"] for i in range(N_PERMS)])]
