"""The engine's one memo of derived input artifacts
(``sources.registry._input_memo``): an artifact is reused per session and
per input file version, never served stale."""

from __future__ import annotations

import itertools
import os
import shutil
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from thread_based_map_reduce_spark.plans.catalog import CATALOG, queries
from thread_based_map_reduce_spark.plans.oracle_check import compare_query, duck_connection
from thread_based_map_reduce_spark.sources import registry


def _session(app_id: str = "app-1"):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def _builds():
    """A build that returns how many times it has run."""
    return itertools.count(1).__next__


def _inputs(tmp_path):
    d = tmp_path / "sf"
    d.mkdir()
    (d / "orders.parquet").write_bytes(b"aaaa")
    (d / "lineitem.parquet").write_bytes(b"bb")
    return d


def test_same_inputs_build_once(tmp_path):
    d, build = _inputs(tmp_path), _builds()
    assert registry._input_memo(_session(), str(d), "t", build) == 1
    assert registry._input_memo(_session(), str(d), "t", build) == 1


def test_new_session_rebuilds(tmp_path):
    d, build = _inputs(tmp_path), _builds()
    registry._input_memo(_session("app-1"), str(d), "t", build)
    assert registry._input_memo(_session("app-2"), str(d), "t", build) == 2


def test_spellings_of_one_directory_build_once(tmp_path):
    d, build = _inputs(tmp_path), _builds()
    link = tmp_path / "link"
    link.symlink_to(d, target_is_directory=True)
    for spelling in (str(d), str(d) + "/", str(link)):
        assert registry._input_memo(_session(), spelling, "t", build) == 1


def test_same_size_replace_rebuilds_and_keeps_one_entry(tmp_path):
    d, build = _inputs(tmp_path), _builds()
    registry._input_memo(_session(), str(d), "t", build)
    new = tmp_path / "new.parquet"
    new.write_bytes(b"cccc")  # same size as orders.parquet
    os.replace(new, d / "orders.parquet")
    assert registry._input_memo(_session(), str(d), "t", build) == 2
    assert registry._input_memo(_session(), str(d), "t", build) == 2
    real = os.path.realpath(d)
    assert [k for k in registry._MEMO if k[1] == real] == [("app-1", real, "t")]


def test_stopped_sessions_entries_are_dropped(tmp_path):
    # a process has one live SparkContext: entries of earlier
    # applicationIds can never be hit again
    d, build = _inputs(tmp_path), _builds()
    for app in ("app-1", "app-2", "app-3"):
        registry._input_memo(_session(app), str(d), "t", build)
    real = os.path.realpath(d)
    assert [k for k in registry._MEMO if k[1] == real] == [("app-3", real, "t")]


def test_unreadable_directory_builds_every_call(tmp_path):
    build = _builds()
    missing = str(tmp_path / "missing")
    assert registry._input_memo(_session(), missing, "t", build) == 1
    assert registry._input_memo(_session(), missing, "t", build) == 2
    assert not [k for k in registry._MEMO if k[1] == os.path.realpath(missing)]


def _rewrite_in_place(path) -> None:
    """Every other row, each string column's values in reverse order, so
    the surviving keys also carry other names and texts than before."""
    rows = pq.read_table(path)
    rows = rows.take(list(range(0, rows.num_rows, 2)))
    backwards = list(range(rows.num_rows - 1, -1, -1))
    for i, field in enumerate(rows.schema):
        if pa.types.is_string(field.type) or pa.types.is_large_string(field.type):
            rows = rows.set_column(i, field, rows.column(i).take(backwards))
    pq.write_table(rows, path)


# Catalog entries built on a memoized artifact, and the tables each reads.
_REPLACED = {
    "bucketed_join_revenue": ("orders", "lineitem"),
    "dedup_minhash_lsh_pairs": ("documents",),
    "curation_filter_ablation": ("documents",),
    "record_linkage_customer": ("customer",),
}


@pytest.mark.parametrize("name", sorted(_REPLACED))
def test_entry_rebuilds_after_file_replaced_at_same_path(spark, sf_dir, tmp_path, name):
    d = tmp_path / "sf"
    d.mkdir()
    for f in os.listdir(sf_dir):
        shutil.copyfile(os.path.join(sf_dir, f), d / f)
    fn = queries()[name]
    fn(spark, str(d))  # builds the entry's memoized artifact
    for table in _REPLACED[name]:
        _rewrite_in_place(d / f"{table}.parquet")
    res = compare_query(
        spark, duck_connection(str(d)), name, fn, CATALOG[name].oracle, str(d)
    )
    assert res.ok, res.problems
