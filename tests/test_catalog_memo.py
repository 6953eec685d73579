"""Per-session relation memo in ``catalog.load_table``: a table is
resolved (file listing + schema-inference job) once per session while its
files are unchanged, and re-resolved when they change. Every case runs on
a single-file table and on a directory of part files."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from delta_lake_optimizations_spark.catalog import load_table

LAYOUTS = ("single_file", "part_files")


def _write(root: str, name: str, table: pa.Table, layout: str) -> None:
    """Write ``table`` as ``<root>/<name>.parquet``: one file, or a
    directory with one part file per row (replacing what was there)."""
    target = os.path.join(root, f"{name}.parquet")
    if layout == "single_file":
        pq.write_table(table, target)
        return
    os.makedirs(target, exist_ok=True)
    for f in os.listdir(target):
        os.remove(os.path.join(target, f))
    for i in range(table.num_rows):
        pq.write_table(table.slice(i, 1), os.path.join(target, f"part-{i:05d}.parquet"))


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _jobs_during(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("layout", LAYOUTS)
def test_rewrite_with_new_schema_is_seen(spark, tmp_path, layout):
    root = str(tmp_path)
    _write(root, "t", pa.table({"a": [1, 2], "b": ["x", "y"]}), layout)
    first = load_table(spark, root, "t")
    assert first.columns == ["a", "b"]
    assert _rows(first) == [(1, "x"), (2, "y")]

    _write(root, "t", pa.table({"c": [10.5, 20.5, 30.5]}), layout)
    second = load_table(spark, root, "t")
    assert second is not first
    assert second.columns == ["c"]
    assert _rows(second) == [(10.5,), (20.5,), (30.5,)]
    assert load_table(spark, root, "t") is second


@pytest.mark.parametrize("layout", LAYOUTS)
def test_added_rows_are_seen(spark, tmp_path, layout):
    root = str(tmp_path)
    _write(root, "t", pa.table({"a": [1, 2]}), layout)
    assert _rows(load_table(spark, root, "t")) == [(1,), (2,)]

    if layout == "single_file":
        _write(root, "t", pa.table({"a": [1, 2, 3]}), layout)
    else:  # one more part file next to the existing ones
        pq.write_table(
            pa.table({"a": [3]}),
            os.path.join(root, "t.parquet", "part-99999.parquet"),
        )
    assert _rows(load_table(spark, root, "t")) == [(1,), (2,), (3,)]


@pytest.mark.parametrize("layout", LAYOUTS)
def test_unchanged_table_is_memoized_without_jobs(spark, tmp_path, layout):
    root = str(tmp_path)
    _write(root, "t", pa.table({"a": [1, 2, 3]}), layout)
    group = f"catalog-memo-{layout}"
    first, cold_jobs = _jobs_during(spark, f"{group}-cold", lambda: load_table(spark, root, "t"))
    # the check below is only meaningful if resolving launches a job
    assert cold_jobs, "resolving a parquet path should run a schema job"

    def reload():
        return [load_table(spark, root, "t") for _ in range(3)]

    again, warm_jobs = _jobs_during(spark, f"{group}-warm", reload)
    assert all(df is first for df in again)
    assert warm_jobs == []
    # the memo holds metadata only: an action still scans the files
    assert _rows(first) == [(1,), (2,), (3,)]


@pytest.mark.parametrize("layout", LAYOUTS)
def test_new_session_gets_its_own_frame(spark, tmp_path, layout):
    root = str(tmp_path)
    _write(root, "t", pa.table({"a": [1, 2]}), layout)
    base = load_table(spark, root, "t")
    other = spark.newSession()
    df = load_table(other, root, "t")
    assert df.sparkSession is other
    assert df is not base
    assert load_table(other, root, "t") is df
    assert load_table(spark, root, "t") is base
    assert _rows(df) == [(1,), (2,)]
