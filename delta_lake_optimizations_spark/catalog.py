"""Table registry over the driver corpus parquet files.

Each table is ``<sf_dir>/<name>.parquet``: either one parquet file (the
test corpus, TESTDATA.md) or a directory of part files (the
``scripts/make_sfx.py`` corpora and the benchmark's multi-file lake).
``register_tables`` creates temp views so both the DataFrame and
``spark.sql`` entry styles work (reference entry styles 1-3, SURVEY.md §3).

``load_table`` memoizes the resolved relation per session. Resolving a
path costs a file listing plus a footer-reading schema-inference Spark
job; the memo maps the table's absolute path to ``(fingerprint,
DataFrame)`` so a session pays that once per table, not once per query.
The fingerprint is ``(mtime_ns, size)`` of a single-file table, or the
sorted ``(relative name, mtime_ns, size)`` of every file under a
directory table. A mismatch (a rewrite, an added or removed part file)
re-resolves the table and replaces the entry, so there is one entry per
path. Only metadata is cached: the DataFrame is a lazy plan, so every
action still scans the files. Repeated calls return the SAME DataFrame,
so a caller that self-joins two loads of one table must ``.alias()``
the two sides.
"""

from __future__ import annotations

import os
import stat
from collections.abc import Hashable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Columns stored as parquet TIMESTAMP(NANOS), which Spark 4 cannot map to a
# native type (PARQUET_TYPE_ILLEGAL). With nanosAsLong they arrive as BIGINT
# nanoseconds; we truncate to microseconds — exactly what DuckDB does when it
# reads the same file, so oracle comparisons agree.
_NANO_TS_COLUMNS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def _fingerprint(path: str) -> Hashable | None:
    """Identity of the files under ``path``; None when it cannot be
    stat'ed locally (missing, or a non-local URI), which skips the memo."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_mtime_ns, st.st_size)
        entries = []
        for root, _, files in os.walk(path):
            for f in files:
                full = os.path.join(root, f)
                fst = os.stat(full)
                entries.append(
                    (os.path.relpath(full, path), fst.st_mtime_ns, fst.st_size)
                )
        return tuple(sorted(entries))
    except OSError:
        return None


def _resolve(spark: SparkSession, path: str, name: str) -> DataFrame:
    df = spark.read.parquet(path)
    for col in _NANO_TS_COLUMNS.get(name, ()):
        if isinstance(df.schema[col].dataType, T.LongType):
            # Integral `div` — float division would lose precision on
            # ~1.7e18 nanosecond values (> 2^53).
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``<sf_dir>/<name>.parquet`` as a DataFrame, memoized per session
    while its files are unchanged (see the module docstring)."""
    # Set on every call, memo hit or not: they pin the read and the
    # session semantics for sessions the engine did not create.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Driver-owned sessions may not pin a timezone; epoch arithmetic on
    # TIMESTAMP_NTZ columns (temporal.epoch_seconds) interprets the wall
    # clock in the session zone, so pin UTC to match DuckDB's epoch().
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    # Fingerprint BEFORE resolving: a rewrite racing the resolve leaves a
    # stale fingerprint, which only costs one more resolve next time.
    fp = _fingerprint(path)
    # An attribute of the session, not a WeakKeyDictionary keyed on it:
    # a DataFrame holds its session, so a weak key would never be freed.
    # As an attribute the memo dies with its session and no other
    # session can see it.
    memo = spark.__dict__.setdefault("_graft_relations", {})
    hit = memo.get(path)
    if fp is not None and hit is not None and hit[0] == fp:
        return hit[1]
    df = _resolve(spark, path, name)
    if fp is not None:
        memo[path] = (fp, df)
    return df


def register_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register each corpus table as a temp view; return name -> DataFrame."""
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
