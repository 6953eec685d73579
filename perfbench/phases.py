"""The two phases every benchmark run executes, each as a closed loop with
one client: the next operation starts only after the previous returns.

``LakePhase``  — the registry's ``headline=True`` queries over a seeded
                 read-only lake, each pass in its own seeded order.
``ChurnPhase`` — one GraftTable kept in a steady state: each cycle makes
                 small appends, each followed by a stats-skipped read,
                 then MERGE upsert, a retention DELETE, OPTIMIZE z-order,
                 a time-travel read and VACUUM.

Every timed action consumes every output column (lake queries collect
their rows, table reads run ``force``), and every output is checked
outside the timed region: lake results against the
registry's DuckDB oracles, table reads and the final table state against
a DuckDB model of the generated batches.
"""

from __future__ import annotations

import io
import os
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from tracing import Tracer, layer_of_query


def cpu_ticks() -> tuple[int, int] | None:
    """(busy, steal) jiffies summed over all CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    user, nice, system, _idle, _iowait, irq, softirq, steal = f
    return user + nice + system + irq + softirq, steal


class Clock:
    """Times a block. ``wall`` is the ``perf_counter`` time. ``seconds``
    is the wall time with hypervisor steal taken out: wall x busy /
    (busy + steal) over the block, i.e. the time the same work takes when
    the host runs every runnable vCPU. Without steal (or without
    /proc/stat) the two are equal. ``sample`` is ``(seconds, wall)``."""

    def __enter__(self):
        self.start, self._c0 = time.perf_counter(), cpu_ticks()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.start
        c1 = cpu_ticks()
        self.seconds, self.steal_share = self.wall, 0.0
        if self._c0 and c1:
            busy, steal = c1[0] - self._c0[0], c1[1] - self._c0[1]
            if busy > 0 and steal > 0:
                self.steal_share = steal / (busy + steal)
                self.seconds = self.wall * (1 - self.steal_share)
        self.sample = (self.seconds, self.wall)
        return False


def add(*samples: tuple[float, float]) -> tuple[float, float]:
    """Sum of ``(seconds, wall)`` samples."""
    return sum(s for s, _ in samples), sum(w for _, w in samples)


def force(df):
    """Aggregate that references every output column (row count plus an
    order-free xor of per-row hashes), so Catalyst cannot prune the
    operator under test the way a bare ``count()`` over a map-only
    projection lets it (bench.py's ``_force_eval`` idea, for every
    column type). Returns the un-executed DataFrame."""
    cols = [F.col(f"`{c}`") for c in df.columns]
    return df.agg(F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*cols)).alias("x"))


def timed_action(tracer: Tracer, df_fn, build_span: str, collect_rows: bool = False):
    """Build -> plan (``executedPlan``) -> execute, each in its own span.
    The action collects every result row (``collect_rows``) or the
    ``force`` aggregate. Returns ((seconds, wall), (columns, rows))."""
    with Clock() as clock:
        with tracer.span(build_span):
            df = df_fn()
            if not collect_rows:
                df = force(df)
        with tracer.span("plan"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("exec"):
            rows = df.collect()
    return clock.sample, (df.columns, rows)


def canonical(columns: list[str], rows) -> tuple:
    """Order-free canonical form of a result, as the oracle-parity tests
    compare them: ``_canon`` per value, columns sorted by name, rows
    sorted."""
    from sf1_check import _canon

    idx = sorted(range(len(columns)), key=columns.__getitem__)
    return (
        tuple(columns[i] for i in idx),
        sorted(tuple(_canon(r[i]) for i in idx) for r in rows),
    )


def _dir_files(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            out[p] = os.path.getsize(p)
    return out


class LakePhase:
    def __init__(self, spark, tracer: Tracer, lake_dir: str, seed: int, corrupt: bool = False):
        from delta_lake_optimizations_spark.registry import registry

        reg = registry()
        self.spark, self.tracer, self.dir, self.seed = spark, tracer, lake_dir, seed
        self.names = sorted(n for n, q in reg.items() if q.headline)
        self.queries = {n: reg[n] for n in self.names}
        self.expected: dict[str, tuple] = {}
        self.mismatches: list[str] = []
        # recorded samples are (steal-adjusted seconds, wall seconds)
        self.latencies: list[tuple[float, float]] = []
        self.pass_times: list[tuple[float, float]] = []
        self.failed = 0
        self.attempted = 0
        self.curate_rows = 0
        self.passes = 0
        self.corrupt = corrupt  # self-tests: drop a row from every timed result

    def load_oracles(self) -> None:
        """Evaluate every query's registry oracle in DuckDB over the same
        files; each Spark result is compared with it after it is timed."""
        from sf1_check import _duck_connect

        con = _duck_connect(self.dir)
        try:
            for name in self.names:
                rel = con.execute(self.queries[name].oracle)
                self.expected[name] = canonical([d[0] for d in rel.description], rel.fetchall())
        finally:
            con.close()

    def run_pass(self, tag: str, record: bool) -> float:
        """One pass over every headline query in a seeded order; each
        query's latency covers DataFrame construction, planning, execution
        and collecting every result row. Returns the pass time (sum of the
        query latencies, steal-adjusted). Results that differ from the oracle count as
        failed and are listed in ``mismatches``."""
        order = np.random.default_rng([self.seed, self.passes]).permutation(self.names)
        self.passes += 1
        samples = []
        for name in order:
            q = self.queries[name]
            with self.tracer.operation(self.spark, f"lake.{name}.{tag}"):
                sample, (cols, rows) = timed_action(
                    self.tracer, lambda: q.fn(self.spark, self.dir), layer_of_query(q.fn), collect_rows=True
                )
            samples.append(sample)
            if name == "pipeline_curate_documents":
                self.curate_rows = len(rows)
            if self.corrupt and record:
                rows = rows[1:]
            ok = canonical(cols, rows) == self.expected[name]
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.mismatches.append(f"{name} ({tag})")
            if record:
                self.latencies.append(sample)
        if record:
            self.pass_times.append(add(*samples))
        return add(*samples)[0]


class ChurnPhase:
    """One GraftTable kept in a steady state. ``create`` writes it (part of
    set-up); each ``cycle`` appends new keys, each append followed by a
    stats-skipped read of those keys, then runs the maintenance cycle:
    MERGE upsert, a retention DELETE of the oldest keys (which brings the
    table back to its initial row count), OPTIMIZE z-order, a time-travel
    read of the pre-merge version and VACUUM. Every batch is mirrored into
    a DuckDB model; ``final_check`` compares the table's end state with it.
    ``files`` is the number of files each write lands as (the workload's
    physical layout); ``rows`` is (initial write, each append, merge
    source)."""

    APPENDS = 3
    ZORDER = ["l_shipdate", "l_partkey"]

    def __init__(self, spark, tracer: Tracer, root: str, seed: int, files: int,
                 rows: tuple[int, int, int], corrupt: bool = False):
        self.spark, self.tracer, self.files = spark, tracer, files
        self.path = os.path.join(root, "table")
        self.rng = np.random.default_rng([seed, 7])
        self.N_INIT, self.N_APPEND, self.N_MERGE = rows
        self.con = duckdb.connect()
        self.key = 0  # next new key; live keys are [self.lo, self.key)
        self.lo = 0
        # recorded samples are (steal-adjusted seconds, wall seconds)
        self.commit_s: list[tuple[float, float]] = []
        self.skip_read_s: list[tuple[float, float]] = []
        self.cycle_s: list[tuple[float, float]] = []
        self.write_amp: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.files_scanned = 0
        self.files_live_at_read = 0
        self.files_live_end: list[int] = []
        self.log_entries: list[int] = []
        self.bytes_written: list[int] = []
        self.corrupt = corrupt  # self-tests: drop a row from the model before the final check

    def _df(self, batch):
        return self.spark.createDataFrame(batch.to_pandas()).repartition(self.files)

    def _check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def _model_count(self, where: str = "TRUE") -> int:
        return self.con.execute(f"SELECT count(*) FROM m WHERE {where}").fetchone()[0]

    def create(self) -> None:
        from delta_lake_optimizations_spark.table import GraftTable

        init = gen.churn_batch(self.rng, 0, self.N_INIT)
        self.key = self.N_INIT
        self.con.register("b", init)
        self.con.execute("CREATE TABLE m AS SELECT * FROM b")
        self.table = GraftTable(self.spark, self.path)
        with self.tracer.operation(self.spark, "churn.create"):
            self.table.write(self._df(init))

    def cycle(self, tag: str, record: bool) -> float:
        """One append-and-maintain cycle; returns the time of its timed
        operations (commits, skip reads, merge, delete, optimize, vacuum),
        steal-adjusted."""
        from delta_lake_optimizations_spark.table import delete, merge, optimize, vacuum

        t, con, rng = self.table, self.con, self.rng
        user_bytes = 0
        existing = set(_dir_files(self.path))
        written: dict[str, int] = {}

        def track() -> None:
            """Record every file the table directory gained in this cycle
            (files are never rewritten in place; VACUUM deletes some)."""
            for p, size in _dir_files(self.path).items():
                if p not in existing:
                    written.setdefault(p, size)

        def user(batch) -> int:
            buf = io.BytesIO()
            pq.write_table(batch, buf)
            return buf.getbuffer().nbytes

        op_time = 0.0
        for i in range(self.APPENDS):
            since = self.key
            batch = gen.churn_batch(rng, since, self.N_APPEND)
            self.key += self.N_APPEND
            user_bytes += user(batch)
            con.register("b", batch)
            con.execute("INSERT INTO m SELECT * FROM b")
            df = self._df(batch)
            with self.tracer.operation(self.spark, f"churn.append.{tag}.{i}"), Clock() as clock:
                t.write(df, mode="append")
            commit = clock.sample
            track()
            skip = [("l_orderkey", ">=", since)]
            with self.tracer.operation(self.spark, f"churn.skipread.{tag}.{i}"):
                read, (_cols, rows) = timed_action(self.tracer, lambda: t.load(skip_where=skip), "graft.read")
            self._check(rows[0]["n"] == self._model_count(f"l_orderkey >= {since}"), f"skip-read {tag}.{i}")
            if self.tracer.enabled:
                self.files_scanned += t.files_scanned(skip_where=skip)
                self.files_live_at_read += t.snapshot().num_files
            op_time += commit[0] + read[0]
            if record:
                self.commit_s.append(commit)
                self.skip_read_s.append(read)

        pre_merge, pre_merge_rows = t.latest_version(), self._model_count()
        upd_keys = rng.choice(np.arange(self.lo, self.key), self.N_MERGE // 2, replace=False)
        new_keys = np.arange(self.key, self.key + self.N_MERGE - len(upd_keys))
        self.key += len(new_keys)
        src = gen.churn_batch(rng, 0, self.N_MERGE)
        src = src.set_column(0, "l_orderkey", pa.array(np.concatenate([upd_keys, new_keys]).astype(np.int64)))
        user_bytes += user(src)
        con.register("b", src)
        con.execute("DELETE FROM m WHERE l_orderkey IN (SELECT l_orderkey FROM b)")
        con.execute("INSERT INTO m SELECT * FROM b")
        src_df = self._df(src)
        self.lo = self.key - self.N_INIT
        retention = f"l_orderkey < {self.lo}"
        con.execute(f"DELETE FROM m WHERE {retention}")

        def verb(name: str, fn) -> tuple[float, float]:
            with self.tracer.operation(self.spark, f"churn.{name}.{tag}"), Clock() as clock:
                fn()
            track()
            return clock.sample

        merged = verb("merge", lambda: merge(t, src_df, on=["l_orderkey"], when_matched_update="*"))
        deleted = verb("delete", lambda: delete(t, retention))
        optimized = verb("optimize", lambda: optimize(t, zorder_by=self.ZORDER, target_files=4))
        with self.tracer.operation(self.spark, f"churn.timetravel.{tag}"):
            tt_n = t.load(version=pre_merge).count()
        self._check(tt_n == pre_merge_rows, f"time travel {tag}")
        maint = add(merged, deleted, optimized, verb("vacuum", lambda: vacuum(t, retain_hours=0)))
        if record:
            self.cycle_s.append(maint)
            self.write_amp.append(sum(written.values()) / user_bytes)
            self.bytes_written.append(sum(written.values()))
            self.files_live_end.append(t.snapshot().num_files)
            self.log_entries.append(t.latest_version() + 1)
        return op_time + maint[0]

    def final_check(self) -> None:
        """The table's end state (rows, column sums, metadata-only count,
        history length) agrees with the model; the current snapshot still
        reads after every VACUUM."""
        t, con = self.table, self.con
        if self.corrupt:
            con.execute("DELETE FROM m WHERE l_orderkey = (SELECT min(l_orderkey) FROM m)")
        want = con.execute(
            "SELECT count(*), sum(l_orderkey), round(sum(l_extendedprice), 2) FROM m"
        ).fetchone()
        got = t.load().agg(
            F.count(F.lit(1)), F.sum("l_orderkey"), F.round(F.sum("l_extendedprice"), 2)
        ).collect()[0]
        self._check(tuple(got) == tuple(want), f"final state: {tuple(got)} vs {want}")
        self._check(t.count_rows() == want[0], "count_rows")
        self._check(t.history().count() == t.latest_version() + 1, "history")
        con.close()
