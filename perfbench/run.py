#!/usr/bin/env python3
"""Repository benchmark: one seeded, closed-loop Spark session per run.

    python3 perfbench/run.py --workload single_file --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Each run starts a fresh process on
``local[$(nproc)]``. A round is one pass of the registry's headline
queries over a seeded lake (``LakePhase``) and one append-and-maintain
cycle of a GraftTable (``ChurnPhase``). After set-up and a fixed warm-up
(``WARM_PASSES`` lake passes and ``WARM_CYCLES`` churn cycles, all
checked, none recorded), whole rounds are measured until ``--seconds``
have passed (at least one round). The workload sets the physical layout
of every input the engine reads or writes:

    single_file  every lake table is one parquet file with one row group,
                 and every table write lands as one file
    multi_file   every lake table but region, nation and supplier is 8 part
                 files, and every table write lands as 8 files

``--trace 0`` prints the end-to-end metrics (see BENCHMARK.json);
``--trace 1`` alternates untraced and traced rounds (untraced first and
last), with the layer shims from ``tracing.py`` installed for the traced
ones, and prints the per-layer metrics, including the tracing overhead.
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
The exit code is 0 only if every output check passed. Progress and
input properties go to stderr; with ``--trace 1`` the spans are written to
``.perfbench_work/spans-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, for setup_s

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_DIR = os.path.join(ROOT, "delta_lake_optimizations_spark")
ORACLE_HELPER = os.path.join(ROOT, "scripts", "sf1_check.py")

WORKLOADS = {"single_file": 1, "multi_file": 8}
SIZES = {
    # lake orders (lineitem is ~4x), churn rows: init, per append, merge
    "full": {"orders": 15_000, "churn": (10_000, 2_000, 1_000)},
    "tiny": {"orders": 600, "churn": (1_000, 200, 100)},
}
# Warm-up before the first measured round. Lake pass times keep falling
# for about eight passes as the JVM compiles hot code, churn cycle times
# for about two; two passes (the first one cold) and one cycle are what
# the per-run time budget affords.
WARM_PASSES = 2
WARM_CYCLES = 1


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _env(work: str) -> None:
    """Keep every byte the run writes inside ``work`` and size the JVM
    for a small shared host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = str(os.cpu_count() or 4)
    try:
        cpus = str(len(os.sched_getaffinity(0)))
    except AttributeError:
        pass
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # -XX:-UsePerfData: no /tmp/hsperfdata_<user> file for the JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "pyspark-shell",
    ])
    import tempfile

    tempfile.tempdir = tmp


def _jvm_peak_rss_mb(spark) -> float:
    import resource

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    try:
        pid = spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    except (AttributeError, OSError):
        pass
    return (py_kb + jvm_kb) / 1024.0


def _stop_spark() -> None:
    """Stop the session, then close the JVM's stdin (the gateway exits on
    EOF) and wait for the process; kill it if it lingers."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        try:
            gw.shutdown()
        except Py4JError:  # the gateway is already gone
            pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


def calibrate(spark, lake_dir: str) -> tuple[float, float]:
    """bench.py's engine-independent host calibrators on this run's
    lineitem: a filtered scan count and a shuffling group-by count, each
    timed after one warm run of the identical plan."""
    from phases import Clock

    li = spark.read.parquet(os.path.join(lake_dir, "lineitem.parquet"))
    out = []
    for plan in (lambda: li.filter("l_returnflag = 'R'").count(),
                 lambda: li.groupBy("l_partkey").count().count()):
        plan()
        with Clock() as clock:
            plan()
        out.append(clock.seconds)
    return out[0], out[1]


def run(args, work: str) -> dict:
    import numpy as np

    import gen
    from phases import ChurnPhase, Clock, LakePhase
    from tracing import Tracer

    from delta_lake_optimizations_spark.session import get_spark

    files = WORKLOADS[args.workload]
    size = SIZES[args.size]
    tracer = Tracer(enabled=False)

    # -- set-up: session, seeded inputs, oracles, the churn table, warm-up
    with Clock() as setup:
        with Clock() as session:
            spark = get_spark(app_name="perfbench")
        lake_dir = os.path.join(work, "lake")
        lake_props = gen.write_lake(np.random.default_rng([args.seed, 1]), lake_dir, size["orders"], files)
        log(f"lake={json.dumps(lake_props)}")
        log(f"t={time.perf_counter() - T0:.2f}s: session and lake ready")
        lake = LakePhase(spark, tracer, lake_dir, args.seed, corrupt=args.corrupt == "lake")
        lake.load_oracles()
        churn = ChurnPhase(spark, tracer, os.path.join(work, "churn"), args.seed, files,
                           size["churn"], corrupt=args.corrupt == "churn")
        churn.create()
        log(f"t={time.perf_counter() - T0:.2f}s: oracles and churn table ready; churn: "
            f"init={churn.N_INIT} rows, {churn.APPENDS} appends x {churn.N_APPEND} and a merge "
            f"of {churn.N_MERGE} (half updates) per cycle, files per write={files}")
        # warm-up: checked, not recorded
        warm = []
        for i in range(max(WARM_PASSES, WARM_CYCLES)):
            if i < WARM_PASSES:
                warm.append(f"pass {lake.run_pass(f'w{i}', record=False):.2f}s")
            if i < WARM_CYCLES:
                warm.append(f"cycle {churn.cycle(f'w{i}', record=False):.2f}s")
    # process start to the first timed operation; the steal share measured
    # from the start of run() is applied to the interpreter start too
    setup_wall = setup.start - T0 + setup.wall
    setup_s = (setup_wall * (1 - setup.steal_share), setup_wall)
    log(f"warm-up: {', '.join(warm)}; set-up {setup_wall:.2f}s wall, steal share "
        f"{setup.steal_share:.3f} (session {session.wall:.2f}s)")

    # -- measured rounds; a traced run alternates untraced and traced rounds
    # (u, t, u, ...) so the two kinds see the same warm-up on average ------
    rounds: list[tuple[bool, float]] = []
    with Clock() as measured:
        while True:
            traced = bool(args.trace) and len(rounds) % 2 == 1
            if traced != tracer.enabled:
                tracer.enabled = traced
                if traced:
                    tracer.install(spark)
                else:
                    tracer.uninstall()
            tag = f"r{len(rounds)}"
            t0 = time.perf_counter()
            op_time = lake.run_pass(tag, record=True) + churn.cycle(tag, record=True)
            rounds.append((traced, op_time))
            log(f"round {tag} traced={traced} wall={time.perf_counter() - t0:.2f}s timed ops={op_time:.2f}s")
            enough = time.perf_counter() - measured.start >= args.seconds
            if enough and (not args.trace or (len(rounds) >= 3 and len(rounds) % 2 == 1)):
                break
    churn.final_check()
    peak_rss = _jvm_peak_rss_mb(spark)
    errors = [f"lake result differs from its oracle: {m}" for m in lake.mismatches] + churn.errors
    attempted = lake.attempted + churn.attempted
    failed = lake.failed + churn.failed
    for e in errors:
        log(f"CHECK FAILED: {e}")
    log(f"host steal share over the measured rounds: {measured.steal_share:.3f}")

    if not args.trace:
        metrics = end_to_end(setup_s, lake, churn, 0)
        raw = {name: round(v, 4) for name, (v, _unit) in end_to_end(setup_s, lake, churn, 1).items()}
        log(f"the same metrics as raw wall time: {json.dumps(raw)}")
        log(f"samples: {len(lake.latencies)} queries, {len(lake.pass_times)} passes, "
            f"{len(churn.commit_s)} commits, {len(churn.cycle_s)} maintenance cycles")
    else:
        # after the measured rounds, so both modes reach them in the same state
        scan_cal, shuffle_cal = calibrate(spark, lake_dir)
        metrics = layer_metrics(tracer, rounds, lake, churn, session.seconds, peak_rss,
                                scan_cal, shuffle_cal, measured.steal_share, lake_props)
        tracer.dump(os.path.join(ROOT, ".perfbench_work", f"spans-{args.workload}-{args.seed}.jsonl"))
    return {
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def end_to_end(setup_s, lake, churn, k: int) -> dict:
    """The end-to-end metrics from the recorded ``(seconds, wall)``
    samples: ``k=0`` steal-adjusted (reported), ``k=1`` raw wall (logged)."""
    def pick(samples):
        return [x[k] for x in samples]

    return {
        "setup_s": (setup_s[k], "s"),
        "query_geomean_s": (statistics.geometric_mean(pick(lake.latencies)), "s"),
        "mix_pass_s": (statistics.median(pick(lake.pass_times)), "s"),
        "commit_p50_s": (statistics.median(pick(churn.commit_s)), "s"),
        "skip_read_p50_s": (statistics.median(pick(churn.skip_read_s)), "s"),
        "maintenance_cycle_s": (statistics.median(pick(churn.cycle_s)), "s"),
        "write_amp": (statistics.median(churn.write_amp), "ratio"),
    }


def layer_metrics(tracer, rounds, lake, churn, session_start, peak_rss,
                  scan_cal, shuffle_cal, steal_share, lake_props) -> dict:
    """Per-layer numbers, per traced round (one lake pass and one churn
    cycle) unless the name says otherwise. Times are span self times:
    a layer's time excludes the layers it called into."""
    n = sum(1 for traced, _ in rounds if traced)
    self_t = tracer.self_times()
    c = tracer.counts

    def per(v: float) -> float:
        return v / n

    build_sends = sum(tracer.total(name)[1] for name in ("build", "ops", "ann"))
    curate_build, _ = tracer.total("ops", "pipeline_curate_documents")
    curate_exec, _ = tracer.total("exec", "pipeline_curate_documents")
    brute = sum(tracer.total(name, "topk_cosine_bruteforce")[0] for name in ("ann", "plan", "exec"))
    traced_round = statistics.median(t for traced, t in rounds if traced)
    untraced_round = statistics.median(t for traced, t in rounds if not traced)
    reads = churn.files_live_at_read
    m = {
        "session.start_s": (session_start, "s"),
        "session.peak_rss_mb": (peak_rss, "MB"),
        "host.scan_cal_s": (scan_cal, "s"),
        "host.shuffle_cal_s": (shuffle_cal, "s"),
        "host.steal_share": (steal_share, "ratio"),
        "catalog.load_table_calls": (per(c["catalog.calls"]), "count"),
        "catalog.load_table_s": (per(self_t["catalog"]), "s"),
        "build.s": (per(self_t["build"]), "s"),
        "build.py4j_calls": (per(build_sends), "count"),
        "plan.s": (per(self_t["plan"]), "s"),
        "exec.s": (per(self_t["exec"]), "s"),
    }
    for k in ("jobs", "stages", "tasks", "failed_tasks", "run_ms", "cpu_ms", "gc_ms",
              "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        unit = "ms" if k.endswith("_ms") else "bytes" if k.endswith("_bytes") else "count"
        m[f"exec.{k}"] = (per(c[f"exec.{k}"]), unit)
    m.update({
        "graft.snapshot_s": (per(self_t["graft.snapshot"]), "s"),
        "graft.write_s": (per(self_t["graft.write"]), "s"),
        "graft.load_s": (per(self_t["graft.load"] + self_t["graft.read"]), "s"),
        "graft.files_live": (statistics.median(churn.files_live_end), "count"),
        "graft.files_scanned": (per(churn.files_scanned), "count"),
        "graft.skip_ratio": (1 - churn.files_scanned / reads if reads else 0.0, "ratio"),
        "graft.bytes_written": (statistics.median(churn.bytes_written), "bytes"),
        "graft.log_entries": (statistics.median(churn.log_entries), "count"),
        "merge.s": (per(self_t["merge"]), "s"),
        "merge.files_rewritten": (per(c["merge.files_rewritten"]), "count"),
        "maintenance.optimize_s": (per(self_t["maintenance.optimize"]), "s"),
        "maintenance.optimize_bytes_rewritten": (per(c["maintenance.optimize_bytes_rewritten"]), "bytes"),
        "maintenance.optimize_files_out": (per(c["maintenance.optimize_files_out"]), "count"),
        "maintenance.delete_s": (per(self_t["maintenance.delete"]), "s"),
        "maintenance.vacuum_s": (per(self_t["maintenance.vacuum"]), "s"),
        "maintenance.vacuum_files_deleted": (per(c["maintenance.vacuum_files_deleted"]), "count"),
        "ops.curate.build_s": (per(curate_build), "s"),
        "ops.curate.exec_s": (per(curate_exec), "s"),
        "ops.docs_in": (lake_props["documents"]["rows"], "count"),
        "ops.docs_kept": (lake.curate_rows, "count"),
        "ann.brute_s": (per(brute), "s"),
        # difference of medians; the untraced rounds flank the traced ones
        "trace.overhead_s": (traced_round - untraced_round, "s"),
    })
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full",
                    help="input scale; 'tiny' is for the self-tests")
    ap.add_argument("--corrupt", choices=("lake", "churn"),
                    help="tamper with one result after it is produced (self-tests: the check must fail)")
    args = ap.parse_args(argv)

    if not (os.path.isdir(PKG_DIR) and os.path.isfile(ORACLE_HELPER)):
        log(f"engine sources not found next to {HERE} "
            "(expected delta_lake_optimizations_spark/ and scripts/sf1_check.py)")
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _env(work)
    sys.path[:0] = [HERE, ROOT, os.path.dirname(ORACLE_HELPER)]
    try:
        result = run(args, work)
    finally:
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
