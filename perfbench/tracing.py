"""Spans, layer shims and Spark counters for the traced benchmark run.

Nothing here touches the engine's source: every layer is measured from
outside, by wrapping the public functions the benchmark calls into and by
reading Spark's own status store for the job group set around each
operation. ``Tracer.install`` puts the shims in place and ``uninstall``
restores the originals, so an untraced run executes exactly the engine's
code.

A span is ``[name, start, end, parent, op_id, py4j_start, py4j_end]``
(the last two are the gateway round-trip counter); spans stay in memory and
are written out once, at exit (``Tracer.dump``). A layer's self time is
the sum over its spans of duration minus the time covered by child spans.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JError

PKG = "delta_lake_optimizations_spark"

# Stage counters read from AppStatusStore.stageAttempt(...)._1() -> StageData.
_STAGE_COUNTERS = {
    "exec.run_ms": "executorRunTime",
    "exec.cpu_ms": "executorCpuTime",  # ns in the store; converted below
    "exec.gc_ms": "jvmGcTime",
    "exec.input_bytes": "inputBytes",
    "exec.shuffle_read_bytes": "shuffleReadBytes",
    "exec.shuffle_write_bytes": "shuffleWriteBytes",
    "exec.spill_bytes": ("memoryBytesSpilled", "diskBytesSpilled"),
}


def layer_of_query(fn) -> str:
    """Layer that owns a registry callable's DataFrame construction."""
    mod = fn.__module__
    if mod.startswith(f"{PKG}.operators."):
        leaf = mod.rsplit(".", 1)[1]
        if leaf in ("ivfpq", "similarity"):
            return "ann"
        return "ops"
    return "build"


class Tracer:
    """In-memory span recorder plus the counters kept at layer
    boundaries. A disabled tracer makes ``span`` a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.op_id: str | None = None
        self.counts: dict[str, float] = defaultdict(float)
        self.py4j_sends = 0
        self._undo: list = []

    # -- spans ------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else -1
        rec = [name, time.perf_counter(), None, parent, self.op_id, self.py4j_sends, None]
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            rec[6] = self.py4j_sends
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time of direct children."""
        child = defaultdict(float)
        for name, t0, t1, parent, *_ in self.spans:
            if parent >= 0 and t1 is not None:
                child[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for i, (name, t0, t1, *_) in enumerate(self.spans):
            if t1 is not None:
                out[name] += (t1 - t0) - child[i]
        return out

    def total(self, name: str, op_part: str = "") -> tuple[float, int]:
        """(seconds, py4j round-trips) summed over spans called ``name``
        whose op id contains ``op_part``."""
        secs, sends = 0.0, 0
        for n, t0, t1, _, op, s0, s1 in self.spans:
            if n == name and t1 is not None and op_part in (op or ""):
                secs += t1 - t0
                sends += s1 - s0
        return secs, sends

    def dump(self, path: str) -> None:
        keys = ("name", "start", "end", "parent", "op", "py4j_start", "py4j_end")
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(dict(zip(keys, rec))) + "\n")

    # -- shims ------------------------------------------------------------

    def _wrap(self, fn, name: str, after=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            tracer.counts[f"{name}.calls"] += 1
            if after is not None:
                after(tracer, args, out)
            return out

        return wrapper

    def _rebind(self, orig, wrapped) -> None:
        """Point every loaded engine module's global that *is* ``orig`` at
        ``wrapped``: ~40 modules bind names like ``load_table`` at import
        time, so patching only the defining module would miss them."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PKG):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, wrapped)
                    self._undo.append((mod, attr, orig))

    def _patch_method(self, cls, meth: str, name: str, after=None) -> None:
        orig = cls.__dict__[meth]
        setattr(cls, meth, self._wrap(orig, name, after))
        self._undo.append((cls, meth, orig))

    def install(self, spark) -> None:
        """Install every layer shim; ``uninstall`` restores the originals."""
        import importlib

        from delta_lake_optimizations_spark import catalog
        from delta_lake_optimizations_spark.registry import registry
        from delta_lake_optimizations_spark.table import graft_table, maintenance

        registry()  # import every query module so their bindings exist
        merge_mod = importlib.import_module(f"{PKG}.table.merge")
        self._rebind(catalog.load_table, self._wrap(catalog.load_table, "catalog"))
        self._rebind(merge_mod.merge, self._wrap(merge_mod.merge, "merge", _after_merge))
        self._rebind(maintenance.optimize, self._wrap(
            maintenance.optimize, "maintenance.optimize", _after_optimize))
        self._rebind(maintenance.delete, self._wrap(maintenance.delete, "maintenance.delete"))
        self._rebind(maintenance.vacuum, self._wrap(
            maintenance.vacuum, "maintenance.vacuum", _after_vacuum))
        gt = graft_table.GraftTable
        self._patch_method(gt, "snapshot", "graft.snapshot")
        self._patch_method(gt, "write", "graft.write")
        self._patch_method(gt, "load", "graft.load")
        self._patch_method(gt, "history", "graft.history")
        self._patch_method(gt, "count_rows", "graft.count_rows")

        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        tracer = self

        def counting_send(*args, **kwargs):
            tracer.py4j_sends += 1
            return send(*args, **kwargs)

        client.send_command = counting_send
        self._undo.append((client, "send_command", None))

    def uninstall(self) -> None:
        while self._undo:
            obj, attr, orig = self._undo.pop()
            if orig is None:
                delattr(obj, attr)  # instance attribute shadowing the method
            else:
                setattr(obj, attr, orig)

    # -- Spark counters ---------------------------------------------------

    @contextmanager
    def operation(self, spark, op_id: str):
        """Run one benchmark operation under its own Spark job group; in a
        traced run, harvest that group's stage counters afterwards (outside
        every timed span)."""
        sc = spark.sparkContext
        sc.setJobGroup(op_id, op_id, interruptOnCancel=False)
        self.op_id = op_id
        try:
            yield
        finally:
            self.op_id = None
            sc.setLocalProperty("spark.jobGroup.id", None)
            if self.enabled:
                self.harvest(spark, op_id)

    def harvest(self, spark, group: str) -> None:
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            self.counts["exec.jobs"] += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is None:
                    continue
                try:
                    data = store.stageAttempt(sid, st.currentAttemptId, False, None, False, None)._1()
                except Py4JError:  # stage no longer in the status store
                    continue
                if str(data.status()) == "SKIPPED":
                    continue
                self.counts["exec.stages"] += 1
                self.counts["exec.tasks"] += data.numCompleteTasks()
                self.counts["exec.failed_tasks"] += data.numFailedTasks()
                for metric, getter in _STAGE_COUNTERS.items():
                    getters = getter if isinstance(getter, tuple) else (getter,)
                    v = sum(getattr(data, g)() for g in getters)
                    if metric == "exec.cpu_ms":
                        v /= 1e6
                    self.counts[metric] += v


# -- counters derived from engine return values -----------------------------

def _after_merge(tracer: Tracer, args, commit) -> None:
    tracer.counts["merge.files_rewritten"] += len(commit.remove)


def _after_optimize(tracer: Tracer, args, commit) -> None:
    tracer.counts["maintenance.optimize_bytes_rewritten"] += sum(a.size for a in commit.add)
    tracer.counts["maintenance.optimize_files_out"] += len(commit.add)


def _after_vacuum(tracer: Tracer, args, deleted) -> None:
    tracer.counts["maintenance.vacuum_files_deleted"] += len(deleted)
