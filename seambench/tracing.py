"""Per-layer tracing for the traced run.

Two sources, both driven from the benchmark's own files:

- timing wrappers around the public functions and methods of each
  ``seamdb_spark`` module, installed only for the traced run and
  removed after it. A layer's self time is the time inside its calls
  minus the time inside nested calls of any traced layer;
- Spark's own accounting: every timed op runs under its own job group,
  and right after the op the stage metrics of that group's jobs are
  read from the driver's AppStatusStore (the UI stays off).

Layer names are the module names, plus ``spark`` for the runtime.
"""

from __future__ import annotations

import functools
import inspect
import os
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

from seamdb_spark.catalog import CATALOG_FILE

# Traced layers: module → classes whose public methods are wrapped (an
# empty tuple wraps the module's public functions).
_LAYERS = {
    "sqlparse": ("seamdb_spark.sqlparse", ()),
    "catalog": ("seamdb_spark.catalog", ("Metastore",)),
    "engine": ("seamdb_spark.engine", ("Engine",)),
    "snapshots": ("seamdb_spark.snapshots", ("TableSnapshots",)),
    "dml": ("seamdb_spark.dml", ()),
    "dedup_index": ("seamdb_spark.dedup_index", ("IncrementalLSHIndex",)),
}
# TableSnapshots methods that read the manifest file exactly once each.
_MANIFEST_READERS = {
    "current_version", "current_files", "current_file_entries",
    "current_extra", "commit", "set_extra",
}
# Metastore methods that may rewrite the catalog file.
_CATALOG_WRITERS = {"create_database", "create_table", "drop_table", "next_serial"}

# Per-layer metrics, in report order. Values are per traced op unless
# listed in _AS_IS (see README.md).
PER_LAYER = [
    ("session.build_s", "s"),
    ("sqlparse.calls", "count"), ("sqlparse.self_s", "s"),
    ("catalog.calls", "count"), ("catalog.self_s", "s"),
    ("catalog.saves", "count"), ("catalog.bytes_written", "bytes"),
    ("engine.sql_s", "s"), ("engine.action_s", "s"),
    ("engine.views_registered", "count"),
    ("snapshots.manifest_reads", "count"), ("snapshots.read_s", "s"),
    ("snapshots.commit_s", "s"), ("snapshots.files_per_commit", "count"),
    ("snapshots.live_files", "count"), ("snapshots.write_amp", "ratio"),
    ("dml.insert_s", "s"), ("dml.validate_s", "s"),
    ("dml.rows", "count"), ("dml.rejected", "count"),
    ("dedup_index.refresh_s", "s"), ("dedup_index.files_read", "count"),
    ("dedup_index.lookup_s", "s"), ("dedup_index.state_files", "count"),
    ("dedup_index.candidates", "count"),
    ("operators.build_s", "s"), ("operators.action_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.exec_run_s", "s"), ("spark.exec_cpu_s", "s"), ("spark.jvm_gc_s", "s"),
    ("spark.shuffle_read_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.input_bytes", "bytes"), ("spark.output_bytes", "bytes"),
    ("spark.failed_tasks", "count"), ("spark.evicted_stages", "count"),
    ("spark.floor_s", "s"), ("spark.heap_peak_mb", "MB"),
    ("trace.ops_per_s", "1/s"),
]
# Gauges and ratios that are reported as-is, not divided by op count.
_AS_IS = {
    "session.build_s", "snapshots.files_per_commit", "snapshots.live_files",
    "snapshots.write_amp", "dedup_index.state_files", "spark.heap_peak_mb",
    "trace.ops_per_s",
}


def _public_callables(owner) -> list[str]:
    """Public functions of a module, or public methods of a class
    (inherited ones included) defined in the class's own module."""
    module = owner.__module__ if inspect.isclass(owner) else owner.__name__
    names = []
    for name in dir(owner):
        value = getattr(owner, name)
        if (not name.startswith("_") and inspect.isfunction(value)
                and value.__module__ == module):
            names.append(name)
    return names


class Tracer:
    """Collects per-layer counters for one run. ``install()`` patches
    the wrappers in; ``uninstall()`` restores every original."""

    def __init__(self, spark, cores: int) -> None:
        self.spark = spark
        self.cores = cores
        self.totals: dict[str, float] = defaultdict(float)
        self.ops = 0
        self._stack: list[float] = []  # child time of each open span
        self._depth: dict[str, int] = defaultdict(int)
        self._patches: list[tuple[object, str, object]] = []
        self._group = 0

    # ------------------------------------------------------ spans
    @contextmanager
    def span(self, layer: str, metric: str | None = None):
        """Time a call into ``layer``; adds its self time to
        ``<layer>.self_s``, one to ``<layer>.calls`` and, when given,
        its whole duration to ``metric``."""
        self._stack.append(0.0)
        self._depth[layer] += 1
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dur = time.perf_counter() - t0
            self._depth[layer] -= 1
            child = self._stack.pop()
            if self._stack:
                self._stack[-1] += dur
            self.totals[f"{layer}.self_s"] += dur - child
            self.totals[f"{layer}.calls"] += 1
            if metric:
                self.totals[metric] += dur

    def count(self, metric: str, n: float = 1) -> None:
        self.totals[metric] += n

    # ---------------------------------------------------- wrappers
    def _patch(self, owner, attr: str, wrapper) -> None:
        self._patches.append((owner, attr, owner.__dict__.get(attr)))
        setattr(owner, attr, wrapper)

    def _wrap(self, owner, attr: str, layer: str) -> None:
        fn = getattr(owner, attr)
        metric = _METRIC_OF.get((layer, attr))
        hook = _HOOKS.get((layer, attr))
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            before = hook.before(tracer, args) if hook else None
            with tracer.span(layer, metric):
                try:
                    out = fn(*args, **kwargs)
                except Exception:
                    if hook:
                        hook.failed(tracer)
                    raise
            if hook:
                hook.after(tracer, args, out, before)
            return out

        self._patch(owner, attr, wrapper)

    def install(self) -> Tracer:
        import importlib

        originals = {}
        for layer, (modname, classes) in _LAYERS.items():
            mod = importlib.import_module(modname)
            owners = [getattr(mod, c) for c in classes] or [mod]
            for owner in owners:
                for attr in _public_callables(owner):
                    if not inspect.isclass(owner):
                        originals[getattr(owner, attr)] = (owner, attr)
                    self._wrap(owner, attr, layer)
        # Modules that imported a traced function by name hold the
        # original object: rebind those names to the wrapper too.
        import sys

        for name, mod in list(sys.modules.items()):
            if not name.startswith("seamdb_spark") or mod is None:
                continue
            for attr, value in list(vars(mod).items()):
                if (inspect.isfunction(value) and value in originals
                        and originals[value][0] is not mod):
                    owner, src_attr = originals[value]
                    self._patch(mod, attr, getattr(owner, src_attr))

        tracer = self
        # The session's concrete DataFrame class defines the method.
        frame = type(self.spark.range(0))
        orig_view = frame.createOrReplaceTempView

        @functools.wraps(orig_view)
        def view_wrapper(df, name):
            if tracer._depth["engine"]:
                tracer.totals["engine.views_registered"] += 1
            return orig_view(df, name)

        self._patch(frame, "createOrReplaceTempView", view_wrapper)
        for pool in self._heap_pools():
            pool.resetPeakUsage()
        return self

    def _heap_pools(self) -> list:
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return [p for p in mf.getMemoryPoolMXBeans()
                if p.getType().toString() == "Heap memory"]

    def heap_peak_mb(self) -> float:
        """The driver JVM's peak heap use since ``install()``, summed
        over the heap pools: unlike RSS, it does not include heap the
        collector has grown but the program has not filled."""
        return sum(p.getPeakUsage().getUsed() for p in self._heap_pools()) / 2**20

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            if original is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, original)
        self._patches.clear()

    # --------------------------------------------------- spark side
    @contextmanager
    def op(self):
        """Run one timed op under its own job group, then add that
        group's stage metrics from the AppStatusStore."""
        sc = self.spark.sparkContext
        self._group += 1
        group = f"seambench-op-{self._group}"
        sc.setJobGroup(group, group, False)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.ops += 1
            self._read_stages(group, wall)

    def _read_stages(self, group: str, wall: float) -> None:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        # Stage and task events reach the status store asynchronously.
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        run_ms = 0
        stages: set[int] = set()
        jobs = list(tracker.getJobIdsForGroup(group))
        for job in jobs:
            info = tracker.getJobInfo(job)
            if info is not None:
                stages.update(info.stageIds)
        t = self.totals
        t["spark.jobs"] += len(jobs)
        for sid in stages:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted past spark.ui.retainedStages
                t["spark.evicted_stages"] += 1
                continue
            if sd.status().toString() not in ("COMPLETE", "FAILED"):
                continue  # skipped: its shuffle output was reused
            t["spark.stages"] += 1
            t["spark.tasks"] += sd.numTasks()
            run_ms += sd.executorRunTime()
            t["spark.exec_cpu_s"] += sd.executorCpuTime() / 1e9
            t["spark.jvm_gc_s"] += sd.jvmGcTime() / 1e3
            t["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
            t["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
            t["spark.input_bytes"] += sd.inputBytes()
            t["spark.output_bytes"] += sd.outputBytes()
            t["spark.failed_tasks"] += sd.numFailedTasks()
        t["spark.exec_run_s"] += run_ms / 1e3
        t["spark.floor_s"] += wall - run_ms / 1e3 / self.cores

    # ------------------------------------------------------ report
    def metrics(self, extra: dict[str, float]) -> dict[str, float]:
        """Every per-layer metric: totals divided by the number of
        traced ops, gauges as they are."""
        values = {**self.totals, **extra}
        commits = self.totals.get("snapshots.commits", 0)
        if commits:
            values["snapshots.files_per_commit"] = (
                self.totals["snapshots.commit_files"] / commits
            )
        user = values.get("user_bytes", 0)
        values["snapshots.write_amp"] = (
            (self.totals.get("snapshots.bytes_written", 0)
             + self.totals.get("catalog.bytes_written", 0)) / user
            if user else 0.0
        )
        n = max(self.ops, 1)
        out = {}
        for name, _unit in PER_LAYER:
            v = values.get(name, 0.0)
            out[name] = v if name in _AS_IS else v / n
        return out


def _tree_bytes(path: str) -> tuple[int, int]:
    """(parquet files, bytes of all files) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            size += os.path.getsize(os.path.join(root, name))
            files += name.endswith(".parquet")
    return files, size


def parquet_files(path: str) -> int:
    return _tree_bytes(path)[0]


class _Hook:
    def before(self, tracer, args):
        return None

    def after(self, tracer, args, out, before) -> None:
        pass

    def failed(self, tracer) -> None:
        pass


class _ManifestRead(_Hook):
    def before(self, tracer, args):
        tracer.totals["snapshots.manifest_reads"] += 1


class _Commit(_ManifestRead):
    def after(self, tracer, args, out, before) -> None:
        snaps = args[0]
        seg = os.path.join(snaps.table_dir, f"seg-{out:06d}")
        files, size = _tree_bytes(seg)
        for name in ("manifest.json", f"manifest-v{out:06d}.json"):
            p = os.path.join(snaps.table_dir, name)
            if os.path.exists(p):
                size += os.path.getsize(p)
        tracer.totals["snapshots.commits"] += 1
        tracer.totals["snapshots.commit_files"] += files
        tracer.totals["snapshots.bytes_written"] += size


class _CatalogWrite(_Hook):
    @staticmethod
    def _path(store) -> str:
        return os.path.join(store.warehouse_dir, CATALOG_FILE)

    def before(self, tracer, args):
        try:
            return os.stat(self._path(args[0])).st_ino
        except FileNotFoundError:
            return None

    def after(self, tracer, args, out, before) -> None:
        st = os.stat(self._path(args[0]))
        if st.st_ino != before:  # every save replaces the file
            tracer.totals["catalog.saves"] += 1
            tracer.totals["catalog.bytes_written"] += st.st_size


class _Insert(_Hook):
    def after(self, tracer, args, out, before) -> None:
        tracer.totals["dml.rows"] += out

    def failed(self, tracer) -> None:
        tracer.totals["dml.rejected"] += 1


class _Refresh(_Hook):
    def after(self, tracer, args, out, before) -> None:
        tracer.totals["dedup_index.files_read"] += out["files_read"]


_HOOKS = {
    **{("snapshots", m): _ManifestRead() for m in _MANIFEST_READERS},
    ("snapshots", "commit"): _Commit(),
    **{("catalog", m): _CatalogWrite() for m in _CATALOG_WRITERS},
    ("dml", "execute_insert"): _Insert(),
    ("dedup_index", "refresh"): _Refresh(),
}
_METRIC_OF = {
    ("engine", "sql"): "engine.sql_s",
    ("snapshots", "read"): "snapshots.read_s",
    ("snapshots", "commit"): "snapshots.commit_s",
    ("dml", "execute_insert"): "dml.insert_s",
    ("dml", "validate_batch"): "dml.validate_s",
    ("dedup_index", "refresh"): "dedup_index.refresh_s",
}
