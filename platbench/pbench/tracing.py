"""Spans around the program's public functions, and Spark's own
reporting, for the traced run.

The tracer wraps functions from outside the program: each traced
function is replaced in its defining module *and* at every module that
imported it by name (``from x import f`` binds ``f`` in the importer),
so a call through any import site is recorded. Methods are wrapped on
their class. Spans are kept in memory; ``summary`` folds them into
total and self time per name when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import pkgutil
import sys
import threading
import time
from collections import defaultdict

PACKAGE = "flink_streaming_platform_web_spark"

#: span name -> (module, attribute) for functions, or
#: (module, "Class.method") for methods. Span names are the layer
#: names of README.md: session, sql, sources, functions, streaming,
#: operators, platform.
TARGETS = {
    "session.get_spark": ("session", "get_spark"),
    "sql.parse_script": ("sql.script", "parse_script"),
    "sql.validate_script": ("sql.validation", "validate_script"),
    "sources.parse_create_table": ("sources.ddl", "parse_create_table"),
    "sources.filesystem_stream": ("sources.registry", "filesystem_stream"),
    "sources.kafka_stream": ("sources.registry", "kafka_stream"),
    "sources.kafka_writer": ("sources.registry", "kafka_writer"),
    "functions.translate_expr": ("functions.flink_compat", "translate_expr"),
    "streaming.execute_script": ("streaming.runner", "JobRunner.execute_script"),
    "streaming.watermark_buffered": ("streaming.ooo", "watermark_buffered"),
    "streaming.drain_pending": ("streaming.ooo", "drain_pending"),
    "streaming.fb_cep.try_start": ("streaming.fb_cep", "try_start"),
    "streaming.fb_cep.foreach_batch": (
        "streaming.fb_cep", "_FBCepStream.foreach_batch"
    ),
    "operators.match_recognize": ("operators.cep", "match_recognize"),
    "platform.manager.start": ("platform.manager", "JobManager.start"),
    "platform.manager.stop": ("platform.manager", "JobManager.stop"),
    "platform.manager.metrics": ("platform.manager", "JobManager.metrics"),
    "platform.manager.status": ("platform.manager", "JobManager.status"),
    "platform.store.write": ("platform.store", "JobStore._write"),
    "platform.store.read": ("platform.store", "JobStore._read"),
    "platform.rest.get": ("platform.rest", "_Handler.do_GET"),
    "platform.rest.post": ("platform.rest", "_Handler.do_POST"),
}


class Tracer:
    """In-memory spans: (name, start, end, parent index, thread)."""

    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int, int]] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else -1
        with self._lock:
            idx = len(self.spans)
            self.spans.append(
                (name, time.perf_counter(), 0.0, parent,
                 threading.get_ident())
            )
        stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] == idx:
            stack.pop()
        with self._lock:
            name, start, _, parent, tid = self.spans[idx]
            self.spans[idx] = (name, start, end, parent, tid)

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = tracer.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(idx)

        return traced

    def snapshot(self) -> list[tuple[str, float, float, int, int]]:
        with self._lock:
            return list(self.spans)

    def self_times(self, spans=None) -> list[float]:
        """Per span: its duration minus the part of it that its child
        spans cover (children may overlap; their union counts once)."""
        if spans is None:
            spans = self.snapshot()
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for name, start, end, parent, _ in spans:
            if parent >= 0:
                children[parent].append((start, end))
        out = []
        for i, (_, start, end, _, _) in enumerate(spans):
            covered = 0.0
            cur_s = cur_e = None
            for cs, ce in sorted(children.get(i, ())):
                cs, ce = max(cs, start), min(ce, end)
                if ce <= cs:
                    continue
                if cur_e is None or cs > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = cs, ce
                else:
                    cur_e = max(cur_e, ce)
            if cur_e is not None:
                covered += cur_e - cur_s
            out.append(max(0.0, (end - start) - covered))
        return out

    def summary(self, since: int = 0) -> dict[str, dict[str, float]]:
        """name -> {calls, total_s, self_s, durations} over spans from
        index ``since`` on (closed spans only)."""
        spans = self.snapshot()
        selfs = self.self_times(spans)
        out: dict[str, dict] = {}
        for i, (name, start, end, _, _) in enumerate(spans):
            if i < since or end == 0.0:
                continue
            d = out.setdefault(
                name, {"calls": 0, "total_s": 0.0, "self_s": 0.0,
                       "durations": []}
            )
            d["calls"] += 1
            d["total_s"] += end - start
            d["self_s"] += selfs[i]
            d["durations"].append(end - start)
        return out


def span_cost(n: int = 20_000) -> float:
    """Seconds one wrapped call adds, measured on a no-op function."""

    def noop():
        return None

    wrapped = Tracer().wrap("noop", noop)
    t0 = time.perf_counter()
    for _ in range(n):
        noop()
    bare = time.perf_counter() - t0
    t0 = time.perf_counter()
    for _ in range(n):
        wrapped()
    return max(0.0, (time.perf_counter() - t0 - bare) / n)


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name, self.idx = tracer, name, -1

    def __enter__(self):
        self.idx = self.tracer.begin(self.name)
        return self

    def __exit__(self, *exc):
        self.tracer.end(self.idx)
        return False


def _import_all(package: str) -> list:
    pkg = importlib.import_module(package)
    for info in pkgutil.walk_packages(pkg.__path__, package + "."):
        try:
            importlib.import_module(info.name)
        except Exception:  # an optional module that cannot load here
            continue
    return [
        m for n, m in list(sys.modules.items())
        if (n == package or n.startswith(package + ".")) and m is not None
    ]


def install(tracer: Tracer, targets: dict | None = None,
            package: str = PACKAGE) -> list[str]:
    """Wrap every target at its defining module and at every by-name
    import site in the package. Returns the span names installed."""
    modules = _import_all(package)
    installed = []
    for name, (mod_name, attr) in (targets or TARGETS).items():
        mod = importlib.import_module(f"{package}.{mod_name}")
        if "." in attr:
            cls_name, meth = attr.split(".")
            cls = getattr(mod, cls_name, None)
            fn = getattr(cls, meth, None) if cls is not None else None
            if fn is None:
                continue
            setattr(cls, meth, tracer.wrap(name, fn))
            installed.append(name)
            continue
        fn = getattr(mod, attr, None)
        if fn is None:
            continue
        wrapped = tracer.wrap(name, fn)
        for m in modules:
            for key, val in list(vars(m).items()):
                if val is fn:
                    setattr(m, key, wrapped)
        installed.append(name)
    return installed


class SparkStats:
    """Spark's own reporting for a job group: job count from the
    status tracker; stage count, task time and shuffle bytes from the
    application status store (the store behind the UI's REST API);
    Python worker time from the built-in UDF profiler."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def enable_udf_profiler(self) -> None:
        self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")

    def udf_seconds(self) -> float:
        collector = getattr(self.spark, "_profiler_collector", None)
        if collector is None:
            return 0.0
        try:
            res = collector._perf_profile_results
        except Exception:  # profiler results not collected
            return 0.0
        return float(
            sum(v.total_tt for v in res.values() if v is not None)
        )

    def group(self, group: str) -> dict[str, float]:
        """Totals over the jobs of one job group (a streaming query's
        job group is its run id)."""
        return self._totals(
            list(self.sc.statusTracker().getJobIdsForGroup(group))
        )

    def _totals(self, ids: list[int]) -> dict[str, float]:
        stages = set()
        for j in ids:
            try:
                it = self.store.job(j).stageIds().iterator()
            except Exception:  # job evicted from the status store
                continue
            while it.hasNext():
                stages.add(it.next())
        run_ms = shuffle = tasks = done = 0
        for s in stages:
            try:
                sd = self.store.lastStageAttempt(s)
            except Exception:  # skipped stage: never attempted
                continue
            if str(sd.status()) != "COMPLETE":
                continue
            done += 1
            tasks += sd.numCompleteTasks()
            run_ms += sd.executorRunTime()
            shuffle += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
        return {
            "jobs": len(ids),
            "stages": done,
            "tasks": tasks,
            "task_time_s": run_ms / 1e3,
            "shuffle_bytes": shuffle,
        }
