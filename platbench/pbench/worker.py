"""Run one workload in this process and write its result as JSON.

Started by ``platbench/run.py`` inside the run directory; the result
file is rewritten after every step, so a run cut short by the hang
guard still reports what it measured."""

from __future__ import annotations

import argparse
import json
import os
import statistics
import time
import traceback
from pathlib import Path

from pbench import stats as st
from pbench.batch import BatchInventory
from pbench.console import Console, Poller
from pbench.stream import StreamPlatform

WORKLOADS = {w.name: w for w in (BatchInventory, StreamPlatform)}

#: console reads per second: a console refreshing three views a few
#: times a second; one stream unit gives over 600 reads, so p99 has at
#: least six samples beyond it and p95 thirty
READ_RATE = 20
FLOOR_JOBS = 3


class Result:
    def __init__(self, path: str) -> None:
        self.path = path
        self.data: dict = {"attempted": 0, "failed": 0, "errors": []}

    def count(self, res: dict) -> None:
        self.data["attempted"] += res.get("attempted", 0)
        self.data["failed"] += res.get("failed", 0)
        self.data["errors"].extend(res.get("errors", []))

    def save(self) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.data, f, default=str)
        os.replace(tmp, self.path)


def _median(xs) -> float:
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def _span_ms(spans: dict, *names: str) -> float:
    durs = [d for n in names for d in spans.get(n, {}).get("durations", [])]
    return _median(durs) * 1e3


def _self_ms(spans: dict, name: str) -> float:
    d = spans.get(name)
    return d["self_s"] / d["calls"] * 1e3 if d and d["calls"] else 0.0


def per_layer(session_s: float, floor_ms: float, unit: dict,
              span_cost_s: float) -> dict:
    """The per-layer metrics every workload reports."""
    spans = unit["spans"]
    sp = {k: 0 for k in ("jobs", "stages", "tasks", "task_time_s",
                         "shuffle_bytes", "python_udf_s")}
    sp.update(unit.get("spark", {}))
    layer_self: dict[str, float] = {}
    for name, d in spans.items():
        layer = name.split(".")[0]
        layer_self[layer] = layer_self.get(layer, 0.0) + d["self_s"]
    out = {
        "session.get_spark_s": (session_s, "s"),
        "spark.floor_ms": (floor_ms, "ms"),
        "spark.jobs": (sp["jobs"], "count"),
        "spark.stages": (sp["stages"], "count"),
        "spark.tasks": (sp["tasks"], "count"),
        "spark.task_time_s": (sp["task_time_s"], "s"),
        "spark.shuffle_bytes": (sp["shuffle_bytes"], "bytes"),
        "spark.python_udf_s": (sp["python_udf_s"], "s"),
        "operators.self_s": (layer_self.get("operators", 0.0), "s"),
        "platform.self_s": (layer_self.get("platform", 0.0), "s"),
        "platform.rest.overhead_ms": (
            _self_ms(spans, "platform.rest.get"), "ms"),
        "platform.manager.read_ms": (
            _span_ms(spans, "platform.manager.status",
                     "platform.manager.metrics"), "ms"),
        "platform.store.read_ms": (
            _span_ms(spans, "platform.store.read"), "ms"),
        "platform.store.writes": (
            spans.get("platform.store.write", {}).get("calls", 0), "count"),
        "trace.unit_s": (unit["unit_s"], "s"),
        "trace.span_cost_s": (
            span_cost_s * sum(d["calls"] for d in spans.values()), "s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def detail(workload: str, unit: dict, traced: bool, layers: dict) -> dict:
    """Workload-specific figures of the unit, printed before the result
    line."""
    out: dict = {}
    if workload == "batch-inventory":
        out["batch_sql_pass_s"] = unit["sql_pass_s"]
        out["batch_pipeline_pass_s"] = unit["pipeline_pass_s"]
        for q, t in unit["times"].items():
            out[f"batch.{q}_s"] = t
        for q, d in layers.items():
            for k in ("build_s", "plan_s", "exec_s"):
                out[f"batch.{q}.{k}"] = d[k]
            for k in ("jobs", "task_time_s", "shuffle_bytes",
                      "python_udf_s"):
                out[f"spark.{q}.{k}"] = d[k]
    else:
        ing = unit["times"].get("ingest", {})
        cyc = unit["times"].get("cep", {})
        out["ingest_catchup_s"] = ing.get("catchup_s")
        out["ingest_job_s"] = ing.get("job_s")
        out["cep_job_s"] = cyc.get("job_s")
        out["job_start_s"] = cyc.get("start_s")
        out["job_stop_s"] = cyc.get("stop_s")
        for kind, d in layers.items():
            for k, v in d.items():
                out[f"stream.{kind}.{k}"] = v
    if traced:
        spans = unit["spans"]
        for name in (
            "platform.manager.start", "platform.manager.stop",
            "streaming.execute_script", "sql.parse_script",
            "sql.validate_script", "sources.parse_create_table",
            "functions.translate_expr", "operators.match_recognize",
            "streaming.fb_cep.foreach_batch",
        ):
            if name in spans:
                out[f"{name}_ms"] = _span_ms(spans, name)
                out[f"{name}.calls"] = spans[name]["calls"]
        out["spans"] = {
            n: {"calls": d["calls"], "total_s": d["total_s"],
                "self_s": d["self_s"]}
            for n, d in sorted(spans.items())
        }
    return out


def run(args) -> None:
    result = Result(args.out)
    result.save()
    env = st.EnvWatch()
    run_dir = Path(args.run_dir)
    wl = WORKLOADS[args.workload](run_dir, args.seed, args.smoke)
    p0 = time.time()
    result.data["inputs"] = wl.prepare()
    prep_s = time.time() - p0

    traced = bool(args.trace)
    if traced:
        from pbench import tracing

        tracer = tracing.Tracer()
        tracing.install(tracer)
    from flink_streaming_platform_web_spark.session import get_spark

    s0 = time.perf_counter()
    spark = get_spark("platbench")
    session_s = time.perf_counter() - s0
    spark.sparkContext.setLogLevel("ERROR")
    if traced:
        spark_stats = tracing.SparkStats(spark)
        spark_stats.enable_udf_profiler()
        wl.tracer, wl.stats = tracer, spark_stats
    console = Console(spark, str(run_dir / "jobs.sqlite"))
    poller = Poller(console, READ_RATE)
    try:
        wl.setup(spark, console)
        floor = []
        for _ in range(FLOOR_JOBS):
            f0 = time.perf_counter()
            spark.range(1).count()
            floor.append(time.perf_counter() - f0)
        floor_ms = statistics.median(floor) * 1e3
        setup_s = time.time() - args.t0 - prep_s
        result.data["setup_s"] = setup_s
        result.data["prep_s"] = prep_s
        result.save()

        # one unit, in the fresh session
        reads = getattr(wl, "console_reads", False)
        if reads:
            poller.start()
        mark = len(tracer.spans) if traced else 0
        unit = wl.unit(traced)
        if traced:
            unit["spans"] = tracer.summary(mark)
        poller.stop()
        result.count(unit)
        result.save()

        info = detail(args.workload, unit, traced, wl.layers)
        if traced and hasattr(wl, "open_loop"):
            ol = wl.open_loop()
            ok = ol.pop("ok")
            result.count({"attempted": 1, "failed": int(not ok),
                          "errors": [] if ok else ["open loop: sink != tally"]})
            for k, v in ol.pop("layers").items():
                info[f"stream.ingest_live.{k}"] = v
            info.update({f"ingest.{k}": v for k, v in ol.items()})
        if reads:
            result.count({"attempted": poller.attempted,
                          "failed": poller.failed,
                          "errors": poller.errors})
            lat = poller.latency_ms
            info.update({
                "admin_read_samples": len(lat),
                "admin_read_p50_ms": lat.quantile(0.5),
                "admin_read_p99_ms": lat.quantile(0.99),
                "admin_read_late_p99_ms": poller.late_ms.quantile(0.99),
            })
        result.data["detail"] = info
        result.data["metrics"] = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "result_s": {"value": unit["unit_s"], "unit": "s"},
        }
        if traced:
            result.data["per_layer"] = per_layer(
                session_s, floor_ms, unit, tracing.span_cost())
    except Exception:
        result.count({"attempted": 1, "failed": 1,
                      "errors": [traceback.format_exc()[-2000:]]})
        raise
    finally:
        poller.stop()
        java = spark.sparkContext._jvm.System.getProperty("java.version")
        result.data["env"] = {
            **st.environment(args.root, java), **env.finish()
        }
        result.save()
        console.close()
        spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--root", required=True)
    ap.add_argument("--smoke", action="store_true")
    run(ap.parse_args())


if __name__ == "__main__":
    main()
