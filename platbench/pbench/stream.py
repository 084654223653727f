"""stream-platform: streaming jobs run through the platform's REST
console, the way a user runs them.

The unit of work is a round of two fresh jobs:

1. ingest catch-up: a demo_1-shaped job (``pbench.ingest``) started on
   a pre-written backlog; timed from the start request until the
   upsert sink equals the generator's tally, then stopped and deleted;
2. CEP cycle: a bounded st14-shaped MATCH_RECOGNIZE job
   (``pbench.cep``) validated, added, started, run to convergence,
   stopped with drain, checked against DuckDB's q45 answer and
   deleted.

The seed sets the backlog's events and how the CEP input's rows (the
events of the sf0.01 corpus) are displaced across its file cuts. The
traced run adds an open-loop phase: a generator at a fixed event rate
into a running ingest job, an observer timing each sink update from
the due time of the newest event in it.
"""

from __future__ import annotations

import statistics
import time
from pathlib import Path

import numpy as np

from pbench import cep, ingest, oracle

CEP_SCALE = 0.01
BACKLOG_EVENTS = 10_000
#: the smoke test's sizes
SMOKE_CEP_SCALE = 0.001
SMOKE_BACKLOG_EVENTS = 2_000
KEYS = 300
OPEN_LOOP_RATE = 300
OPEN_LOOP_S = 20.0
OPEN_LOOP_WARMUP_S = 3.0
CONVERGE_TIMEOUT_S = cep.CONVERGE_TIMEOUT_S

PHASES = (
    "addBatch", "queryPlanning", "walCommit", "commitOffsets",
    "latestOffset", "triggerExecution",
)


def progress_summary(progress: list, spark: dict | None) -> dict:
    """Medians of the micro-batch phases over batches that read rows
    (after the first), state size at the end, Spark jobs per batch
    (from ``spark``, the job's totals, when traced)."""
    batches = [p for plist in progress for p in plist]
    steady = [p for p in batches[1:] if p.numInputRows > 0] or batches
    out = {"batches": len(batches)}
    for ph in PHASES:
        vals = [p.durationMs.get(ph, 0) for p in steady]
        out[f"{ph}_ms"] = statistics.median(vals) if vals else 0.0
    rows = [p.numInputRows for p in steady]
    out["rows_per_batch"] = statistics.median(rows) if rows else 0.0
    if batches:
        out["first_batch_ms"] = batches[0].durationMs.get(
            "triggerExecution", 0
        )
        ops = batches[-1].stateOperators
        out["state_rows"] = sum(o.numRowsTotal for o in ops)
        out["state_bytes"] = sum(o.memoryUsedBytes for o in ops)
    if spark is not None:
        out["jobs_per_batch"] = spark["jobs"] / max(1, len(batches))
        out["task_time_s"] = spark["task_time_s"]
        out["shuffle_bytes"] = spark["shuffle_bytes"]
        out["python_udf_s"] = spark["python_udf_s"]
    return out


def wait_progress(queries, timeout: float = 10.0) -> None:
    """Wait until every query has reported the batch it was running."""
    deadline = time.perf_counter() + timeout
    while time.perf_counter() < deadline and any(
        q.lastProgress is None or q.status["isTriggerActive"]
        for q in queries
    ):
        time.sleep(0.05)


class StreamPlatform:
    name = "stream-platform"
    #: the console poller reads while this workload's unit runs
    console_reads = True

    def __init__(self, run_dir: Path, seed: int, smoke: bool = False) -> None:
        self.scale = SMOKE_CEP_SCALE if smoke else CEP_SCALE
        self.backlog_events = SMOKE_BACKLOG_EVENTS if smoke else BACKLOG_EVENTS
        self.run_dir = run_dir
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.broker = run_dir / "broker"
        self.console = None
        self.tracer = None
        self.stats = None
        self.layers: dict[str, dict] = {}

    def prepare(self) -> dict:
        """Benchmark-side inputs: the backlog topic with its tally, the
        CEP input cut from the corpus' events, and DuckDB's q45
        answer."""
        from flink_streaming_platform_web_spark import inventory

        data, fp = oracle.corpus(self.scale)
        self.expected = oracle.answers(
            data, {"q45": inventory.oracle_sql()["q45_match_recognize"]},
        )["q45"]
        self.cep_input = cep.stage(
            f"{data}/events.parquet", self.run_dir / "cep-input", self.seed
        )
        self.backlog = ingest.Topic(self.broker, "backlog")
        self.tally = ingest.Tally()
        evs = ingest.events(
            self.rng, self.backlog_events, KEYS, 1_700_000_000_000
        )
        self.backlog.append(evs)
        self.tally.add(evs)
        return {"scale": self.scale, "data": fp,
                "backlog_events": self.backlog_events}

    def setup(self, spark, console) -> None:
        self.console = console

    def _spark(self, run_ids: list[str], udf0: float) -> dict:
        """Spark totals of one job: its queries' job groups (a
        streaming query's job group is its run id), and the Python
        worker time since ``udf0``."""
        sp = [self.stats.group(r) for r in run_ids]
        out = {k: sum(s[k] for s in sp) for k in sp[0]} if sp else {}
        out["python_udf_s"] = self.stats.udf_seconds() - udf0
        return out

    def _catchup(self, traced: bool) -> dict:
        udf0 = self.stats.udf_seconds() if traced else 0.0
        reader = ingest.SinkReader(self.broker, "sink")
        job_id, t0 = ingest.start_job(
            self.console, "ingest", self.broker, "backlog", "sink",
            str(self.run_dir / "ckpt-ingest"),
        )
        self.console.watch = job_id
        ok = ingest.wait_converged(reader, self.tally, CONVERGE_TIMEOUT_S)
        t1 = time.perf_counter()
        queries = self.console.manager.running[job_id].result.streaming_queries
        if traced:
            # the batch that completed the sink reports its progress
            # only after its commit; wait for it outside the timing
            wait_progress(queries)
        progress = [list(q.recentProgress) for q in queries]
        run_ids = [str(q.runId) for q in queries]
        self.console.watch = self.console.idle
        t_stop = time.perf_counter()
        self.console.post("/api/stop", {"id": job_id})
        t2 = time.perf_counter()
        self.console.post("/api/delete", {"id": job_id})
        out = {"ok": ok, "catchup_s": t1 - t0, "stop_s": t2 - t_stop,
               "job_s": t1 - t0 + t2 - t_stop}
        if traced:
            out["spark"] = self._spark(run_ids, udf0)
            out["layers"] = progress_summary(progress, out["spark"])
        return out

    def _cep(self, traced: bool) -> dict:
        udf0 = self.stats.udf_seconds() if traced else 0.0
        res = cep.cycle(
            self.console, self.cep_input, "cep",
            str(self.run_dir / "ckpt-cep"),
        )
        res["ok"] = oracle.fingerprint(cep.COLUMNS, res.pop("rows")) == (
            self.expected
        )
        progress = res.pop("progress")
        run_ids = res.pop("run_ids")
        if traced:
            res["spark"] = self._spark(run_ids, udf0)
            res["layers"] = progress_summary(progress, res["spark"])
        return res

    def unit(self, traced: bool) -> dict:
        out = {"attempted": 0, "failed": 0, "times": {}}
        sparks = []
        for kind, fn in (("ingest", self._catchup), ("cep", self._cep)):
            out["attempted"] += 1
            try:
                res = fn(traced)
            except Exception as e:  # a failed job counts, the round goes on
                out["failed"] += 1
                out.setdefault("errors", []).append(f"{kind}: {e}"[:300])
                continue
            if not res.pop("ok"):
                out["failed"] += 1
                out.setdefault("errors", []).append(f"{kind}: wrong result")
            if "layers" in res:
                self.layers[kind] = res.pop("layers")
                sparks.append(res.pop("spark"))
            out["times"][kind] = res
        # the round is the sum of its two jobs' times, each from its
        # first request on
        out["unit_s"] = sum(r["job_s"] for r in out["times"].values())
        if traced and sparks:
            out["spark"] = {k: sum(s.get(k, 0) for s in sparks)
                            for k in sparks[0]}
        return out

    def open_loop(self) -> dict:
        """A running ingest job fed at OPEN_LOOP_RATE events/s; latency
        samples start after OPEN_LOOP_WARMUP_S."""
        udf0 = self.stats.udf_seconds()
        topic = ingest.Topic(self.broker, "live")
        tally = ingest.Tally()
        reader = ingest.SinkReader(self.broker, "live-sink")
        job_id, _ = ingest.start_job(
            self.console, "live", self.broker, "live", "live-sink",
            str(self.run_dir / "ckpt-live"),
        )
        self.console.watch = job_id
        loop = ingest.OpenLoop(topic, reader, tally, self.rng,
                               OPEN_LOOP_RATE, KEYS)
        loop.record_from_ms = (time.time() + OPEN_LOOP_WARMUP_S) * 1e3
        loop.start()
        time.sleep(OPEN_LOOP_S)
        loop.stop_generator()
        ok = ingest.wait_converged(reader, tally, CONVERGE_TIMEOUT_S)
        loop.stop()
        queries = self.console.manager.running[job_id].result.streaming_queries
        wait_progress(queries)
        progress = [list(q.recentProgress) for q in queries]
        run_ids = [str(q.runId) for q in queries]
        self.console.watch = self.console.idle
        self.console.post("/api/stop", {"id": job_id})
        self.console.post("/api/delete", {"id": job_id})
        return {
            "ok": ok,
            "latency_p50_ms": loop.latency_ms.quantile(0.5),
            "latency_p90_ms": loop.latency_ms.quantile(0.9),
            "latency_p99_ms": loop.latency_ms.quantile(0.99),
            "latency_samples": len(loop.latency_ms),
            "generator_late_p99_ms": loop.late_ms.quantile(0.99),
            "events": loop.generated,
            "layers": progress_summary(
                progress, self._spark(run_ids, udf0)
            ),
        }
