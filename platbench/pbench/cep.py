"""stream-cep: closed-loop cycles of a bounded MATCH_RECOGNIZE job run
through the platform (validate, add, start, process all, stop with
drain, check, delete). The job has st14's shape: ``PATTERN (STRT
UP+)``, SKIP PAST LAST ROW, a 30-minute watermark, over events staged
as 6 file cuts with rows displaced across the cuts."""

from __future__ import annotations

import os
import threading
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CUTS = 6
#: displaced rows stay within this much of their cut's newest row,
#: inside the job's 30-minute watermark delay, so none arrives late
DISPLACE_US = 25 * 60 * 1_000_000

SCRIPT = """
CREATE TABLE cep_events (
  user_id BIGINT, event_id BIGINT, ts TIMESTAMP, value DOUBLE,
  WATERMARK FOR ts AS ts - INTERVAL '30' MINUTE
) WITH ('connector' = 'filesystem', 'path' = '{path}',
        'format' = 'parquet', 'source.max-files-per-trigger' = '1');
CREATE TABLE {sink} (
  user_id BIGINT, start_id BIGINT, end_id BIGINT, n_up BIGINT, peak DOUBLE
) WITH ('connector' = 'memory');
INSERT INTO {sink}
SELECT user_id, start_id, end_id, n_up, peak
FROM cep_events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES
    FIRST(STRT.event_id) AS start_id,
    LAST(UP.event_id) AS end_id,
    COUNT(UP.*) AS n_up,
    LAST(UP.value) AS peak
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (STRT UP+)
  DEFINE UP AS UP.value > PREV(UP.value)
)
"""

COLUMNS = ["user_id", "start_id", "end_id", "n_up", "peak"]
#: a job that has not processed all its input by then counts as failed
CONVERGE_TIMEOUT_S = 60.0


def stage(events_parquet: str, out: Path, seed: int) -> str:
    """Cut the ts-ordered events into CUTS files and move a seeded
    random share (20-80%, drawn per cut) of the rows within
    DISPLACE_US of each cut's newest row into the next file."""
    rng = np.random.default_rng(seed)
    tbl = pq.read_table(
        events_parquet, columns=["user_id", "event_id", "ts", "value"]
    ).sort_by([("ts", "ascending"), ("event_id", "ascending")])
    ts = tbl.column("ts").cast(pa.int64()).to_numpy()
    n = len(ts)
    bounds = [i * n // CUTS for i in range(CUTS + 1)]
    owner = np.zeros(n, dtype=np.int64)
    for i in range(CUTS):
        owner[bounds[i]:bounds[i + 1]] = i
    for i in range(CUTS - 1):
        lo, hi = bounds[i], bounds[i + 1]
        newest = ts[hi - 1]
        near = np.arange(lo, hi - 1)[ts[lo:hi - 1] > newest - DISPLACE_US]
        share = rng.uniform(0.2, 0.8)
        owner[near[rng.random(len(near)) < share]] = i + 1
    out.mkdir(parents=True, exist_ok=True)
    # the file source reads files in modification-time order
    now = time.time()
    for i in range(CUTS):
        f = out / f"c{i}.parquet"
        pq.write_table(tbl.filter(pa.array(owner == i)), f)
        os.utime(f, (now + i, now + i))
    return str(out)


def process_all(queries, timeout: float) -> bool:
    """``processAllAvailable`` on each query, given up after
    ``timeout`` seconds; False if it had not returned by then."""
    errors: list[Exception] = []

    def run() -> None:
        try:
            for q in queries:
                q.processAllAvailable()
        except Exception as e:  # re-raised in the caller's thread
            errors.append(e)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout)
    if errors:
        raise errors[0]
    return not t.is_alive()


def cycle(console, path: str, name: str, ckpt: str) -> dict:
    """One job cycle through the REST console; returns timings and the
    rows the job wrote."""
    spark = console.manager.spark
    sink = f"{name}_sink"
    script = SCRIPT.format(path=path, sink=sink)
    t0 = time.perf_counter()
    check = console.post("/api/checkfSql", {"sql": script})
    if not check["ok"]:
        raise RuntimeError(f"validation failed: {check['errors']}")
    job_id = console.post(
        "/api/addConfig",
        {"name": name, "sql": script, "checkpoint_dir": ckpt},
    )["id"]
    console.watch = job_id
    t_start = time.perf_counter()
    console.post("/api/start", {"id": job_id})
    t_started = time.perf_counter()
    queries = console.manager.running[job_id].result.streaming_queries
    if not process_all(queries, CONVERGE_TIMEOUT_S):
        # stopping the job ends the blocked call as well
        console.watch = console.idle
        console.post("/api/stop", {"id": job_id})
        console.post("/api/delete", {"id": job_id})
        raise TimeoutError(f"not converged in {CONVERGE_TIMEOUT_S:g} s")
    progress = [list(q.recentProgress) for q in queries]
    run_ids = [str(q.runId) for q in queries]
    t_stop = time.perf_counter()
    console.watch = console.idle
    console.post("/api/stop", {"id": job_id})
    t_end = time.perf_counter()
    rows = [tuple(r) for r in spark.table(sink).select(*COLUMNS).collect()]
    console.post("/api/delete", {"id": job_id})
    spark.catalog.dropTempView(sink)
    return {
        "job_s": t_end - t0,
        "start_s": t_started - t_start,
        "stop_s": t_end - t_stop,
        "rows": rows,
        "progress": progress,
        "run_ids": run_ids,
    }
