"""stream-ingest: a demo_1-shaped job (kafka JSON over the file
transport → ``GROUP BY k`` with COUNT, SUM and MAX(created_ms) → an
upsert-kafka sink) started through the REST console.

The generator and the observer run in this process but outside the
program: they write and read the broker's segment files directly, in
the broker's record format (one JSON line per record, base64 key and
value)."""

from __future__ import annotations

import base64
import json
import threading
import time
from pathlib import Path

import numpy as np

from pbench.stats import Samples

PARTITIONS = 4

SCRIPT = """
CREATE TABLE ingest_src (k BIGINT, v BIGINT, created_ms BIGINT)
WITH ('connector' = 'kafka', 'topic' = '{src}',
      'properties.bootstrap.servers' = 'file://{broker}',
      'scan.startup.mode' = 'earliest-offset', 'format' = 'json');
CREATE TABLE ingest_sink (
  k BIGINT, n BIGINT, total BIGINT, newest_ms BIGINT,
  PRIMARY KEY (k) NOT ENFORCED
) WITH ('connector' = 'upsert-kafka', 'topic' = '{sink}',
        'properties.bootstrap.servers' = 'file://{broker}',
        'format' = 'json');
INSERT INTO ingest_sink
SELECT k, COUNT(*) AS n, SUM(v) AS total, MAX(created_ms) AS newest_ms
FROM ingest_src GROUP BY k
"""


def _b64(b: bytes) -> str:
    return base64.b64encode(b).decode()


class Topic:
    """Append side of one topic in the file broker."""

    def __init__(self, broker: Path, name: str) -> None:
        self.dir = broker / name
        self.dir.mkdir(parents=True, exist_ok=True)
        self.segs = [self.dir / f"p{p:05d}.jsonl" for p in range(PARTITIONS)]
        for s in self.segs:
            s.touch()

    def append(self, events) -> None:
        """Append (k, v, created_ms) events; one write per partition."""
        lines: list[list[str]] = [[] for _ in range(PARTITIONS)]
        for k, v, created in events:
            value = json.dumps({"k": k, "v": v, "created_ms": created})
            lines[k % PARTITIONS].append(
                json.dumps(
                    {"k": None, "v": _b64(value.encode()), "ts": created},
                    separators=(",", ":"),
                )
            )
        for seg, ls in zip(self.segs, lines):
            if ls:
                with open(seg, "a") as f:
                    f.write("\n".join(ls) + "\n")


class Tally:
    """The generator's own account of what the sink must converge to."""

    def __init__(self) -> None:
        self.rows: dict[int, tuple[int, int, int]] = {}

    def add(self, events) -> None:
        for k, v, created in events:
            n, total, newest = self.rows.get(k, (0, 0, 0))
            self.rows[k] = (n + 1, total + v, max(newest, created))


class SinkReader:
    """Compacted view of an upsert-kafka sink topic: the latest record
    per key, read incrementally from the segment files."""

    def __init__(self, broker: Path, name: str) -> None:
        self.dir = broker / name
        self.pos: dict[str, int] = {}
        self.rows: dict[int, tuple[int, int, int]] = {}
        self.records = 0

    def poll(self) -> list[tuple[int, int, int, int]]:
        """New (k, n, total, newest_ms) records since the last poll."""
        out = []
        if not self.dir.is_dir():
            return out
        for seg in sorted(self.dir.glob("p*.jsonl")):
            start = self.pos.get(seg.name, 0)
            with open(seg, "rb") as f:
                f.seek(start)
                data = f.read()
            end = data.rfind(b"\n") + 1
            self.pos[seg.name] = start + end
            for line in data[:end].splitlines():
                rec = json.loads(line)
                if not rec.get("v"):
                    continue
                row = json.loads(base64.b64decode(rec["v"]))
                k = int(row["k"])
                val = (int(row["n"]), int(row["total"]), int(row["newest_ms"]))
                self.rows[k] = val
                out.append((k, *val))
        self.records += len(out)
        return out


def events(rng, n: int, keys: int, created_ms: int):
    """n Zipf-skewed events over ``keys`` keys, all created at one
    instant (backlog) — the open loop stamps its own times."""
    ks = zipf_keys(rng, n, keys)
    vs = rng.integers(1, 1000, n)
    return [(int(k), int(v), created_ms) for k, v in zip(ks, vs)]


def zipf_keys(rng, n: int, keys: int) -> np.ndarray:
    p = 1.0 / np.arange(1, keys + 1) ** 1.1
    return rng.choice(keys, n, p=p / p.sum())


def start_job(console, name: str, broker: Path, src: str, sink: str,
              ckpt: str) -> tuple[int, float]:
    script = SCRIPT.format(broker=broker, src=src, sink=sink)
    job_id = console.post(
        "/api/addConfig",
        {"name": name, "sql": script, "checkpoint_dir": ckpt},
    )["id"]
    t0 = time.perf_counter()
    console.post("/api/start", {"id": job_id})
    return job_id, t0


def wait_converged(reader: SinkReader, tally: Tally, timeout: float) -> bool:
    deadline = time.perf_counter() + timeout
    while time.perf_counter() < deadline:
        reader.poll()
        if reader.rows == tally.rows:
            return True
        time.sleep(0.02)
    return False


class OpenLoop:
    """Generator thread: ``rate`` events/s on a fixed schedule, written
    in 50 ms ticks, each event stamped with its due time. Observer
    thread: polls the sink and records, per new sink record, the time
    it was seen minus the due time of the newest event in it."""

    TICK_S = 0.05

    def __init__(self, topic: Topic, reader: SinkReader, tally: Tally,
                 rng, rate: int, keys: int) -> None:
        self.topic, self.reader, self.tally = topic, reader, tally
        self.rng, self.rate, self.keys = rng, rate, keys
        self.latency_ms = Samples()
        self.late_ms = Samples()
        self.generated = 0
        self.record_from_ms = float("inf")
        self._stop = threading.Event()
        self._threads: list[threading.Thread] = []

    def start(self) -> None:
        self._threads = [
            threading.Thread(target=self._generate, daemon=True),
            threading.Thread(target=self._observe, daemon=True),
        ]
        for t in self._threads:
            t.start()

    def stop_generator(self) -> None:
        self._stop.set()
        self._threads[0].join(30)

    def stop(self) -> None:
        self._stop.set()
        for t in self._threads:
            t.join(30)

    def _generate(self) -> None:
        t0 = time.time()
        sent = 0
        tick = 0
        while not self._stop.is_set():
            tick += 1
            due_end = t0 + tick * self.TICK_S
            wait = due_end - time.time()
            if wait > 0 and self._stop.wait(wait):
                break
            now = time.time()
            target = int((now - t0) * self.rate)
            n = target - sent
            if n <= 0:
                continue
            # event i is due at t0 + i / rate
            due = t0 + (np.arange(sent, target) + 1) / self.rate
            self.late_ms.add((now - due[-1]) * 1e3)
            ks = zipf_keys(self.rng, n, self.keys)
            vs = self.rng.integers(1, 1000, n)
            evs = [
                (int(k), int(v), int(d * 1e3))
                for k, v, d in zip(ks, vs, due)
            ]
            self.topic.append(evs)
            self.tally.add(evs)
            sent = target
        self.generated = sent

    def _observe(self) -> None:
        while True:
            done = self._stop.is_set()
            for _k, _n, _t, newest in self.reader.poll():
                seen = time.time() * 1e3
                if newest >= self.record_from_ms:
                    self.latency_ms.add(seen - newest)
            if done:
                break
            time.sleep(0.005)
