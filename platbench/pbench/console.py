"""The admin console as a user drives it: a ``JobManager`` behind the
REST facade, logged in, plus an open-loop poller that reads job status,
metrics and the task list at a fixed rate."""

from __future__ import annotations

import json
import threading
import time
import urllib.error
import urllib.request

from pbench.stats import Samples


class Console:
    """REST client for a platform served in this process."""

    def __init__(self, spark, store_path: str) -> None:
        from flink_streaming_platform_web_spark.platform import rest
        from flink_streaming_platform_web_spark.platform.manager import (
            JobManager,
        )
        from flink_streaming_platform_web_spark.platform.store import (
            JobStore,
        )

        self.manager = JobManager(spark, store=JobStore(store_path))
        self.manager.store.add_user("admin", "bench-admin")
        self._server, self._thread = rest.serve(self.manager)
        host, port = self._server.server_address[:2]
        self.base = f"http://{host}:{port}"
        self.token = None
        self.token = self.post(
            "/api/login", {"username": "admin", "password": "bench-admin"}
        )["token"]
        #: an idle job the console shows when no other job is watched
        self.idle = self.post(
            "/api/addConfig",
            {"name": "idle", "sql": "SELECT 1", "job_type": "batch"},
        )["id"]
        #: the job whose status and metrics the console shows
        self.watch = self.idle

    def _call(self, req: urllib.request.Request):
        if self.token:
            req.add_header("token", self.token)
        try:
            with urllib.request.urlopen(req, timeout=120) as resp:
                body = json.loads(resp.read())
        except urllib.error.HTTPError as e:
            body = json.loads(e.read() or b"{}")
        if body.get("code") != 200:
            raise RuntimeError(f"{req.full_url}: {body.get('message')}")
        return body["data"]

    def get(self, path: str):
        return self._call(urllib.request.Request(self.base + path))

    def post(self, path: str, body: dict):
        return self._call(
            urllib.request.Request(
                self.base + path,
                data=json.dumps(body).encode(),
                headers={"Content-Type": "application/json"},
            )
        )

    def close(self) -> None:
        for job_id in list(self.manager.running):
            self.manager.stop(job_id)
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(30)


class Poller:
    """Open loop: read ``i`` is due at ``t0 + i / rate`` and is timed
    from its due time, so a stall also counts against the reads queued
    behind it. It reads the status and metrics of the job the
    console shows (``Console.watch``)."""

    PATHS = ("/api/status?id={id}", "/api/metrics?id={id}", "/api/listTask")

    def __init__(self, console: Console, rate: float) -> None:
        self.console = console
        self.interval = 1.0 / rate
        self.latency_ms = Samples()
        self.attempted = 0
        self.failed = 0
        #: the first few failed reads, for the run's error report
        self.errors: list[str] = []
        self.late_ms = Samples()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(60)

    def _loop(self) -> None:
        t0 = time.perf_counter()
        i = 0
        while not self._stop.is_set():
            due = t0 + i * self.interval
            wait = due - time.perf_counter()
            if wait > 0 and self._stop.wait(wait):
                break
            self.late_ms.add((time.perf_counter() - due) * 1e3)
            path = self.PATHS[i % len(self.PATHS)].format(id=self.console.watch)
            self.attempted += 1
            try:
                self.console.get(path)
                self.latency_ms.add((time.perf_counter() - due) * 1e3)
            except Exception as e:  # a failed read counts; the loop goes on
                self.failed += 1
                if len(self.errors) < 5:
                    self.errors.append(f"read {path}: {e}"[:300])
            i += 1
