"""Platform benchmark entry point.

    python3 platbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Makes a private run directory under
``.platbench-run/`` (cwd, TMPDIR, SPARK_LOCAL_DIRS, checkpoints, the
job store and the staged inputs), runs the workload in a child
process under a hang guard, removes the directory, and prints the
workload's detail line and then one JSON result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` the per-layer ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

T0 = time.time()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "flink_streaming_platform_web_spark"
WORKLOADS = ("batch-inventory", "stream-platform")
#: the child is killed this long after the run started, so the run
#: still reports within its 180 s limit
GUARD_S = 165.0


def child_env(run_dir: Path) -> dict:
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)]
        + [p for p in [env.get("PYTHONPATH")] if p]
    )
    tmp = run_dir / "tmp"
    tmp.mkdir()
    env["TMPDIR"] = str(tmp)
    env["SPARK_LOCAL_DIRS"] = str(tmp)
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return env


def stop_group(proc: subprocess.Popen) -> None:
    """Terminate, then kill, the worker's process group (it holds the
    JVM and the Python workers) and wait until the group is gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        deadline = time.time() + 10
        while time.time() < deadline:
            proc.poll()  # reap the group leader
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                proc.wait()
                return
            time.sleep(0.05)
    proc.wait()


def run_child(args, run_dir: Path, out: Path) -> tuple[dict, str | None]:
    cmd = [
        sys.executable, "-m", "pbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--trace", str(args.trace),
        "--run-dir", str(run_dir), "--out", str(out),
        "--t0", repr(T0), "--root", str(ROOT),
    ] + (["--smoke"] if args.smoke else [])
    proc = subprocess.Popen(
        cmd, cwd=run_dir, env=child_env(run_dir),
        stdout=sys.stderr, stderr=sys.stderr, start_new_session=True,
    )
    problem = None
    try:
        rc = proc.wait(timeout=max(10.0, GUARD_S - (time.time() - T0)))
        if rc != 0:
            problem = f"worker exited with code {rc}"
    except subprocess.TimeoutExpired:
        problem = "hang guard: worker killed"
    finally:
        stop_group(proc)
    try:
        data = json.loads(out.read_text())
    except (OSError, ValueError):
        data = {}
    return data, problem


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    # accepted as the benchmark's interface; a run is one unit of work,
    # which takes longer than the seconds asked for (README.md, Sizing)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="minimal input sizes, for the benchmark's own tests")
    args = ap.parse_args()
    if not (PACKAGE / "__init__.py").is_file():
        print(f"program package not found at {PACKAGE}", file=sys.stderr)
        return 2

    base = ROOT / ".platbench-run"
    base.mkdir(exist_ok=True)
    run_dir = base / f"{args.workload}-{args.seed}-{os.getpid()}"
    run_dir.mkdir()
    try:
        data, problem = run_child(args, run_dir, run_dir / "result.json")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            base.rmdir()
        except OSError:
            pass  # another run's directory is still there

    # from here on the program ran: the result line is printed even
    # when the worker failed or was killed, with that failure counted
    attempted = int(data.get("attempted", 0))
    failed = int(data.get("failed", 0))
    if problem:
        attempted, failed = attempted + 1, failed + 1
        data.setdefault("errors", []).append(problem)
    for err in data.get("errors", []):
        print(f"error: {err}", file=sys.stderr)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed,
        "inputs": data.get("inputs"), "env": data.get("env"),
        "setup_s": data.get("setup_s"), "prep_s": data.get("prep_s"),
        "detail": data.get("detail"),
    }, default=str))
    key = "per_layer" if args.trace else "metrics"
    print(json.dumps({
        "correct": failed == 0 and key in data,
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": data.get(key, {}),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
