"""Benchmark entry point.

    python3 perfbench/run.py --workload {analytics,ingest} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Generates the workload's inputs from the
seed (``gen.py``, outside the measured process), starts the measured
process (``worker.py``) on ``local[<cpus>]``, waits for it and every
process it started, and prints the metrics. The last line of stdout is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Working files live under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402

WORKLOADS = ("analytics", "ingest")
# ingest fixture roots are generated for calls as short as this; a call
# takes about 5 s now and runs ~32 Spark stages of at least ~0.08 s each
MIN_INGEST_CALL_S = 1.0
WORKER_TIMEOUT_S = 800
END_TO_END_UNITS = {"setup_s": "s", "work_per_s": "1/s", "cpu_per_op_s": "s"}
LAYER_UNITS = {
    "session.start_s": "s",
    "construct.s": "s",
    "construct.jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.task_skew": "ratio",
    "driver.self_s": "s",
    "spark.stage_floor_s": "s",
    "exec.floor_share": "ratio",
    "checkpoint.calls": "count",
    "memo.builds": "count",
    "memo.shared_build_s": "s",
    "arrow.run_s": "s",
    "ingest.jobs_per_run": "count",
    "ingest.stages_per_run": "count",
    "ingest.sink_files": "count",
    "ingest.bytes_written_per_body_byte": "ratio",
    "ingest.insert_ratio": "ratio",
    "ingest.insert_wall_s": "s",
    "ingest.dedup_wall_s": "s",
    "ingest.quarantine_wall_s": "s",
    "op.wall_s": "s",
    "op.self_share": "ratio",
    "trace.cost_s": "s",
    "peak_rss_mb": "MB",
}


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def make_inputs(workload: str, seed: int, seconds: float, run_dir: Path, work: Path) -> dict:
    inputs: dict = {"trace_out": str(work / "traces" / f"{workload}-seed{seed}.json")}
    if workload == "analytics":
        timed, warm, check = gen.analytics_inputs(work / "analytics")
        inputs.update(sf_timed=str(timed), sf_warm=str(warm), sf_check=str(check))
    else:
        blocks = max(1, math.ceil(seconds / (4 * MIN_INGEST_CALL_S)))
        items = gen.ingest_inputs(run_dir / "fixtures", seed, blocks)
        warm_items = gen.ingest_inputs(run_dir / "warm-fixtures", seed + 1, 1)[:2]
        inputs.update(
            items=[vars(i) for i in items],
            warm_items=[vars(i) for i in warm_items],
            warehouse=str(run_dir / "warehouse"),
            warm_warehouse=str(run_dir / "warm-warehouse"),
        )
    return inputs


def worker_env(run_dir: Path) -> dict:
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus()),
            "SPARK_DRIVER_MEMORY": "4g",
            "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
            "TMPDIR": str(tmp),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
    )
    return env


def _group_gone(pgid: int, seconds: float) -> bool:
    """Wait up to ``seconds`` for every process of group ``pgid`` to end."""
    deadline = time.time() + seconds
    while True:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return True
        if time.time() > deadline:
            return False
        time.sleep(0.1)


def run_worker(args, inputs_path: Path, out_path: Path, log_path: Path, env: dict) -> int:
    cmd = [
        sys.executable, str(HERE / "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--inputs", str(inputs_path), "--out", str(out_path),
    ]
    with open(log_path, "w") as log:
        t0 = time.time()
        proc = subprocess.Popen(
            [*cmd, "--t0", repr(t0)],
            stdout=log, stderr=subprocess.STDOUT, env=env, cwd=ROOT, start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = -1
        finally:
            # the worker stops its JVM; anything left in its group is killed
            if not _group_gone(proc.pid, 30):
                os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            if not _group_gone(proc.pid, 30):
                print(f"processes of group {proc.pid} outlived SIGKILL", file=sys.stderr)
    return rc


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples above it, or None below eleven samples."""
    n = len(values)
    if n < 11:
        return None
    return 100.0 * (n - 10) / n, sorted(values)[n - 11]


def report(workload: str, res: dict, trace: int) -> dict:
    walls = res["walls"]
    n, failed = len(walls), len(res["errors"])
    for op_id, err in res["errors"].items():
        print(f"failed op {op_id}: {err}", file=sys.stderr)
    if trace:
        metrics = {k: (v, LAYER_UNITS[k]) for k, v in res["layers"].items()}
        print(f"trace written to {res['trace_file']}")
    else:
        metrics = {
            "setup_s": (res["setup_s"], "s"),
            "work_per_s": (n / sum(walls), "1/s"),
            "cpu_per_op_s": (res["cpu_s"] / n, "s"),
        }
    # latency and failures by workload name, for reading (not in the result line)
    t = tail(walls)
    named = {
        "latency_p50_s": f"{statistics.median(walls):.4f} s",
        "latency_tail_s": (
            f"{t[1]:.4f} s (p{t[0]:.1f}, {n} samples)" if t else f"n/a ({n} samples, needs 11)"
        ),
        "work_per_s": f"{n / sum(walls):.4f} {res['unit']}/s",
        "failed_ratio": f"{failed / n:.4f} ({failed}/{n})",
    }
    for k, v in named.items():
        print(f"{workload}.{k} {v}")
    print("ops " + " ".join(f"{k}={w:.3f}" for k, w in zip(res["names"], walls)))
    by_name: dict[str, list[float]] = {}
    for k, w in zip(res["names"], walls):
        by_name.setdefault(k, []).append(w)
    if len(by_name) < n:  # names repeat: print each one's median wall
        print(
            "median wall by op name "
            + " ".join(f"{k}={statistics.median(v):.3f}s(n={len(v)})" for k, v in by_name.items())
        )
    print(f"setup_s {res['setup_s']:.4f} s (session start {res['session_s']:.4f} s)")
    print(f"peak_rss_mb {res['peak_rss_mb']:.1f} MB")
    print("phases " + " ".join(f"{k} {v:.1f} s" for k, v in res["phases_s"].items()))
    return {
        "correct": failed == 0,
        "attempted": n,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "api_etl_pipeline_spark" / "session.py").is_file():
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench"
    run_dir = work / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    (work / "traces").mkdir(exist_ok=True)
    try:
        inputs_path, out_path = run_dir / "inputs.json", run_dir / "result.json"
        inputs = make_inputs(args.workload, args.seed, args.seconds, run_dir, work)
        inputs_path.write_text(json.dumps(inputs))
        log_path = work / f"worker-{args.workload}.log"
        rc = run_worker(args, inputs_path, out_path, log_path, worker_env(run_dir))
        if rc != 0 or not out_path.exists():
            print(f"worker exited with {rc}; log: {log_path}", file=sys.stderr)
            print("".join(log_path.read_text().splitlines(True)[-30:]), file=sys.stderr)
            return 1
        result = report(args.workload, json.loads(out_path.read_text()), args.trace)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
