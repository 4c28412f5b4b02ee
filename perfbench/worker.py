"""The measured process: one Spark session, one workload, one client.

Started by ``run.py`` after the inputs exist. It starts the session, warms
up on inputs no timed operation reads, runs the workload in a closed loop
(the next operation starts when the previous one returns) for at least
``--seconds`` and whole rounds of the mix, checks every output outside
the timed region, and writes its measurements to ``--out`` as JSON.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import sys
import time
import traceback
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import gen  # noqa: E402
from bench import spark_stage_floor  # noqa: E402
from measure import Op, Tracer, run_query  # noqa: E402

# the analytics mix, by registry prefix: floor-bound (x08, q06, ev06),
# join-heavy (q01, q18, q21), work-bound (x26, q32, dq05), a checkpointed
# shared aggregate (ev04) and the Arrow sequence packer (pack01)
ANALYTICS_MIX = "q01 q06 q18 q21 q32 x08 x26 ev04 ev06 dq05 pack01".split()


def _oracle_compare():
    spec = importlib.util.spec_from_file_location("oracle", ROOT / "tests" / "oracle.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


def _parquet_glob(path: Path) -> str:
    return f"{path}/**/*.parquet" if path.is_dir() else str(path)


def duck_over(sf_dir: Path):
    import duckdb

    from api_etl_pipeline_spark.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        source = _parquet_glob(sf_dir / f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{source}')")
    return con


def tree_size(path: Path) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for p in path.rglob("*"):
        if p.is_file():
            files += 1
            size += p.stat().st_size
    return files, size


class Analytics:
    unit = "queries"

    def __init__(self, spark, tracer: Tracer, inputs: dict, rng) -> None:
        from api_etl_pipeline_spark.registry import all_queries

        specs = all_queries()
        self.specs = []
        for prefix in ANALYTICS_MIX:
            hits = [s for n, s in specs.items() if n.startswith(prefix + "_")]
            if len(hits) != 1 or hits[0].oracle is None:
                raise SystemExit(f"analytics mix entry {prefix!r} matches {len(hits)} queries")
            self.specs.append(hits[0])
        self.spark, self.tracer, self.rng = spark, tracer, rng
        self.timed_copy, self.warm_copy = Path(inputs["sf_timed"]), Path(inputs["sf_warm"])
        self.check_copy = Path(inputs["sf_check"])
        self.compare = _oracle_compare()
        self.wrong: dict[str, str] = {}  # query name -> first mismatch

    def warm(self) -> None:
        """One pass over the sf0.1 warm-up copy: the timed copy's sizes,
        so its plans, but other files. A warm-up on sf0.01 left the first
        timed pass 1.24x slower than the second."""
        for spec in self.specs:
            run_query(self.spark, self.tracer, spec, str(self.warm_copy))

    def timed(self, seconds: float) -> list[Op]:
        ops: list[Op] = []
        t0 = time.perf_counter()
        while not ops or time.perf_counter() - t0 < seconds:
            for i in self.rng.permutation(len(self.specs)):
                spec = self.specs[i]
                try:
                    ops.append(run_query(self.spark, self.tracer, spec, str(self.timed_copy)))
                except Exception as exc:
                    self.tracer.ops[-1].error = repr(exc)[:500]
                    ops.append(self.tracer.ops[-1])
        return ops

    def check(self, ops: list[Op]) -> None:
        """Every query of the mix re-run on the sf0.01 check copy (the same
        code as the timed sf0.1 copy, on a tenth of the data) and compared
        with its DuckDB oracle; a mismatch fails every op of that query."""
        con = duck_over(self.check_copy)
        for spec in self.specs:
            try:
                self.compare(spec.fn(self.spark, str(self.check_copy)), con, spec.oracle)
            except Exception as exc:  # a wrong or failing query fails its ops
                self.wrong[spec.name] = repr(exc)[:500]
        con.close()
        for op in ops:
            if op.name in self.wrong and op.error is None:
                op.error = self.wrong[op.name]


def _item(fields: dict) -> gen.IngestItem:
    key = fields["key"]
    return gen.IngestItem(**{**fields, "key": tuple(key) if key else None})


class Ingest:
    unit = "items"

    def __init__(self, spark, tracer: Tracer, inputs: dict, rng) -> None:
        self.spark, self.tracer = spark, tracer
        self.items = [_item(it) for it in inputs["items"]]
        self.warm_items = [_item(it) for it in inputs["warm_items"]]
        self.warehouse = Path(inputs["warehouse"])
        self.warm_warehouse = Path(inputs["warm_warehouse"])
        self.got: dict[int, tuple[int, int, int]] = {}
        self.done: list[gen.IngestItem] = []

    def _ingest(self, item: gen.IngestItem, warehouse: Path, run_id: str):
        from api_etl_pipeline_spark.ingest.pipeline import run_offline_ingest

        r = run_offline_ingest(self.spark, item.provider, item.root, str(warehouse), run_id=run_id)
        return r.responses, r.artifacts, r.parse_errors

    def warm(self) -> None:
        for i, item in enumerate(self.warm_items):
            self._ingest(item, self.warm_warehouse, f"warm-{i:04d}")

    def timed(self, seconds: float) -> list[Op]:
        ops: list[Op] = []
        t0 = time.perf_counter()
        for i, item in enumerate(self.items):
            if i % 4 == 0 and ops and time.perf_counter() - t0 >= seconds:
                break  # whole blocks of four, so every run has the same case shares
            before = tree_size(self.warehouse) if self.tracer.enabled else (0, 0)
            try:
                with self.tracer.op(item.case) as op:
                    with self.tracer.step(op, "ingest"):
                        self.got[op.op_id] = self._ingest(item, self.warehouse, f"run-{i:04d}")
            except Exception as exc:
                op = self.tracer.ops[-1]
                op.error = repr(exc)[:500]
            self.done.append(item)
            if self.tracer.enabled:
                files, size = tree_size(self.warehouse)
                op.counts.update(
                    {
                        "ingest.sink_files": files,
                        "ingest.bytes_written": size - before[1],
                        "ingest.body_bytes": item.body_bytes,
                        "ingest.fetched": int(item.key is not None),
                    }
                )
            ops.append(op)
        return ops

    def check(self, ops: list[Op]) -> None:
        """Per call (responses, artifacts, parse_errors) as the case
        requires; at the end the sink holds exactly the distinct keys."""
        for op, item in zip(ops, self.done):
            want = gen.EXPECTED[item.case]
            if op.error is None and self.got.get(op.op_id) != want:
                op.error = f"counts {self.got.get(op.op_id)} != {want} ({item.case})"
        import duckdb

        with duckdb.connect() as con:
            rows = con.execute(
                "SELECT source_url, sha256 FROM read_parquet("
                f"'{self.warehouse}/artifacts/**/*.parquet')"
            ).fetchall()
        sink, n_rows = set(rows), len(rows)
        want = {it.key for it in self.done if it.case != "quarantine"}
        if sink != want or n_rows != len(want):
            wrong = f"sink has {n_rows} rows / {len(sink)} keys, want {len(want)}"
            for op in ops:  # the sink is shared: a wrong sink fails the run's ops
                op.error = op.error or wrong


WORKLOADS = {"analytics": Analytics, "ingest": Ingest}


def group_cpu_s() -> float:
    """User plus system CPU seconds of the live processes in this process
    group (this driver, its JVM and the JVM's Python workers) and of the
    children they reaped. Time the hypervisor steals is not in it."""
    pgrp, total = os.getpgrp(), 0
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            fields = (d / "stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        if int(fields[2]) == pgrp:  # fields after "(comm)": state ppid pgrp ...
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    return 0.0


def layer_metrics(wl, ops: list[Op], tracer: Tracer, floor: float, session_s: float,
                  peak_rss_mb: float) -> dict:
    """Per-layer metrics: per-operation means of the traced counts."""
    n = len(ops)

    def mean(key: str) -> float:
        return sum(op.counts.get(key, 0.0) for op in ops) / n

    wall = sum(op.wall_s for op in ops)
    out = {"session.start_s": session_s}
    out["construct.s"] = sum(op.steps.get("construct", 0.0) for op in ops) / n
    out["construct.jobs"] = mean("construct.jobs")
    for k in ("analysis", "optimization", "planning"):
        out[f"catalyst.{k}_ms"] = mean(f"catalyst.{k}_ms")
    for k in ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s", "input_mb",
              "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "task_skew"):
        out[f"exec.{k}"] = mean(f"exec.{k}")
    out["driver.self_s"] = mean("driver.self_s")
    out["spark.stage_floor_s"] = floor
    # the floor job runs two stages, so one stage's floor is half its wall
    stages = sum(op.counts.get("exec.stages", 0) for op in ops)
    out["exec.floor_share"] = stages * floor / 2 / wall
    for k in ("checkpoint.calls", "memo.builds", "memo.shared_build_s", "arrow.run_s"):
        out[k] = mean(k)
    is_ingest = isinstance(wl, Ingest)
    fetched = sum(op.counts.get("ingest.fetched", 0) for op in ops)
    body = sum(op.counts.get("ingest.body_bytes", 0) for op in ops)
    inserted = sum(wl.got.get(op.op_id, (0, 0, 0))[1] for op in ops) if is_ingest else 0
    out["ingest.jobs_per_run"] = out["exec.jobs"] if is_ingest else 0.0
    out["ingest.stages_per_run"] = out["exec.stages"] if is_ingest else 0.0
    out["ingest.sink_files"] = ops[-1].counts.get("ingest.sink_files", 0)
    out["ingest.bytes_written_per_body_byte"] = (
        sum(op.counts.get("ingest.bytes_written", 0) for op in ops) / body if body else 0.0
    )
    out["ingest.insert_ratio"] = inserted / fetched if fetched else 0.0
    for case in gen.EXPECTED:  # per-case walls, to re-weight the 2:1:1 mix
        walls = [op.wall_s for op in ops if is_ingest and op.name == case]
        out[f"ingest.{case}_wall_s"] = sum(walls) / len(walls) if walls else 0.0
    out["op.wall_s"] = wall / n
    children = sum(sum(op.steps.values()) for op in ops)
    out["op.self_share"] = (wall - children) / wall
    out["trace.cost_s"] = tracer.cost_s / n
    out["peak_rss_mb"] = peak_rss_mb
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--t0", type=float, required=True, help="epoch time the process was started")
    args = ap.parse_args()
    inputs = json.loads(Path(args.inputs).read_text())
    rng = np.random.default_rng([args.seed, 3])

    from pyspark import SparkContext

    from api_etl_pipeline_spark.session import get_spark

    s0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - s0
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        warm_tracer = Tracer(spark, enabled=False)
        wl = WORKLOADS[args.workload](spark, warm_tracer, inputs, rng)
        wl.warm()
        setup_s = time.time() - args.t0
        wl.tracer = tracer
        t_timed, cpu0 = time.perf_counter(), group_cpu_s()
        ops = wl.timed(args.seconds)
        t_check, cpu_s = time.perf_counter(), group_cpu_s() - cpu0
        jvm_pid = SparkContext._gateway.proc.pid
        peak_rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        floor = spark_stage_floor(spark) if args.trace else 0.0
        wl.check(ops)
        result = {
            "phases_s": {
                "warm": setup_s - session_s,
                "timed": t_check - t_timed,
                "check": time.perf_counter() - t_check,
            },
            "setup_s": setup_s,
            "session_s": session_s,
            "cpu_s": cpu_s,
            "peak_rss_mb": peak_rss,
            "names": [op.name for op in ops],
            "walls": [op.wall_s for op in ops],
            "unit": wl.unit,
            "steps": [op.steps for op in ops],
            "errors": {op.op_id: op.error for op in ops if op.error},
        }
        if args.trace:
            result["layers"] = layer_metrics(wl, ops, tracer, floor, session_s, peak_rss)
            trace_path = Path(inputs["trace_out"])
            tracer.dump(
                str(trace_path),
                {"workload": args.workload, "seed": args.seed, "layers": result["layers"]},
            )
            result["trace_file"] = str(trace_path)
        Path(args.out).write_text(json.dumps(result))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        gateway = SparkContext._gateway
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
    return 0


if __name__ == "__main__":
    sys.exit(main())
