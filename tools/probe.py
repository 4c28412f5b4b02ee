"""Time registered queries at 1x, or at 1x and against an N-times replica.

    python tools/probe.py [--scale {1,10,100}] [-n RUNS] [--explain DIR] name [name ...]

Every number is bench.py's measurement: ``bench.warm`` then
``bench.measure`` (construction and exec walls, min of RUNS) on the
compacted layout ``bench.prepare_layout`` writes for $SPARK_GRAFT_SF_DIR
(default: bench.py's sf0.1), on local[$SPARK_GRAFT_CPUS].

--scale 1 prints each query's construction and exec mins. --scale N also
times each query on ``replicate(spark, N)`` and prints the exec ratio
Nx/1x and whether the plan fingerprint (``plan_lint.summarize_plan``) is
unchanged. Time that grows faster than the data under an unchanged plan
means a shape broke (lost broadcast, spill, skew): read the plan before
trusting the query at cluster scale.

Each leg (1x, Nx) starts from cleared session memos and prints the
shared-build walls it recorded. --explain DIR writes each query's
formatted plan to DIR/<name>.txt (1x) and DIR/<name>.<N>x.txt.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

import bench  # noqa: E402
from api_etl_pipeline_spark import _memo  # noqa: E402
from api_etl_pipeline_spark.ops.plan_lint import plan_text, summarize_plan  # noqa: E402
from api_etl_pipeline_spark.registry import all_queries  # noqa: E402
from api_etl_pipeline_spark.session import get_spark  # noqa: E402
from api_etl_pipeline_spark.tables import DEFAULT_SF_DIR, TABLES, load_table  # noqa: E402

# bench.py's default scale: sf0.1 beside the package's default test data
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", str(Path(DEFAULT_SF_DIR).with_name("sf0.1")))
# key columns shifted per replica, so join and group cardinalities grow
# with the volume instead of collapsing onto the same keys; timestamps,
# values and vectors stay verbatim (more traffic, same calendar)
KEY_SHIFT = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
# a multiple of 10, so id-modulus rules (every 10th doc, ...) hold per replica
SHIFT = 100_000_000


def replicate(spark, factor: int, sf_dir: str = SF_DIR, out: str | None = None) -> str:
    """Write a ``factor``-times replica of ``sf_dir`` to ``out`` (default
    /tmp/spark_graft_scale<factor>) and return ``out``.

    Replica r shifts the KEY_SHIFT columns by r * SHIFT. Document text is
    re-vocabularied for r >= 1 (every token suffixed with zz<r>; replica
    0 verbatim): verbatim copies would make every document an N-way exact
    near-dup and blow LSH candidate pairs up by C(N, 2) per original
    group, an artifact of the probe rather than a property of a bigger
    corpus. Other tables are copied as they are. A table is rebuilt
    unless its marker holds this (source, factor, spec)."""
    out = out or f"/tmp/spark_graft_scale{factor}"
    Path(out).mkdir(parents=True, exist_ok=True)
    reps = F.broadcast(spark.range(factor).withColumnRenamed("id", "_rep"))
    for name in TABLES:
        spec = repr((sf_dir, factor, KEY_SHIFT.get(name)))
        marker = Path(out) / f"_READY_{name}"
        if marker.exists() and marker.read_text() == spec:
            continue
        df = load_table(spark, sf_dir, name)
        if name in KEY_SHIFT:
            df = df.crossJoin(reps)
            for col in KEY_SHIFT[name]:
                df = df.withColumn(col, F.col(col) + F.col("_rep") * SHIFT)
            if name == "documents":
                df = df.withColumn(
                    "text",
                    F.when(F.col("_rep") == 0, F.col("text")).otherwise(
                        F.regexp_replace(
                            "text",
                            F.lit(r"(\S+)"),
                            F.concat(F.lit("$1zz"), F.col("_rep").cast("string")),
                        )
                    ),
                )
            df = df.drop("_rep").repartition(64)
        df.write.mode("overwrite").parquet(f"{out}/{name}.parquet")
        marker.write_text(spec)
    return out


def leg(spark, names: list[str], data_dir: str, runs: int, tag: str, plans: bool) -> dict:
    """{name: (exec_min_s, plan text or None)} for one data dir, timed
    from cleared session memos; prints each query and the leg's walls."""
    specs = all_queries()
    bench.warm(spark, data_dir)
    _memo._MEMO.clear()
    _memo.SHARED_BUILD_WALLS.clear()
    out = {}
    for name in names:
        construction, exec_s = bench.measure(spark, specs[name], data_dir, runs)
        print(f"[{tag}] {name}  construction={construction:.3f}  exec={exec_s:.3f}", flush=True)
        out[name] = (exec_s, plan_text(specs[name].fn(spark, data_dir)) if plans else None)
    walls = {k: round(v, 3) for k, v in sorted(_memo.SHARED_BUILD_WALLS.items())}
    print(f"[{tag}] shared-build walls: {walls}", flush=True)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("names", nargs="+")
    ap.add_argument("--scale", type=int, choices=(1, 10, 100), default=1)
    ap.add_argument("-n", type=int, default=5, help="runs per query (min of N)")
    ap.add_argument("--explain", default=None, help="dir for formatted plans")
    args = ap.parse_args()
    unknown = [n for n in args.names if n not in all_queries()]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    spark = get_spark("probe")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    base_dir, prep = bench.prepare_layout(spark, SF_DIR, cpus)
    if prep:
        print(f"# layout prepared in {prep}s", file=sys.stderr)
    dirs = {"1x": base_dir}
    if args.scale > 1:
        t0 = time.perf_counter()
        dirs[f"{args.scale}x"] = replicate(spark, args.scale)
        print(f"# {args.scale}x replica ready in {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    plans = args.scale > 1 or args.explain is not None
    res = {tag: leg(spark, args.names, d, args.n, tag, plans) for tag, d in dirs.items()}

    if args.explain:
        out = Path(args.explain)
        out.mkdir(parents=True, exist_ok=True)
        for tag, rows in res.items():
            suffix = "" if tag == "1x" else f".{tag}"
            for name, (_, plan) in rows.items():
                (out / f"{name}{suffix}.txt").write_text(plan)
    if args.scale > 1:
        tag = f"{args.scale}x"
        print(f"{'query':34s} {'1x':>8s} {tag:>8s} {'ratio':>7s}  plan")
        for name in args.names:
            (t1, p1), (tn, pn) = res["1x"][name], res[tag][name]
            ratio = tn / t1 if t1 else float("inf")
            shape = "unchanged" if summarize_plan(p1) == summarize_plan(pn) else "CHANGED"
            print(f"{name:34s} {t1:8.3f} {tn:8.3f} {ratio:7.2f}  plan {shape}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
