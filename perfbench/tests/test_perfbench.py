"""Self-test of the benchmark (not of the engine).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Checks the metric names, the tail-percentile rule, that the generator is
byte-deterministic per seed, and that a traced operation's spans nest
under it and account for its wall.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


@pytest.fixture
def workdir(request):
    d = ROOT / ".perfbench" / "selftest" / request.node.name
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_metric_names_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END_UNITS
    assert layers == run.LAYER_UNITS
    for name in [*e2e, *layers, *(w["name"] for w in spec["workloads"])]:
        assert NAME.fullmatch(name) and len(name) <= 64, name
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)


@pytest.mark.parametrize("n", [1, 10, 11, 12, 22, 40, 101])
def test_tail_has_ten_samples_beyond(n):
    values = [float(v) for v in range(n)]
    got = run.tail(values)
    if n < 11:
        assert got is None
        return
    pct, value = got
    assert sum(v > value for v in values) == 10
    assert pct == pytest.approx(100.0 * (n - 10) / n)


def test_generator_is_byte_deterministic(workdir):
    digests = []
    for rep in ("a", "b"):
        d = workdir / rep
        gen.write_tables(gen.star_schema(0.01), d / "sf", clustered=True)
        gen.ingest_inputs(d / "fix", seed=5, n_blocks=2)
        digests.append([gen.tree_digest(d / s) for s in ("sf", "fix")])
    assert digests[0] == digests[1]
    gen.ingest_inputs(workdir / "other", seed=6, n_blocks=2)
    assert gen.tree_digest(workdir / "other") != digests[0][1]


def test_ingest_blocks_have_fixed_shares(workdir):
    items = gen.ingest_inputs(workdir, seed=11, n_blocks=5)
    inserted: set = set()
    for b in range(5):
        block = items[4 * b : 4 * b + 4]
        assert [i.provider for i in block] == ["sec_edgar", "nrc_adams_aps"] * 2
        assert sorted(i.case for i in block) == ["dedup", "insert", "insert", "quarantine"]
        for item in block:
            if item.case == "dedup":
                assert item.key in inserted  # repeats an earlier body of the sink
            if item.case == "insert":
                assert item.key not in inserted
                inserted.add(item.key)


def test_traced_spans_nest_under_their_op(workdir):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_LOCAL_DIRS", str(workdir / "spark-local"))
    from api_etl_pipeline_spark.registry import all_queries
    from api_etl_pipeline_spark.session import get_spark
    from measure import Tracer, run_query

    gen.write_tables(gen.star_schema(0.01), workdir / "sf", clustered=True)
    spark = get_spark("perfbench-selftest")
    tracer = Tracer(spark, enabled=True)
    specs = all_queries()
    for name in ("q06_agg_filter", "q18_multiway_join"):
        run_query(spark, tracer, specs[name], str(workdir / "sf"))

    by_id = {s.id: s for s in tracer.spans}
    for op in tracer.ops:
        spans = [s for s in tracer.spans if s.op_id == op.op_id]
        (root,) = [s for s in spans if s.parent is None]
        assert root.name == "op"
        steps = [s for s in spans if s.parent == root.id]
        assert {s.name for s in steps} == {"construct", "catalyst", "execute"}
        jobs = [s for s in spans if s.name.startswith("job")]
        assert jobs and op.counts["exec.jobs"] == len(jobs)
        for s in jobs:  # a job sits inside its step (status-store times are ms)
            parent = by_id[s.parent]
            assert parent.op_id == op.op_id and parent in steps
            assert parent.start - 0.002 <= s.start <= s.end <= parent.end + 0.002
        # op self time plus its children account for its wall
        self_s = op.wall_s - sum(op.steps.values())
        assert 0 <= self_s < 0.05 * op.wall_s + 0.01
        assert op.counts["exec.stages"] >= 1 and op.counts["catalyst.planning_ms"] >= 0
