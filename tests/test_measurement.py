"""The one measurement path: ``bench.measure``'s construction-reuse rule,
``bench.emit_parts``'s line framing, and ``tools/probe.py``'s replicas."""

from __future__ import annotations

import importlib.util
import json
from types import SimpleNamespace

import bench
from pyspark.sql import functions as F

from api_etl_pipeline_spark import checkpoint
from api_etl_pipeline_spark.tables import TABLES, load_table
from tests.conftest import REPO, SF_SMOKE


def _counting_spec(build):
    calls: list[str] = []

    def fn(spark, data_dir):
        calls.append(data_dir)
        return build(spark)

    return SimpleNamespace(fn=fn), calls


def test_measure_reuses_a_pure_construction(spark):
    spec, calls = _counting_spec(lambda s: s.range(10))
    construction, exec_s = bench.measure(spark, spec, "data", 5)
    assert len(calls) == bench._PURE_CONSTRUCTIONS == 2
    assert construction >= 0 and exec_s > 0


def test_measure_rebuilds_a_checkpointing_construction(spark):
    spec, calls = _counting_spec(lambda s: checkpoint.eager_checkpoint(s.range(10)))
    bench.measure(spark, spec, "data", 5)
    assert len(calls) == 5


def test_emit_parts_lines_fit_the_limit(capsys):
    names = bench.HEADLINE + bench.OPTIONAL
    assert len(names) == 148
    items = {n: round(10 + i / 1000, 3) for i, n in enumerate(names)}
    bench.emit_parts("queries_part", "queries", items)
    out, err = capsys.readouterr()
    lines = out.splitlines()
    assert err == ""
    assert all(len(line) <= 390 for line in lines)
    parts = [json.loads(line) for line in lines]
    assert [p["queries_part"] for p in parts] == list(range(1, len(parts) + 1))
    assert {p["of"] for p in parts} == {len(parts)}
    merged = {k: v for p in parts for k, v in p["queries"].items()}
    assert list(merged.items()) == list(items.items())


def test_emit_parts_reports_an_oversize_item(capsys):
    big = "x" * 400
    bench.emit_parts("queries_part", "queries", {"a": 1.0, big: 2.0, "b": 3.0})
    out, err = capsys.readouterr()
    parts = [json.loads(line) for line in out.splitlines()]
    assert [p["queries"] for p in parts] == [{"a": 1.0}, {big: 2.0}, {"b": 3.0}]
    assert big in err and "queries_part 2" in err


def _probe():
    spec = importlib.util.spec_from_file_location("probe", REPO / "tools" / "probe.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_replicate_doubles_rows_with_unique_shifted_keys(spark, tmp_path):
    probe = _probe()
    out = probe.replicate(spark, 2, sf_dir=SF_SMOKE, out=str(tmp_path / "x2"))
    for name in TABLES:
        base = load_table(spark, SF_SMOKE, name)
        rep = spark.read.parquet(f"{out}/{name}.parquet")
        factor = 2 if name in probe.KEY_SHIFT else 1
        assert rep.count() == factor * base.count(), name
        for col in probe.KEY_SHIFT.get(name, []):
            n_base = base.select(col).distinct().count()
            assert rep.select(col).distinct().count() == 2 * n_base, (name, col)

    docs = spark.read.parquet(f"{out}/documents.parquet")
    orig = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    rep0 = docs.filter(F.col("doc_id") < probe.SHIFT).select("doc_id", "text")
    assert rep0.exceptAll(orig).count() == 0 and orig.exceptAll(rep0).count() == 0
    rep1 = docs.filter(F.col("doc_id") >= probe.SHIFT).select(
        (F.col("doc_id") - probe.SHIFT).alias("doc_id"), F.col("text").alias("t1")
    )
    pairs = rep1.join(orig, "doc_id").collect()
    assert pairs and len(pairs) == orig.count()
    for row in pairs:
        assert row.t1.split() == [f"{tok}zz1" for tok in row.text.split()]

    # a marker that does not hold this build's spec is rebuilt, never accepted
    marker = tmp_path / "x2" / "_READY_orders"
    marker.write_text("stale")
    probe.replicate(spark, 2, sf_dir=SF_SMOKE, out=str(tmp_path / "x2"))
    assert marker.read_text() == repr((SF_SMOKE, 2, probe.KEY_SHIFT["orders"]))
