"""Run-capture provenance as DataFrames (SURVEY.md S9/S10/S11, A1-A3, W1).

The reference writes a per-run directory tree of JSON documents
(run_capture.py). Spark-first, provenance is three tables:

- attempts   — the append-only event log (one row per HTTP attempt),
               numbered with a window (A2/W1 replaces the mutable counter);
- responses  — successful captures (derived from attempts);
- runs       — one summary row per run (A3 count rollup, S10 run.json).

Size-gated projections (F13 gzip / F14 pretty) are flag columns here —
the *decision* logic is engine-side and oracle-checkable; the physical
gzip copy is an output-codec option at write time.
"""

from __future__ import annotations

import io

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from api_etl_pipeline_spark.ingest.redact import redact_headers_json

PRETTY_MAX_BYTES = 2_000_000  # settings.py:13-16
GZIP_MIN_BYTES = 5_000_000  # settings.py:17-20


class LogTee(io.TextIOBase):
    """S11 run-log tee (reference run_capture.py:39-51 / cli.py:45-50):
    every write is mirrored to all wrapped streams, so a CLI run's
    stdout/stderr land in <warehouse>/run.log AND on the console. This
    is driver-side process logging, not query semantics — the one
    reference sink that is a file-of-record rather than a table."""

    def __init__(self, *streams) -> None:
        self._streams = streams

    def write(self, s: str) -> int:
        for stream in self._streams:
            stream.write(s)
            stream.flush()
        return len(s)

    def flush(self) -> None:
        for stream in self._streams:
            stream.flush()


def number_attempts(attempts: DataFrame) -> DataFrame:
    """W1/A2: monotonic per-run attempt numbering (the reference's
    `_attempt_counter`, run_capture.py:87,113-114) — a row_number window
    ordered by the deterministic (item_index, url) event order."""
    w = Window.partitionBy("run_id").orderBy("item_index", "url", "method")
    return attempts.withColumn("attempt_seq", F.row_number().over(w))


def capture_projection(attempts: DataFrame) -> DataFrame:
    """S9: per-attempt capture record — redacted headers (F15), sha256 +
    byte count of the body (A5), and the two size/type gates (F13/F14)."""
    return attempts.select(
        "*",
        redact_headers_json(F.col("headers_json")).alias("headers_redacted"),
        F.sha2(F.col("body"), 256).alias("body_sha256"),
        F.length("body").cast("long").alias("byte_count"),
        (F.length("body") >= GZIP_MIN_BYTES).alias("gzip_copy"),
        (
            (F.length("body") <= PRETTY_MAX_BYTES)
            & F.lower(F.get_json_object("headers_json", "$['content-type']")).contains("json")
        ).alias("pretty_view"),
    )


def _run_row(counts: DataFrame, run_id: str, status: str) -> DataFrame:
    return counts.select(
        F.lit(run_id).alias("run_id"),
        F.lit(status).alias("status"),
        F.current_timestamp().alias("finished_at"),
        "responses",
        "artifacts",
        "parse_errors",
    )


def run_summary(
    responses: DataFrame, artifacts: DataFrame, parse_errors: DataFrame, run_id: str, status: str
) -> DataFrame:
    """S10/A3: the run.json counts rollup as a single-row DataFrame."""
    r = responses.agg(F.count("*").alias("responses"))
    a = artifacts.agg(F.count("*").alias("artifacts"))
    e = parse_errors.agg(F.count("*").alias("parse_errors"))
    return _run_row(r.crossJoin(a).crossJoin(e), run_id, status)


def run_summary_row(
    spark: SparkSession, run_id: str, status: str, responses: int, artifacts: int,
    parse_errors: int,
) -> DataFrame:
    """`run_summary`'s row from counts the run has already observed: a
    one-partition frame built JVM-side, so writing it scans nothing and
    starts no Python worker."""
    counts = spark.range(1, numPartitions=1).select(
        F.lit(responses).cast("long").alias("responses"),
        F.lit(artifacts).cast("long").alias("artifacts"),
        F.lit(parse_errors).cast("long").alias("parse_errors"),
    )
    return _run_row(counts, run_id, status)


def write_run_tree(
    attempts: DataFrame,
    responses: DataFrame,
    artifacts: DataFrame,
    parse_errors: DataFrame,
    capture_root: str,
    run_id: str,
    status: str = "succeeded",
) -> None:
    """S9/S10: the per-run provenance tree as partitioned JSON datasets —
    the DataFrame-native equivalent of the reference's file tree
    (run_capture.py: requests/NNNN_*.json, responses/*.meta.json,
    artifacts.json, run.json):

        <root>/attempts/run_id=<id>/   per-attempt capture records
                                       (redacted headers, sha256, gates)
        <root>/gzip_bodies/run_id=<id>/ gzip-coded copies of large bodies
                                       (F13: the size gate selects rows,
                                        the writer codec does the gzip)
        <root>/artifacts/run_id=<id>/  the artifacts manifest
        <root>/runs/run_id=<id>/       the single-row run summary

    Everything is append-only and partitioned by run_id, so N runs
    coexist exactly like the reference's timestamped run dirs."""
    from pyspark.sql import functions as F

    cap = capture_projection(attempts).withColumn("run_id", F.lit(run_id))
    (
        cap.drop("body")  # bodies go to the blob store, not the capture rows
        .write.mode("append")
        .partitionBy("run_id")
        .json(f"{capture_root}/attempts")
    )
    (
        cap.filter(F.col("gzip_copy"))
        .select("run_id", "url", F.base64("body").alias("body_b64"))
        .write.mode("append")
        .partitionBy("run_id")
        .option("compression", "gzip")
        .json(f"{capture_root}/gzip_bodies")
    )
    (
        artifacts.withColumn("run_id", F.lit(run_id))
        .write.mode("append")
        .partitionBy("run_id")
        .json(f"{capture_root}/artifacts")
    )
    (
        run_summary(responses, artifacts, parse_errors, run_id, status)
        .write.mode("append")
        .partitionBy("run_id")
        .json(f"{capture_root}/runs")
    )


def build_run_id(existing: set[str] | DataFrame, provider: str, now=None) -> str:
    """S9 run-identity parity (reference run_capture.py:54-64): the run
    id is `<UTC %Y%m%dT%H%M%SZ>_<provider>`, and a collision with an
    EXISTING run (two runs of the same provider inside one second, or a
    replay against the same warehouse) appends `_1`, `_2`, … — never
    reuses an id, because the provenance tables partition by run_id and
    a reused id would silently merge two runs' lineage.

    `existing` is either the set of taken ids or the runs summary
    DataFrame (its distinct run_id column is collected — bounded: one
    row per historical run). Driver-side by design, like the
    reference's: run naming happens once per run, before any
    distributed work."""
    from datetime import UTC, datetime

    if not isinstance(existing, set):
        existing = {r["run_id"] for r in existing.select("run_id").distinct().collect()}
    stamp = (now or datetime.now(UTC)).strftime("%Y%m%dT%H%M%SZ")
    stem = f"{stamp}_{provider}"
    if stem not in existing:
        return stem
    suffix = 1
    while f"{stem}_{suffix}" in existing:
        suffix += 1
    return f"{stem}_{suffix}"
