"""Offline ingest pipeline — the reference's end-to-end dataflow, declaratively.

Reference lifecycle (SURVEY.md §3.1, pipeline.py:14-64): per work item,
fetch metadata → persist response → maybe parse_error → download artifact
→ persist response → hash → blob put → dedup insert → summary counts.

Spark-first, the item loop disappears: the plan is a DataFrame, every
stage is a transformation over the whole batch, and the sinks are
parquet writes. One plan fetches the metadata, parses it, flags the
quarantine rows and joins the artifact bytes; that batch is materialized
once (`checkpoint.eager_checkpoint`) and every output derives from it.
Stage boundaries (shuffles) exist only at the dedup merges of the blobs
and artifacts writes; the counts ride the writes as observed metrics, so
no job re-runs the fetch. The same plan runs unchanged whether the plan
table has 1 row (the reference's case) or 100M.

Counts semantics match the reference exactly (the e2e oracle,
tests/test_offline_e2e.py:55-56): responses = metadata fetches +
artifact fetches; artifacts = deduped inserts; parse_errors = quarantine
rows.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from api_etl_pipeline_spark.checkpoint import eager_checkpoint
from api_etl_pipeline_spark.ingest import parse as P
from api_etl_pipeline_spark.ingest.capture import run_summary_row
from api_etl_pipeline_spark.ingest.dedup import dedup_insert, with_sha256, write_blobs
from api_etl_pipeline_spark.ingest.sources import (
    fetch_offline,
    fixture_scan,
    plan_source,
    response_envelope,
)
from api_etl_pipeline_spark.ingest.storage import ARTIFACTS_COLUMNS, read_sink

PROVIDERS = ("sec_edgar", "nrc_adams_aps")


@dataclass
class IngestResult:
    responses: int
    artifacts: int
    parse_errors: int
    responses_df: DataFrame
    artifacts_df: DataFrame
    errors_df: DataFrame


def _default_plan(provider: str) -> list[dict]:
    if provider == "sec_edgar":
        return [
            {
                "cik10": "0001112233",
                "fixture_name": "submissions.json",
                "url": "https://data.sec.gov/submissions/CIK0001112233.json",
            }
        ]
    return [
        {
            "q": "reactor",
            "fixture_name": "search.json",
            "url": "https://adams-api.nrc.gov/search",
        }
    ]


def _artifact_fixture(provider: str) -> str:
    return "artifact.htm" if provider == "sec_edgar" else "document.pdf"


def _write(df: DataFrame, warehouse: str | None, sink: str) -> None:
    """Append `df` to a warehouse sink; with no warehouse, run it to the
    noop sink so its observed counts are still produced."""
    if warehouse is None:
        df.write.format("noop").mode("overwrite").save()
    else:
        df.write.mode("append").parquet(f"{warehouse}/{sink}")


def run_offline_ingest(
    spark: SparkSession,
    provider: str,
    fixture_root: str,
    warehouse: str | None = None,
    limit: int = 1,
    run_id: str = "run-0001",
) -> IngestResult:
    if provider not in PROVIDERS:
        raise KeyError(f"unknown provider {provider!r}; known: {PROVIDERS}")

    plan = plan_source(spark, _default_plan(provider), limit)
    fixtures = fixture_scan(spark, fixture_root, provider)

    # stage 1: metadata fetch (S1) — one captured response per plan item
    meta = fetch_offline(plan, fixtures, provider)

    # stage 2: parse + extract (F1-F4) per provider
    extracted = P.sec_first_filing(meta) if provider == "sec_edgar" else P.nrc_extract_pdf_url(meta)

    # stage 3: artifact fetch (fixture-backed) for the rows that name an
    # artifact, joined onto the same rows, then materialized once: every
    # output below reads this batch instead of re-running the fetch
    has_artifact = F.col("artifact_url").isNotNull()
    artifact_bodies = fixtures.select(
        F.col("fixture_name").alias("artifact_fixture"), F.col("body").alias("artifact_body")
    )
    batch = eager_checkpoint(
        extracted.withColumn(
            "artifact_fixture", F.when(has_artifact, F.lit(_artifact_fixture(provider)))
        )
        .join(F.broadcast(artifact_bodies), "artifact_fixture", "left")
        .drop("payload", "artifact_fixture")
    )

    # stage 4: validate-split (F5/F6/F10) — artifact rows vs quarantine
    ok, errors = P.split_quarantine(batch, stage="parse_metadata", condition=has_artifact)
    art_fetch = response_envelope(
        ok.select(
            "item_index",
            "item_key",
            F.col("artifact_url").alias("url"),
            F.col("artifact_body").alias("body"),
        ),
        provider,
    )
    hashed = with_sha256(art_fetch.filter(F.col("body").isNotNull()))

    # stage 5: dedup insert (S6/J2) against the existing sink, if any
    existing = None
    if warehouse is not None:
        existing = read_sink(spark, f"{warehouse}/artifacts", ARTIFACTS_COLUMNS)
    new_artifacts = dedup_insert(
        hashed.select(
            F.lit(provider).alias("provider"),
            F.col("url").alias("source_url"),
            "sha256",
            "bytes",
            F.format_string("blobs/%s/%s", F.substring("sha256", 1, 2), F.col("sha256")).alias(
                "blob_path"
            ),
            F.col("item_index").cast("long").alias("response_id"),
            F.current_timestamp().alias("created_at"),
        ),
        existing,
    )

    # responses = metadata fetches ∪ artifact fetches (both captured)
    resp_cols = ["provider", "method", "url", "params_json", "status_code", "headers_json", "body"]

    def with_artifact_responses(meta_rows: DataFrame) -> DataFrame:
        return meta_rows.select(*resp_cols).unionByName(art_fetch.select(*resp_cols))

    responses = with_artifact_responses(batch)

    # A1-A3 counters: observed metrics ride the write jobs, so no count()
    # re-reads the batch; the quarantine count rides the responses write
    # on its metadata side (one metadata response per plan item)
    obs_resp, obs_err, obs_art = Observation(), Observation(), Observation()
    counted_responses = with_artifact_responses(
        batch.observe(obs_err, F.count_if(~has_artifact).alias("n"))
    ).observe(obs_resp, F.count(F.lit(1)).alias("n"))
    counted_artifacts = new_artifacts.observe(obs_art, F.count(F.lit(1)).alias("n"))
    if warehouse is not None:
        # blobs first: an artifact row never points at a blob not yet written
        write_blobs(hashed, f"{warehouse}/blobs")
    _write(counted_artifacts, warehouse, "artifacts")
    _write(counted_responses, warehouse, "responses")
    n_resp, n_art, n_err = (int(o.get["n"]) for o in (obs_resp, obs_art, obs_err))
    if warehouse is not None:
        run_summary_row(spark, run_id, "succeeded", n_resp, n_art, n_err).write.mode(
            "append"
        ).json(f"{warehouse}/runs")

    return IngestResult(n_resp, n_art, n_err, responses, new_artifacts, errors)
