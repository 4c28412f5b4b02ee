"""Offline ingest e2e — mirrors the reference's test strategy (SURVEY §5):
count oracles on the happy path, fault-injected fixtures must quarantine
(non-fatal), dedup must be idempotent, redaction must mask secrets.
Reference expectations: tests/test_offline_e2e.py:55-56 (2 responses,
1 artifact), :66-100 (corrupt → 1 response, 0 artifacts, parse_error).
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from api_etl_pipeline_spark.ingest import parse as P
from api_etl_pipeline_spark.ingest.pipeline import run_offline_ingest
from api_etl_pipeline_spark.ingest.redact import REDACTED, redact_headers_json, redact_map
from api_etl_pipeline_spark.ingest.sources import fetch_offline, fixture_scan, plan_source

FIXTURES = str(Path(__file__).parent / "fixtures")


@pytest.mark.parametrize("provider", ["sec_edgar", "nrc_adams_aps"])
def test_happy_path_counts(spark, tmp_path, provider):
    res = run_offline_ingest(spark, provider, FIXTURES, warehouse=str(tmp_path / "wh"))
    assert res.responses == 2  # metadata + artifact
    assert res.artifacts == 1
    assert res.parse_errors == 0
    # sinks exist and round-trip
    arts = spark.read.parquet(str(tmp_path / "wh" / "artifacts"))
    assert arts.count() == 1
    row = arts.collect()[0]
    assert row.sha256 and row.bytes > 0 and row.blob_path.startswith("blobs/")
    blobs = spark.read.parquet(str(tmp_path / "wh" / "blobs"))
    assert blobs.count() == 1
    runs = spark.read.json(str(tmp_path / "wh" / "runs"))
    assert runs.collect()[0].status == "succeeded"


def test_dedup_idempotent_rerun(spark, tmp_path):
    wh = str(tmp_path / "wh")
    first = run_offline_ingest(spark, "sec_edgar", FIXTURES, warehouse=wh)
    second = run_offline_ingest(spark, "sec_edgar", FIXTURES, warehouse=wh)
    assert first.artifacts == 1
    assert second.artifacts == 0  # INSERT OR IGNORE semantics: key already present
    assert spark.read.parquet(f"{wh}/artifacts").count() == 1


def _corrupt_sec_root(tmp_path) -> str:
    root = tmp_path / "fixtures"
    shutil.copytree(FIXTURES, root)
    (root / "sec_edgar" / "submissions.json").write_text("{}")
    return str(root)


def test_runs_row_matches_call_counts(spark, tmp_path):
    """The `runs` summary row of each call carries that call's counts, for
    an insert, a dedup and a quarantine call into one warehouse, and the
    responses sink holds every response the calls counted."""
    wh = str(tmp_path / "wh")
    calls = {
        "insert": run_offline_ingest(spark, "sec_edgar", FIXTURES, wh, run_id="insert"),
        "dedup": run_offline_ingest(spark, "sec_edgar", FIXTURES, wh, run_id="dedup"),
        "quarantine": run_offline_ingest(
            spark, "sec_edgar", _corrupt_sec_root(tmp_path), wh, run_id="quarantine"
        ),
    }
    assert {k: (r.responses, r.artifacts, r.parse_errors) for k, r in calls.items()} == {
        "insert": (2, 1, 0),
        "dedup": (2, 0, 0),
        "quarantine": (1, 0, 1),
    }
    runs = {r.run_id: r for r in spark.read.json(f"{wh}/runs").collect()}
    assert {k: (r.responses, r.artifacts, r.parse_errors) for k, r in runs.items()} == {
        k: (r.responses, r.artifacts, r.parse_errors) for k, r in calls.items()
    }
    assert {r.status for r in runs.values()} == {"succeeded"}
    assert spark.read.parquet(f"{wh}/responses").count() == sum(
        r.responses for r in calls.values()
    )


def test_unreadable_artifacts_sink_fails_the_run(spark, tmp_path):
    """A sink that exists but cannot be read must fail the run, not pass
    for an empty sink: treating it as empty would re-insert an artifact
    the sink already holds and break the dedup guarantee."""
    wh = tmp_path / "wh"
    run_offline_ingest(spark, "sec_edgar", FIXTURES, str(wh))
    assert run_offline_ingest(spark, "sec_edgar", FIXTURES, str(wh)).artifacts == 0
    good = sorted(str(p) for p in (wh / "artifacts").glob("part-*.parquet"))
    (wh / "artifacts" / "0-unreadable.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        run_offline_ingest(spark, "sec_edgar", FIXTURES, str(wh))
    after = sorted(str(p) for p in (wh / "artifacts").glob("part-*.parquet"))
    assert spark.read.parquet(*after).count() == 1
    assert after == good


def test_warm_call_job_count(spark, tmp_path):
    """A call into an existing warehouse runs a fixed, small number of
    Spark jobs: the fetch lineage is materialized once and every count
    rides a write. The 11 jobs of an insert call:
      1  broadcast of the fixture bytes (metadata and artifact joins
         share one exchange)
      2  eager checkpoint of the fetched, parsed batch
      3  blobs: broadcast of the existing hashes
      4  blobs: anti-join, then the shuffle of the in-batch distinct
      5  blobs: append
      6  artifacts: shuffle of the existing sink's distinct keys
      7  artifacts: broadcast of those keys
      8  artifacts: anti-join, then the shuffle of the in-batch distinct
      9  artifacts: append (observes the artifact count)
     10  responses append (observes the response and quarantine counts)
     11  runs summary row append
    Before the batch was materialized, each write and count re-ran the
    fetch, and a call ran 31-34 jobs."""
    wh = str(tmp_path / "wh")
    run_offline_ingest(spark, "sec_edgar", FIXTURES, wh)
    sc = spark.sparkContext
    group = f"warm-ingest-{tmp_path.name}"
    sc.setJobGroup(group, group)
    try:
        res = run_offline_ingest(spark, "nrc_adams_aps", FIXTURES, wh)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert (res.responses, res.artifacts, res.parse_errors) == (2, 1, 0)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 11, f"warm ingest call ran {len(jobs)} jobs"


@pytest.mark.parametrize("provider,fixture", [
    ("sec_edgar", "submissions.json"),
    ("nrc_adams_aps", "search.json"),
])
def test_corrupt_fixture_quarantines(spark, tmp_path, provider, fixture):
    # fault injection: metadata payload becomes {} (reference corrupts the
    # same way, tests/test_offline_e2e.py:66-100)
    root = tmp_path / "fixtures"
    shutil.copytree(FIXTURES, root)
    (root / provider / fixture).write_text("{}")
    res = run_offline_ingest(spark, provider, str(root))
    assert res.responses == 1  # metadata only; artifact stage skipped
    assert res.artifacts == 0
    assert res.parse_errors == 1
    err = res.errors_df.collect()[0]
    assert err.provider == provider and err.stage == "parse_metadata"


def test_unparseable_bytes_quarantine_not_fail(spark, tmp_path):
    root = tmp_path / "fixtures"
    shutil.copytree(FIXTURES, root)
    (root / "sec_edgar" / "submissions.json").write_bytes(b"\xff\xfe not json at all")
    res = run_offline_ingest(spark, "sec_edgar", str(root))
    assert res.parse_errors == 1 and res.artifacts == 0


def test_sec_unnest_filings(spark):
    plan = plan_source(
        spark,
        [{"cik10": "0001112233", "fixture_name": "submissions.json",
          "url": "https://data.sec.gov/submissions/CIK0001112233.json"}],
    )
    meta = fetch_offline(plan, fixture_scan(spark, FIXTURES, "sec_edgar"), "sec_edgar")
    rows = P.sec_unnest_filings(meta).orderBy("filing_pos").collect()
    assert [r.accession_number for r in rows] == [
        "0001112233-25-000042",
        "0001112233-24-000007",
    ]
    assert rows[0].form == "10-Q" and str(rows[0].filing_date) == "2025-07-15"
    assert rows[0].company_name == "Example Manufacturing Corp."


def test_sec_artifact_url_derivation(spark):
    plan = plan_source(
        spark,
        [{"cik10": "0001112233", "fixture_name": "submissions.json",
          "url": "https://data.sec.gov/submissions/CIK0001112233.json"}],
    )
    meta = fetch_offline(plan, fixture_scan(spark, FIXTURES, "sec_edgar"), "sec_edgar")
    row = P.sec_first_filing(meta).collect()[0]
    # int-cast drops zero padding; accession dashes stripped (sec_edgar.py:27-31)
    assert row.artifact_url == (
        "https://www.sec.gov/Archives/edgar/data/1112233/000111223325000042/exmc-20250630.htm"
    )


@pytest.mark.parametrize("payload,expected", [
    # pdfUrl precedence
    ({"results": [{"pdfUrl": "https://x/a.pdf", "Url": "https://x/ignored"}]}, "https://x/a.pdf"),
    # alternate casing
    ({"results": [{"PdfUrl": "https://x/b.pdf"}]}, "https://x/b.pdf"),
    # nested document url, either casing
    ({"results": [{"document": {"Url": "https://x/c.pdf"}}]}, "https://x/c.pdf"),
    ({"results": [{"document": {"url": "https://x/d.pdf"}}]}, "https://x/d.pdf"),
    # bare url fallback
    ({"results": [{"url": "https://x/e.pdf"}]}, "https://x/e.pdf"),
    # Results-root variant
    ({"Results": [{"pdfUrl": "https://x/f.pdf"}]}, "https://x/f.pdf"),
    # documents-root variant
    ({"documents": [{"Url": "https://x/g.pdf"}]}, "https://x/g.pdf"),
    # nothing extractable
    ({"results": []}, None),
    ({"count": 0}, None),
])
def test_nrc_envelope_variants(spark, payload, expected):
    df = spark.createDataFrame(
        [(0, "k", "nrc_adams_aps", "POST", "https://adams-api.nrc.gov/search", None, 200,
          "{}", json.dumps(payload).encode())],
        "item_index int, item_key string, provider string, method string, url string, "
        "params_json string, status_code int, headers_json string, body binary",
    )
    row = P.nrc_extract_pdf_url(df).collect()[0]
    assert row.artifact_url == expected


def test_redaction_masks_sensitive_keys(spark):
    df = spark.createDataFrame(
        [(json.dumps({
            "Authorization": "Bearer abc123",
            "X-Api-Key": "k-999",
            "My-Token-Header": "tok",
            "Client-Secret": "sss",
            "Password": "hunter2",
            "content-type": "application/json",
            "accept": "text/html",
        }),)],
        "headers_json string",
    )
    out = df.select(redact_headers_json(F.col("headers_json")).alias("r")).collect()[0].r
    parsed = json.loads(out)
    assert parsed["Authorization"] == REDACTED
    assert parsed["X-Api-Key"] == REDACTED
    assert parsed["My-Token-Header"] == REDACTED
    assert parsed["Client-Secret"] == REDACTED
    assert parsed["Password"] == REDACTED
    assert parsed["content-type"] == "application/json"
    assert parsed["accept"] == "text/html"


def test_redaction_parity_with_reference_key_set(spark):
    """F15 parity: every literal in the reference's SENSITIVE_KEYS set
    (run_capture.py:11-22) must be redacted, including the underscore
    variants api_key / x-api_key the round-4 verdict found leaking; keys
    the reference does NOT redact (no exact match, no token/secret/pass
    substring) must pass through untouched."""
    reference_sensitive_keys = {
        "authorization",
        "cookie",
        "ocp-apim-subscription-key",
        "x-api-key",
        "x-api_key",
        "api_key",
        "apikey",
        "token",
        "password",
        "secret",
    }
    not_redacted_by_reference = ["proxy-authorization", "set-cookie", "api-key", "host"]
    keys = sorted(reference_sensitive_keys) + not_redacted_by_reference
    df = spark.createDataFrame([({k: "v" for k in keys},)], "h map<string,string>")
    out = df.select(redact_map(F.col("h")).alias("r")).collect()[0].r
    for k in reference_sensitive_keys:
        assert out[k] == REDACTED, f"reference redacts {k!r}; engine did not"
    for k in not_redacted_by_reference:
        assert out[k] == "v", f"reference passes {k!r} through; engine redacted it"
    # case-insensitivity, matching the reference's key.lower() (:234)
    df2 = spark.createDataFrame([({"X-API_KEY": "v", "Api_Key": "v"},)], "h map<string,string>")
    out2 = df2.select(redact_map(F.col("h")).alias("r")).collect()[0].r
    assert out2["X-API_KEY"] == REDACTED and out2["Api_Key"] == REDACTED


def test_redact_map_typed(spark):
    df = spark.createDataFrame([({"cookie": "c=1", "host": "example.com"},)], "h map<string,string>")
    out = df.select(redact_map(F.col("h")).alias("r")).collect()[0].r
    assert out["cookie"] == REDACTED and out["host"] == "example.com"


def test_plan_limit_min_one(spark):
    items = [{"cik10": "1", "fixture_name": "a", "url": "u1"},
             {"cik10": "2", "fixture_name": "b", "url": "u2"}]
    assert plan_source(spark, items, limit=0).count() == 1  # F11 floor
    assert plan_source(spark, items, limit=2).count() == 2


def test_run_capture_tree(spark, tmp_path):
    from pyspark.sql import functions as F

    from api_etl_pipeline_spark.ingest.capture import write_run_tree

    attempts = spark.createDataFrame(
        [
            ("p", "GET", "https://x/1", None, 200,
             '{"authorization":"Bearer s3cret","content-type":"application/json"}',
             b"tiny", 1),
            ("p", "GET", "https://x/2", None, 200,
             '{"content-type":"application/json"}', b"B" * 6_000_000, 2),
        ],
        "provider string, method string, url string, params_json string, "
        "status_code int, headers_json string, body binary, item_index int",
    ).withColumn("run_id", F.lit("r1"))
    responses = attempts
    artifacts = spark.createDataFrame(
        [("p", "https://x/2", "ab" * 32, 6_000_000, "blobs/ab/x", 2)],
        "provider string, source_url string, sha256 string, bytes long, "
        "blob_path string, response_id long",
    )
    errors = spark.createDataFrame([], "provider string, stage string")
    root = str(tmp_path / "capture")
    write_run_tree(attempts, responses, artifacts, errors, root, "run-42")

    caps = spark.read.json(f"{root}/attempts").collect()
    assert len(caps) == 2
    by_url = {r.url: r for r in caps}
    assert '"authorization":"***REDACTED***"' in by_url["https://x/1"].headers_redacted
    assert by_url["https://x/1"].pretty_view and not by_url["https://x/1"].gzip_copy
    assert by_url["https://x/2"].gzip_copy and not by_url["https://x/2"].pretty_view

    import glob
    gz = glob.glob(f"{root}/gzip_bodies/run_id=run-42/*.json.gz")
    assert gz, "large body must be written with the gzip codec"
    assert spark.read.json(f"{root}/gzip_bodies").count() == 1

    run = spark.read.json(f"{root}/runs").collect()[0]
    assert run.status == "succeeded" and run.responses == 2 and run.artifacts == 1
    assert spark.read.json(f"{root}/artifacts").collect()[0].sha256 == "ab" * 32


def test_blob_store_write_once(spark, tmp_path):
    wh = str(tmp_path / "wh")
    run_offline_ingest(spark, "sec_edgar", FIXTURES, warehouse=wh)
    run_offline_ingest(spark, "sec_edgar", FIXTURES, warehouse=wh)
    blobs = spark.read.parquet(f"{wh}/blobs")
    # write-once (blob_store.py:12-13): the rerun must not duplicate bytes
    assert blobs.count() == 1
    assert blobs.select("sha256").distinct().count() == 1


def test_run_id_collision_parity(spark):
    """Reference parity (run_capture.py:54-64, test_run_dir_collision):
    a second run of the same provider in the same second gets a
    suffixed id that still starts with the first one's stem; ids are
    never reused. Also checks the DataFrame-of-runs input form."""
    from datetime import UTC, datetime

    from api_etl_pipeline_spark.ingest.capture import build_run_id

    now = datetime(2024, 1, 1, tzinfo=UTC)
    first = build_run_id(set(), "p", now)
    second = build_run_id({first}, "p", now)
    assert second != first and second.startswith(first)
    third = build_run_id({first, second}, "p", now)
    assert third not in (first, second) and third.startswith(first)

    runs = spark.createDataFrame([(first,), (second,)], ["run_id"])
    assert build_run_id(runs, "p", now) == third
