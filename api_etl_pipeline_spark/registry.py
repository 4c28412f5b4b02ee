"""Named-query registry — the engine's verifiable operator surface.

Every operator the engine implements is registered here as a ``QuerySpec``:
a Spark callable ``(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible)
an equivalent DuckDB oracle SQL string over the same parquet tables. The
driver's correctness gate runs both sides and compares row-count + schema +
order-insensitive value-hash, so:

- every computed column is aliased identically on both sides;
- float aggregates are rounded on both sides (cross-engine summation order
  differs; rounding makes the hash stable);
- ORDER BY is irrelevant to the hash but deterministic tie-breaks matter for
  row_number-style operators, so ranking queries always order by a unique key
  last;
- NEVER return a raw DECIMAL final column: compute in DECIMAL (order-free
  sums) but ``CAST(... AS DOUBLE)`` after the final ROUND on BOTH sides —
  Spark pandas-collects Decimal('100.10') where DuckDB gives float64 100.1,
  and the driver's string canonicalization diverges on trailing zeros (the
  r07 ev16/inc01/stats02 hash fails; the ev15 convention);
- NEVER return a DATE final column: cast to timestamp_ntz (Spark) /
  TIMESTAMP (oracle) — Spark DATE collects as datetime.date, DuckDB DATE as
  datetime64[us]; same canonicalization divergence. Zoned TIMESTAMP finals
  are likewise banned (process-timezone-dependent) — timestamp_ntz only.
  All three conventions are enforced mechanically by
  ``tests/oracle.py::compare``, which every query's pytest mirror runs.

Modules register via the ``@query`` decorator at import time.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: SparkQuery
    oracle: str | None  # DuckDB SQL; None → driver does rows-only check
    doc: str


_REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None) -> Callable[[SparkQuery], SparkQuery]:
    """Register a named query. Usage:

    @query("q01_pricing_summary", oracle="SELECT ...")
    def q01(spark, sf_dir): ...

    Output-typing contract (driver hash compatibility — see module
    docstring): final schemas must contain NO raw DECIMAL, DATE, zoned
    TIMESTAMP, or complex (array/map/struct) columns. DECIMAL → cast the
    output to DOUBLE after the final ROUND on both engine sides; DATE →
    timestamp_ntz / TIMESTAMP; arrays → array_join/to_json. The pytest
    mirror (tests/oracle.py::compare) rejects violations.
    """

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


def _load_all() -> None:
    # Import for registration side effects; keep cheap (no Spark work at import).
    from api_etl_pipeline_spark.ops import (  # noqa: F401
        advanced,
        events_analytics,
        graph,
        maintenance,
        python_udfs,
        quality,
        relational,
        scalar,
        sql_surface,
        tpch_extra,
        windows,
    )
    from api_etl_pipeline_spark import ingest  # noqa: F401
    from api_etl_pipeline_spark.ingest import queries as ingest_queries  # noqa: F401
    from api_etl_pipeline_spark.llm_ops import (  # noqa: F401
        classifier,
        corpus_pipeline,
        curation,
        dedup,
        multimodal,
        packing,
        retrieval,
        sampling,
        similarity,
        text,
    )
    from api_etl_pipeline_spark.streaming import batch_windows  # noqa: F401


# Driver-coverage rotation. The driver's per-round correctness gate samples
# the FIRST 50 entries of queries() in dict order. This prefix
# front-loads, in order:
#   1. the four timed plans rewritten in round 15 whose last driver row
#      predates the rewrite: x26 (r11), sim11 (r13), decon01 (r11) and
#      dq05 (r13). sim11 now precedes ret02's sim01_truth consumer; the
#      plan lint keys that shared build's findings by build name, so the
#      order does not matter to it.
#   2. ALL 44 queries whose latest passing driver row is still round 10
#      (histogram after round 15: r10×44, r11×45, r12×48, r13×50,
#      r14×50, r15×50, never×0), alphabetical.
#   3. 2 fill slots from the r11 cohort, oldest-first alphabetical:
#      chunk01, cur01.
# 4 + 44 + 2 = 50 exactly. Nothing is removed — every query stays
# registered and the pytest mirror in tests/test_queries_oracle.py
# still covers all of them.
_DRIVER_SAMPLE_PREFIX = [
    "x26_weighted_median", "sim11_ann_recall_at_k",
    "decon01_ngram_overlap", "dq05_referential_integrity",
    "ing02_blob_bucket_fanout", "ing03_retryable_status",
    "ing04_headers_redaction", "ing05_normalized_emission",
    "ing06_watermark_advance", "ing07_attempt_numbering",
    "ing08_run_summary", "ing09_size_gates",
    "ing10_pdf_url_classifier", "ing11_parallel_array_unnest",
    "ing12_envelope_coalesce", "ing13_corrupt_quarantine",
    "ing14_canonical_json", "ing15_header_dispatch",
    "ing16_json_or_text_fallback", "ing17_request_mapper",
    "ing18_bloom_dedup_insert", "ing19_merge_upsert",
    "ing20_incremental_agg_merge",
    "qsql01_topk_per_nation_shared_sql", "qsql02_grouping_sets_shared_sql",
    "qsql03_exists_not_exists_shared_sql", "qsql04_window_frames_shared_sql",
    "qsql05_set_ops_shared_sql", "qsql06_correlated_scalar_shared_sql",
    "qsql07_lateral_topk_shared_sql",
    "sim01_cosine_topk", "sim02_lsh_bucket_ann", "sim03_vector_norms",
    "sim04_ivf_assign", "sim05_ivf_probe_topk", "sim07_pq_codes",
    "sim08_pq_adc_topk",
    "st01_tumbling_window", "st02_sliding_window", "st03_sessionization",
    "st04_dedup_within_watermark", "st05_watermark_sync_state",
    "st17_span_dedup_live",
    "w07_range_frame", "w08_distribution_functions", "w09_locf_gap_fill",
    "w10_share_of_total", "w11_rolling_percentile_bands",
    "chunk01_sliding_chunks", "cur01_domain_cap",
]

# Additions with NO driver row yet, staged for their FIRST row in the
# next round's prefix. EMPTY: every registered query has a driver row.
# The freshness gate (tools/round_close.py::leg_driver_freshness)
# treats ONLY names listed here as allowed to be never-checked outside
# the prefix.
DRIVER_STAGED_NEXT_ROUND: list[str] = []


def _rotated(registry: dict[str, QuerySpec]) -> dict[str, QuerySpec]:
    by_prefix: dict[str, str] = {}
    for name in registry:
        stem = name.split("_", 1)[0]
        by_prefix.setdefault(stem, name)
    ordered: dict[str, QuerySpec] = {}
    for key in _DRIVER_SAMPLE_PREFIX:
        full = registry.get(key) and key or by_prefix.get(key)
        if full and full not in ordered:
            ordered[full] = registry[full]
    for name, spec in registry.items():
        if name not in ordered:
            ordered[name] = spec
    return ordered


def all_queries() -> dict[str, QuerySpec]:
    _load_all()
    return _rotated(dict(_REGISTRY))
