"""Benchmark runner — the driver's per-round feedback loop.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
object per line: the full result ({"metric": ..., "value": total_sec,
"unit": "sec", "queries": {name: sec}, "sf": ...}), chunked per-query
part-lines, and a compact headline last.

``measure`` is the one timing step (construct, execute to the `noop`
sink, min of N) and ``warm`` the one warm-up; tools/probe.py uses both.

Storage layout: the driver's testdata writes each table as ONE parquet
file with ONE row group, which caps scan-stage parallelism at 1 task no
matter how many cores exist (row-group assignment is the unit of
parquet split work). A real warehouse never serves queries off that
layout — ingest-time compaction (ops/maintenance.py) sizes row groups to
the cluster. The bench therefore performs that one-time relayout first
(multi-file, range-clustered on the natural date/time key so min/max
stats prune date-windowed scans) and reports its cost transparently as
`layout_prepare_sec`, separate from the per-query timings. Set
SPARK_GRAFT_RAW_LAYOUT=1 to bench the raw single-row-group layout
instead. Correctness runs (driver t2) always read the raw files.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from api_etl_pipeline_spark.registry import all_queries  # noqa: E402
from api_etl_pipeline_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "q01_pricing_summary",
    "q02_revenue_by_segment",
    "q06_agg_filter",
    "q07_outer_join_histogram",
    "q18_multiway_join",
    "w01_topk_per_group",
    "w04_running_sum",
    "x01_hash_functions",
    "x08_split_explode",
]

# benched beside HEADLINE; a name runs only while it is registered
OPTIONAL = [
    "dd01_exact_dup_groups",
    "dd04_minhash_lsh_pairs",
    "dd06_simhash",
    "sim01_cosine_topk",
    "sim04_ivf_assign",
    "tx02_quality_score",
    "tx05_bigram_freq",
    "st01_tumbling_window",
    "st03_sessionization",
    "q21_asof_join",
    "q22_range_join",
    "ing01_dedup_insert",
    "llm01_clean_corpus",
    "llm02_corpus_funnel",
    "q32_waiting_orders",
    "sim05_ivf_probe_topk",
    "q39_shipping_priority",
    "q41_local_supplier_volume",
    "q45_profit_by_nation",
    "ev02_gaps_islands",
    "tx08_tfidf_top_term",
    "sim06_matmul_topk",
    "ev04_rolling_wau",
    "ev06_funnel_conversion",
    "dd09_dup_clusters",  # iterative connected components (multi-job)
    "tx11_repetition_metrics",  # zero-shuffle sorted-array fold
    "pack01_sequence_packing",  # Arrow applyInPandas greedy packer
    "ev09_scd2_intervals",  # single-exchange SCD-2 window chain
    "x23_zorder_interleave",  # pure-codegen Morton key
    "decon01_ngram_overlap",  # broadcast benchmark-gram decontamination
    "mix01_token_budget_mix",  # zero-corpus-shuffle source rebalance
    "shuf01_deterministic_shards",  # salted-hash shard + in-shard order
    "chunk01_sliding_chunks",  # narrow sliding-window segmentation
    "cur01_domain_cap",  # per-source bounded top-k
    "tx13_word_entropy",  # zero-shuffle sorted-run entropy fold
    "ev12_peak_concurrency",  # sweep-line boundary running sum
    "sim08_pq_adc_topk",  # PQ asymmetric-distance search over codes
    "stats01_table_profile",  # ANALYZE-style per-column profile
    "sim09_kmeans_train",  # iterative Lloyd loop (3 driver iterations)
    # recursion cost note: the stop bound must ride as a column — a
    # scalar subquery in the recursive arm re-executes per step (8x)
    "qsql09_recursive_cte_shared_sql",  # recursive month axis, shared SQL
    "tx14_bpe_merge_candidates",  # char-pair mining, one count shuffle
    "x25_mad_outliers",  # two-phase robust MAD bands
    "llm03_dataset_card",  # one-agg corpus observability
    "mm05_caption_pairs",  # metadata-only multimodal pairing
    "samp03_fixed_size_sample",  # TakeOrdered exact-N sample
    "ev11_transition_matrix",  # lead-window Markov cells
    "dd10_keep_best_dedup",  # CC + quality argmax keepers
    "w11_rolling_percentile_bands",  # moving exact-percentile frame
    "pack02_concat_cut",  # cumsum packing over doc metadata
    "dd11_repeated_substrings",  # winnowed exact-substring repeats
    "tx15_rare_term_ratio",  # corpus-relative OOV/noise quality signal
    "decon02_source_overlap",  # pairwise source-contamination matrix
    "dd12_segment_dedup_clean",  # CCNet-style duplicated-segment removal
    "tx16_bm25_topk",  # lexical retrieval (query-vocab-bounded shuffle)
    "ev13_time_weighted_value",  # LOCF time-weighted mean, single exchange
    "st08_enriched_segment_windows",  # stream-static enrich batch twin
    "samp04_temperature_mix",  # UniMax-style source temperature weights
    "sim10_random_projection",  # JL ±1 sketch, zero-exchange scan-project
    "q38_funnel_steps",  # single-pass ordered funnel fold
    "tx17_lm_familiarity",  # corpus bigram-LM scoring (CCNet ppl-filter analog)
    "mm06_perceptual_hash_groups",  # aHash bucketing, dd01 cost model on media
    "ret01_hybrid_rrf",  # BM25+cosine RRF hybrid retrieval
    "hh01_heavy_hitter_tokens",  # two-pass frequent-items sketch
    "tx19_pmi_collocations",  # PMI phrase mining, vocab-broadcast joins
    "dq02_k_anonymity",  # quasi-identifier privacy audit
    "gr01_pagerank",  # iterative graph rounds (work in eager checkpoints)
    "gr02_bfs_hops",  # frontier BFS (work in eager checkpoints)
    "gr03_triangle_stats",  # degree-oriented wedge join triangle census
    "q52_asof_nearest",  # one-shuffle dual-direction as-of windows
    "x26_weighted_median",  # distinct-price exact weighted median
    "tx18_ppl_buckets",  # CCNet head/middle/tail LM-score tertiles
    "samp05_weighted_reservoir",  # A-ES weighted top-N, TakeOrdered plan
    "st10_interval_left_join",  # outer stream-stream join batch twin
    "dq01_quality_report",  # one-scan-per-table DQ gates + FK probes
    "ev14_stickiness",  # DAU/WAU ratio on the checkpointed (day,user) relation
    "ev15_ohlc_bars",  # mergeable OHLC rollup, one hash agg
    "decon03_embedding_contamination",  # broadcast benchmark-vector cosine decon
    "cur02_lang_quality_prune",  # per-lang balanced quality pruning
    "tx20_stopword_discovery",  # corpus-adaptive DF stopword mining
    "ev16_rfm_segments",  # RFM quartile segmentation, one rollup shuffle
    "dq03_benford_deviation",  # one-scan first-digit Benford audit
    "sim11_ann_recall_at_k",  # ANN recall@3 eval: sim01+sim02 legs fused
    "dd13_containment_dedup",  # containment verify on LSH candidates
    "dq04_join_skew_profile",  # per-key skew pre-flight, 3 one-pass legs
    "mix02_epoch_upsampling",  # fractional-epoch explode, no corpus shuffle
    "ev17_conversion_lag",  # first-view→purchase lag bands
    "inc01_rollup_merge",  # mergeable-state rollup merge == recompute
    "inc02_pruned_refresh",  # non-mergeable refresh via hour pruning
    "samp06_cluster_safe_split",  # leakage-safe split by dup cluster
    "tx21_bpe_train_merges",  # BPE training: vocab-bounded merge rounds
    "stats02_rolling_anomaly",  # decimal-exact rolling z-score monitor
    "ab01_experiment_readout",  # hash-armed Welch z readout, 1-row result
    "ev18_linear_attribution",  # micro-cent exact multi-touch credits
    "cur03_snapshot_diff",  # full-outer snapshot diff on hash projections
    "tx22_bpe_tokenize_apply",  # apply trained BPE: vocab-bounded + 2 corpus scans
    "dd14_incremental_dedup",  # delta-vs-standing LSH refresh
    "dd15_semdedup_prune",  # centroid-cell cosine pruning, EXISTS verdict
    "dq05_referential_integrity",  # one left join + 1-row agg per FK edge
    "cur04_token_drift",  # vocab-bounded full-outer token join, top-K movers
    "dq06_psi_drift",  # 26-row histogram join, ordered-fold PSI
    "cur05_url_dedup",  # URL canonicalization dedup: 3-level agg cascade
    "dq07_window_psi_drift",  # per-window PSI vs frozen baseline, 2 aggs
    "cur06_pii_scrub",  # regex PII detect+redact, 1 agg, text never shuffles
    "samp07_dsir_importance",  # DSIR hashed-feature log-weights, 1 shuffle
    "sim12_pq_topk",  # PQ encode (zero-shuffle) + ADC scan + top-k window
    "maint01_compaction_plan",  # manifest-scale planner: 1 exchange, 2 windows
    "tx23_corpus_laws",  # Zipf/Heaps OLS fits, one corpus explode
    "cur07_html_main_text",  # HTML boilerplate-strip: per-row regex, 1 agg
    "llm04_curation_funnel",  # composed url->html->pii->dedup->DSIR funnel
    "cur08_gopher_rules",  # Gopher quality battery: per-row lambdas, 1 agg
    "dd16_lsh_recall_audit",  # bounded-stratum LSH recall/precision audit
    "dd17_lsh_geometry_sweep",  # 3-geometry recall/precision trade measurement
    "ev19_journey_patterns",  # MATCH_RECOGNIZE analog: 1 exchange + per-row regex
    "maint02_retention_plan",  # partition-grain TTL planner, metadata-bound
    "sim13_mmr_rerank",  # MMR diversified top-k over checkpointed candidates
    "hh02_countmin_audit",  # Count-Min bigram sketch vs exact top-20
    "maint03_zone_map_skip",  # zone-map pruning estimator, metadata-bound
    "tx24_tokenizer_fertility",  # per-stratum trained-BPE fertility/coverage
    "mix03_anneal_schedule",  # 3-epoch quality-annealed sampling schedule
    "dq08_fd_profile",  # FD/key-candidate mining over column-pair hypotheses
    "ret02_ann_rank_quality",  # MRR/nDCG of the bucketed ANN vs exact truth
    "pack03_packing_efficiency",  # next-fit audit vs LP bound, padding waste
    "samp08_temporal_split",  # embargoed time split + entity-leakage disclosure
    "w12_time_range_window",  # trailing-3-day time-range frame per user
    "sim14_sq8_topk",  # int8 scalar-quantized asymmetric top-k
    "dd18_prefix_filter_join",  # exact-threshold Jaccard join, prefix-filtered
    "dq09_fd_profile_sampled",  # bottom-K group-sampled FD profile (dq08's 100 TB form)
    "dd19_span_dedup",  # C4 three-sentence-span exact dedup, kept-text checksums
    "cur09_pseudonymize_ids",  # key-coherent pseudonymization audit, injectivity-verified
    "ing22_reconcile_by_hash",  # T5 reconciliation merge, hash-compare + anti-join
    # dd20 is a contrast fixture: its flat O(n*k*d) assignment is the
    # cost dd22 exists to beat, so it stays benched at sf0.1 for the
    # dd20-vs-dd22 delta at the same sf; do not run it past ~10x.
    "dd20_semdedup_production_k",  # contrast fixture: flat-assignment cost yardstick
    "dd21_substring_dedup",  # Lee-2022 stride-1 exact-substring dedup, kept-text checksums
    "dd22_semdedup_two_level",  # coarse-then-fine codebook assignment, O(n*sqrt(k)*d)
    "dd23_semdedup_trained",  # spherical-k-means trained codebook + verdict (2 Lloyd rounds)
    "dd24_incremental_semdedup",  # delta-vs-standing-store SemDeDup refresh (dd14's pattern)
    "sim15_ivfpq_topk",  # IVF cell pruning x PQ residual codes — the faiss IVFPQ read path
    "cls01_quality_classifier",  # centroid quality scorer: train-slice agg + map-only scoring
    "dd25_simhash_recall_audit",  # simhash-Hamming recall audit, dd16 device
    "cls02_classifier_auc_audit",  # exact split-grain AUC audit of the cls01 filter
]


def current_round() -> int:
    """The incoming round number = newest driver CORRECTNESS file + 1,
    overridable via SPARK_GRAFT_ROUND: the file-derived value depends on
    which generated artifacts are on disk, and the pin makes a bench run's
    rotation window reproducible. main() logs the value to stderr and
    records it as rotation_round."""
    import re

    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env:
        if not env.isdigit() or int(env) < 1:
            raise SystemExit(
                f"SPARK_GRAFT_ROUND must be a positive integer round "
                f"number, got {env!r}"
            )
        return int(env)
    rounds = [
        int(m.group(1))
        for p in Path(_REPO).glob("CORRECTNESS_r*.json")
        if (m := re.search(r"_r0*(\d+)$", p.stem))
    ]
    return (max(rounds) + 1) if rounds else 1


ROTATION_SIZE = 20


def rotation_sample(registered: list[str], benched: set[str]) -> list[str]:
    """A rotating ~ROTATION_SIZE-name sample of the micro-scale-exempt
    queries, timed at sf0.1 despite the stage floor: the walls are
    scheduling-noise-dominated (so they stay out of the headline), but a
    >2x raw move on a rotated name is a cue to diff its plan fingerprint.

    Selection is by residue class: round r picks the sorted names whose
    rank satisfies rank % K == (r-1) % K, K = ceil(len/ROTATION_SIZE). A
    stable population visits every name once per K rounds; under registry
    churn a name's next visit moves by at most the number of insertions
    or removals before it. Structurally-exempt classes (live streaming,
    fixed-size fixtures, Arrow media decode) are never sampled."""
    micro = sorted(
        n
        for n in registered
        if n not in benched
        and not n.endswith("_live")
        and not n.startswith("ing21")
        and n[:4] not in ("mm01", "mm02", "mm03", "mm04")
    )
    if not micro:
        return []
    k = -(-len(micro) // ROTATION_SIZE)
    cls = (current_round() - 1) % k
    return [n for rank, n in enumerate(micro) if rank % k == cls]


def bench_set_manifest(
    registered: list[str], benched: set[str], rotation: set[str] | None = None
) -> dict[str, str]:
    """Every registered query as "benched", "benched:rotation" (timed in
    queries_rotation, outside the headline) or "exempt:<reason>", so
    BENCH_QUERIES.json is the committed membership artifact.

    Exemption classes:
    - live-streaming runs (``*_live``): their wall measures Structured
      Streaming micro-batch machinery, not plan execution; the batch twin
      carries the perf signal and the oracle mirror carries live==batch.
    - ing21: fixed-size pagination fixture (3 pages) — SF-invariant wall,
      no scale signal at any sf.
    - mm01-mm04: Arrow media-decode stages whose wall is Python/Arrow
      batch fixed cost over the small derived media set; mm05/mm06 carry
      the multimodal family's plan signal.
    - everything else: micro-scale at sf0.1 — min-of-5 wall sits at/near
      the per-job scheduling floor (spark_stage_floor_sec), so
      round-over-round deltas would read scheduling noise, not plan cost;
      a benched family sibling carries the plan-cost signal.
    """
    out: dict[str, str] = {}
    for n in registered:
        if n in benched:
            out[n] = "benched"
        elif rotation and n in rotation:
            out[n] = "benched:rotation"
        elif n.endswith("_live"):
            out[n] = (
                "exempt:live-streaming run — wall is micro-batch machinery, "
                "batch twin carries the perf signal"
            )
        elif n.startswith("ing21"):
            out[n] = "exempt:fixed-size pagination fixture — SF-invariant wall"
        elif n[:4] in ("mm01", "mm02", "mm03", "mm04"):
            out[n] = (
                "exempt:Arrow media-decode fixed cost dominates — mm05/mm06 "
                "carry the multimodal plan signal"
            )
        else:
            out[n] = (
                "exempt:micro-scale at sf0.1, wall at/near the per-job "
                "scheduling floor — benched family siblings carry the "
                "plan-cost signal"
            )
    return out


# natural clustering key per big table: range layout gives per-file
# min/max stats that prune date/time-windowed scans (the 100 TB design's
# partitioned-table analog; small dims stay single-file)
_CLUSTER_KEY = {
    "lineitem": "l_shipdate",
    "orders": "o_orderdate",
    "events": "ts",
    "documents": "doc_id",
    "embeddings": "vec_id",
}
_ROWS_PER_FILE = 40_000
# wide-row / compute-heavy tables split much finer: a documents file is
# ~150 words/row and feeds explode-heavy operators, so one file per
# ~400 rows keeps the narrow pre-shuffle stages parallel (the 100 TB
# analog: 128 MB splits of a fat text column are few ROWS, and the
# engine must not serialize per-row compute behind one task). The
# trade-off: trivial single-pass documents queries (dd01, ing01) pay
# ~0.1 s/scan-stage of multi-task scheduling they would not pay on one
# file.
_ROWS_PER_FILE_BY_TABLE = {"documents": 400, "embeddings": 250}


def prepare_layout(spark, sf_dir: str, cpus: int) -> tuple[str, float]:
    """One-time ingest-style compaction of the single-row-group testdata
    into a multi-file, range-clustered layout. Idempotent per sf dir."""
    from api_etl_pipeline_spark.tables import TABLES, load_table

    tag = sf_dir.rstrip("/").replace("/", "_")
    out = f"/tmp/spark_graft_bench_layout/{tag}"
    marker = Path(out) / "_LAYOUT_READY_v2"
    if marker.exists():
        return out, 0.0
    t0 = time.perf_counter()
    shutil.rmtree(out, ignore_errors=True)
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        key = _CLUSTER_KEY.get(name)
        if key is not None:
            per_file = _ROWS_PER_FILE_BY_TABLE.get(name, _ROWS_PER_FILE)
            n = max(1, min(cpus, df.count() // per_file))
            df = df.repartitionByRange(n, key).sortWithinPartitions(key)
        df.write.mode("overwrite").parquet(f"{out}/{name}.parquet")
    marker.write_text(sf_dir)
    return out, round(time.perf_counter() - t0, 3)


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def warm(spark, data_dir: str) -> None:
    """Touch every table once, since a reused layout may be cold in the
    page cache (it skewed the first-listed queries 2x), then run the
    flagship query once to pay session/codegen start-up before timing."""
    from api_etl_pipeline_spark.tables import TABLES, load_table

    for t in TABLES:
        _noop(load_table(spark, data_dir, t))
    _noop(all_queries()[HEADLINE[0]].fn(spark, data_dir))


# A construction that takes no checkpoint builds a pure plan: re-running
# fn() only repeats identical py4j/Catalyst work, so after this many
# builds its handle is reused (every noop run still computes from the
# parquet scans). One that checkpoints is rebuilt every run, or runs
# 2..n would read run 1's materialized blocks inside the timed region.
_PURE_CONSTRUCTIONS = 2


def measure(spark, spec, data_dir: str, runs: int) -> tuple[float, float]:
    """(construction_min_s, exec_min_s) of one registered query: each run
    constructs the plan with ``spec.fn`` (unless a pure handle is reused,
    see _PURE_CONSTRUCTIONS) and executes it to the noop sink — full
    execution, no collect-to-driver cost. Min, not mean: the first run
    pays one-time plan/codegen/file-listing costs a steady-state engine
    amortizes, and min-of-2 on a shared box produced phantom 2x
    regressions that a re-measure could not reproduce."""
    from api_etl_pipeline_spark import checkpoint

    best = cbest = cached = None
    pure_builds = 0
    for _ in range(runs):
        if cached is None:
            seq0 = checkpoint.CHECKPOINT_SEQ
            c0 = time.perf_counter()
            df = spec.fn(spark, data_dir)
            dt = time.perf_counter() - c0
            cbest = dt if cbest is None else min(cbest, dt)
            if checkpoint.CHECKPOINT_SEQ == seq0:
                pure_builds += 1
                if pure_builds >= _PURE_CONSTRUCTIONS:
                    cached = df
        else:
            df = cached
        t0 = time.perf_counter()
        _noop(df)
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(cbest, 3), round(best, 3)


def spark_stage_floor(spark) -> float:
    """Min-of-5 wall of a trivial 32-partition two-stage job (shuffle +
    count) whose work is ~zero, so its wall IS the per-stage scheduling
    floor. The sha256 calibration tracks CPU speed but not this overhead,
    which dominates sub-second queries: when two runs' calibrated ratios
    disagree uniformly, compare their stage floors before blaming the
    plans."""
    from pyspark.sql import functions as F

    best = None
    for _ in range(5):
        t0 = time.perf_counter()
        _noop(spark.range(0, 32 * 1000, 1, 32).groupBy(F.col("id") % 7).count())
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 4)


def shared_walls() -> dict[str, float]:
    """One-time shared-build walls recorded by ``_memo.session_memo``
    (the dd04_components map, lsh_bands, load_table footer probes,
    collected codebooks, ...). A function, so builds registered lazily by
    their first consumer are read after the timing loop ran them."""
    from api_etl_pipeline_spark import _memo

    return dict(_memo.SHARED_BUILD_WALLS)


def cpu_calibration() -> float:
    """Fixed single-thread workload (sha256 over 32 MB), median of 7 — a
    box-speed yardstick. Host CPU steal swings run-to-run walls ~2x on a
    shared box; recording the yardstick beside the timings lets
    cross-round comparisons normalize out the box state instead of
    reading steal as regression."""
    import hashlib
    import statistics

    blob = b"\0" * (32 << 20)
    times = []
    for _ in range(7):
        t0 = time.perf_counter()
        hashlib.sha256(blob).hexdigest()
        times.append(time.perf_counter() - t0)
    # median, not min: the queries' min-of-5 can still sit inside a
    # sustained-steal window, so the comparable yardstick is typical
    # speed during the run, not the luckiest slice
    return round(statistics.median(times), 4)


def cpu_calibration_parallel(n_threads: int = 32) -> float:
    """The multicore twin: n_threads concurrent sha256 passes over 8 MB
    each, wall-clock median of 3 — host steal often only shows under
    full load, which is how Spark's 32-thread stages actually run."""
    import hashlib
    import statistics
    from concurrent.futures import ThreadPoolExecutor

    blob = b"\0" * (8 << 20)
    times = []
    with ThreadPoolExecutor(max_workers=n_threads) as pool:
        for _ in range(3):
            t0 = time.perf_counter()
            list(pool.map(lambda _: hashlib.sha256(blob).hexdigest(), range(n_threads)))
            times.append(time.perf_counter() - t0)
    return round(statistics.median(times), 4)


def emit_parts(part_key: str, inner_key: str, items: dict, limit: int = 390) -> None:
    """Print ``items`` as numbered JSON lines of at most ``limit`` bytes:
    {"<part_key>": i, "of": n, "<inner_key>": {subset}}. A single item
    too large for a line alone still gets its own line; it is reported on
    stderr with its key."""
    if not items:
        return
    chunks: list[dict] = []
    cur: dict = {}
    for k, v in items.items():
        cur[k] = v
        probe = json.dumps({part_key: 999, "of": 999, inner_key: cur})
        if len(probe) > limit and len(cur) > 1:
            cur.pop(k)
            chunks.append(cur)
            cur = {k: v}
    chunks.append(cur)
    for i, c in enumerate(chunks, 1):
        line = json.dumps({part_key: i, "of": len(chunks), inner_key: c})
        if len(line) > limit:
            print(
                f"{part_key} {i}: {len(line)} B > {limit} B, oversize item "
                f"{next(iter(c))!r}",
                file=sys.stderr,
            )
        print(line)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    print(
        f"rotation round {current_round()}"
        f" ({'pinned via SPARK_GRAFT_ROUND' if os.environ.get('SPARK_GRAFT_ROUND') else 'derived from CORRECTNESS_r* files'})",
        file=sys.stderr,
    )
    spark = get_spark("bench")
    specs = all_queries()
    names = [n for n in HEADLINE + OPTIONAL if n in specs]

    if os.environ.get("SPARK_GRAFT_RAW_LAYOUT"):
        bench_dir, prep_sec = sf_dir, 0.0
    else:
        try:
            bench_dir, prep_sec = prepare_layout(spark, sf_dir, cpus)
        except Exception as exc:  # unwritable /tmp etc. — bench raw rather than die
            print(f"layout prepare failed ({exc}); benching raw layout", file=sys.stderr)
            bench_dir, prep_sec = sf_dir, 0.0
    warm(spark, bench_dir)
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))

    # construction walls (work fn() does before returning the plan) are
    # reported for any query past 0.5 s, and always for these: dd23 trains
    # its codebook at construction, and the three dd04_components
    # consumers should read ~0, so un-sharing that build shows here
    construction_tracked = {
        "dd23_semdedup_trained",
        "dd09_dup_clusters",
        "dd10_keep_best_dedup",
        "samp06_cluster_safe_split",
    }
    measured = {n: measure(spark, specs[n], bench_dir, runs) for n in names}
    rotation = rotation_sample(list(specs), set(measured))
    measured_rotation = {n: measure(spark, specs[n], bench_dir, runs) for n in rotation}
    constructions = {n: c for n, (c, _) in (measured | measured_rotation).items()}
    timings = {n: t for n, (_, t) in measured.items()}
    timings_rotation = {n: t for n, (_, t) in measured_rotation.items()}

    calib = cpu_calibration()
    calib_par = cpu_calibration_parallel(cpus)
    stage_floor = spark_stage_floor(spark)
    total = round(sum(timings.values()), 3)
    full = {
        "metric": "headline_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "layout": "raw" if bench_dir == sf_dir else "compacted",
        "layout_prepare_sec": prep_sec,
        "runs_per_query": runs,
        "timing": "min",
        "cpu_calib_sec": calib,
        "cpu_calib_par_sec": calib_par,
        "spark_stage_floor_sec": stage_floor,
        "construction_sec": {
            n: c
            for n, c in sorted(constructions.items())
            if n in construction_tracked or c >= 0.5
        },
        # one-time shared builds: a min-of-runs per-query timer shows ~0
        # for every consumer after the first, so the cost is recorded at
        # its build site
        "construction_shared_sec": {
            n: round(c, 3) for n, c in sorted(shared_walls().items())
        },
        # the whole driver phase (every construction plus the shared
        # builds), so no op can grow a hidden driver phase unseen
        "construction_total_sec": round(
            sum(constructions.values()) + sum(shared_walls().values()), 3
        ),
        # wall / parallel sha256 yardstick: dimensionless, so comparisons
        # survive host CPU steal. The yardstick samples a few seconds of a
        # minutes-long run; when two runs' calibrations differ by >20%,
        # read the median per-query raw ratio beside the calibrated one.
        "calibrated_value": round(total / calib_par, 2),
        # calibrated2 first subtracts one stage floor per query (the fixed
        # scheduling cost sha256 cannot see); the headline is the sum of
        # the per-query clamped values so breakdown and headline agree
        "calibrated2_value": round(
            sum(max(0.0, t - stage_floor) for t in timings.values()) / calib_par, 2
        ),
        "queries_calibrated2": {
            n: round(max(0.0, t - stage_floor) / calib_par, 2)
            for n, t in timings.items()
        },
        "rotation_round": current_round(),
        "queries_rotation": timings_rotation,
        "bench_set": bench_set_manifest(
            list(specs), set(timings), set(timings_rotation)
        ),
    }
    # A reader of only the last ~2 KB of stdout must still get a complete
    # line, so the full line goes to files and stdout first, every
    # per-query dict follows as chunked part-lines under 400 B, and the
    # LAST line is a compact headline that always parses. The per-CPU file keeps a second core-count run from
    # overwriting the first one's per-query numbers.
    queries_file = Path(_REPO) / "BENCH_QUERIES.json"
    queries_file_cpu = Path(_REPO) / f"BENCH_QUERIES_c{cpus}.json"
    for path in (queries_file, queries_file_cpu):
        try:
            path.write_text(json.dumps(full, indent=1) + "\n")
        except OSError as exc:
            print(f"could not write {path}: {exc}", file=sys.stderr)
    print(json.dumps(full))

    emit_parts("construction_part", "construction_sec", full["construction_sec"])
    emit_parts(
        "construction_shared_part",
        "construction_shared_sec",
        full["construction_shared_sec"],
    )
    emit_parts("rotation_part", "queries_rotation", timings_rotation)
    emit_parts("queries_part", "queries", timings)
    compact = {
        k: v
        for k, v in full.items()
        if k
        not in (
            "queries",
            "queries_calibrated2",
            "queries_rotation",
            "bench_set",
            "construction_sec",
            "construction_shared_sec",
        )
    }
    compact["n_queries"] = len(timings)
    compact["n_rotation"] = len(timings_rotation)
    compact["n_registered"] = len(specs)
    compact["n_exempt"] = sum(
        1 for v in full["bench_set"].values() if v.startswith("exempt")
    )
    compact["queries_file"] = str(queries_file)
    compact["queries_file_cpu"] = str(queries_file_cpu)
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
