"""One-command round-close verification (round-5 verdict task 6).

Runs every leg of the README "Round-close checklist" in sequence and
prints a single PASS/FAIL summary line per leg plus a final JSON
verdict. Pieces existed since rounds 4-5 (oracle sweep, plan lint,
scan audit, plan-fingerprint regen, leak grep) but were invoked ad hoc
from README prose; this is the documented entry point.

    python tools/round_close.py              # everything except bench
    python tools/round_close.py --bench      # include the sf0.1 bench
    python tools/round_close.py --quick      # skip the sf0.1 sweep too

Exit code 0 iff every executed leg passed. Legs:

1. full pytest suite at sf0.01 (includes the registry-wide oracle
   mirror and the registry-wide plan lint)
2. sf0.1 oracle sweep — the same differential mirror at 10x data and
   shuffle partitions (catches summation-order value dependence)
2b. driver-canonicalization sweep (round 8) — every registered query
   compared the way the DRIVER compares (toPandas vs DuckDB .df(),
   sorted-column string hashing); catches pandas-representation
   divergence the value mirror cannot (the r07 decimal/date class)
3. PLANS.md regeneration — fails if fingerprints changed but were not
   committed (run again after reviewing/committing the diff)
4. scan audit — fails if a query newly scans a big table >= 2x beyond
   the standing allowlist recorded below
4b. driver freshness floor (round-9 verdict task 3) — fails if any
   registered query's latest passing driver CORRECTNESS row lags the
   last completed round by more than _FRESHNESS_MAX_AGE rounds while
   sitting OUTSIDE the current 50-slot sample prefix
5. leak grep — repo source must not reference non-public
   hosts/buckets/keys (mirrors the driver's LEAKCHECK categories)
6. bucketed catalog leg (round-6 verdict task 6) — q18 + dd04 driven
   through `catalog:`-registered bucketed tables; asserts strictly
   fewer exchanges than the path layout and identical rows
7. (--bench) bench.py at sf0.1 — headline + calibrated numbers
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

def run_leg(name: str, cmd: list[str], env: dict | None = None) -> dict:
    t0 = time.perf_counter()
    e = dict(os.environ)
    if env:
        e.update(env)
    proc = subprocess.run(
        cmd, cwd=REPO, env=e, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True
    )
    dt = round(time.perf_counter() - t0, 1)
    ok = proc.returncode == 0
    print(f"[{'PASS' if ok else 'FAIL'}] {name} ({dt}s)")
    if not ok:
        print(proc.stdout[-4000:])
    return {"leg": name, "ok": ok, "sec": dt, "tail": proc.stdout[-2000:]}


def leg_plans_fingerprints() -> dict:
    t0 = time.perf_counter()
    r = subprocess.run(
        [sys.executable, "tools/gen_plans.py"], cwd=REPO,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
    )
    diff = subprocess.run(
        ["git", "diff", "--stat", "--", "PLANS.md"], cwd=REPO,
        stdout=subprocess.PIPE, text=True,
    ).stdout.strip()
    dt = round(time.perf_counter() - t0, 1)
    ok = r.returncode == 0 and not diff
    print(f"[{'PASS' if ok else 'FAIL'}] plan fingerprints ({dt}s)"
          + (f" — PLANS.md changed:\n{diff}" if diff else ""))
    return {"leg": "plan_fingerprints", "ok": ok, "sec": dt, "diff": diff}


def leg_scan_audit() -> dict:
    t0 = time.perf_counter()
    r = subprocess.run(
        [sys.executable, "tools/scan_audit.py"], cwd=REPO,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
    )
    names = set(re.findall(r"^  (\w+):", r.stdout, flags=re.M))
    allowed = _scan_audit_allowlist()
    new = names - allowed
    dt = round(time.perf_counter() - t0, 1)
    ok = r.returncode == 0 and not new
    print(f"[{'PASS' if ok else 'FAIL'}] scan audit ({dt}s)"
          + (f" — NEW multi-traversal queries: {sorted(new)}" if new else ""))
    return {"leg": "scan_audit", "ok": ok, "sec": dt, "new": sorted(new)}


def _scan_audit_allowlist() -> set[str]:
    """The queries with a standing written reason for scanning a big
    table more than once — classes documented in SCALE.md §"Same-table
    traversal audit" (self-joins, set ops, correlated-scalar
    comparisons, multi-phase statistics, split-vs-split comparisons).
    Snapshot of the round-6 audit output; a query appearing in the
    audit but not here fails the leg until fixed or consciously added."""
    return {
        "q13_set_ops", "q48_range_join_banded", "dq01_quality_report",
        "ing18_bloom_dedup_insert", "ing19_merge_upsert",
        "tx08_tfidf_top_term", "tx16_bm25_topk", "st10_interval_left_join",
        "mm01_multimodal_features", "mm05_caption_pairs", "tx18_ppl_buckets",
        "q52_asof_nearest", "sim06_matmul_topk", "ret01_hybrid_rrf",
        "q21_asof_join", "q22_range_join", "q51_hll_mergeable_distinct",
        "x25_mad_outliers", "ev05_zero_filled_daily",
        "ev08_first_click_attribution", "dd05_ngram_jaccard",
        "dd07_simhash_hamming", "dd11_repeated_substrings",
        "q20_min_cost_supplier", "q29_top_supplier", "q31_small_qty_revenue",
        "qsql03_exists_not_exists_shared_sql",
        "qsql06_correlated_scalar_shared_sql", "ing01_dedup_insert",
        "ing20_incremental_agg_merge", "tx07_edit_distance",
        "tx12_fuzzy_blocked_join", "tx15_rare_term_ratio",
        "llm01_clean_corpus", "llm03_dataset_card", "samp04_temperature_mix",
        "decon01_ngram_overlap", "mix01_token_budget_mix",
        "sim01_cosine_topk", "sim02_lsh_bucket_ann", "sim05_ivf_probe_topk",
        "dd08_embedding_near_dup", "sim07_pq_codes",
        # round 6: bench-vs-corpus split (decon03), per-doc DF + corpus
        # total two-phase (tx20) — both documented in their docstrings
        "decon03_embedding_contamination", "tx20_stopword_discovery",
        # round 6 late additions, reasons in each docstring:
        # sim11 — exact leg + ANN leg each scan the corpus (recall eval
        #   compares two independent searches by design)
        # dd13 — gram sets consumed on both sides of the candidate pair
        #   join (the dd05 self-join class)
        # mix02 — per-source sizes phase + emission join (mix01 class)
        # ev17 — per-user first-view agg + purchase probe (split-phase;
        #   both passes shuffle-bound on user_id)
        # inc01/inc02 — base/delta disjoint partials from the SAME table
        #   only in this differential setting; production scans the
        #   stored base rollup + the delta partition, never history
        "sim11_ann_recall_at_k", "dd13_containment_dedup",
        "mix02_epoch_upsampling", "ev17_conversion_lag",
        "inc01_rollup_merge", "inc02_pruned_refresh",
        # ev18 — purchase leg + touch leg of the attribution interval
        #   join are disjoint type-filtered slices of events (the ev17
        #   split-phase class)
        "ev18_linear_attribution",
        # cur03 — v1/v2 snapshots derive from the one corpus only in
        #   this differential setting (so the oracle can restate both);
        #   production diffs two snapshot PATHS, one scan each
        "cur03_snapshot_diff",
        # round 8: dq07 — the frozen BASELINE histogram is recomputed
        #   from the same events table the daily histograms scan, only
        #   so the oracle can restate it; production reads the stored
        #   15-row baseline table (the cur03 differential-setting class)
        "dq07_window_psi_drift",
        # round 7: dq05 — one traversal per FK edge is the audit's
        #   definition (lineitem 4x: child of 3 FK edges plus the
        #   fault-injected detection leg); the
        #   multi-FK single-scan rewrite is documented for 100 TB.
        #   (dd14/tx22 also read their base table twice by design but
        #   do not fire here: their first traversal is lineage-
        #   truncated, and the audit counts final-plan scans.)
        "dq05_referential_integrity",
        # round 9: sim13 — the 5-row query-vector slice + the corpus
        #   pass (the sim01 probe-vs-corpus class); the candidate set
        #   is checkpointed so the lattice sides do NOT re-scan
        "sim13_mmr_rerank",
        # x26 — the exact weighted median reads lineitem twice: a
        #   bucket-grain pass (map-side combined to ~1.2k (flag, bucket)
        #   groups) finds each flag's median bucket, then a second pass,
        #   broadcast-joined to that 3-row target, aggregates per price
        #   only inside it (the multi-phase-statistics class, x25's
        #   exact-MAD floor)
        "x26_weighted_median",
        # round 9: ret02 — the ANN leg scans the corpus (sim02 class;
        #   the exact leg is checkpointed) — the sim11 two-leg eval
        #   comparison is the point of the query
        "ret02_ann_rank_quality",
        # round 9: sim14 — query slice + encode/score pass (the sim01
        #   probe-vs-corpus class; per-dim stats collected once as
        #   bounded metadata, the codebook-literal device)
        "sim14_sq8_topk",
        # round 11: ing22 — archive/window/changed legs are mod-slices of
        #   the one documents table ONLY in this differential setting (so
        #   the oracle can restate all three); production reads the stored
        #   archive and the re-read window from separate paths, one scan
        #   each, and `changed` would be checkpointed (the cur03/inc01
        #   differential-setting class)
        "ing22_reconcile_by_hash",
        # round 13: cls01 — the two train-slice aggregates (class sums,
        #   threshold min/max) plus the corpus scoring pass each read
        #   documents in the final plan, but BOTH training scans carry
        #   the pushed doc_id < 500 filter (bounded slices, not corpus
        #   traversals); at 100 TB the slice aggregates are one tiny
        #   partition-pruned read each and only the scoring pass sees
        #   the corpus — the tx20 per-phase-stats class
        "cls01_quality_classifier",
        # round 14: cls02 — the audit re-derives cls01's scores (the
        #   same two pushed train-slice scans + one corpus pass) and
        #   consumes them on TWO aggregate legs (score-distribution for
        #   the AUC prefix sum, confusion counts) — the sim11
        #   two-instrument-legs class; both legs reduce to split-grain
        #   rows before joining, and production would checkpoint the
        #   500-byte scored projection between them
        "cls02_classifier_auc_audit",
    }


# Maximum rounds a registered query's latest PASSING driver row may lag
# the last completed round before the gate fails, unless the query sits in
# the current 50-slot sample prefix (prefix membership = it will be
# refreshed by the incoming round's driver run). 4 matches the tail the
# round-9 verdict flagged: at round 9 the r4 rows (lag 5) were the debt,
# the r5 rows (lag 4) the allowed horizon. One ~50-query cohort expires
# per round and the prefix holds exactly 50, so the floor is sustainable
# by construction — but only if every round's prefix is curated, which is
# precisely what this leg stops depending on verdict orders for.
_FRESHNESS_MAX_AGE = 4


def leg_driver_freshness() -> dict:
    """Round-9 verdict task 3: driver-row freshness floor.

    Scans every CORRECTNESS_r*.json the driver has written, takes each
    registered query's newest PASSING row, and fails if any query outside
    the current sample prefix has no row newer than (last completed round
    - _FRESHNESS_MAX_AGE). Queries with NO driver row at all (new ops)
    must sit in the prefix. Stale-but-prefixed queries are reported as
    the round's refresh set, not failures.

    Expected red window at every round boundary (round-10 advice): when
    CORRECTNESS_r{N}.json lands, `ref` advances to N and the N-4 cohort
    newly crosses the floor — the leg is EXPECTED to fail until the round-
    (N+1) prefix rotation is committed, because `ref` is the newest driver
    round while the on-disk prefix is still the round-N curation. A red
    gate on the first run after a driver round completes is the rotation
    reminder working, not a regression; it must be green again on the
    final tree of the round (after the prefix in registry.py is rotated).
    """
    t0 = time.perf_counter()
    sys.path.insert(0, str(REPO))
    from api_etl_pipeline_spark.registry import all_queries

    latest: dict[str, int] = {}
    ref = 0
    for path in sorted(REPO.glob("CORRECTNESS_r*.json")):
        m = re.search(r"_r0*(\d+)$", path.stem)
        if not m:
            continue
        n = int(m.group(1))
        ref = max(ref, n)
        for q, row in json.loads(path.read_text()).items():
            passed = (
                bool(row.get("rows_match"))
                and row.get("hash_match") is not False
                and not row.get("err")
            )
            if passed:
                latest[q] = max(latest.get(q, 0), n)
    names = list(all_queries())
    prefix = set(names[:50])
    floor = ref - _FRESHNESS_MAX_AGE
    # never-checked ops explicitly staged for NEXT round's prefix (the
    # zero-slack-rotation path the r13 verdict sanctioned): allowed to
    # lack a driver row only while declared in the registry's staging
    # list; a never-checked op on NEITHER list still fails. A STALE op
    # (has an old row) can never hide here — staging only covers
    # latest == 0.
    from api_etl_pipeline_spark.registry import DRIVER_STAGED_NEXT_ROUND

    staged = {
        q for q in DRIVER_STAGED_NEXT_ROUND
        if q in names and latest.get(q, 0) == 0
    }
    stale = sorted(
        q for q in names
        if q not in prefix and q not in staged and latest.get(q, 0) < floor
    )
    refreshing = sorted(q for q in prefix if latest.get(q, 0) < floor)
    dt = round(time.perf_counter() - t0, 1)
    ok = not stale
    print(
        f"[{'PASS' if ok else 'FAIL'}] driver freshness floor ({dt}s)"
        f" — ref r{ref}, floor r{floor}, {len(refreshing)} stale-in-prefix"
        + (f", staged-for-next-round: {sorted(staged)}" if staged else "")
        + (f", STALE OUTSIDE PREFIX: {stale}" if stale else "")
    )
    return {
        "leg": "driver_freshness", "ok": ok, "sec": dt,
        "reference_round": ref, "floor_round": floor,
        "refreshing_in_prefix": refreshing, "stale_outside_prefix": stale,
    }


def leg_leak_grep() -> dict:
    t0 = time.perf_counter()
    pats = {
        "internal-import": r"^\s*(import|from)\s+(anthropic|claude)",
        "internal-url": r"https?://[\w.-]*\b(corp|internal|intranet)\b",
        "internal-bucket": r"\b(s3|gs|abfss?)://(?!bucket|my-|example|your-)[\w.-]+",
        "slack-link": r"slack\.com|app\.slack",
        "api-key": r"(sk-[A-Za-z0-9]{20,}|AKIA[0-9A-Z]{16})",
    }
    hits: dict[str, list[str]] = {k: [] for k in pats}
    targets = [
        p for d in ("api_etl_pipeline_spark", "tests", "tools")
        for p in (REPO / d).rglob("*.py")
    ] + [REPO / "bench.py", REPO / "__spark_entry__.py"]
    for path in targets:
        text = path.read_text(errors="replace")
        for k, pat in pats.items():
            for m in re.finditer(pat, text, flags=re.M):
                hits[k].append(f"{path.relative_to(REPO)}: {m.group(0)[:60]}")
    n = sum(len(v) for v in hits.values())
    dt = round(time.perf_counter() - t0, 1)
    ok = n == 0
    print(f"[{'PASS' if ok else 'FAIL'}] leak grep ({dt}s)"
          + (f" — {n} hits: {hits}" if n else ""))
    return {"leg": "leak_grep", "ok": ok, "sec": dt, "hits": {k: v for k, v in hits.items() if v}}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--bench", action="store_true", help="include the sf0.1 bench leg")
    ap.add_argument("--quick", action="store_true", help="skip the sf0.1 oracle sweep")
    args = ap.parse_args()

    results = []
    results.append(run_leg(
        "pytest sf0.01 full suite", [sys.executable, "-m", "pytest", "tests/", "-q"]
    ))
    if not args.quick:
        results.append(run_leg(
            "sf0.1 oracle sweep",
            [sys.executable, "-m", "pytest", "tests/test_queries_oracle.py", "-q"],
            env={"SPARK_GRAFT_TEST_SF_DIR": "/root/testdata/sf0.1"},
        ))
        # round 8: the DRIVER-CLASS comparison (toPandas vs .df(), sorted
        # string hashing) — the value mirror above compares collected
        # Python objects and provably cannot see pandas-representation
        # divergence (the r07 decimal/date fails). Registry-wide.
        results.append(run_leg(
            "driver-canonicalization sweep sf0.01",
            [sys.executable, "tools/canon_sweep.py"],
        ))
    results.append(leg_plans_fingerprints())
    results.append(leg_scan_audit())
    results.append(leg_driver_freshness())
    results.append(leg_leak_grep())
    results.append(run_leg(
        "bucketed catalog (q18+dd04 exchange drop)",
        [sys.executable, "tools/bucketed_close_leg.py"],
    ))
    if args.bench:
        results.append(run_leg("bench sf0.1", [sys.executable, "bench.py"]))

    ok = all(r["ok"] for r in results)
    print(json.dumps({
        "round_close": "PASS" if ok else "FAIL",
        "legs": [{k: r[k] for k in ("leg", "ok", "sec")} for r in results],
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
