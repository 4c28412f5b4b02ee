"""Regenerate PLANS.md — physical-plan fingerprints for every registered
query. Run: python tools/gen_plans.py"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

HEADER = """\
# PLANS — physical-plan fingerprint per registered query

Auto-generated by `ops/plan_lint.summarize_plan` over every registered
query at sf0.001 (plan shapes are scale-invariant; AQE may further
coalesce at runtime). Regenerate with `python tools/gen_plans.py`.

Legend: Exch = shuffle exchanges in the plan; Bcast = broadcast
exchanges; joins BHJ/SMJ/SHJ/BNLJ; aggregates Hash/ObjHash/Sort;
Pushed = non-empty PushedFilters reached a parquet scan; Python =
Arrow-batched Python stages (the only kind allowed — see plan lint).
`(+N ckpt)`: the query checkpoints N subplans (iterative rounds /
reused subtrees); their pre-truncation fingerprints are MERGED into
the row's totals, so checkpointing cannot hide cost from this table.

| query | Exch | Bcast | joins | aggregates | Pushed | Python |
|---|---|---|---|---|---|---|
"""

JOIN_ABBR = {
    "BroadcastHashJoin": "BHJ",
    "SortMergeJoin": "SMJ",
    "ShuffledHashJoin": "SHJ",
    "BroadcastNestedLoopJoin": "BNLJ",
    "CartesianProduct": "CARTESIAN",
}
AGG_ABBR = {
    "HashAggregate": "Hash",
    "ObjectHashAggregate": "ObjectHash",
    "SortAggregate": "Sort",
}
PY_ABBR = {
    "MapInPandas": "MapInPandas",
    "FlatMapGroupsInPandas": "GroupsInPandas",
}


def main() -> None:
    from api_etl_pipeline_spark.checkpoint import checkpoint_observer
    from api_etl_pipeline_spark.ops.plan_lint import plan_text, summarize_plan
    from api_etl_pipeline_spark.registry import all_queries
    from api_etl_pipeline_spark.session import get_spark

    from api_etl_pipeline_spark import _memo

    spark = get_spark("gen-plans")
    rows = []
    for name, spec in sorted(all_queries().items()):
        # checkpoint-aware (round-5 advice): lineage truncation REPLACES
        # checkpointed subtrees with an RDD scan, so an iterative query's
        # final plan under-reports (gr01/gr02 showed 0 exchanges, hh01
        # lost its MapInPandas stage). Capture every pre-checkpoint plan
        # and MERGE its fingerprint into the row; `+N ckpt` marks how
        # many checkpointed subplans the totals include.
        # r14: clear the session construction memos before EVERY query so
        # each row fingerprints the query's full COLD construction — with
        # warm shared builds (lsh_bands, dd04_components, bpe_train, …)
        # the subtree would be captured only under whichever consumer
        # happens to construct first, making rows order-dependent and
        # letting sharing hide cost from this table.
        _memo._MEMO.clear()
        captured: list[str] = []
        with checkpoint_observer(lambda df: captured.append(plan_text(df))):
            final_plan = plan_text(spec.fn(spark, "/root/testdata/sf0.001"))
        s = summarize_plan(final_plan)
        for sub in map(summarize_plan, captured):
            s["exchanges"] += sub["exchanges"]
            s["broadcasts"] += sub["broadcasts"]
            s["joins"] = sorted(set(s["joins"]) | set(sub["joins"]))
            s["aggregates"] = sorted(set(s["aggregates"]) | set(sub["aggregates"]))
            s["python_stages"] = sorted(
                set(s["python_stages"]) | set(sub["python_stages"])
            )
            s["pushed_filters"] = s["pushed_filters"] or sub["pushed_filters"]
        joins = ",".join(JOIN_ABBR.get(j, j) for j in s["joins"]) or "—"
        aggs = ",".join(AGG_ABBR.get(a, a) for a in s["aggregates"]) or "—"
        py = ",".join(
            PY_ABBR.get(p, p.replace("ArrowEvalPython", "ArrowEval"))
            for p in s["python_stages"]
        ) or "—"
        pushed = "yes" if s["pushed_filters"] else "—"
        exch = f"{s['exchanges']}"
        if captured:
            exch += f" (+{len(captured)} ckpt)"
        rows.append(
            f"| {name} | {exch} | {s['broadcasts']} | {joins} | "
            f"{aggs} | {pushed} | {py} |"
        )
    (REPO / "PLANS.md").write_text(HEADER + "\n".join(rows) + "\n")
    print(f"wrote PLANS.md with {len(rows)} queries")


if __name__ == "__main__":
    main()
