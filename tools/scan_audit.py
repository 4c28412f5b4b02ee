"""Same-table re-traversal audit: flag queries whose physical plan scans
the SAME big table more than once. Run: python tools/scan_audit.py

Why this matters at 100 TB: when a DataFrame branches (two consumers of
one subtree), Catalyst compiles each consumer independently; column
pruning usually makes the branch subplans non-identical, which defeats
ReusedExchange, so the shared subtree EXECUTES once per branch. Locally
the branches overlap in wall-clock and the waste is invisible — at
cluster scale each extra traversal is a full extra pass of scan +
explode + aggregate cost. Round-4 fixes driven by this audit: decon02
(3 scans → 1), q38 (6 → 1), llm02 (6 → 2), x25 (4 → 3, the exact-MAD
floor).

A repeated scan is NOT automatically a bug — the legitimate classes are
listed in SCALE.md §"Same-table traversal audit" (self-joins, set ops,
correlated-scalar comparisons, multi-phase statistics, split-vs-split
comparisons). The audit exists so every NEW multi-traversal query is a
conscious decision, not an accident.
"""

from __future__ import annotations

import collections
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from api_etl_pipeline_spark.ops.plan_lint import plan_text  # noqa: E402
from api_etl_pipeline_spark.registry import all_queries  # noqa: E402
from api_etl_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
BIG = {"lineitem", "orders", "events", "documents", "embeddings"}


def audit(spark, sf_dir: str = SF_DIR) -> dict[str, dict[str, int]]:
    """{query: {table: n_scans}} for queries scanning a big table >= 2x.
    NOTE: a localCheckpoint boundary truncates the visible plan, so a
    query using one (llm02) under-reports here — its lineage scans are
    counted at checkpoint materialization instead. A query that fails to
    construct raises: skipping it would read as "no repeated scan"."""
    out: dict[str, dict[str, int]] = {}
    for name, spec in all_queries().items():
        p = plan_text(spec.fn(spark, sf_dir))
        tables = re.findall(r"InMemoryFileIndex \[[^\]]*?/(\w+)\.parquet", p)
        c = collections.Counter(t for t in tables if t in BIG)
        rep = {t: n for t, n in c.items() if n >= 2}
        if rep:
            out[name] = rep
    return out


if __name__ == "__main__":
    spark = get_spark("scan-audit")
    result = audit(spark)
    print(f"{len(result)} queries scan a big table >=2x:")
    for name, rep in sorted(result.items(), key=lambda kv: -max(kv[1].values())):
        print(f"  {name}: {rep}")
