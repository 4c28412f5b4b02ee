"""Seeded input generator for the benchmark.

Runs with numpy and pyarrow only, never through the engine, and before
the measured process starts. Two inputs:

- ``analytics``: the star schema plus ``events``/``documents``/
  ``embeddings`` in three copies from different seeds, all multi-file and
  range-clustered on each big table's natural key (the layout ``bench.py``
  prepares): the timed sf0.1 copy, an sf0.1 warm-up copy and an sf0.01
  copy the output checks run on. The tables are a fixed function of
  ``ANALYTICS_SEED``; the run seed only orders the query mix.
- ``ingest``: one fixture root per work item (``sec_edgar`` and
  ``nrc_adams_aps`` alternate) in a fixed pattern of cases (insert, dedup,
  quarantine) whose bodies are drawn from the run seed.

The same seed gives byte-identical files (``tests/test_perfbench.py``).
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ANALYTICS_SEED = 42
N_FILES = 4  # part files per range-clustered table in the sf0.1 layout

VOCAB = (
    "a the data row column table key value query scan join filter sort "
    "group agg hash merge batch stream window vector spark fast slow big "
    "small line part order customer"
).split()
PART_ADJ = "blue red hot new small big cold old".split()
PART_NOUN = "anvil widget bolt rod plate ring gear spring".split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

# big tables and the key their sf0.1 files are range-clustered on
CLUSTER_KEY = {
    "lineitem": "l_shipdate",
    "orders": "o_orderdate",
    "events": "ts",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos : pos + k]))
        pos += k
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    text = _texts(rng, n)
    # a few verbatim repeats, as crawled corpora have
    for i in rng.choice(n, n // 600, replace=False):
        text[i] = text[(i + 1) % n]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )


def star_schema(sf: float, seed: int = ANALYTICS_SEED) -> dict[str, pa.Table]:
    """The ten engine tables at scale factor ``sf`` (TPC-H-like sizes)."""
    rng = np.random.default_rng([seed, int(round(sf * 1000))])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    retail = 900.0 + (np.arange(n_part) % 1000) / 10.0
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
            ),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": retail,
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }
    )
    partkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(partkey, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * (retail[partkey] + rng.uniform(0, 1200, n_li)), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2499, n_li) * _DAY_US),
        }
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n_ev)),
            "user_id": pa.array(rng.integers(0, max(150, n_ev // 66), n_ev), pa.int64()),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(rng, n_doc)
    emb = rng.normal(0.0, 0.1, (n_emb, 64)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return t


def _write(table: pa.Table, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def write_tables(tables: dict[str, pa.Table], out: Path, clustered: bool) -> None:
    """One file per table, or, with ``clustered``, each big table sorted on
    its key and range-split into ``N_FILES`` part files under
    ``<name>.parquet/``."""
    for name, table in tables.items():
        key = CLUSTER_KEY.get(name) if clustered else None
        if key is None:
            _write(table, out / f"{name}.parquet")
            continue
        table = table.sort_by(key)
        bounds = np.linspace(0, table.num_rows, N_FILES + 1).astype(int)
        for i in range(N_FILES):
            part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
            _write(part, out / f"{name}.parquet" / f"part-{i:05d}.parquet")


def analytics_inputs(root: Path) -> tuple[Path, Path, Path]:
    """The timed sf0.1, warm-up sf0.1 and check sf0.01 directories under
    ``root``, generated once: the tables do not depend on the run seed, so
    later runs reuse them while the marker matches this generator's source."""
    tag = hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:16]
    marker = root / "READY"
    timed, warm, check = root / "sf0.1", root / "sf0.1-warm", root / "sf0.01-check"
    if not (marker.exists() and marker.read_text() == tag):
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        write_tables(star_schema(0.1), timed, clustered=True)
        write_tables(star_schema(0.1, ANALYTICS_SEED + 1), warm, clustered=True)
        write_tables(star_schema(0.01), check, clustered=True)
        marker.write_text(tag)
    return timed, warm, check


# ---- ingest -------------------------------------------------------------

PROVIDERS = ("sec_edgar", "nrc_adams_aps")
META_NAME = {"sec_edgar": "submissions.json", "nrc_adams_aps": "search.json"}
BODY_NAME = {"sec_edgar": "artifact.htm", "nrc_adams_aps": "document.pdf"}
# (responses, artifacts, parse_errors) each case must report
EXPECTED = {"insert": (2, 1, 0), "dedup": (2, 0, 0), "quarantine": (1, 0, 1)}
SEC_CIK = 1112233  # the plan's fixed cik10 (ingest.pipeline._default_plan)


@dataclass(frozen=True)
class IngestItem:
    root: str  # fixture root passed to run_offline_ingest
    provider: str
    case: str
    key: tuple[str, str] | None  # (source_url, sha256) of the artifact, if fetched
    body_bytes: int


def _artifact(provider: str, rng: np.random.Generator) -> tuple[bytes, bytes, str]:
    """(metadata json, artifact body, artifact url) of a new filing."""
    n = int(rng.integers(10**9))
    words = " ".join(VOCAB[int(w)] for w in rng.integers(0, len(VOCAB), 200))
    if provider == "sec_edgar":
        acc = f"{SEC_CIK:010d}-25-{n % 1_000_000:06d}"
        doc = f"exmc-{n}.htm"
        meta = {
            "cik": str(SEC_CIK),
            "name": "Example Manufacturing Corp.",
            "filings": {
                "recent": {
                    "accessionNumber": [acc],
                    "primaryDocument": [doc],
                    "filingDate": ["2025-07-15"],
                    "form": ["10-Q"],
                }
            },
        }
        url = f"https://www.sec.gov/Archives/edgar/data/{SEC_CIK}/{acc.replace('-', '')}/{doc}"
        body = f"<html><body>{n} {words}</body></html>".encode()
    else:
        url = f"https://adams-api.nrc.gov/download/ML{n:010d}.pdf"
        meta = {
            "count": 1,
            "pageNumber": 1,
            "results": [{"accessionNumber": f"ML{n:010d}", "score": 0.9, "pdfUrl": url}],
        }
        body = f"%PDF-1.4 {n} {words}".encode()
    return json.dumps(meta, sort_keys=True).encode(), body, url


def _cases(n_blocks: int) -> list[str]:
    """Blocks of four calls (sec, nrc, sec, nrc): two inserts, then a dedup
    and a quarantine, the providers of those two swapping every block.

    The 2:1:1 share is an assumption, not a measured traffic mix: no ingest
    run records exist to take one from. It covers each of the three paths
    in every block; the run prints each case's wall so the throughput can
    be re-weighted to another mix. The order is fixed so every run has the
    same mix; the seed draws the bodies and which earlier body a dedup
    repeats."""
    out: list[str] = []
    for b in range(n_blocks):
        last = ["dedup", "quarantine"] if b % 2 == 0 else ["quarantine", "dedup"]
        out += ["insert", "insert", *last]
    return out


def ingest_inputs(out: Path, seed: int, n_blocks: int) -> list[IngestItem]:
    """One fixture root per call, in call order."""
    rng = np.random.default_rng([seed, 2])
    inserted: dict[str, list[tuple[bytes, bytes, str]]] = {p: [] for p in PROVIDERS}
    items = []
    for i, case in enumerate(_cases(n_blocks)):
        provider = PROVIDERS[i % 2]
        if case == "dedup":
            prev = inserted[provider]
            meta, body, url = prev[int(rng.integers(len(prev)))]
        else:
            meta, body, url = _artifact(provider, rng)
            if case == "insert":
                inserted[provider].append((meta, body, url))
            else:
                meta = b"{}"
        d = out / f"item-{i:04d}" / provider
        d.mkdir(parents=True, exist_ok=True)
        (d / META_NAME[provider]).write_bytes(meta)
        (d / BODY_NAME[provider]).write_bytes(body)
        fetched = case != "quarantine"
        items.append(
            IngestItem(
                root=str(d.parent),
                provider=provider,
                case=case,
                key=(url, hashlib.sha256(body).hexdigest()) if fetched else None,
                body_bytes=len(body) if fetched else 0,
            )
        )
    return items


def tree_digest(root: Path) -> str:
    """sha256 over every file's relative path and bytes under ``root``."""
    h = hashlib.sha256()
    for p in sorted(root.rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


if __name__ == "__main__":  # print the digests of one seed's inputs
    import sys
    import tempfile

    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 0
    with tempfile.TemporaryDirectory(dir=os.getcwd()) as tmp:
        analytics_inputs(Path(tmp) / "analytics")
        ingest_inputs(Path(tmp) / "ingest", seed, 2)
        for sub in ("analytics", "ingest"):
            print(sub, tree_digest(Path(tmp) / sub))
