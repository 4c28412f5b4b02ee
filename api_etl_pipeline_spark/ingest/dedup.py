"""Content hashing + idempotent dedup-insert (SURVEY.md S6/S7/J2, X1/X11).

The reference's `INSERT OR IGNORE` on UNIQUE(source_url, sha256)
(storage/db.py:28,76) becomes a left-anti merge: new rows whose key
already exists in the sink are dropped before the append. The blob
store's write-once `<root>/<sha256[:2]>/<sha256>` layout
(storage/blob_store.py:9-14) becomes a hash-prefix partition column.

Scale notes: the anti-join shuffles on the dedup key. The existing
sink is read with its declared columns (`storage.read_sink`), so
planning opens no parquet footers, and column pruning cuts the existing
side down to the two key columns. The new side comes from the run's one
materialized batch (`pipeline.run_offline_ingest`), so the merge does not
re-run the fetch and parse. If the sink is huge, partition it by
`blob_bucket` so the merge prunes to matching prefixes.
With a transactional table format this is `MERGE WHEN NOT MATCHED`; on
plain parquet it is read-project-antijoin-append (non-transactional —
known gap vs SQLite atomicity, SURVEY §7.4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from api_etl_pipeline_spark.ingest.storage import BLOBS_COLUMNS, read_sink

DEDUP_KEYS = ("source_url", "sha256")


def with_sha256(df: DataFrame, src: str = "body", out: str = "sha256") -> DataFrame:
    """X1: sha256 hex digest of the body bytes (downloads.py:23-24) plus
    byte count (A5) — one pass, JVM-side."""
    return df.withColumn(out, F.sha2(F.col(src), 256)).withColumn(
        "bytes", F.length(F.col(src)).cast("long")
    )


def blob_bucket(col: Column) -> Column:
    """X11: 2-hex-char fan-out key (blob_store.py:10)."""
    return F.substring(col, 1, 2)


def dedup_insert(new_rows: DataFrame, existing: DataFrame | None, keys=DEDUP_KEYS) -> DataFrame:
    """J2/S6: rows of `new_rows` whose key tuple is absent from `existing`
    — the INSERT OR IGNORE semantics. Also dedupes within the batch
    itself (first occurrence wins is not defined; any one row per key)."""
    batch_unique = new_rows.dropDuplicates(list(keys))
    if existing is None:
        return batch_unique
    return batch_unique.join(
        existing.select(*keys).dropDuplicates(list(keys)), on=list(keys), how="left_anti"
    )


def write_blobs(df: DataFrame, blob_root: str) -> None:
    """S7: content-addressed blob sink — bytes partitioned by hash prefix.
    Write-once semantics (blob_store.py:12-13: skip existing paths) =
    dedupe within the batch AND against the existing sink before the
    append; the 2-char prefix keeps directory fan-out bounded (256 dirs)
    and aligns file layout with the dedup shuffle partitioning."""
    new = df.select(F.col("sha256"), F.col("body")).dropDuplicates(["sha256"])
    existing = read_sink(new.sparkSession, blob_root, BLOBS_COLUMNS)
    if existing is not None:
        new = new.join(existing.select("sha256"), "sha256", "left_anti")
    (
        new.withColumn("bucket", blob_bucket(F.col("sha256")))
        .write.mode("append")
        .partitionBy("bucket")
        .parquet(blob_root)
    )


def merge_upsert(existing: DataFrame | None, updates: DataFrame, keys=DEDUP_KEYS) -> DataFrame:
    """T5 reconciliation MERGE (batch upsert): rows of `existing` whose key
    appears in `updates` are replaced; everything else is kept. This is
    `MERGE WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT` emulated
    on plain parquet (delete-and-insert; non-transactional — swap for a
    table format's MERGE where available, SURVEY §7.4)."""
    deduped_updates = updates.dropDuplicates(list(keys))
    if existing is None:
        return deduped_updates
    kept = existing.join(deduped_updates.select(*keys), on=list(keys), how="left_anti")
    return kept.unionByName(deduped_updates)


def reconcile_by_hash(
    existing: DataFrame | None, fresh: DataFrame, keys=("source_url",), hash_col: str = "sha256"
) -> DataFrame:
    """T5: the weekly-archive-rebuild reconciliation (dossier :245-252):
    re-read a window, compare content hashes, and upsert only the rows
    whose hash changed or whose key is new — the idempotent re-ingest
    pattern. Returns the merged table; the changed-row subset is what a
    production job would write."""
    if existing is None:
        return fresh.dropDuplicates(list(keys))
    ex = existing.select(*keys, F.col(hash_col).alias("_existing_hash"))
    changed = (
        fresh.join(ex, on=list(keys), how="left")
        .filter(
            F.col("_existing_hash").isNull() | (F.col(hash_col) != F.col("_existing_hash"))
        )
        .drop("_existing_hash")
    )
    return merge_upsert(existing, changed, keys=keys)


# dedup_insert_bloom collects the folded bitmap to the driver; its size
# is m/8 bytes = expected_items*bits_per_item/8, which grows linearly
# with the EXISTING key count — the one driver-side structure in the
# repo with that property (round-5 verdict). Past this cap the bloom
# pre-pass stops paying for itself against driver memory risk, so the
# operator degrades to the plain anti-join instead of OOMing: at a 10^9
# existing-key set the distributed `dedup_insert` anti-join is the right
# plan anyway (one shuffle on the key, no driver state).
BLOOM_MAX_BITMAP_BYTES = 256 << 20


def dedup_insert_bloom(
    new_rows: DataFrame,
    existing: DataFrame | None,
    keys=DEDUP_KEYS,
    expected_items: int = 1_000_000,
    bits_per_item: int = 10,
    n_hashes: int = 5,
    max_bitmap_bytes: int = BLOOM_MAX_BITMAP_BYTES,
) -> DataFrame:
    """S6/J2 at scale: dedup-insert with a Bloom-filter pre-pass
    (SCALE.md). The bloom is BUILT distributively: each existing key
    contributes n_hashes bit positions (seeded xxhash64, JVM-side), the
    positions fold into 64-bit words with a bit_or aggregate, and the
    resulting bitmap (m/64 longs — a few hundred KB) is broadcast. The
    new batch is split without a shuffle: keys whose bits aren't all set
    are DEFINITELY new and insert directly; possible duplicates (true
    dups + ~0.8% false positives at 10 bits/item) take the exact
    anti-join, which settles them. Result ≡ `dedup_insert`; the win is
    anti-join input volume when the batch is large and mostly new.

    The membership probe is an Arrow-batched pandas UDF over the
    broadcast bitmap — position hashing stays JVM-side so Python never
    re-implements the hash.

    Driver-memory bound: the collected bitmap is m/8 bytes; when the
    requested sizing exceeds `max_bitmap_bytes` (default 256 MB, ~2e8
    expected items at 10 bits/item) the function falls back to plain
    `dedup_insert` — identical result, no driver-side state."""
    batch_unique = new_rows.dropDuplicates(list(keys))
    if existing is None:
        return batch_unique

    m = max(64, expected_items * bits_per_item)
    if m // 8 > max_bitmap_bytes:
        return dedup_insert(new_rows, existing, keys=keys)

    def positions():
        return F.array(
            *[
                F.pmod(F.xxhash64(*[F.col(k) for k in keys], F.lit(i)), F.lit(m))
                for i in range(n_hashes)
            ]
        )

    word_rows = (
        existing.select(F.explode(positions()).alias("_pos"))
        .select(
            F.expr("_pos div 64").alias("_word"),
            F.expr("shiftleft(1L, cast(_pos % 64 AS INT))").alias("_bit"),
        )
        .groupBy("_word")
        .agg(F.expr("bit_or(_bit)").alias("_bits"))
        .collect()
    )
    bitmap = {int(r._word): int(r._bit if hasattr(r, "_bit") else r._bits) for r in word_rows}
    sc = new_rows.sparkSession.sparkContext
    bitmap_bc = sc.broadcast(bitmap)

    from pyspark.sql.functions import pandas_udf

    # no type hints: postponed annotations (module-level __future__ import)
    # would stringify them and break pandas_udf signature inference
    def _check_batch(pos_arrays):
        bm = bitmap_bc.value

        def check(ps):
            for p in ps:
                w = bm.get(int(p) // 64, 0)
                if not (w >> (int(p) % 64)) & 1:
                    return False
            return True

        return pos_arrays.map(check)

    _maybe_dup = pandas_udf(_check_batch, "boolean")

    tagged = batch_unique.withColumn("_maybe_dup", _maybe_dup(positions()))
    definite_new = tagged.filter(~F.col("_maybe_dup")).drop("_maybe_dup")
    candidates = tagged.filter(F.col("_maybe_dup")).drop("_maybe_dup")
    settled = candidates.join(
        existing.select(*keys).dropDuplicates(list(keys)), on=list(keys), how="left_anti"
    )
    return definite_new.unionByName(settled)
