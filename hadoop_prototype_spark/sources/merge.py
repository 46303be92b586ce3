"""Copy-on-write MERGE (upsert) and DELETE over a parquet directory.

The lakehouse write path a 100 TB fact table needs: apply a batch of
upserts WITHOUT rewriting the table. Per-file min/max stats on the merge
key identify the files an update batch can possibly touch; only those
are rewritten, everything else is untouched bytes. This is the
DBOutputFormat-era "load into the serving store" problem
(MR lib/db/DBOutputFormat.java:50) re-solved for object-store tables.

Scale shape:
- file key ranges come from the table MANIFEST (sources/manifest.py) —
  one tiny metadata file, incrementally maintained across merges, so the
  steady-state merge/delete does ZERO per-data-file footer reads (the
  round-6 review's 100k-files bottleneck). Footers are read only to
  bootstrap a manifest-less table and for each swap's newly written
  files;
- affected-file selection is a broadcast interval join of the file
  ranges against every update key (no key-side distinct; only the hit
  file names are deduplicated) — the update batch is never collected.
  The range frame reaches Spark as an Arrow table, so the probe starts
  no Python worker of the engine's own;
- each verb evaluates its source once (snapshots.materialize_source):
  the probe job fills a lazy local checkpoint and the rewrite reads it
  back, so both see the same rows and no job is added. A deterministic
  file-scan source is never copied;
- the rewrite reads only affected files and full-outer-joins them with
  the updates (update wins per column), then swaps files in;
- row counts in the report (rows_after / rows_deleted) are manifest
  num_rows sums — metadata, not a table scan.

Swap-in is write-new-then-delete-old; sources/snapshots.py layers the
transaction log on top (snapshot isolation, time travel, optimistic
concurrency) and reuses this module's pruning + upsert machinery — use
it when readers run concurrently with writers. The manifest is
staleness-safe:
out-of-band writes make it mismatch the live listing and it silently
falls back to footers and rebuilds.
"""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StringType, StructField, StructType

from . import manifest as mf


def _affected_files(
    spark: SparkSession,
    ranges: list[tuple[str, object, object, int]],
    key_batch: DataFrame,
    key_col: str,
) -> list[str]:
    """Files whose key range can contain one of the batch's keys.

    The file-range frame is a pyarrow Table under an explicit typed
    schema (file + the key column's own type), so Spark receives it as
    local rows over its Arrow path and no Python worker starts; the
    typed schema also carries the all-None bounds of files written
    without statistics, which inference would reject. Such a file with
    rows could hold any key: its NULL bounds match every batch row, so
    it is selected exactly when the batch is non-empty, inside the same
    probe job. A zero-row file (committers write them for empty
    partitions) holds no key and is never selected."""
    key_type = key_batch.schema[key_col].dataType
    cols: dict[str, list] = {"_file": [], "_lo": [], "_hi": []}
    for f, lo, hi, n, *_ in ranges:
        if lo is None or hi is None:
            if n == 0:
                continue
            lo = hi = None
        cols["_file"].append(f)
        cols["_lo"].append(lo)
        cols["_hi"].append(hi)
    schema = StructType(
        [
            StructField("_file", StringType()),
            StructField("_lo", key_type),
            StructField("_hi", key_type),
        ]
    )
    ranges_df = spark.createDataFrame(
        pa.Table.from_pydict(cols, schema=to_arrow_schema(schema)), schema
    )
    k = F.col("_k")
    # no key-side distinct: the interval join is a broadcast compare, so
    # deduping only the (tiny) _file output needs ONE exchange instead of
    # two — the batch-sized distinct shuffle was a whole extra AQE stage
    # (= an extra Spark job) per verb (r16 opt)
    hit = (
        key_batch.select(F.col(key_col).alias("_k"))
        .join(
            F.broadcast(ranges_df),
            F.col("_lo").isNull() | ((k >= F.col("_lo")) & (k <= F.col("_hi"))),
        )
        .select("_file")
        .distinct()
        .collect()
    )
    return sorted(r._file for r in hit)


def _other_key_priors(
    target_path: str, key_col: str, files: list[str]
) -> dict[str, list[tuple[str, object, object, int]]]:
    """Fresh manifest entries for every OTHER manifested key column (e.g.
    a zorder_write table clusters on several), so the post-swap refresh
    keeps them all current instead of silently stranding them on the
    pre-swap file set. A stale/absent manifest is skipped — its next
    consumer bootstraps from footers exactly as before."""
    if not files:
        return {}
    out = {}
    for k in mf.manifest_keys(target_path):
        if k == key_col:
            continue
        entries = mf.read_manifest(target_path, k, files)
        if entries is not None:
            out[k] = entries
    return out


def _swap_in(
    target_path: str, staging: str, affected: list[str], prefix: str
) -> list[str]:
    """write-new-then-delete-old: remove the rewritten originals, move the
    staged parts in. Returns the moved-in file paths."""
    for f in affected:
        os.remove(f)
    added = []
    for f in glob.glob(os.path.join(staging, "*.parquet")):
        dst = os.path.join(target_path, prefix + os.path.basename(f))
        os.rename(f, dst)
        added.append(dst)
    shutil.rmtree(staging, ignore_errors=True)
    return added


def apply_upsert(
    base: DataFrame, upd: DataFrame, cols: list[str], key_col: str
) -> DataFrame:
    """The CoW upsert frame: full-outer join on the key, update columns
    win where present (shared by merge_into and snapshots.merge_into)."""
    u = upd.select(
        F.col(key_col), *[F.col(c).alias(f"_u_{c}") for c in cols if c != key_col]
    )
    return (
        base.join(u, key_col, "full")
        .select(
            key_col,
            *[
                F.coalesce(F.col(f"_u_{c}"), F.col(c)).alias(c)
                for c in cols
                if c != key_col
            ],
        )
        .select(*cols)
    )


def merge_into(
    spark: SparkSession, target_path: str, updates: DataFrame, key_col: str
) -> dict:
    """Upsert ``updates`` into the parquet table at ``target_path`` by
    ``key_col``; update rows replace matching keys, unmatched keys insert.
    Returns {"files_total", "files_rewritten", "rows_after"}."""
    from .snapshots import materialize_source  # snapshots imports this module

    updates = materialize_source(updates)
    files = sorted(glob.glob(os.path.join(target_path, "*.parquet")))
    prior = mf.key_ranges(target_path, key_col, files) if files else []
    other_priors = _other_key_priors(target_path, key_col, files)
    affected = _affected_files(spark, prior, updates, key_col) if files else []

    cols = spark.read.parquet(target_path).columns
    upd = updates.select(*cols)
    if affected:
        merged = apply_upsert(spark.read.parquet(*affected), upd, cols, key_col)
    else:
        merged = upd
    staging = os.path.join(target_path, "_merge_staging")
    merged.write.mode("overwrite").parquet(staging)
    added = _swap_in(target_path, staging, affected, "merged-")
    entries = mf.refresh_after_swap_multi(
        target_path, {key_col: prior, **other_priors}, affected, added
    )[key_col]
    return {
        "files_total": len(files),
        "files_rewritten": len(affected),
        "rows_after": sum(e[3] for e in entries),
    }


def delete_from(
    spark: SparkSession, target_path: str, delete_keys: DataFrame, key_col: str
) -> dict:
    """Targeted copy-on-write DELETE (the GDPR/right-to-erasure write
    path): remove every row whose ``key_col`` appears in ``delete_keys``,
    rewriting ONLY the files whose key-range can contain one of the keys —
    the same pruning machinery as merge_into, with a left-anti join
    instead of the upsert merge.

    Returns {"files_total", "files_rewritten", "rows_deleted",
    "rows_after"} — all row counts are manifest metadata sums, never a
    table scan. Same swap-in caveat as merge_into."""
    from .snapshots import materialize_source  # snapshots imports this module

    delete_keys = materialize_source(delete_keys)
    files = sorted(glob.glob(os.path.join(target_path, "*.parquet")))
    if not files:
        # empty/nonexistent target: nothing to delete (and an empty
        # createDataFrame without a schema would raise before the old
        # guard could run)
        return {
            "files_total": 0,
            "files_rewritten": 0,
            "rows_deleted": 0,
            "rows_after": 0,
        }
    prior = mf.key_ranges(target_path, key_col, files)
    other_priors = _other_key_priors(target_path, key_col, files)
    affected = _affected_files(spark, prior, delete_keys, key_col)
    if not affected:
        return {
            "files_total": len(files),
            "files_rewritten": 0,
            "rows_deleted": 0,
            "rows_after": sum(e[3] for e in prior),
        }
    aff = set(affected)
    n_before = sum(e[3] for e in prior if e[0] in aff)
    base = spark.read.parquet(*affected)
    kept = base.join(
        delete_keys.select(F.col(key_col)).distinct(), key_col, "left_anti"
    )
    staging = os.path.join(target_path, "_delete_staging")
    kept.write.mode("overwrite").parquet(staging)
    added = _swap_in(target_path, staging, affected, "kept-")
    entries = mf.refresh_after_swap_multi(
        target_path, {key_col: prior, **other_priors}, affected, added
    )[key_col]
    added_names = {os.path.basename(f) for f in added}
    n_kept = sum(e[3] for e in entries if os.path.basename(e[0]) in added_names)
    return {
        "files_total": len(files),
        "files_rewritten": len(affected),
        "rows_deleted": n_before - n_kept,
        "rows_after": sum(e[3] for e in entries),
    }
