"""Snapshot isolation + time travel for copy-on-write parquet tables —
the transaction-log layer merge.py's docstring defers ("a real deployment
wraps the swap in a transaction log"). Engine extension; the lakehouse
counterpart of the reference's HDFS-rename commit discipline
(FileOutputCommitter's rename-into-place, mapreduce/lib/output/
FileOutputCommitter.java:61), promoted from task level to table level.

Layout: data files live flat in ``<table>/`` with a ``v{N}-`` name prefix;
``<table>/_snapshots/v{N:08d}.json`` is a FULL snapshot — the file list
of version N, each file carrying (num_rows, key min/max) — so:

- **readers resolve a version to an exact file list** and scan only those
  files: a concurrent merge/delete can neither change a running scan nor
  double-count. The directory listing is NOT the table — read via
  ``read_table`` (this is the Delta/Iceberg contract);
- **writers never delete** — they add files and commit a new snapshot;
  obsolete files are reclaimed only by ``vacuum``. Any crash before the
  commit leaves unreferenced files that vacuum sweeps; the table is
  never in a half-written state;
- **commits are atomic and optimistic**: the entry is written to a tmp
  name, fsynced, then ``os.link``-ed to its final name — link fails with
  EEXIST when a concurrent writer won the version, so exactly one commit
  per version succeeds (POSIX guarantee) and the loser raises
  ConflictError to retry against the new snapshot;
- **stats live in the log** (Delta's add-file stats): each NEW file gets
  one footer read at commit time; carried-forward files keep their
  recorded stats — zero steady-state footer reads, the manifest.py
  property, versioned. Merge/delete pruning reuses merge._affected_files
  over the snapshot's ranges;
- **deletes can be merge-on-read** (``delete_from_mor`` — the Delta
  deletion-vector contract): suppressed (file, key) pairs live in small
  sidecar parquets under ``<table>/_dvs/``, referenced per file entry as
  ``dv`` names + an exact ``ndel`` count, so a scattered small delete
  writes O(deleted keys) bytes instead of rewriting whole files. Readers
  anti-join the vectors per (file, key); any rewrite of an affected file
  (merge / CoW delete / optimize) materializes them away; vacuum
  reference-counts vector files exactly like data files.

Key columns must JSON-round-trip (int/string — the fixture's key types);
date/timestamp keys would need a typed codec in the entry format.
"""

from __future__ import annotations

import glob
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import manifest as mf
from . import merge as mg
from . import spec_transforms as tf

_SNAP_DIR = "_snapshots"
_DV_DIR = "_dvs"


class ConflictError(RuntimeError):
    """A concurrent writer committed this version first; re-read and retry."""


class ConstraintViolation(ValueError):
    """A write's rows violate the table's CHECK constraints; nothing was
    committed. ``violations`` maps constraint name → violating-row count."""

    def __init__(self, msg: str, violations: dict[str, int]):
        super().__init__(msg)
        self.violations = violations


def _snap_dir(path: str) -> str:
    return os.path.join(path, _SNAP_DIR)


def _entry_path(path: str, version: int) -> str:
    return os.path.join(_snap_dir(path), f"v{version:08d}.json")


def current_version(path: str) -> int:
    d = _snap_dir(path)
    if not os.path.isdir(d):
        return 0
    versions = [
        int(os.path.basename(f)[1:9])
        for f in glob.glob(os.path.join(d, "v????????.json"))
    ]
    return max(versions, default=0)


# Delta-log cadence (round-10): a full O(table-files) snapshot entry per
# commit is the Delta/Iceberg scaling wall — at 100k files × frequent
# commits the LOG outweighs the metadata it describes. Commits now
# persist a DELTA entry ({added, removed}: changed-slice-sized) and a
# FULL checkpoint entry every _CHECKPOINT_EVERY versions (plus v1 and a
# rewritten checkpoint at vacuum's retention cutoff), so reconstruction
# walks back ≤ _CHECKPOINT_EVERY entries and commit bytes track the
# WRITE size, never the table. Old all-full logs read unchanged.
_CHECKPOINT_EVERY = 16


def _read_raw(path: str, version: int) -> dict:
    p = _entry_path(path, version)
    if not os.path.exists(p):
        raise FileNotFoundError(
            f"snapshot v{version} of {path} does not exist (vacuumed or never written)"
        )
    with open(p) as f:
        return json.load(f)


def _apply_delta(files: dict, delta: dict) -> None:
    for n in delta["removed"]:
        files.pop(n, None)
    for fe in delta["added"]:
        files[fe["name"]] = fe


# Per-version TABLE METADATA riding on every log entry (the Delta rule:
# the log, not the data, owns schema and invariants): the logical schema
# (present once the table has evolved), the CHECK-constraint map, the
# logical→physical column mapping (present once a rename/drop upgraded
# the table — see rename_column), and the partition spec (columns every
# write clusters on and records per-file stats for — see create_table's
# partition_by). Every commit path carries all of them forward through
# _copy_meta; adding a key here propagates it through delta
# reconstruction, vacuum's checkpoint rewrite, restore and clone.
_META_KEYS = ("schema_json", "constraints", "column_mapping",
              "partition_spec", "bloom_cols")


def _copy_meta(dst: dict, src: dict) -> None:
    for k in _META_KEYS:
        if src.get(k):
            dst[k] = src[k]


def _read_entry(path: str, version: int) -> dict:
    """The FULL snapshot dict for ``version`` — directly for a checkpoint
    entry, else reconstructed by walking back to the nearest checkpoint
    and replaying the deltas forward (≤ _CHECKPOINT_EVERY raw reads).
    The _META_KEYS (schema, constraints, column mapping) are per-version
    state carried on every entry, so the raw entry at ``version`` is
    authoritative for them."""
    raw = _read_raw(path, version)
    if "files" in raw:
        return raw
    chain = [raw]
    v = version - 1
    while True:
        e = _read_raw(path, v)
        if "files" in e:
            base = e
            break
        chain.append(e)
        v -= 1
    files = {fe["name"]: fe for fe in base["files"]}
    for d in reversed(chain):
        _apply_delta(files, d)
    out = {
        "version": version,
        "op": raw["op"],
        "key_col": raw["key_col"],
        "files": sorted(files.values(), key=lambda fe: fe["name"]),
    }
    _copy_meta(out, raw)
    return out


def _rewrite_entry(path: str, version: int, entry: dict) -> None:
    """Atomically REPLACE an existing log entry (tmp + fsync + os.replace —
    the same durability discipline as ``_commit``, but replace semantics:
    vacuum's checkpoint-at-cutoff rewrite targets a version that already
    exists, so the EEXIST-link commit path does not apply). Concurrent
    vacuums race benignly: both compute the same full snapshot for the
    same cutoff, and os.replace is atomic, so readers see one of two
    byte-equivalent entries."""
    d = _snap_dir(path)
    tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump(entry, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, _entry_path(path, version))


def _commit(path: str, version: int, entry: dict) -> None:
    import time

    d = _snap_dir(path)
    os.makedirs(d, exist_ok=True)
    # commit wall time rides in the entry (Delta's commit timestamp) so
    # timestamp time travel resolves from the log, not file mtimes;
    # callers replaying a preserved entry (restore uses a FRESH dict, so
    # it gets a fresh ts) may pass their own
    entry = dict(entry)
    entry.setdefault("ts", time.time())
    tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump(entry, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, _entry_path(path, version))
    except FileExistsError:
        raise ConflictError(
            f"version {version} of {path} was committed concurrently"
        ) from None
    finally:
        os.unlink(tmp)


def _write_staging(df: DataFrame, base: dict | None, staging: str) -> None:
    """The ONE staging write every DataFrame verb funnels through: apply
    the table's declared bloom-filter columns (the Delta
    ``delta.bloomFilter.columns`` table property — sources/bloom.py's
    parquet row-group blooms, here keyed by the log) under their
    PHYSICAL names, so every file written after ``set_bloom_columns``
    carries scan-consultable blooms for hash-distributed point lookups
    that min/max stats cannot prune."""
    w = df.write.mode("overwrite")
    for c, ndv in ((base or {}).get("bloom_cols") or {}).items():
        pc = _phys(base, c)
        w = w.option(f"parquet.bloom.filter.enabled#{pc}", "true")
        if ndv:
            w = w.option(f"parquet.bloom.filter.expected.ndv#{pc}", str(ndv))
    w.parquet(staging)


def set_bloom_columns(
    spark: SparkSession, path: str, cols: dict[str, int | None]
) -> dict:
    """Declare bloom-filter columns as TABLE METADATA (log-only commit —
    the Delta bloom-index contract): every LATER write (append, merge,
    delete rewrite, optimize) adds parquet row-group bloom filters for
    these columns; equality scans then prune row groups for absent
    values even on hash-distributed columns where min/max stats are
    useless. Existing files gain blooms as rewrites touch them — run
    ``optimize`` to backfill eagerly. ``cols`` maps column → expected
    NDV (None = parquet default sizing). Logical names; renames follow,
    dropping a bloom column simply drops it from the map."""
    base = _read_entry(path, current_version(path))
    schema = _logical_schema(spark, path, base)
    names = {f.name for f in schema.fields}
    missing = sorted(set(cols) - names)
    if missing:
        raise ValueError(f"bloom columns {missing} not in the table schema")
    merged = dict(base.get("bloom_cols") or {})
    merged.update({c: (int(n) if n else None) for c, n in cols.items()})
    version = base["version"] + 1
    entry = {
        "version": version,
        "op": "set_bloom_columns",
        "key_col": base["key_col"],
        "files": base["files"],
    }
    _copy_meta(entry, base)
    entry["bloom_cols"] = merged
    _commit(path, version, entry)
    return {"version": version, "bloom_cols": sorted(merged)}


def _move_staged_in(path: str, staging: str, version: int) -> list[str]:
    moved = []
    for f in sorted(glob.glob(os.path.join(staging, "*.parquet"))):
        dst = os.path.join(path, f"v{version}-{os.path.basename(f)}")
        os.rename(f, dst)
        moved.append(dst)
    import shutil

    shutil.rmtree(staging, ignore_errors=True)
    return moved


def _file_entries(
    files: list[str], key_col: str, stat_cols: list[str] | None = None,
    transforms: list[tuple[str, "tf.SpecItem", str]] | None = None,
) -> list[dict]:
    """Log entries for NEW files: key min/max + num_rows from one footer
    pass. ``stat_cols`` (Z-order writes) records additional per-column
    [min, max] under ``stats`` — same single pass
    (footer_key_ranges_multi), so multi-dimension pruning stats cost
    nothing extra at commit time.

    ``transforms`` — (stat_key, SpecItem, physical_source_col) triples
    for the spec's TRANSFORM entries — records the TRANSFORMED per-file
    range under ``stat_key``: order-preserving transforms fold the
    source column's footer [min, max] through the driver-side transform
    (free, and JSON-safe even when the source is a timestamp the log
    cannot carry raw); bucket transforms run one grouped min/max scan of
    the new files (hash order is not derivable from footers).

    A file with no non-NULL value for a column (all NULL, or zero rows)
    records the null range ``[None, None]`` for it: nothing to prune by,
    but the key is present, so optimize counts the file as written
    under the spec and does not migrate it again."""
    transforms = transforms or []
    if not stat_cols and not transforms:
        return [
            {"name": os.path.basename(f), "num_rows": n, "min": lo, "max": hi}
            for f, lo, hi, n, *_ in mf.footer_key_ranges(files, key_col)
        ]
    src_cols = [c for _, it, c in transforms if it.order_preserving]
    cols = [key_col] + [
        c for c in dict.fromkeys([*(stat_cols or []), *src_cols])
        if c != key_col
    ]
    multi = mf.footer_key_ranges_multi(files, cols)
    by_src = {c: multi[c] for c in cols}
    out = []
    for i, (f, lo, hi, n, *_) in enumerate(multi[key_col]):
        fe = {"name": os.path.basename(f), "num_rows": n, "min": lo, "max": hi}
        st = {}
        for c in (stat_cols or []):
            if c == key_col:
                continue
            _, clo, chi, *_rest = by_src[c][i]
            st[c] = [clo, chi]
        for sk, it, c in transforms:
            if not it.order_preserving:
                continue
            _, clo, chi, *_rest = by_src[c][i]
            st[sk] = (
                [None, None] if clo is None
                else [it.transform_py(clo), it.transform_py(chi)]
            )
        if st:
            fe["stats"] = st
        out.append(fe)
    buckets = [(sk, it, c) for sk, it, c in transforms
               if not it.order_preserving]
    if buckets and files:
        sp = SparkSession.getActiveSession()
        if sp is not None:
            aggs = []
            for j, (sk, it, c) in enumerate(buckets):
                e = it.expr_sql(c)
                aggs.append(F.min(F.expr(e)).alias(f"_lo{j}"))
                aggs.append(F.max(F.expr(e)).alias(f"_hi{j}"))
            rows = (
                sp.read.parquet(*files)
                .groupBy(F.input_file_name().alias("_f"))
                .agg(*aggs)
                .collect()
            )
            by_name = {os.path.basename(r["_f"]): r for r in rows}
            for fe in out:
                r = by_name.get(fe["name"])  # None: zero-row file
                st = fe.setdefault("stats", {})
                for j, (sk, it, c) in enumerate(buckets):
                    st[sk] = (
                        [None, None] if r is None
                        else [r[f"_lo{j}"], r[f"_hi{j}"]]
                    )
    return out


def _ranges(path: str, entry: dict) -> list[tuple[str, object, object, int]]:
    return [
        (os.path.join(path, e["name"]), e["min"], e["max"], e["num_rows"])
        for e in entry["files"]
    ]


def _spec_stat_plan(
    base: dict | None, spec: list[str] | None
) -> tuple[list[str], list[tuple[str, "tf.SpecItem", str]]]:
    """Split a partition spec into the stats plan _file_entries needs:
    (identity physical columns, (stat_key, item, physical_source_col)
    triples for the transform entries). Stat keys render the transform
    over the PHYSICAL column name, so stats stay valid across renames
    (the log's spec keeps logical names; lookup re-renders)."""
    idents: list[str] = []
    trans: list[tuple[str, tf.SpecItem, str]] = []
    for item in tf.parse_spec(spec):
        phys = _phys(base, item.col) if base else item.col
        if item.is_identity:
            idents.append(phys)
        else:
            trans.append((item.render(phys), item, phys))
    return idents, trans


def _cluster_cols(spec: list[str] | None, df: DataFrame) -> list:
    """The Columns every partitioned write range-clusters on: identity
    spec entries as-is, transform entries as their SQL expression over
    the LOGICAL column (clustering happens before _to_physical)."""
    from pyspark.sql.types import StringType

    out = []
    for item in tf.parse_spec(spec):
        if item.is_identity:
            out.append(F.col(item.col))
        else:
            string = isinstance(df.schema[item.col].dataType, StringType)
            out.append(F.expr(item.expr_sql(string=string)))
    return out


def _spec_source_cols(spec: list[str] | None) -> list[str]:
    return [item.col for item in tf.parse_spec(spec)]


def create_table(
    df: DataFrame, path: str, key_col: str, txn: dict | None = None,
    partition_by: list[str] | None = None,
    partition_files: int | None = None,
    bloom_filters: dict[str, int | None] | None = None,
) -> int:
    """Write ``df`` as version 1 of a snapshot table. Returns the version.
    ``txn`` is the same idempotency marker _commit_rewrite documents.

    ``partition_by`` records a PARTITION SPEC in the log (per-version
    metadata like the schema): every write — this one and all later
    appends/rewrites — clusters its files on the spec columns and
    records their per-file [min, max] in the log, so an equality probe
    (``read_table_where``) or range read file-skips straight from the
    manifest. Files stay FLAT (the Iceberg manifest model, not Hive
    dirs): partition values live in the log entries, which keeps the
    spec orthogonal to column mapping (no logical names baked into
    paths), deletion vectors (no basename ambiguity) and every existing
    verb — a 'partitioned' table is a clustering + stats contract, not a
    directory layout."""
    if current_version(path) != 0:
        raise ValueError(f"{path} already has a snapshot log")
    spec = [tf.canon(s) for s in partition_by] if partition_by else None
    if spec:
        missing = [c for c in _spec_source_cols(spec) if c not in df.columns]
        if missing:
            raise ValueError(f"partition_by columns {missing} not in the data")
        # RANGE clustering on (spec…, key): each file covers a contiguous
        # slice of partition values (transform entries cluster on the
        # TRANSFORMED value, e.g. the day id of a raw timestamp), so the
        # recorded [min, max] per file is tight — a hash layout would
        # give every file a scattered value set whose range spans most of
        # the table. ``partition_files`` pins the file count; default
        # lets Spark/AQE size by data.
        parts = [partition_files] if partition_files else []
        ccols = _cluster_cols(spec, df)
        df = df.repartitionByRange(*parts, *ccols, key_col).sortWithinPartitions(
            *ccols, key_col
        )
    os.makedirs(path, exist_ok=True)
    staging = os.path.join(path, f"_snap_staging-{uuid.uuid4().hex}")
    blooms = (
        {c: (int(n) if n else None) for c, n in bloom_filters.items()}
        if bloom_filters
        else None
    )
    _write_staging(df, {"bloom_cols": blooms} if blooms else None, staging)
    moved = _move_staged_in(path, staging, 1)
    idents, trans = _spec_stat_plan(None, spec)
    # pin the schema in the log from v1 on (nullable, matching what
    # parquet inference would return): every later read_table/_files_df
    # takes the schema_json branch instead of firing a one-task parquet
    # schema-inference job — r16 opt, ~1-3 such jobs per snapshot VERB
    # (the read for the update frame, the affected-file subset read, the
    # staging validation) at ~0.1 s fixed cost each locally, and a
    # footer-sampling pass at scale
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [StructField(f.name, f.dataType, True) for f in df.schema.fields]
    )
    entry = {"version": 1, "op": "create", "key_col": key_col,
             "files": _file_entries(moved, key_col, stat_cols=idents,
                                    transforms=trans),
             "schema_json": json.dumps(schema.jsonValue())}
    if spec:
        entry["partition_spec"] = spec
    if blooms:
        entry["bloom_cols"] = blooms
    if txn is not None:
        entry["txn"] = txn
    _commit(path, 1, entry)
    return 1


def _mapping_of(entry: dict) -> dict[str, str]:
    """The entry's logical→physical column map ({} for pre-mapping
    tables, where physical names ARE the logical names)."""
    return entry.get("column_mapping") or {}


def _phys(entry: dict, col: str) -> str:
    """The physical (in-file) name of logical column ``col``."""
    return _mapping_of(entry).get(col, col)


def _is_identity_mapping(entry: dict) -> bool:
    return all(k == v for k, v in _mapping_of(entry).items())


def _to_physical(df: DataFrame, entry: dict) -> DataFrame:
    """Rename a LOGICAL frame to the table's PHYSICAL column names before
    a staging write — data files always store physical names, so every
    file in a mapped table stays readable under any later logical schema
    (the Delta column-mapping write rule). No-op for unmapped tables."""
    m = _mapping_of(entry)
    if not m or all(m.get(c, c) == c for c in df.columns):
        return df
    return df.select(*[F.col(c).alias(m.get(c, c)) for c in df.columns])


def _files_df(spark: SparkSession, entry: dict, files: list[str]) -> DataFrame:
    """Read data files under the entry's LOG-PINNED schema when the table
    has evolved (add_columns): columns absent from older physical files
    come back as nulls, and no read ever depends on which file's footer
    Spark happens to sample — the Delta rule that the log, not the data,
    owns the schema. Pre-evolution tables read with plain inference,
    byte-for-byte the old behavior.

    With a column mapping (rename_column/drop_column upgraded the table),
    files are read under the PHYSICAL schema — each logical field looked
    up by its log-pinned physical name — then aliased back to the
    entry's logical names: a renamed column keeps reading the old files'
    bytes (physical name never changes), a dropped-then-readded column
    reads NULL from old files (fresh physical name cannot collide)."""
    if "schema_json" in entry:
        from pyspark.sql.types import StructField, StructType

        schema = StructType.fromJson(json.loads(entry["schema_json"]))
        m = _mapping_of(entry)
        if m and any(m.get(f.name, f.name) != f.name for f in schema.fields):
            phys = StructType(
                [
                    StructField(m.get(f.name, f.name), f.dataType, f.nullable)
                    for f in schema.fields
                ]
            )
            return spark.read.schema(phys).parquet(*files).select(
                *[
                    F.col(m.get(f.name, f.name)).alias(f.name)
                    for f in schema.fields
                ]
            )
        return spark.read.schema(schema).parquet(*files)
    return spark.read.parquet(*files)


def _dv_dir(path: str) -> str:
    return os.path.join(path, _DV_DIR)


def _live_rows(files: list[dict]) -> int:
    """Row count net of deletion vectors — the accounting every verb
    reports. ``ndel`` is maintained exactly (a MoR delete counts the LIVE
    rows it suppresses per file), so num_rows - ndel is the true row
    count without reading any data."""
    return sum(fe["num_rows"] - fe.get("ndel", 0) for fe in files)


def _subset_df(
    spark: SparkSession,
    path: str,
    entry: dict,
    names: list[str] | set[str],
    dv_entry: dict | None = None,
    keep_file_col: bool = False,
) -> DataFrame:
    """Read the named data files of a snapshot WITH deletion vectors
    applied — the merge-on-read half of the read path. Suppression is a
    per-(file, key) anti-join, NOT a global key anti-join: a key deleted
    from an old file and later re-inserted into a new one must come back,
    so the DV row (file, key) only masks the file it was recorded against.
    DV-free reads return the bare scan — zero overhead (no join in the
    plan) for tables that never used MoR deletes.

    ``dv_entry`` lets CDC read a file subset under one entry's SCHEMA
    (``entry``) but another entry's DV state — the before-side of a
    DV-only transition reads with the OLD version's (smaller) vectors."""
    dv_src = entry if dv_entry is None else dv_entry
    nameset = set(names)
    files = [os.path.join(path, n) for n in sorted(nameset)]
    df = _files_df(spark, entry, files)
    dvs = sorted(
        {
            d
            for fe in dv_src["files"]
            if fe["name"] in nameset
            for d in fe.get("dv", ())
        }
    )
    if keep_file_col or dvs:
        # captured ON THE SCAN: input_file_name() is only valid before any
        # shuffle, so the file column must exist before the anti-join
        df = df.withColumn(
            "_dv_file", F.element_at(F.split(F.input_file_name(), "/"), -1)
        )
    if not dvs:
        return df
    # DV sidecars store the PHYSICAL key name (stable across renames, so
    # vectors written before and after a rename read as one uniform set);
    # alias back to the SCHEMA entry's logical name for the anti-join —
    # dv_src may be an older version whose logical key name differs
    key = entry["key_col"]
    pkey = _phys(dv_src, dv_src["key_col"])
    sup = spark.read.parquet(
        *[os.path.join(_dv_dir(path), d) for d in dvs]
    ).select("_dv_file", F.col(pkey).alias(key))
    out = df.join(sup, ["_dv_file", key], "left_anti")
    return out if keep_file_col else out.drop("_dv_file")


def _file_identity(fe: dict) -> tuple:
    """What makes a file's CONTENTS distinct across versions: its name
    plus its deletion-vector state. A DV-only commit changes no data file
    bytes, but the file's live rows changed — CDC and scd2 diff on this
    identity so merge-on-read deletes surface exactly like rewrites."""
    return (fe["name"], tuple(sorted(fe.get("dv", ()))), fe.get("ndel", 0))


def version_at_timestamp(path: str, ts: float) -> int:
    """Newest retained version committed at or before ``ts`` — the Delta
    timestamp-time-travel rule. Commit times come from the log entries
    (pre-feature entries fall back to the log file's mtime). Raises when
    ``ts`` predates the oldest retained commit (vacuumed history cannot
    be resolved silently to something newer)."""
    best: int | None = None
    for p in sorted(glob.glob(os.path.join(_snap_dir(path), "v????????.json"))):
        with open(p) as f:
            e = json.load(f)
        at = e.get("ts", os.path.getmtime(p))
        if at <= ts:
            best = e["version"]
    if best is None:
        raise ValueError(
            f"no retained version of {path} was committed at or before "
            f"timestamp {ts} (older history may have been vacuumed)"
        )
    return best


def read_table(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    timestamp: float | None = None,
) -> DataFrame:
    """The table at ``version`` (default: latest) — exactly that snapshot's
    files, immune to concurrent writers. Pass ``timestamp`` (unix
    seconds) instead of ``version`` for AS-OF-time reads."""
    if version is not None and timestamp is not None:
        raise ValueError("pass version OR timestamp, not both")
    if timestamp is not None:
        version = version_at_timestamp(path, timestamp)
    v = current_version(path) if version is None else version
    entry = _read_entry(path, v)
    if not entry["files"]:
        raise ValueError(f"snapshot v{v} of {path} lists no files")
    return _subset_df(spark, path, entry, [e["name"] for e in entry["files"]])


def read_table_pruned(
    spark: SparkSession,
    path: str,
    lo,
    hi,
    version: int | None = None,
    col: str | None = None,
) -> DataFrame:
    """Range read that prunes FILES from the log's recorded per-file
    min/max before Spark ever lists or opens them — the read-side twin of
    merge/delete's write-side pruning. At 100k files a selective
    predicate skips the footer-open cost of every non-overlapping file
    (Spark's own row-group pruning only starts after the footer read).
    Returns the rows with ``lo <= col <= hi`` exactly: the retained files
    are additionally filtered (file ranges overlap the window without
    being contained in it), and that residual filter still pushes down
    into the scan.

    ``col`` defaults to the table key. Any column recorded under a file
    entry's ``stats`` (Z-order rewrites record every clustered column —
    see optimize(zorder_by=...)) prunes the same way; files with no
    recorded stats for ``col`` (e.g. written by a later non-Z-order
    commit) are conservatively kept, so the result is exact whatever mix
    of commits produced the current file set."""
    v = current_version(path) if version is None else version
    entry = _read_entry(path, v)
    key = entry["key_col"]
    c = key if col is None else col
    pc = _phys(entry, c)  # stats are recorded under physical names

    def _keep(fe: dict) -> bool:
        if c == key:
            flo, fhi = fe["min"], fe["max"]
        else:
            st = fe.get("stats", {}).get(pc)
            if st is None:
                return True  # no recorded range: cannot prove it misses
            flo, fhi = st
        if flo is None:
            return True
        return not (fhi < lo or flo > hi)

    names = [e["name"] for e in entry["files"] if _keep(e)]
    if not names:
        return read_table(spark, path, v).limit(0).filter(F.lit(False))
    return _subset_df(spark, path, entry, names).filter(
        (F.col(c) >= F.lit(lo)) & (F.col(c) <= F.lit(hi))
    )


def read_table_pruned_in(
    spark: SparkSession,
    path: str,
    values,
    version: int | None = None,
    col: str | None = None,
) -> DataFrame:
    """IN-list twin of read_table_pruned: file-skip from the log's
    recorded per-file [min, max] for a SET of wanted values (an index
    probe's bucket list, a batch's key list), then apply the exact
    ``isin`` residual — which still pushes into the scan. A file is kept
    iff at least one wanted value falls inside its recorded range, so a
    value-clustered table (repartitionByRange on the key at write time)
    serves a scattered probe by opening only the touched files — the
    100k-file point-lookup shape range pruning alone cannot give.
    Same stats rules as read_table_pruned: ``col`` defaults to the table
    key; non-key columns prune via recorded Z-order ``stats``; files
    with no recorded range for ``col`` are conservatively kept."""
    vals = sorted(set(values))
    v = current_version(path) if version is None else version
    entry = _read_entry(path, v)
    key = entry["key_col"]
    c = key if col is None else col
    pc = _phys(entry, c)  # stats are recorded under physical names
    if not vals:
        return read_table(spark, path, v).limit(0).filter(F.lit(False))
    import bisect

    def _keep(fe: dict) -> bool:
        if c == key:
            lo, hi = fe["min"], fe["max"]
        else:
            st = fe.get("stats", {}).get(pc)
            if st is None:
                return True  # no recorded range: cannot prove it misses
            lo, hi = st
        if lo is None:
            return True
        # any wanted value inside [lo, hi]? (vals sorted: one bisect)
        i = bisect.bisect_left(vals, lo)
        return i < len(vals) and vals[i] <= hi

    names = [e["name"] for e in entry["files"] if _keep(e)]
    if not names:
        return read_table(spark, path, v).limit(0).filter(F.lit(False))
    return _subset_df(spark, path, entry, names).filter(F.col(c).isin(vals))


def describe(path: str) -> dict:
    """DESCRIBE DETAIL for a snapshot table: one metadata-only dict —
    current version, row/file accounting (net of deletion vectors),
    on-disk bytes of the CURRENT version's files, schema evolution
    state (logical columns, column mapping present?), partition spec,
    CHECK constraints, tags — everything the log knows without touching
    a data file beyond os.stat."""
    v = current_version(path)
    if v == 0:
        raise FileNotFoundError(f"{path} has no snapshot log")
    entry = _read_entry(path, v)
    bytes_cur = 0
    for fe in entry["files"]:
        try:
            bytes_cur += os.path.getsize(os.path.join(path, fe["name"]))
        except OSError:
            pass
    cols: list[str] | None = None
    schema: list[str] | None = None
    if "schema_json" in entry:
        from pyspark.sql.types import StructType

        st = StructType.fromJson(json.loads(entry["schema_json"]))
        cols = [f.name for f in st.fields]
        schema = [f"{f.name} {f.dataType.simpleString()}" for f in st.fields]
    tags = []
    refs_d = os.path.join(path, "_refs")
    if os.path.isdir(refs_d):
        for rp in sorted(glob.glob(os.path.join(refs_d, "*.json"))):
            with open(rp) as rf:
                t = json.load(rf)
            tags.append({"name": t["name"], "version": t["version"]})
    return {
        "version": v,
        "op": entry["op"],
        "key_col": entry["key_col"],
        "n_files": len(entry["files"]),
        "n_rows": _live_rows(entry["files"]),
        "n_deletion_vectors": sum(
            len(fe.get("dv", ())) for fe in entry["files"]
        ),
        "bytes_current": bytes_cur,
        "columns": cols,  # None = pre-evolution (schema from the files)
        "schema": schema,  # "name type" per column, log-pinned tables only
        "column_mapping": bool(_mapping_of(entry)),
        "partition_spec": list(entry.get("partition_spec") or ()),
        "bloom_cols": sorted(entry.get("bloom_cols") or ()),
        "constraints": dict(entry.get("constraints") or {}),
        "tags": tags,
        "retained_versions": len(
            glob.glob(os.path.join(_snap_dir(path), "v????????.json"))
        ),
    }


def partition_spec(path: str) -> list[str]:
    """The table's current partition spec (clustering + per-file-stats
    contract recorded by create_table's ``partition_by``), or []."""
    return list(
        _read_entry(path, current_version(path)).get("partition_spec") or ()
    )


def read_table_where(
    spark: SparkSession,
    path: str,
    equals: dict,
    version: int | None = None,
) -> DataFrame:
    """Multi-column probe (``{col: value}`` equality and/or
    ``{col: (lo, hi)}`` inclusive RANGE — round-12 verdict #6: the
    week/month slice of a day-partitioned table) with manifest file
    skipping — the partitioned-table read path: on a table created with
    ``partition_by=["day"]`` (or any column with recorded stats: the
    key, Z-order columns), a single-day probe opens only that day's
    files, a (day, region) probe intersects both columns' skips, and a
    day-range probe opens only the files whose recorded range OVERLAPS
    the window. Exact whatever mix of commits produced the file set:
    files with no recorded range for a probed column are conservatively
    kept, and the residual equality/BETWEEN filters still push into the
    scan."""
    v = current_version(path) if version is None else version
    entry = _read_entry(path, v)
    checks = _scope_checks(spark, path, entry, equals)
    names = [
        fe["name"] for fe in entry["files"] if _file_in_scope(fe, checks)
    ]
    if not names:
        return read_table(spark, path, v).limit(0).filter(F.lit(False))
    df = _subset_df(spark, path, entry, names)
    from pyspark.sql.types import StringType

    for c, val in equals.items():
        wlo, whi = _probe_bounds(val)
        if "(" in c:  # transform-name probe: filter the expression
            it = tf.SpecItem.parse(c)
            string = isinstance(df.schema[it.col].dataType, StringType)
            e = F.expr(it.expr_sql(string=string))
        else:
            e = F.col(c)
        if isinstance(val, (tuple, list)):
            df = df.filter((e >= F.lit(wlo)) & (e <= F.lit(whi)))
        else:
            df = df.filter(e == F.lit(val))
    return df


def _probe_bounds(val) -> tuple:
    if isinstance(val, (tuple, list)):
        if len(val) != 2:
            raise ValueError(f"range predicate must be (lo, hi), got {val!r}")
        return val[0], val[1]
    return val, val


def _scope_checks(
    spark: SparkSession, path: str, entry: dict, probes: dict
) -> list[tuple[str, str | None, object, object]]:
    """Compile ``{col_or_transform: value | (lo, hi)}`` probes into
    (kind, stat_key, lo, hi) manifest checks — the shared file-skip
    planner of read_table_where and OPTIMIZE WHERE. Transform-aware:

    - a probe on the SOURCE column of a spec transform also checks the
      file's recorded TRANSFORMED range, with the probe bounds folded
      through the driver-side transform (order-preserving) or the
      probe's bucket id computed by one one-row Spark job using the
      column's own type (hash is type-sensitive: an INT and a BIGINT of
      the same value hash differently);
    - a probe BY TRANSFORM NAME ('days(ts)': 19500) checks the recorded
      transformed range directly;
    - files lacking a checked range stay conservatively kept, so results
      are exact across any mix of spec eras."""
    key = entry["key_col"]
    titems = {
        it.col: it
        for it in tf.parse_spec(entry.get("partition_spec"))
        if not it.is_identity
    }
    checks: list[tuple[str, str | None, object, object]] = []
    for c, val in probes.items():
        wlo, whi = _probe_bounds(val)
        is_range = isinstance(val, (tuple, list))
        if "(" in c:  # probe by transform name, already-transformed value
            it = tf.SpecItem.parse(c)
            checks.append(("stat", it.render(_phys(entry, it.col)), wlo, whi))
            continue
        if c == key:
            checks.append(("key", None, wlo, whi))
        else:
            checks.append(("stat", _phys(entry, c), wlo, whi))
        it = titems.get(c)
        if it is None:
            continue
        sk = it.render(_phys(entry, c))
        if it.order_preserving:
            checks.append(
                ("stat", sk, it.transform_py(wlo), it.transform_py(whi))
            )
        elif not is_range:  # bucket prunes equality probes only
            dtype = {
                f.name: f.dataType
                for f in _logical_schema(spark, path, entry).fields
            }.get(c)
            if dtype is not None:
                bid = (
                    spark.range(1)
                    .select(
                        F.pmod(F.hash(F.lit(val).cast(dtype)), F.lit(it.n))
                    )
                    .first()[0]
                )
                checks.append(("stat", sk, bid, bid))
    return checks


def _file_in_scope(
    fe: dict, checks: list[tuple[str, str | None, object, object]]
) -> bool:
    for kind, sk, wlo, whi in checks:
        if kind == "key":
            lo, hi = fe["min"], fe["max"]
        else:
            st = fe.get("stats", {}).get(sk)
            if st is None:
                continue  # no recorded range: cannot prove it misses
            lo, hi = st
        if lo is None:
            continue
        if whi < lo or wlo > hi:
            return False
    return True


def _logical_schema(spark: SparkSession, path: str, base: dict):
    """The base entry's logical schema (log-pinned when present)."""
    if "schema_json" in base:
        from pyspark.sql.types import StructType

        return StructType.fromJson(json.loads(base["schema_json"]))
    return read_table(spark, path, base["version"]).schema


def add_columns(
    spark: SparkSession, path: str, cols: list[tuple[str, str]]
) -> dict:
    """Schema evolution, ADD COLUMNS: a LOG-ONLY commit recording the
    widened schema; zero data files are touched. From this version on
    every entry carries ``schema_json`` and all reads/rewrites use it, so
    pre-evolution files yield NULL for the new columns until a rewrite
    touches them. Time travel to pre-evolution versions still reads the
    OLD schema (per-version state). New columns are nullable by
    construction; types are any Spark SQL type string.

    On a column-mapped table (after any rename/drop) each new column is
    assigned a FRESH physical name: re-adding a previously dropped
    logical name must read NULL from old files, never resurrect the
    dropped bytes."""
    base = _read_entry(path, current_version(path))
    schema = _logical_schema(spark, path, base)
    existing = {f.name for f in schema.fields}
    mapping = dict(_mapping_of(base))
    new_schema = schema
    for name, sql_type in cols:
        if name in existing:
            raise ValueError(f"column {name!r} already exists on {path}")
        # parse via a CAST projection — public API, any SQL type string
        dt = spark.sql(f"SELECT CAST(NULL AS {sql_type})").schema[0].dataType
        new_schema = new_schema.add(name, dt, nullable=True)
        existing.add(name)
        if mapping:
            mapping[name] = f"col-{uuid.uuid4().hex[:16]}"
    version = base["version"] + 1
    entry = {
        "version": version,
        "op": "add_columns",
        "key_col": base["key_col"],
        "files": base["files"],
    }
    _copy_meta(entry, base)
    entry["schema_json"] = json.dumps(new_schema.jsonValue())
    if mapping:
        entry["column_mapping"] = mapping
    _commit(path, version, entry)
    return {
        "version": version,
        "columns_added": [c[0] for c in cols],
        "files_total": len(base["files"]),
    }


def _refuse_if_constrained(base: dict, col: str, verb: str) -> None:
    """Renaming/dropping a column referenced by a CHECK constraint would
    orphan the expression (it validates LOGICAL frames) — refuse, the
    Delta rule: drop the constraint first."""
    import re

    hits = [
        n
        for n, e in (base.get("constraints") or {}).items()
        if re.search(rf"(?i)(?<![A-Za-z0-9_]){re.escape(col)}(?![A-Za-z0-9_])", e)
    ]
    if hits:
        raise ValueError(
            f"cannot {verb} column {col!r}: referenced by CHECK "
            f"constraint(s) {sorted(hits)} — drop them first"
        )


def _upgraded_mapping(base: dict, schema) -> dict[str, str]:
    """The table's column mapping, upgrading on first use: physical names
    of all CURRENT columns are their logical names (that is what existing
    files store), pinned from here on."""
    m = _mapping_of(base)
    return dict(m) if m else {f.name: f.name for f in schema.fields}


def rename_column(spark: SparkSession, path: str, old: str, new: str) -> dict:
    """RENAME COLUMN as a log-only commit via column mapping (the Delta
    column-mapping contract): the logical schema changes, the physical
    name — what every data file on disk stores — is pinned in the log
    and never changes, so zero files are rewritten and every old file
    keeps reading correctly under the new logical name. Time travel to
    pre-rename versions sees the old logical schema (per-version state);
    CDC/scd2 across the rename read old files under the final schema via
    the mapping. Renaming the key column is allowed (``key_col`` is
    per-version logical state); renaming a column referenced by a CHECK
    constraint is refused (drop the constraint first).

    Reference anchor: the schema-per-job contract (MR core Job.java type
    slots) — schema is a per-version declaration, which is exactly what
    the log pins here."""
    base = _read_entry(path, current_version(path))
    schema = _logical_schema(spark, path, base)
    names = [f.name for f in schema.fields]
    if old not in names:
        raise KeyError(f"no column {old!r} on {path} (have {names})")
    if new in names:
        raise ValueError(f"column {new!r} already exists on {path}")
    _refuse_if_constrained(base, old, "rename")
    from pyspark.sql.types import StructField, StructType

    mapping = _upgraded_mapping(base, schema)
    mapping[new] = mapping.pop(old)
    new_schema = StructType(
        [
            StructField(new if f.name == old else f.name, f.dataType, f.nullable)
            for f in schema.fields
        ]
    )
    version = base["version"] + 1
    entry = {
        "version": version,
        "op": "rename_column",
        "key_col": new if base["key_col"] == old else base["key_col"],
        "files": base["files"],
    }
    _copy_meta(entry, base)
    entry["schema_json"] = json.dumps(new_schema.jsonValue())
    entry["column_mapping"] = mapping
    spec = base.get("partition_spec")
    if spec and old in _spec_source_cols(spec):
        # the spec names logical columns (inside transforms too): follow
        entry["partition_spec"] = [
            it.with_col(new).render() if it.col == old else it.render()
            for it in tf.parse_spec(spec)
        ]
    blooms = base.get("bloom_cols")
    if blooms and old in blooms:  # bloom declarations follow too
        entry["bloom_cols"] = {
            (new if c == old else c): n for c, n in blooms.items()
        }
    _commit(path, version, entry)
    return {"version": version, "renamed": {old: new},
            "files_total": len(base["files"])}


def drop_column(spark: SparkSession, path: str, name: str) -> dict:
    """DROP COLUMN as a log-only commit via column mapping: the field
    leaves the logical schema and the mapping; the bytes stay in the old
    files (readable through time travel to pre-drop versions) until
    rewrites/vacuum age them out — exactly Delta's mapped DROP COLUMN.
    Dropping the key column is refused (every verb prunes on it);
    dropping a constrained column is refused (drop the constraint
    first). A later add_columns of the same logical name reads NULL from
    old files (fresh physical name)."""
    base = _read_entry(path, current_version(path))
    schema = _logical_schema(spark, path, base)
    names = [f.name for f in schema.fields]
    if name not in names:
        raise KeyError(f"no column {name!r} on {path} (have {names})")
    if name == base["key_col"]:
        raise ValueError(
            f"cannot drop {name!r}: it is the table key (pruning, MERGE "
            "and deletion vectors are keyed on it)"
        )
    if name in _spec_source_cols(base.get("partition_spec")):
        raise ValueError(
            f"cannot drop {name!r}: it is in the partition spec "
            f"{base['partition_spec']} (every write clusters on it)"
        )
    _refuse_if_constrained(base, name, "drop")
    from pyspark.sql.types import StructType

    mapping = _upgraded_mapping(base, schema)
    del mapping[name]
    new_schema = StructType([f for f in schema.fields if f.name != name])
    version = base["version"] + 1
    entry = {
        "version": version,
        "op": "drop_column",
        "key_col": base["key_col"],
        "files": base["files"],
    }
    _copy_meta(entry, base)
    entry["schema_json"] = json.dumps(new_schema.jsonValue())
    entry["column_mapping"] = mapping
    blooms = dict(base.get("bloom_cols") or {})
    if name in blooms:  # a dropped column's bloom declaration goes with it
        del blooms[name]
        entry.pop("bloom_cols", None)
        if blooms:
            entry["bloom_cols"] = blooms
    _commit(path, version, entry)
    return {"version": version, "dropped": name,
            "files_total": len(base["files"])}


def _is_widening(src, dst) -> bool:
    """True iff every value of type ``src`` is exactly representable in
    ``dst`` — the Delta type-widening allowlist: up the integer chain
    (byte→short→int→long), float→double, {byte,short,int}→double
    (int32 fits a double's 53-bit mantissa; long→double does NOT and is
    refused), and decimal(p,s)→decimal(p',s') growing both the scale and
    the integer-digit budget."""
    from pyspark.sql.types import (
        ByteType,
        DecimalType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
    )

    ints = [ByteType, ShortType, IntegerType, LongType]
    if type(src) in ints and type(dst) in ints:
        return ints.index(type(src)) < ints.index(type(dst))
    if isinstance(src, FloatType) and isinstance(dst, DoubleType):
        return True
    if isinstance(src, (ByteType, ShortType, IntegerType)) and isinstance(
        dst, DoubleType
    ):
        return True
    if isinstance(src, DecimalType) and isinstance(dst, DecimalType):
        return (
            dst.scale >= src.scale
            and dst.precision - dst.scale >= src.precision - src.scale
            and (dst.precision, dst.scale) != (src.precision, src.scale)
        )
    return False


def alter_column_type(
    spark: SparkSession, path: str, col: str, sql_type: str
) -> dict:
    """ALTER COLUMN TYPE (widening) as a LOG-ONLY commit — the remaining
    Delta/Iceberg schema-evolution verb after ADD/RENAME/DROP: the
    logical schema's field widens (int→bigint, float→double, decimal
    growth — see _is_widening; narrowing and cross-family changes are
    refused loud); ZERO data files are touched. Every read resolves files
    under the log-pinned schema (_files_df), and Spark 4's parquet reader
    promotes narrower physical values to the requested wider type — so a
    file set mixing pre-widen int32 and post-widen int64 pages reads as
    one uniform bigint column, verified for every allowlisted pair in
    test_snapshots.py. Time travel to pre-widen versions still reads the
    OLD type (per-version state); CDC/scd2 frames that span the widen
    coerce through Spark's union type-widening, which is exactly the
    allowlist. Widening the key column is allowed — range pruning, MERGE
    and deletion-vector anti-joins compare values, not types."""
    base = _read_entry(path, current_version(path))
    schema = _logical_schema(spark, path, base)
    names = [f.name for f in schema.fields]
    if col not in names:
        raise KeyError(f"no column {col!r} on {path} (have {names})")
    dst = spark.sql(f"SELECT CAST(NULL AS {sql_type})").schema[0].dataType
    src = schema[col].dataType
    if src == dst:
        raise ValueError(f"column {col!r} already has type {src.simpleString()}")
    if not _is_widening(src, dst):
        raise ValueError(
            f"cannot alter {col!r} from {src.simpleString()} to "
            f"{dst.simpleString()}: only widening conversions are "
            "supported (byte<short<int<long, float->double, "
            "byte/short/int->double, decimal growth)"
        )
    from pyspark.sql.types import StructField, StructType

    new_schema = StructType(
        [
            StructField(f.name, dst if f.name == col else f.dataType, f.nullable)
            for f in schema.fields
        ]
    )
    version = base["version"] + 1
    entry = {
        "version": version,
        "op": "alter_column_type",
        "key_col": base["key_col"],
        "files": base["files"],
    }
    _copy_meta(entry, base)
    entry["schema_json"] = json.dumps(new_schema.jsonValue())
    _commit(path, version, entry)
    return {
        "version": version,
        "altered": {col: dst.simpleString()},
        "files_total": len(base["files"]),
    }


def set_partition_spec(
    spark: SparkSession, path: str, spec: list[str] | None
) -> dict:
    """PARTITION-SPEC EVOLUTION as a log-only commit (Iceberg semantics —
    the spec was previously fixed at create_table): from this version on,
    every write clusters its files on the NEW spec columns and records
    their per-file [min, max]; files written under the OLD spec keep the
    stats they were recorded with, and the probe paths
    (read_table_where / optimize's where-scope) prune each file by
    whatever ranges ITS commit recorded — a file with no recorded range
    for a probed column is conservatively kept, so results stay exact
    across any mix of spec eras and pruning sharpens as rewrites migrate
    old files to the new clustering (run ``optimize`` to migrate
    eagerly). ``spec=None``/[] drops the spec (new writes stop
    clustering). Spec entries are identity columns or TRANSFORMS
    (``days(ts)``/``hours``/``months``/``years``/``bucket(n, c)``/
    ``truncate(w, c)`` — sources/spec_transforms.py); source columns
    must exist in the logical schema, and the spec stores LOGICAL names
    (renames follow it, inside transforms too — see rename_column)."""
    base = _read_entry(path, current_version(path))
    new_spec = [tf.canon(s) for s in spec] if spec else []
    if new_spec:
        schema = _logical_schema(spark, path, base)
        names = {f.name for f in schema.fields}
        missing = sorted(set(_spec_source_cols(new_spec)) - names)
        if missing:
            raise ValueError(
                f"partition spec columns {missing} not in the table schema"
            )
    old_spec = list(base.get("partition_spec") or ())
    if new_spec == old_spec:
        return {"version": base["version"], "partition_spec": old_spec,
                "unchanged": True}
    version = base["version"] + 1
    entry = {
        "version": version,
        "op": "set_partition_spec",
        "key_col": base["key_col"],
        "files": base["files"],
    }
    _copy_meta(entry, base)
    entry.pop("partition_spec", None)
    if new_spec:
        entry["partition_spec"] = new_spec
    _commit(path, version, entry)
    return {"version": version, "partition_spec": new_spec,
            "previous_spec": old_spec}


def _validate_df(df: DataFrame, constraints: dict) -> None:
    """Raise ConstraintViolation when any row of ``df`` violates any CHECK
    constraint (SQL semantics: a NULL predicate result SATISFIES; only
    FALSE violates — hence the coalesce). One scan for the any-violation
    probe; the per-constraint counts (for the error message and callers
    that report them) run only on failure."""
    if not constraints:
        return
    preds = {n: f"NOT coalesce(({e}), true)" for n, e in constraints.items()}
    any_bad = " OR ".join(f"({p})" for p in preds.values())
    if df.filter(F.expr(any_bad)).limit(1).count() == 0:
        return
    row = df.agg(
        *[
            F.sum(F.expr(f"CASE WHEN {p} THEN 1 ELSE 0 END")).alias(n)
            for n, p in preds.items()
        ]
    ).collect()[0]
    bad = {n: int(row[n]) for n in preds if row[n]}
    raise ConstraintViolation(
        "CHECK constraint violation(s): "
        + "; ".join(
            f"{n} ({constraints[n]!r}): {c} row(s)" for n, c in sorted(bad.items())
        ),
        bad,
    )


def get_check_constraints(path: str) -> dict:
    """The current CHECK-constraint map (name → Spark SQL predicate)."""
    return dict(_read_entry(path, current_version(path)).get("constraints", {}))


def set_check_constraints(
    spark: SparkSession, path: str, constraints: dict[str, str]
) -> dict:
    """ADD CONSTRAINT (the Delta CHECK-constraint contract): validate the
    CURRENT table against the NEW constraints in one deletion-vector-aware
    scan — the only O(table) moment; every later write validates only its
    OWN rows (O(batch) per commit) — then commit a log-only version whose
    ``constraints`` map rides on every subsequent entry exactly like
    schema_json, so delta reconstruction, vacuum's checkpoint rewrite,
    restore and time travel all preserve it. Re-setting a name to the
    identical expression is an idempotent no-op; a different expression
    raises (drop first). Expressions are Spark SQL boolean predicates
    over the table's columns; NULL results satisfy (SQL CHECK
    semantics)."""
    base = _read_entry(path, current_version(path))
    merged = dict(base.get("constraints", {}))
    fresh: dict[str, str] = {}
    for n, e in constraints.items():
        if n in merged:
            if merged[n] != e:
                raise ValueError(
                    f"constraint {n!r} already exists with a different expression"
                )
            continue
        merged[n] = e
        fresh[n] = e
    if fresh and base["files"]:
        _validate_df(read_table(spark, path, base["version"]), fresh)
    version = base["version"] + 1
    entry = {
        "version": version,
        "op": "set_constraints",
        "key_col": base["key_col"],
        "files": base["files"],
    }
    _copy_meta(entry, base)
    entry["constraints"] = merged
    _commit(path, version, entry)
    return {"version": version, "constraints": sorted(merged)}


def drop_check_constraint(path: str, name: str) -> dict:
    """DROP CONSTRAINT: a log-only commit without ``name`` in the map."""
    base = _read_entry(path, current_version(path))
    cons = dict(base.get("constraints", {}))
    if name not in cons:
        raise KeyError(f"no CHECK constraint {name!r} on {path}")
    del cons[name]
    version = base["version"] + 1
    entry = {
        "version": version,
        "op": "drop_constraint",
        "key_col": base["key_col"],
        "files": base["files"],
    }
    _copy_meta(entry, base)
    entry.pop("constraints", None)
    if cons:
        entry["constraints"] = cons
    _commit(path, version, entry)
    return {"version": version, "constraints": sorted(cons)}


def _validate_staging(spark: SparkSession, staging: str, base: dict) -> None:
    """Validate a staged write against the base entry's CHECK constraints
    before committing; on violation the staging dir is removed (nothing
    enters the table) and ConstraintViolation propagates. Cost: one scan
    of the BATCH, never the table. Staged files store PHYSICAL names on
    mapped tables; constraints are LOGICAL expressions, so the read is
    aliased back first."""
    cons = base.get("constraints")
    if not cons:
        return
    sp = SparkSession.getActiveSession() if spark is None else spark
    df = sp.read.parquet(staging)
    m = _mapping_of(base)
    if m:
        inv = {p: l for l, p in m.items()}
        df = df.select(*[F.col(c).alias(inv.get(c, c)) for c in df.columns])
    try:
        _validate_df(df, cons)
    except ConstraintViolation:
        import shutil

        shutil.rmtree(staging, ignore_errors=True)
        raise


def history(path: str) -> list[dict]:
    """(version, op, n_files, n_rows) per retained snapshot, ascending —
    one forward fold over the raw log (deltas applied in order), not a
    per-version reconstruction."""
    out = []
    files: dict[str, dict] | None = None
    for p in sorted(glob.glob(os.path.join(_snap_dir(path), "v????????.json"))):
        with open(p) as f:
            e = json.load(f)
        if "files" in e:
            files = {fe["name"]: fe for fe in e["files"]}
        elif files is None:
            # the oldest retained entry must be a checkpoint (vacuum
            # rewrites the cutoff as one); folding a delta onto an empty
            # dict would silently misreport n_files/n_rows — fail loud
            raise ValueError(
                f"oldest retained log entry v{e['version']} of {path} is a "
                "delta with no base checkpoint (log corrupted by a "
                "pre-checkpoint-rewrite vacuum?)"
            )
        else:
            _apply_delta(files, e)
        out.append(
            {"version": e["version"], "op": e["op"], "n_files": len(files),
             "n_rows": _live_rows(list(files.values()))}
        )
    return out


def _commit_rewrite(
    path: str, base: dict, affected: set[str], staging: str, op: str,
    txn: dict | None = None, stat_cols: list[str] | None = None,
) -> dict:
    """Move staged files in, carry unaffected entries forward, commit the
    next version. On a lost race the new files are removed (they are
    unreferenced) and ConflictError propagates for the caller to retry.

    What lands on disk is a DELTA entry (added file stats + removed
    names — changed-slice-sized) unless the version hits the checkpoint
    cadence, which writes the full list; the returned dict is always the
    full snapshot (callers sum rows / list files from it).

    ``txn`` (the Delta setTransaction analogue) rides INSIDE the log
    entry, atomic with the version — an application marker like
    ``{"app": ..., "batch": ...}`` that ``find_txn`` later scans for, so
    an at-least-once writer (streaming foreachBatch) can make its commit
    idempotent with no crash window between "data committed" and "marker
    recorded"."""
    version = base["version"] + 1
    moved = _move_staged_in(path, staging, version)
    # footer stats read the files as written — PHYSICAL names on mapped
    # tables (the staging writers renamed through _to_physical); the
    # partition spec's columns are ALWAYS recorded (same single footer
    # pass; transform entries record the TRANSFORMED range), so
    # partition pruning never degrades across rewrites
    idents, trans = _spec_stat_plan(base, base.get("partition_spec"))
    scols = list(dict.fromkeys(
        [*(_phys(base, c) for c in (stat_cols or [])), *idents]
    ))
    added = _file_entries(
        moved,
        _phys(base, base["key_col"]),
        stat_cols=scols or None,
        transforms=trans or None,
    )
    carried = [
        e for e in base["files"] if os.path.join(path, e["name"]) not in affected
    ]
    entry = _entry_and_persist(
        path, version, op, base["key_col"], carried + added, added,
        sorted(os.path.basename(f) for f in affected), txn, base,
    )
    if entry is None:  # lost the commit race: the new files are garbage
        for f in moved:
            os.remove(f)
        raise ConflictError(f"version {version} of {path} was committed concurrently")
    return entry


def _entry_and_persist(
    path: str, version: int, op: str, key_col: str, files_full: list[dict],
    added: list[dict], removed_names: list[str], txn: dict | None,
    meta: dict | None,
) -> dict | None:
    """Build the full in-memory entry + the on-disk persist form (DELTA
    below the checkpoint cadence, FULL on it) and attempt the atomic
    commit. Returns the full entry, or None on a lost commit race — the
    ONE place the cadence rule lives, shared by every staged-commit
    path (the round-10 lesson: two copies of this logic is how the
    vacuum seam broke). ``meta`` is the base entry (or any dict) whose
    _META_KEYS (schema, constraints, column mapping) travel on every
    entry."""
    entry = {
        "version": version,
        "op": op,
        "key_col": key_col,
        "files": files_full,
    }
    # v1 is always FULL: there is no base checkpoint below it to walk to
    if version % _CHECKPOINT_EVERY == 0 or version == 1:
        persist = dict(entry)
    else:
        persist = {
            "version": version,
            "op": op,
            "key_col": key_col,
            "added": added,
            "removed": list(removed_names),
        }
    if txn is not None:
        persist["txn"] = txn
    if meta:
        _copy_meta(persist, meta)
        _copy_meta(entry, meta)
    try:
        _commit(path, version, persist)
    except ConflictError:
        return None
    return entry


def commit_staged(
    path: str,
    staged_files: list[str],
    key_col: str,
    op: str = "append",
    txn: dict | None = None,
    overwrite: bool = False,
    max_retries: int = 10,
) -> dict:
    """Commit already-written parquet FILES (no DataFrame, no Spark job)
    as the next version — the sink half of the DataSource surface
    (snapshot_stream's stream/batch writers call this from the driver's
    commit() hook with the executors' staged files).

    Files enter the table by HARDLINK, so the staging copy survives a
    lost optimistic-commit race and a retry re-links against the new
    base — unlike _commit_rewrite, whose callers can replay from their
    source DataFrame. ``overwrite=True`` drops every base file from the
    new entry (versioned INSERT OVERWRITE: old files stay on disk for
    time travel until vacuum). Creates the table (version 1) when the
    log is empty. The caller owns removing the staging files afterwards.

    On a column-mapped table (after rename/drop) the staged files must
    carry PHYSICAL column names — the snapshot_stream sink maps
    logical→physical at write time (physical names are rename-stable, so
    a rename landing between planning and commit is harmless)."""
    last: ConflictError | None = None
    validated: dict | None = None
    for _ in range(max_retries + 1):
        v = current_version(path)
        version = v + 1
        base = _read_entry(path, v) if v else None
        if base is not None and base["key_col"] != key_col:
            raise ValueError(
                f"table is keyed on {base['key_col']!r}, not {key_col!r}"
            )
        cons = base.get("constraints") if base is not None else None
        if cons and cons != validated:
            # validate the staged FILES once per constraint map (a retry
            # only re-scans if a concurrent commit changed the map) —
            # needs a session; staged-file commits are driver-side hooks
            # of a running Spark app, so the active session is the one
            # that wrote the files. Staged files carry PHYSICAL names on
            # mapped tables (the sink maps logical→physical at write);
            # constraints are LOGICAL expressions, so alias back first.
            sp = SparkSession.getActiveSession()
            if sp is None:
                raise RuntimeError(
                    f"{path} has CHECK constraints; commit_staged needs an "
                    "active SparkSession to validate the staged files"
                )
            vdf = sp.read.parquet(*sorted(staged_files))
            m = _mapping_of(base) if base is not None else {}
            if m:
                inv = {p: l for l, p in m.items()}
                vdf = vdf.select(
                    *[F.col(c).alias(inv.get(c, c)) for c in vdf.columns]
                )
            _validate_df(vdf, cons)
            validated = cons
        linked = []
        try:
            for f in sorted(staged_files):
                dst = os.path.join(path, f"v{version}-{os.path.basename(f)}")
                os.link(f, dst)
                linked.append(dst)
        except OSError:
            for f in linked:
                os.remove(f)
            raise
        try:
            # footer stats read the files as staged — PHYSICAL key name
            # on mapped tables; spec columns recorded like every commit
            pkey = _phys(base, key_col) if base is not None else key_col
            spec = (base.get("partition_spec") or []) if base is not None else []
            idents, trans = _spec_stat_plan(base, spec)
            added = _file_entries(
                linked, pkey, stat_cols=idents or None,
                transforms=trans or None,
            )
            for fe in added:
                # footer stats are tolerant of a missing column (None
                # ranges); a keyed table must not be: a key-less file
                # would silently break range pruning, MERGE and DV reads
                if fe["num_rows"] > 0 and fe["min"] is None:
                    raise ValueError(
                        f"staged file {fe['name']} has no non-null "
                        f"{key_col!r} values — wrong schema for a table "
                        f"keyed on {key_col!r}"
                    )
            if base is None:
                entry = _entry_and_persist(
                    path, version, "create", key_col, added, added, [], txn, None
                )
            else:
                carried = [] if overwrite else base["files"]
                removed = (
                    sorted(fe["name"] for fe in base["files"]) if overwrite else []
                )
                entry = _entry_and_persist(
                    path, version, op if not overwrite else "overwrite", key_col,
                    carried + added, added, removed, txn, base,
                )
        except Exception:
            # stats/commit failure (e.g. staged file missing the key
            # column): unlink rather than leave version-prefixed debris
            # for vacuum — staging still holds the caller's data
            for f in linked:
                try:
                    os.remove(f)
                except OSError:
                    pass
            raise
        if entry is not None:
            return {
                "version": version,
                "files_added": len(added),
                "rows_after": _live_rows(entry["files"]),
            }
        for f in linked:  # lost the race: unlink and retry from staging
            os.remove(f)
        last = ConflictError(f"version {version} of {path} was committed concurrently")
    raise last


def find_txn(path: str, app: str, batch: int) -> int | None:
    """The version whose log entry carries the ``{"app", "batch"}`` txn
    marker, or None — the idempotency probe for at-least-once writers
    (check before committing; a hit means this batch already landed).
    Scans raw retained entries newest-first, so the cost is the retained
    log, never the table. Markers on vacuumed-away entries are forgotten
    with them — the Delta txn-retention contract: keep retention longer
    than the longest possible replay gap."""
    if not os.path.isdir(_snap_dir(path)):
        return None
    for p in sorted(
        glob.glob(os.path.join(_snap_dir(path), "v????????.json")), reverse=True
    ):
        with open(p) as f:
            e = json.load(f)
        t = e.get("txn")
        if t is not None and t.get("app") == app and t.get("batch") == batch:
            return e["version"]
    return None


def append_table(
    spark: SparkSession, path: str, rows: DataFrame, key_col: str,
    txn: dict | None = None,
) -> dict:
    """Versioned blind append: stage ``rows``, commit a new version that
    carries every existing file forward untouched — the ingest-append
    verb. O(batch) always: no existing data is read, pruned, or
    rewritten (unlike merge_into, which must consult key ranges), so a
    micro-batch append over a 100k-file table costs the batch write plus
    one changed-slice-sized delta entry. The CALLER guarantees key
    uniqueness (streaming ingest does: dedup drops every already-seen
    key before appending; pass ``txn`` to make crash replays skip
    instead of double-appending)."""
    base = _read_entry(path, current_version(path))
    if base["key_col"] != key_col:
        raise ValueError(f"table is keyed on {base['key_col']!r}, not {key_col!r}")
    staging = os.path.join(path, f"_snap_staging-{uuid.uuid4().hex}")
    sel = rows.select(*read_table(spark, path).columns)
    spec = base.get("partition_spec")
    if spec:
        # partitioned landing: range-cluster the batch on the spec so
        # each new file covers a contiguous slice of partition values —
        # recorded ranges stay tight and the single-partition probe keeps
        # opening O(that partition's batches) files as the table grows
        ccols = _cluster_cols(spec, sel)
        sel = sel.repartitionByRange(*ccols, key_col).sortWithinPartitions(
            *ccols, key_col
        )
    _write_staging(_to_physical(sel, base), base, staging)
    _validate_staging(spark, staging, base)  # CHECK constraints: O(batch)
    entry = _commit_rewrite(path, base, set(), staging, "append", txn=txn)
    return {
        "version": entry["version"],
        "files_rewritten": 0,
        "files_total": len(base["files"]),
        "rows_after": _live_rows(entry["files"]),
    }


def overwrite_table(
    spark: SparkSession, path: str, rows: DataFrame, key_col: str,
    txn: dict | None = None,
) -> dict:
    """Versioned INSERT OVERWRITE: stage ``rows``, commit a version that
    references ONLY the new files — every prior file is dropped from the
    entry but stays on disk, so old versions remain time-travel-readable
    until vacuum (the Delta overwrite contract; the DataFrame twin of
    commit_staged(overwrite=True)). O(new data): nothing existing is
    read. Constraints validate the new rows; a partition spec clusters
    them like any other write; on a mapped table the staging write
    renames logical→physical as usual."""
    base = _read_entry(path, current_version(path))
    if base["key_col"] != key_col:
        raise ValueError(f"table is keyed on {base['key_col']!r}, not {key_col!r}")
    staging = os.path.join(path, f"_snap_staging-{uuid.uuid4().hex}")
    sel = rows.select(*read_table(spark, path).columns)
    spec = base.get("partition_spec")
    if spec:
        ccols = _cluster_cols(spec, sel)
        sel = sel.repartitionByRange(*ccols, key_col).sortWithinPartitions(
            *ccols, key_col
        )
    _write_staging(_to_physical(sel, base), base, staging)
    _validate_staging(spark, staging, base)
    affected = {os.path.join(path, fe["name"]) for fe in base["files"]}
    entry = _commit_rewrite(path, base, affected, staging, "overwrite", txn=txn)
    return {
        "version": entry["version"],
        "files_removed": len(base["files"]),
        "files_added": len(entry["files"]),
        "rows_after": _live_rows(entry["files"]),
    }


def append_table_retrying(
    spark: SparkSession, path: str, rows: DataFrame, key_col: str,
    txn: dict | None = None, max_retries: int = 10,
) -> dict:
    """append_table with the optimistic-concurrency retry loop; re-checks
    the txn marker each attempt so losing a race to a replayed twin of
    the SAME batch ends in a skip, not a duplicate append."""

    def attempt() -> dict:
        if txn is not None:
            v = find_txn(path, txn["app"], txn["batch"])
            if v is not None:
                base = _read_entry(path, v)
                return {
                    "version": v,
                    "files_rewritten": 0,
                    "files_total": len(base["files"]),
                    "rows_after": _live_rows(base["files"]),
                    "skipped_as_duplicate_txn": True,
                }
        return append_table(spark, path, rows, key_col, txn=txn)

    return _with_conflict_retry(attempt, max_retries)


def restore_table(path: str, to_version: int) -> dict:
    """The Delta RESTORE verb: commit a NEW version whose file list is
    exactly that of ``to_version`` — rolling the table back without
    erasing history (readers pinned to intermediate versions are
    untouched; vacuum reclaims their files on its own schedule later).
    Pure log operation: zero data files are read, written, or moved —
    the restored version re-references the old files, which is why
    vacuum's keep-window must still cover ``to_version`` when restoring
    (enforced: a vacuumed target raises FileNotFoundError here, not at
    some later read). First-writer-wins like every commit; on a lost
    race the caller re-reads and decides whether the rollback still
    applies."""
    target = _read_entry(path, to_version)  # raises if vacuumed away
    missing = [
        e["name"] for e in target["files"]
        if not os.path.exists(os.path.join(path, e["name"]))
    ] + [
        d
        for e in target["files"]
        for d in e.get("dv", ())
        if not os.path.exists(os.path.join(_dv_dir(path), d))
    ]
    if missing:
        raise FileNotFoundError(
            f"cannot restore {path} to v{to_version}: {len(missing)} data "
            f"file(s) already vacuumed (e.g. {missing[0]})"
        )
    version = current_version(path) + 1
    entry = {"version": version, "op": "restore", "key_col": target["key_col"],
             "files": target["files"]}
    # roll schema, constraints AND column mapping back with the data
    _copy_meta(entry, target)
    _commit(path, version, entry)
    return {
        "version": version,
        "restored_to": to_version,
        "files_total": len(target["files"]),
        "rows_after": _live_rows(target["files"]),
    }


def last_txn_batch(path: str, app: str) -> int | None:
    """The highest ``batch`` committed under ``app`` across the retained
    log, or None — the refresh watermark for incremental consumers
    (materialized views record the source version they folded up to as
    their txn batch). Same retention contract as find_txn."""
    if not os.path.isdir(_snap_dir(path)):
        return None
    best: int | None = None
    for p in glob.glob(os.path.join(_snap_dir(path), "v????????.json")):
        with open(p) as f:
            t = json.load(f).get("txn")
        if t is not None and t.get("app") == app:
            b = int(t["batch"])
            best = b if best is None or b > best else best
    return best


def _rereadable(leaf) -> bool:
    """Whether a second evaluation of a plan leaf reads the same rows
    back without a Python worker: a file scan, rows the plan carries, or
    an already checkpointed RDD — which is what materialize_source
    returns, so the call is idempotent. A JDBC relation or a Python RDD
    is not: the rows can change, and the RDD runs in Python workers."""
    name = leaf.getClass().getSimpleName()
    if name == "LogicalRelation":
        return leaf.relation().getClass().getSimpleName() == "HadoopFsRelation"
    if name == "LogicalRDD":
        rdd = leaf.rdd()
        return rdd.isLocallyCheckpointed() or rdd.isCheckpointed()
    return name in ("LocalRelation", "Range")


def materialize_source(df: DataFrame | None) -> DataFrame | None:
    """A write verb's source, evaluated once however many jobs read it.

    Merge and delete read their source in more than one job: the
    affected-file probe, then the staging or deletion-vector write, and
    all of it again on each OCC retry. A source whose plan is
    non-deterministic, or that reads a Python RDD (``createDataFrame``
    of a list), would run again each time: in Python workers, and maybe
    to different rows, so the probe and the write could disagree. Such a
    source is wrapped in a lazy ``localCheckpoint``: the first job that
    reads it stores its partitions, later jobs read them back, and no
    Spark job is added. This is Delta's MERGE source materialization
    (``materializeSource=auto``).

    A deterministic plan whose leaves are all file scans or local rows
    comes back unchanged, so a table-sized scan is never copied; so does
    a frame this function returned before. ``None`` passes through, for
    optional key frames."""
    if df is None:
        return None
    plan = df._jdf.queryExecution().analyzed()
    leaves = plan.collectLeaves()
    if plan.deterministic() and all(
        _rereadable(leaves.apply(i)) for i in range(leaves.size())
    ):
        return df
    return df.localCheckpoint(eager=False)


def merge_into(
    spark: SparkSession, path: str, updates: DataFrame, key_col: str,
    txn: dict | None = None, merge_schema: bool = False,
    delete_keys: DataFrame | None = None,
) -> dict:
    """Versioned CoW upsert: prune affected files from the snapshot's
    recorded key ranges (no footer reads), rewrite only those, commit the
    next version. Old versions stay readable until vacuum. ``txn`` rides
    atomically in the log entry (see _commit_rewrite) for idempotent
    at-least-once callers.

    ``merge_schema=True`` is Delta's mergeSchema-on-MERGE: columns of
    ``updates`` missing from the table WIDEN the schema inside this same
    commit (nullable, the source frame's types) — untouched files read
    NULL for them from this version on, exactly like add_columns, and on
    a column-mapped table each gets a fresh physical name. EXISTING
    columns whose update-frame type is a valid WIDENING of the table
    type (the alter_column_type allowlist: int chain, float→double,
    int→double, decimal growth) widen in the same commit too — Delta's
    automatic type evolution; an update type that is neither equal,
    narrower (implicitly cast down by the column projection), nor an
    allowlisted widening fails in Spark's own cast resolution. Without
    merge_schema, extra update columns are projected away (the existing
    contract: updates are selected down to the table's columns).

    ``delete_keys`` (a one-column frame of key values) rides in the SAME
    commit: rows with those keys vanish from the rewritten files before
    the upsert applies — the single-commit form a conditional MERGE with
    a WHEN … THEN DELETE clause needs (update keys and delete keys are
    disjoint there by first-match semantics). Pruning covers the union
    of both key sets, so the rewrite stays O(affected files).

    ``updates`` and ``delete_keys`` are evaluated once (materialize_source):
    the probe job fills them and the staging write reads them back, so
    both see the same rows, and the verb starts no Python worker beyond
    what the source itself needs."""
    updates = materialize_source(updates)
    delete_keys = materialize_source(delete_keys)
    base = _read_entry(path, current_version(path))
    if base["key_col"] != key_col:
        raise ValueError(f"table is keyed on {base['key_col']!r}, not {key_col!r}")
    ranges = _ranges(path, base)
    probe = updates.select(key_col)
    if delete_keys is not None:
        probe = probe.unionByName(delete_keys.select(key_col))
    affected = set(mg._affected_files(spark, ranges, probe, key_col))
    cols = [f.name for f in _logical_schema(spark, path, base).fields]
    if merge_schema:
        upd_types = {f.name: f.dataType for f in updates.schema.fields}
        extra = [f for f in updates.schema.fields if f.name not in set(cols)]
        schema = _logical_schema(spark, path, base)
        widened = [
            (f.name, upd_types[f.name])
            for f in schema.fields
            if f.name in upd_types
            and upd_types[f.name] != f.dataType
            and _is_widening(f.dataType, upd_types[f.name])
        ]
        if extra or widened:
            from pyspark.sql.types import StructField, StructType

            mapping = dict(_mapping_of(base))
            wide = dict(widened)
            schema = StructType(
                [
                    StructField(f.name, wide.get(f.name, f.dataType), f.nullable)
                    for f in schema.fields
                ]
            )
            for f in extra:
                schema = schema.add(f.name, f.dataType, nullable=True)
                if mapping:
                    mapping[f.name] = f"col-{uuid.uuid4().hex[:16]}"
            # the widened base drives BOTH the affected-file read (old
            # files yield NULL for new columns / promote to the widened
            # types) and the commit's meta, so the evolution is atomic
            # with the merge itself
            base = dict(base)
            base["schema_json"] = json.dumps(schema.jsonValue())
            if mapping:
                base["column_mapping"] = mapping
            cols = cols + [f.name for f in extra]
    upd = updates.select(*cols)
    # affected files read MERGE-ON-READ (deletion vectors applied), so a
    # rewrite MATERIALIZES any pending deletes: the new files carry no dv
    if affected:
        kept = _subset_df(
            spark, path, base, [os.path.basename(f) for f in affected]
        )
        if delete_keys is not None:
            kept = kept.join(
                delete_keys.select(key_col).distinct(), key_col, "left_anti"
            )
        merged = mg.apply_upsert(kept, upd, cols, key_col)
    else:
        merged = upd
    staging = os.path.join(path, f"_snap_staging-{uuid.uuid4().hex}")
    _write_staging(_to_physical(merged, base), base, staging)
    # CHECK constraints validate the REWRITTEN slice (updates + carried
    # rows of affected files): O(rewritten), never O(table)
    _validate_staging(spark, staging, base)
    entry = _commit_rewrite(path, base, affected, staging, "merge", txn=txn)
    return {
        "version": entry["version"],
        "files_rewritten": len(affected),
        "files_total": len(base["files"]),
        "rows_after": _live_rows(entry["files"]),
    }


def delete_from(
    spark: SparkSession, path: str, delete_keys: DataFrame, key_col: str
) -> dict:
    """Versioned CoW delete (same pruning; left-anti rewrite). Like
    merge_into, it evaluates ``delete_keys`` once."""
    delete_keys = materialize_source(delete_keys)
    base = _read_entry(path, current_version(path))
    if base["key_col"] != key_col:
        raise ValueError(f"table is keyed on {base['key_col']!r}, not {key_col!r}")
    ranges = _ranges(path, base)
    affected = set(mg._affected_files(spark, ranges, delete_keys, key_col))
    if not affected:
        # nothing can match: commit nothing, the current version IS the result
        return {
            "version": base["version"],
            "files_rewritten": 0,
            "files_total": len(base["files"]),
            "rows_deleted": 0,
            "rows_after": _live_rows(base["files"]),
        }
    kept = _subset_df(
        spark, path, base, [os.path.basename(f) for f in affected]
    ).join(delete_keys.select(F.col(key_col)).distinct(), key_col, "left_anti")
    staging = os.path.join(path, f"_snap_staging-{uuid.uuid4().hex}")
    _write_staging(_to_physical(kept, base), base, staging)
    entry = _commit_rewrite(path, base, affected, staging, "delete")
    before = _live_rows(base["files"])
    after = _live_rows(entry["files"])
    return {
        "version": entry["version"],
        "files_rewritten": len(affected),
        "files_total": len(base["files"]),
        "rows_deleted": before - after,
        "rows_after": after,
    }


def delete_from_mor(
    spark: SparkSession,
    path: str,
    delete_keys: DataFrame,
    key_col: str,
    txn: dict | None = None,
) -> dict:
    """Merge-on-read DELETE via deletion vectors — the Delta DV contract:
    instead of rewriting every file a key lands in (copy-on-write's
    amplification: delete 1 row, rewrite a whole file), record the
    suppressed (file, key) pairs in a small sidecar parquet under
    ``<table>/_dvs/`` and commit a METADATA-ONLY version whose affected
    file entries reference the vector (``dv`` names + exact ``ndel``
    count). At 100 TB a scattered 1k-key delete writes kilobytes, not the
    gigabytes CoW rewrites — write cost tracks the DELETED rows, read
    cost of the commit tracks the affected files (they are scanned once,
    DV-filtered, to record only LIVE matches — which is also what keeps
    ``ndel`` exact and re-deletes idempotent).

    Readers apply vectors as a per-(file, key) anti-join (_subset_df);
    time travel still works (older versions don't reference the new
    vector); CDC/scd2 see the suppressed rows as deletes via the file-
    identity diff. Any later rewrite of an affected file (merge, CoW
    delete, optimize) MATERIALIZES its vectors — reads it merge-on-read
    and writes clean files — so vectors never accumulate past the next
    compaction. ``vacuum`` sweeps vector files exactly like data files
    (reference-counted against retained versions, era/age-gated).

    ``delete_keys`` is evaluated once (materialize_source): the probe job
    fills it and the vector write reads it back, so the recorded pairs are
    the probed keys and the verb starts no Python worker of its own.

    Same accounting dict as delete_from, plus ``dv_files_added``."""
    delete_keys = materialize_source(delete_keys)
    base = _read_entry(path, current_version(path))
    if base["key_col"] != key_col:
        raise ValueError(f"table is keyed on {base['key_col']!r}, not {key_col!r}")
    ranges = _ranges(path, base)
    affected = set(mg._affected_files(spark, ranges, delete_keys, key_col))
    noop = {
        "version": base["version"],
        "files_rewritten": 0,
        "dv_files_added": 0,
        "files_total": len(base["files"]),
        "rows_deleted": 0,
        "rows_after": _live_rows(base["files"]),
    }
    if not affected:
        return noop
    names = sorted(os.path.basename(f) for f in affected)
    # LIVE matching rows only (existing vectors applied): re-deleting an
    # already-deleted key records nothing, and per-file counts stay exact
    live = _subset_df(spark, path, base, names, keep_file_col=True)
    # vectors store the PHYSICAL key name (stable across renames — see
    # _subset_df's read side), so all of a table's DV files stay uniform
    pairs = live.join(
        delete_keys.select(F.col(key_col)).distinct(), key_col, "left_semi"
    ).select("_dv_file", F.col(key_col).alias(_phys(base, key_col)))
    # ONE pass for write + per-file stats (r15 opt — the read-back
    # aggregate this replaces was a second Spark job over the staged
    # pairs, ~0.2 s per MoR delete locally and write-size-proportional
    # at scale): hash-partition by file so each data file's pairs land
    # in ONE task, then directory-partition the staging write by a
    # DUPLICATE of _dv_file — the _dv_file COLUMN itself stays inside
    # the written files (readers anti-join on it, unchanged), while the
    # directory layout makes each affected file's pairs exactly its own
    # sidecar file(s), whose parquet footers already carry the pair
    # count. Per-file ndel is then a driver-side footer read of only
    # the NEW sidecars — the same metadata pass every commit already
    # does for data files — and the dv list is per data file (the Delta
    # DV shape), so a read of one file never opens another file's pairs.
    staging = os.path.join(path, f"_dv_staging-{uuid.uuid4().hex}")
    (
        pairs.repartition(max(1, min(len(names), 64)), "_dv_file")
        .withColumn("_dv_dir", F.col("_dv_file"))
        .write.mode("overwrite")
        .partitionBy("_dv_dir")
        .parquet(staging)
    )
    import shutil
    from urllib.parse import unquote

    import pyarrow.parquet as pq

    version = base["version"] + 1
    # move the vector files into _dvs/ BEFORE the commit (same discipline
    # as data files: unreferenced on a crash or lost race, vacuum sweeps)
    dv_d = _dv_dir(path)
    os.makedirs(dv_d, exist_ok=True)
    moved: list[str] = []
    per_file: dict[str, tuple[int, list[str]]] = {}
    for di, d in enumerate(
        sorted(glob.glob(os.path.join(staging, "_dv_dir=*")))
    ):
        # hive-style partition dirs %-escape special chars; engine file
        # names are [a-z0-9.-] so this is normally the identity — but a
        # literal '=' in a future name would split wrong, so the decoded
        # name must round-trip to a file this delete actually touched
        data_name = unquote(os.path.basename(d).split("=", 1)[1])
        if data_name not in names:
            raise ValueError(
                f"deletion-vector staging dir {d!r} decoded to "
                f"{data_name!r}, which is not an affected data file — "
                "refusing to commit a misattributed vector"
            )
        n = 0
        dvn: list[str] = []
        for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
            rows = int(pq.ParquetFile(f).metadata.num_rows)
            if rows == 0:
                continue
            # d{di} disambiguates: one task writes same-named part files
            # into every directory it holds pairs for
            nm = f"v{version}-d{di:05d}-{os.path.basename(f)}"
            os.rename(f, os.path.join(dv_d, nm))
            moved.append(os.path.join(dv_d, nm))
            dvn.append(nm)
            n += rows
        if n:
            per_file[data_name] = (n, sorted(dvn))
    shutil.rmtree(staging, ignore_errors=True)
    if not per_file:
        return noop
    updated = []
    for fe in base["files"]:
        if fe["name"] in per_file:
            n, dvn = per_file[fe["name"]]
            fe = dict(fe)
            fe["dv"] = sorted(set(fe.get("dv", ())) | set(dvn))
            fe["ndel"] = fe.get("ndel", 0) + n
        updated.append(fe)
    entry = {
        "version": version,
        "op": "delete_mor",
        "key_col": base["key_col"],
        "files": updated,
    }
    if version % _CHECKPOINT_EVERY == 0:
        persist = dict(entry)
    else:
        persist = {
            "version": version,
            "op": "delete_mor",
            "key_col": base["key_col"],
            "added": [fe for fe in updated if fe["name"] in per_file],
            "removed": sorted(per_file),
        }
    if txn is not None:
        persist["txn"] = txn
    _copy_meta(persist, base)
    _copy_meta(entry, base)
    try:
        _commit(path, version, persist)
    except ConflictError:
        for f in moved:
            os.remove(f)
        raise
    deleted = sum(n for n, _ in per_file.values())
    return {
        "version": version,
        "files_rewritten": 0,
        "dv_files_added": len(moved),
        "files_total": len(base["files"]),
        "rows_deleted": deleted,
        "rows_after": _live_rows(updated),
    }


def delete_from_mor_retrying(
    spark: SparkSession,
    path: str,
    delete_keys: DataFrame,
    key_col: str,
    max_retries: int = 10,
    txn: dict | None = None,
) -> dict:
    """delete_from_mor with the optimistic-concurrency retry loop (and the
    txn replay-skip, for at-least-once callers). Every attempt deletes the
    same keys: the source is materialized once, before the loop."""
    delete_keys = materialize_source(delete_keys)

    def attempt() -> dict:
        if txn is not None:
            v = find_txn(path, txn["app"], txn["batch"])
            if v is not None:
                base = _read_entry(path, v)
                return {
                    "version": v,
                    "files_rewritten": 0,
                    "dv_files_added": 0,
                    "files_total": len(base["files"]),
                    "rows_deleted": 0,
                    "rows_after": _live_rows(base["files"]),
                    "skipped_as_duplicate_txn": True,
                }
        return delete_from_mor(spark, path, delete_keys, key_col, txn=txn)

    return _with_conflict_retry(attempt, max_retries)


def changed_files(
    path: str, from_version: int, to_version: int
) -> tuple[dict, list[str], list[str]]:
    """(to_entry, removed_paths, added_paths) between two snapshots — the
    file-level diff every incremental consumer starts from. Pure log
    arithmetic: carried-forward files are byte-identical by construction
    and never appear, so downstream reads are proportional to the
    REWRITTEN slice, not the table."""
    old, new = _read_entry(path, from_version), _read_entry(path, to_version)
    old_ids = {_file_identity(fe) for fe in old["files"]}
    new_ids = {_file_identity(fe) for fe in new["files"]}
    removed = [
        os.path.join(path, fe["name"])
        for fe in sorted(old["files"], key=lambda fe: fe["name"])
        if _file_identity(fe) not in new_ids
    ]
    added = [
        os.path.join(path, fe["name"])
        for fe in sorted(new["files"], key=lambda fe: fe["name"])
        if _file_identity(fe) not in old_ids
    ]
    return new, removed, added


def changed_frames(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int,
    schema_entry: dict | None = None,
) -> tuple[dict, DataFrame | None, DataFrame | None]:
    """(to_entry, before_df, after_df) between two snapshots, deletion-
    vector-aware — the ONE reader every row-level diff consumer (CDC,
    scd2, matview refresh) goes through. Files diff on _file_identity
    (name + DV state), so a merge-on-read delete — which changes no data
    file bytes — still surfaces: the touched file is read on BOTH sides,
    the before side under the FROM version's (smaller) vectors and the
    after side under the TO version's, and the suppressed rows fall out
    of the row diff exactly like a rewrite. Cost stays proportional to
    the changed slice: identity-equal files never appear. Either frame is
    None when its side has no changed files. ``schema_entry`` pins a
    caller-chosen schema across both frames (scd2's fold needs every
    transition under the FINAL schema)."""
    old, new = _read_entry(path, from_version), _read_entry(path, to_version)
    se = schema_entry if schema_entry is not None else new
    old_ids = {_file_identity(fe) for fe in old["files"]}
    new_ids = {_file_identity(fe) for fe in new["files"]}
    removed = sorted(
        fe["name"] for fe in old["files"] if _file_identity(fe) not in new_ids
    )
    added = sorted(
        fe["name"] for fe in new["files"] if _file_identity(fe) not in old_ids
    )
    before = _subset_df(spark, path, se, removed, dv_entry=old) if removed else None
    after = _subset_df(spark, path, se, added, dv_entry=new) if added else None
    return new, before, after


def table_changes(
    spark: SparkSession, path: str, from_version: int, to_version: int | None = None
) -> DataFrame:
    """Row-level change feed between two snapshots (CDC): every row with a
    ``_change`` column in ('insert', 'update_preimage', 'update_postimage',
    'delete') — the Delta-CDF change-type set. Preimages are what make the
    feed RETRACTABLE: a downstream materialized view subtracts the
    preimage and adds the postimage (operators/incremental.py
    refresh_from_changes), so it never rescans the table.

    Cost is proportional to the REWRITTEN slice, not the table: only files
    that differ between the two snapshots are read (carried-forward files
    are byte-identical by construction and skipped via the log alone —
    zero data IO for the untouched part). Update detection keys on the
    table's key column; a key present on both sides with any differing
    column is an update (postimage emitted), identical rows are dropped.
    """
    from pyspark.sql import functions as F

    to_v = current_version(path) if to_version is None else to_version
    new, before, after = changed_frames(spark, path, from_version, to_v)
    key = new["key_col"]
    if before is None and after is None:
        return read_table(spark, path, to_v).limit(0).withColumn(
            "_change", F.lit("insert")
        )
    # both sides read under the TO-version's pinned schema (a superset
    # after add_columns — old files yield NULL for new columns), so the
    # diff compares aligned rows even across an evolution boundary;
    # deletion-vector-only transitions come back via changed_frames'
    # identity diff (the touched file on both sides, each under its own
    # vectors) and classify as plain deletes below
    empty = read_table(spark, path, to_v).limit(0)
    before = before if before is not None else empty
    after = after if after is not None else empty
    cols = after.columns
    # identical rows (key + every column) cancel; the survivors classify
    ins_or_upd = after.exceptAll(before.select(*cols))
    gone = before.select(*cols).exceptAll(after)
    old_keys = before.select(key).distinct()
    inserts = ins_or_upd.join(old_keys, key, "left_anti").withColumn(
        "_change", F.lit("insert")
    )
    updates = ins_or_upd.join(old_keys, key, "left_semi").withColumn(
        "_change", F.lit("update_postimage")
    )
    new_keys = after.select(key).distinct()
    deletes = gone.join(new_keys, key, "left_anti").withColumn(
        "_change", F.lit("delete")
    )
    preimages = gone.join(new_keys, key, "left_semi").withColumn(
        "_change", F.lit("update_preimage")
    )
    return (
        inserts.unionByName(preimages).unionByName(updates).unionByName(deletes)
    )


def _prefix_version(name: str) -> int | None:
    """The N in a ``v{N}-`` data-file name prefix, or None."""
    import re

    m = re.match(r"v(\d+)-", name)
    return int(m.group(1)) if m else None


def vacuum(
    path: str,
    keep_last: int = 1,
    retention_seconds: float = 86400.0,
    dry_run: bool = False,
) -> dict:
    """Reclaim space: keep the newest ``keep_last`` snapshots, delete data
    files referenced only by dropped snapshots PLUS any unreferenced
    orphans (crashed writers), and drop the old log entries. Time travel
    reaches only retained versions afterwards.

    Safe against IN-FLIGHT writers (the Delta VACUUM retention contract):
    a concurrent merge/delete moves its new files into the table dir
    *before* committing the snapshot that references them, so "unreferenced
    right now" does not mean "garbage". An unreferenced data file is only
    removed when it provably belongs to a dropped era — its ``v{N}-``
    prefix has N < the retention cutoff — or it is older than
    ``retention_seconds`` (in-flight files are seconds old; crash debris
    ages past the window). Staging dirs are swept only past the same age
    gate. Set ``retention_seconds=0`` only when no writer can be running.

    ``dry_run=True`` reports what a real vacuum would reclaim (same
    counts, plus up-to-20 example names) without touching anything — no
    file deletions, no staging sweeps, and no checkpoint rewrites (the
    log stays byte-identical).
    """
    import time

    latest = current_version(path)
    if latest == 0:
        return {"data_files_removed": 0, "log_entries_removed": 0}
    # clamp to the oldest RETAINED version: a keep_last wider than what a
    # previous (tighter) vacuum left behind would otherwise compute a
    # cutoff pointing at an already-dropped entry
    oldest = min(
        int(os.path.basename(f)[1:9])
        for f in glob.glob(os.path.join(_snap_dir(path), "v????????.json"))
    )
    cutoff = max(oldest, latest - keep_last + 1)
    # Tag pins (sources/refs.py): a tagged version below the cutoff stays
    # fully readable — its log entry is retained (and checkpointed, below)
    # and its files count into the keep set. A tag is a retention pin,
    # not a bookmark; deleting the tag releases the pin for the NEXT
    # vacuum. Tags pointing below the oldest retained version (stale:
    # created against a log some pre-tag-aware vacuum already trimmed)
    # cannot be resurrected and are ignored.
    def _scan_pins() -> set[int]:
        pins: set[int] = set()
        refs_d = os.path.join(path, "_refs")
        if os.path.isdir(refs_d):
            for rp in glob.glob(os.path.join(refs_d, "*.json")):
                try:
                    with open(rp) as rf:
                        rv = int(json.load(rf)["version"])
                except (OSError, ValueError):
                    continue  # tag deleted/mid-write under us: next vacuum
                if oldest <= rv < cutoff:
                    pins.add(rv)
        return pins

    def _checkpoint_retained(versions) -> None:
        # Checkpoint-before-log-cleanup (the Delta contract, and the
        # promise at the _CHECKPOINT_EVERY comment): when a retained-
        # below-cutoff entry (the cutoff itself, or a tag-pinned version)
        # is a DELTA, its base checkpoint is about to be dropped, which
        # would brick its reconstruction — so materialize each as a FULL
        # snapshot and atomically replace its entry FIRST. A crash
        # between the replaces and the deletions below leaves a valid
        # log either way.
        for v in sorted(versions):
            raw = _read_raw(path, v)
            if "files" not in raw:
                full = _read_entry(path, v)
                if "txn" in raw:  # keep the idempotency marker with it
                    full["txn"] = raw["txn"]
                if "ts" in raw:  # keep the original commit time too
                    full["ts"] = raw["ts"]
                if not dry_run:
                    _rewrite_entry(path, v, full)

    pinned = _scan_pins()
    _checkpoint_retained(pinned | {cutoff})
    # Re-scan _refs immediately before the deletion phase: a tag linked
    # after the first scan would otherwise go unpinned while its version
    # is reclaimed (create_tag's post-link verify is the other half of
    # this handshake — between them the race window is the microseconds
    # separating this re-scan from the unlinks below).
    late = _scan_pins() - pinned
    if late:
        _checkpoint_retained(late)
        pinned |= late
    keep_files: set[str] = set()
    keep_dvs: set[str] = set()
    for v in sorted(pinned) + list(range(cutoff, latest + 1)):
        for e in _read_entry(path, v)["files"]:
            keep_files.add(e["name"])
            keep_dvs.update(e.get("dv", ()))
    now = time.time()
    removed = 0
    examples: list[str] = []
    for f in glob.glob(os.path.join(path, "*.parquet")):
        name = os.path.basename(f)
        if name in keep_files:
            continue
        ver = _prefix_version(name)
        dropped_era = ver is not None and ver < cutoff
        try:
            aged_out = now - os.path.getmtime(f) >= retention_seconds
        except OSError:
            continue  # already reclaimed by a concurrent vacuum
        if dropped_era or aged_out:
            if len(examples) < 20:
                examples.append(name)
            if not dry_run:
                os.remove(f)
            removed += 1
    # deletion-vector files: same reference-counting + era/age rules as
    # data files (an in-flight delete_from_mor moves its vector in before
    # committing, so "unreferenced right now" is not "garbage" here either)
    for f in glob.glob(os.path.join(_dv_dir(path), "*.parquet")):
        name = os.path.basename(f)
        if name in keep_dvs:
            continue
        ver = _prefix_version(name)
        dropped_era = ver is not None and ver < cutoff
        try:
            aged_out = now - os.path.getmtime(f) >= retention_seconds
        except OSError:
            continue
        if dropped_era or aged_out:
            if len(examples) < 20:
                examples.append(name)
            if not dry_run:
                os.remove(f)
            removed += 1
    # crashed-writer staging dirs — age-gated: a live writer's staging dir
    # is mid-write and fresh; only debris past the retention window goes
    import shutil

    staging_swept = 0
    for pat in ("_snap_staging-*", "_dv_staging-*"):
        for d in glob.glob(os.path.join(path, pat)):
            try:
                if now - os.path.getmtime(d) < retention_seconds:
                    continue
            except OSError:
                continue
            staging_swept += 1
            if not dry_run:
                shutil.rmtree(d, ignore_errors=True)
    dropped = 0
    for p in glob.glob(os.path.join(_snap_dir(path), "v????????.json")):
        ev = int(os.path.basename(p)[1:9])
        if ev < cutoff and ev not in pinned:
            if not dry_run:
                os.remove(p)
            dropped += 1
    out = {
        "data_files_removed": removed,
        "log_entries_removed": dropped,
        "staging_dirs_swept": staging_swept,
        "tag_pinned_versions": sorted(pinned),
    }
    if dry_run:
        out["dry_run"] = True
        out["examples"] = examples
    return out


def _with_conflict_retry(fn, max_retries: int) -> dict:
    last: ConflictError | None = None
    for _ in range(max_retries + 1):
        try:
            return fn()
        except ConflictError as e:
            last = e  # loser: the base snapshot moved; re-read and redo
    raise ConflictError(
        f"gave up after {max_retries} retries: {last}"
    ) from last


def merge_into_retrying(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_col: str,
    max_retries: int = 10,
    txn: dict | None = None,
    merge_schema: bool = False,
) -> dict:
    """merge_into with optimistic-concurrency retry: on a lost commit race
    the whole upsert is re-planned against the WINNER's snapshot (prune →
    rewrite → commit), so concurrent writers serialize into some order and
    none is lost — the Delta/Iceberg commit-loop contract. Each retry is
    a full re-read of the new base: upserts keyed on ``key_col`` commute
    row-wise, so any serialization order yields the same final table when
    writers touch disjoint keys, and last-writer-wins per key otherwise.
    With ``txn``, a retry that discovers the marker already committed (a
    replayed twin won) skips instead of double-applying. The source is
    materialized once, before the loop, so every attempt upserts the
    same rows."""
    updates = materialize_source(updates)

    def attempt() -> dict:
        if txn is not None:
            v = find_txn(path, txn["app"], txn["batch"])
            if v is not None:
                base = _read_entry(path, v)
                return {
                    "version": v,
                    "files_rewritten": 0,
                    "files_total": len(base["files"]),
                    "rows_after": _live_rows(base["files"]),
                    "skipped_as_duplicate_txn": True,
                }
        return merge_into(
            spark, path, updates, key_col, txn=txn, merge_schema=merge_schema
        )

    return _with_conflict_retry(attempt, max_retries)


def delete_from_retrying(
    spark: SparkSession,
    path: str,
    delete_keys: DataFrame,
    key_col: str,
    max_retries: int = 10,
) -> dict:
    """delete_from with the same optimistic-concurrency retry loop, over
    keys materialized once before it."""
    delete_keys = materialize_source(delete_keys)
    return _with_conflict_retry(
        lambda: delete_from(spark, path, delete_keys, key_col), max_retries
    )


def optimize_retrying(
    spark: SparkSession, path: str, max_retries: int = 10, **kwargs
) -> dict:
    """optimize with the optimistic-concurrency retry loop — the public
    maintenance entry point for callers racing live writers (streaming
    ingest's auto-compaction hook). Each retry re-reads the new base and
    re-picks victims, so a compaction that loses to a concurrent append
    simply folds the post-append small-file tail instead."""
    return _with_conflict_retry(
        lambda: optimize(spark, path, **kwargs), max_retries
    )


def optimize(
    spark: SparkSession,
    path: str,
    target_file_rows: int | None = None,
    small_file_rows: int | None = None,
    purge_dv: bool = False,
    zorder_by: list[str] | None = None,
    where: dict | None = None,
) -> dict:
    """Small-file compaction as a versioned commit (the Delta OPTIMIZE
    verb): coalesce files below ``small_file_rows`` into files of
    ``target_file_rows``, rewrite ONLY those, and commit the next version
    with identical rows. Readers pinned to older versions are untouched
    (the old files stay until vacuum); a concurrent merge/delete losing
    the version race retries exactly like any other writer.

    Defaults: target = max(LIVE rows of the files in scope) (compact up
    to the table's organic file size), small = target // 2. Large files
    are carried forward without being read or rewritten — at 100 TB the
    cost is proportional to the small-file tail, not the table. Returns
    the same accounting dict shape as merge/delete.

    On a partitioned table, a file written before the CURRENT partition
    spec (no recorded range for one of its entries) is rewritten once,
    whatever its size and also under ``where=`` (it has no range to be
    scoped out by): the eager migration ``set_partition_spec`` promises.
    One such file is enough to commit; the rewrite clusters on the spec
    and records its ranges, so a second optimize finds nothing to do.

    File sizes are LIVE rows (num_rows - ndel): a file hollowed out by
    merge-on-read deletes becomes a compaction victim once its live half
    drops under the threshold, and every rewrite MATERIALIZES the
    victims' deletion vectors (merge-on-read scan -> clean files, no dv
    on the new entries). ``purge_dv=True`` is the Delta REORG...PURGE
    verb: ALSO rewrite every DV-carrying file regardless of size, so no
    vector survives the commit.

    ``where={col: value, ...}`` scopes the compaction to the FILES whose
    recorded ranges can contain the equality values (the
    read_table_where skip) — Delta's ``OPTIMIZE ... WHERE``: a
    day-partitioned ingest folds ONE day's small-file tail without
    reading the year. File-level scoping: a file straddling the
    predicate compacts whole (rows are preserved exactly either way).

    ``zorder_by=[c1, c2, ...]`` is the Delta OPTIMIZE ZORDER BY verb:
    rewrite the WHOLE table clustered on the Morton curve of the given
    columns (sources/zorder.py — literal-bounds bit interleave, one range
    shuffle) and record per-file [min, max] for EVERY clustered column in
    the log (``stats``, one footer pass via footer_key_ranges_multi) —
    read_table_pruned can then file-skip on any of them, the
    multi-dimension answer a single-key sort layout cannot give. Vectors
    materialize as part of the rewrite, like any other."""
    from math import ceil

    base = _read_entry(path, current_version(path))
    if not base["files"]:
        raise ValueError(f"{path} has no files to optimize")
    candidates = base["files"]
    if where:
        # same transform-aware file-skip planner as read_table_where:
        # (lo, hi) tuples scope by overlap, scalars by containment
        checks = _scope_checks(spark, path, base, where)
        candidates = [fe for fe in candidates if _file_in_scope(fe, checks)]
        if not candidates:
            return {
                "version": base["version"],
                "files_rewritten": 0,
                "files_total": len(base["files"]),
                "rows_after": _live_rows(base["files"]),
            }
    sizes = [e["num_rows"] - e.get("ndel", 0) for e in candidates]
    target = max(sizes) if target_file_rows is None else int(target_file_rows)
    small = (max(1, target // 2)) if small_file_rows is None else int(small_file_rows)
    idents, trans = _spec_stat_plan(base, base.get("partition_spec"))
    spec_keys = [
        k for k in [*idents, *(sk for sk, _, _ in trans)]
        if k != _phys(base, base["key_col"])
    ]

    def must_rewrite(e: dict) -> bool:
        # a vector to PURGE, or a file written before the current spec
        # (no range for one of its entries): rewritten whatever its size
        st = e.get("stats", {})
        return bool(purge_dv and e.get("dv")) or any(
            k not in st for k in spec_keys
        )

    if zorder_by:
        victims = list(candidates)  # re-clustering rewrites the scope
    else:
        victims = [
            e
            for e in candidates
            if e["num_rows"] - e.get("ndel", 0) < small or must_rewrite(e)
        ]
    if not zorder_by and len(victims) < 2 and not any(map(must_rewrite, victims)):
        # nothing to gain: compaction needs at least two small files
        # (unless one of them must be rewritten anyway)
        return {
            "version": base["version"],
            "files_rewritten": 0,
            "files_total": len(base["files"]),
            "rows_after": _live_rows(base["files"]),
        }
    vnames = sorted(e["name"] for e in victims)
    vfiles = [os.path.join(path, n) for n in vnames]
    rows = _live_rows(victims)
    n_out = max(1, ceil(max(rows, 1) / target))
    key = base["key_col"]
    staging = os.path.join(path, f"_snap_staging-{uuid.uuid4().hex}")
    src = _subset_df(spark, path, base, vnames)
    if zorder_by:
        from . import zorder as zo

        brow = src.agg(
            *[F.min(F.col(c).cast("double")).alias(f"lo_{c}") for c in zorder_by],
            *[F.max(F.col(c).cast("double")).alias(f"hi_{c}") for c in zorder_by],
        ).collect()[0]
        bounds = {
            c: (float(brow[f"lo_{c}"]), float(brow[f"hi_{c}"])) for c in zorder_by
        }
        clustered = (
            src.withColumn("_z", zo._zvalue_expr(list(zorder_by), bounds, zo.ZBITS))
            .repartitionByRange(n_out, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
        )
    elif base.get("partition_spec"):
        # partitioned table: compaction must keep partition values
        # contiguous (range on spec first, key within) or the fold would
        # smear every partition across every output file and kill the
        # manifest's partition pruning
        ccols = _cluster_cols(base["partition_spec"], src)
        clustered = src.repartitionByRange(
            n_out, *ccols, key
        ).sortWithinPartitions(*ccols, key)
    else:
        # key-clustered output keeps the manifest's min/max ranges tight,
        # so merge/delete pruning stays as selective as before compaction
        clustered = src.repartitionByRange(n_out, key).sortWithinPartitions(key)
    _write_staging(_to_physical(clustered, base), base, staging)
    entry = _commit_rewrite(
        path, base, set(vfiles), staging, "optimize",
        stat_cols=list(zorder_by) if zorder_by else None,
    )
    return {
        "version": entry["version"],
        "files_rewritten": len(victims),
        "files_total": len(base["files"]),
        "rows_after": _live_rows(entry["files"]),
    }


# Fold cadence for assembling per-version-transition frames: every K
# transitions the accumulated union is materialized through an EAGER
# localCheckpoint, truncating both the logical plan AND the RDD lineage.
# Without it a cold rebuild over hundreds of retained versions unions
# hundreds of diff subtrees into one plan — the Catalyst-analysis tax the
# round-9 k-means lesson documents, here on the version dimension — and
# even a lazily-checkpointed chain executes its FIRST materialization as
# one giant DAG (measured: ~7 MB task binaries, 88 s at 100 versions).
# Eager folds execute V/K bounded jobs instead (round-9 verdict #2).
_SCD2_FOLD_EVERY = 16


def _union_folded(frames, fold_every: int = _SCD2_FOLD_EVERY) -> DataFrame | None:
    """unionByName over ``frames``, folded every ``fold_every`` inputs:
    the assembled plan never exceeds fold_every subtrees, each fold is a
    small self-contained job, and the per-fold result is checkpoint-
    backed (changed-slice-sized — the same rows the final query reads)."""
    acc, since = None, 0
    for f in frames:
        acc = f if acc is None else acc.unionByName(f)
        since += 1
        if since >= fold_every:
            acc = acc.localCheckpoint(eager=True)
            since = 0
    return acc


def _scd2_transition(
    spark: SparkSession, path: str, key: str, v: int,
    schema_entry: dict | None = None,
) -> tuple[DataFrame, DataFrame] | None:
    """(opens, closes) for the transition v-1 → v, as ONE grouped diff.

    scd2 needs only the version's row surpluses — opens = rows present in
    v but not v-1, closes = keys of rows present in v-1 but not v — not
    table_changes' four-way insert/update/delete classification (two
    exceptAll passes + four key joins ≈ 8 shuffle stages). Tag-count
    grouping gets both surpluses from a single shuffle: union the two
    sides' changed files with (old, new) presence tags and group by every
    column; a row with new-count > old-count opened at v, old-count >
    new-count closed its key at v. Presence equals multiplicity because
    snapshot tables are key-unique by construction (merge/delete upsert
    on the key). Carried-forward files are byte-identical and never read.
    Returns None when the snapshots share every file (no-op commit)."""
    # every transition frame in a rebuild must share ONE schema or the
    # assembled unionByName breaks — callers pass the FINAL version's
    # entry; pre-evolution files then read with NULLs for later columns.
    # changed_frames diffs on file IDENTITY (name + deletion-vector
    # state), so a merge-on-read delete closes its keys here exactly like
    # a rewrite would.
    se_in = schema_entry
    if se_in is None:
        se_in = _read_entry(path, v)
    new_e, before, after = changed_frames(
        spark, path, v - 1, v, schema_entry=se_in
    )
    if before is None and after is None:
        return None
    if "schema_json" in se_in:
        from pyspark.sql.types import StructType

        template = spark.createDataFrame(
            [], StructType.fromJson(json.loads(se_in["schema_json"]))
        )
    else:
        template = read_table(spark, path, v).limit(0)
    cols = template.columns
    before = before if before is not None else template
    after = after if after is not None else template
    g = (
        before.select(*cols).withColumn("_o", F.lit(1)).withColumn("_n", F.lit(0))
        .unionByName(
            after.select(*cols).withColumn("_o", F.lit(0)).withColumn("_n", F.lit(1))
        )
        .groupBy(*cols)
        .agg(F.sum("_o").alias("_so"), F.sum("_n").alias("_sn"))
    )
    opens = (
        g.filter(F.col("_sn") > F.col("_so"))
        .select(*cols)
        .withColumn("valid_from", F.lit(v).cast("long"))
    )
    closes = (
        g.filter(F.col("_so") > F.col("_sn"))
        .select(F.col(key).alias("_ck"), F.lit(v).cast("long").alias("_close_at"))
        .distinct()
    )
    return opens, closes


def scd2_history(
    spark: SparkSession, path: str, to_version: int | None = None
) -> DataFrame:
    """Type-2 slowly-changing-dimension history assembled from the
    snapshot log: one row per (key, value-interval) with
    ``valid_from`` / ``valid_to`` version columns (``valid_to`` exclusive,
    NULL = current) — the dimension-table build every warehouse runs off
    a CDC feed, here derived purely from per-transition changed-file
    diffs (``_scd2_transition`` — one shuffle each) so the cost is the
    CHANGED slice per version transition, never |table| × versions; the
    assembled plan is folded every ``_SCD2_FOLD_EVERY`` transitions, so
    a cold rebuild over hundreds of retained versions runs as bounded
    jobs (stress-pinned at 100 versions).

    Construction: version 1 opens an interval for every row; each later
    transition's inserts/update-postimages OPEN intervals at v and its
    deletes/update-preimages CLOSE the key's newest open interval at v
    (an update does both, so consecutive values chain). Interval matching
    is one per-key aggregation: an interval opened at v closes at the
    smallest close-event version > v. The invariant (pinned by the test):
    rows with valid_from ≤ v < coalesce(valid_to, ∞) reproduce
    ``read_table(v)`` EXACTLY, for every retained v.

    Requires version 1 to still be retained (vacuum keep_last must cover
    the rebuild window — or run scd2 incrementally from a prior build)."""
    from pyspark.sql import functions as F

    latest = current_version(path) if to_version is None else to_version
    final_e = _read_entry(path, latest)
    key = final_e["key_col"]
    # v1 rows read under the FINAL schema (nulls for later-added columns)
    # so every frame in the fold unions cleanly across evolution commits
    v1_files = [
        os.path.join(path, e["name"]) for e in _read_entry(path, 1)["files"]
    ]
    opens = [
        _files_df(spark, final_e, v1_files).withColumn(
            "valid_from", F.lit(1).cast("long")
        )
    ]
    closes = []
    for v in range(2, latest + 1):
        tr = _scd2_transition(spark, path, key, v, schema_entry=final_e)
        if tr is None:
            continue
        opens.append(tr[0])
        closes.append(tr[1])
    all_opens = _union_folded(opens)
    if not closes:
        return all_opens.withColumn("valid_to", F.lit(None).cast("long"))
    all_closes = _union_folded(closes)
    # valid_to = min close event strictly after the open (per key)
    matched = (
        all_opens.join(
            all_closes,
            (all_opens[key] == all_closes["_ck"])
            & (all_closes["_close_at"] > all_opens["valid_from"]),
            "left",
        )
        .drop("_ck")
        .groupBy(*all_opens.columns)
        .agg(F.min("_close_at").alias("valid_to"))
    )
    return matched


def scd2_extend(
    spark: SparkSession,
    history: DataFrame,
    path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Extend an existing SCD2 history (built up to ``from_version``) with
    the transitions (from_version, to_version] — the incremental
    maintenance path: a nightly job folds yesterday's versions into the
    persisted dimension without rebuilding from v1 (which vacuum may have
    dropped). Cost is the changed slice of the NEW versions only.

    Equivalence contract (pinned by the test): extend(build(1..k), k, n)
    == build(1..n) exactly, for any split point k."""
    from pyspark.sql import functions as F

    latest = current_version(path) if to_version is None else to_version
    final_e = _read_entry(path, latest)
    key = final_e["key_col"]
    opens, closes = [], []
    for v in range(from_version + 1, latest + 1):
        tr = _scd2_transition(spark, path, key, v, schema_entry=final_e)
        if tr is None:
            continue
        opens.append(tr[0])
        closes.append(tr[1])
    if not opens:
        return history
    new_opens = _union_folded(opens)
    new_closes = _union_folded(closes)
    # closed historical intervals are immutable; only CURRENT rows
    # (valid_to IS NULL) can be closed by the new transitions, and only
    # the new opens can open — the incremental property
    settled = history.filter(F.col("valid_to").isNotNull())
    current = history.filter(F.col("valid_to").isNull()).drop("valid_to")
    open_cols = [c for c in current.columns]
    all_open = current.unionByName(new_opens.select(*open_cols))
    matched = (
        all_open.join(
            new_closes,
            (all_open[key] == new_closes["_ck"])
            & (new_closes["_close_at"] > all_open["valid_from"]),
            "left",
        )
        .drop("_ck")
        .groupBy(*open_cols)
        .agg(F.min("_close_at").alias("valid_to"))
    )
    return settled.unionByName(matched.select(*history.columns))
