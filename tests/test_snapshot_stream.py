"""snapshot_stream: the Python-DataSource streaming/batch surface over
snapshot tables — version offsets, exactly-once restart, change-commit
policy, rate limiting, merge-on-read batch fidelity."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hadoop_prototype_spark.sources import snapshot_stream as ss
from hadoop_prototype_spark.sources import snapshots as sn


def _rows(spark, lo: int, hi: int):
    return spark.range(lo, hi + 1).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("val")
    )


def _drain(spark, sdf, ckpt: str, out: str):
    """Run the stream to exhaustion into a parquet sink (the memory sink
    cannot recover from a checkpoint, so restart tests need a durable
    one) and return the ACCUMULATED sink contents."""
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.read.parquet(out)


def _collect_kv(df):
    return sorted((r["k"], r["val"]) for r in df.collect())


def test_stream_appends_then_exactly_once_restart(spark, tmp_path):
    path = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    sn.create_table(_rows(spark, 1, 10), path, "k")
    sn.append_table(spark, path, _rows(spark, 11, 15), "k")
    sn.append_table(spark, path, _rows(spark, 16, 18), "k")

    got = _drain(spark, ss.stream_table(spark, path), ckpt, str(tmp_path / "out"))
    assert _collect_kv(got) == _collect_kv(sn.read_table(spark, path))

    # no new commits: a restarted run emits nothing (offset checkpointed);
    # the sink accumulates, so its contents are UNCHANGED — same 18 rows
    got = _drain(spark, ss.stream_table(spark, path), ckpt, str(tmp_path / "out"))
    assert got.count() == 18

    # one more append: ONLY the new slice flows — accumulated = 21 rows
    # exactly once (a re-emit of old versions would duplicate them here)
    sn.append_table(spark, path, _rows(spark, 19, 21), "k")
    got = _drain(spark, ss.stream_table(spark, path), ckpt, str(tmp_path / "out"))
    assert _collect_kv(got) == _collect_kv(_rows(spark, 1, 21))


def test_stream_change_commit_raises_without_opt_in(spark, tmp_path):
    path = str(tmp_path / "tbl")
    sn.create_table(_rows(spark, 1, 10), path, "k")
    sn.merge_into(spark, path, _rows(spark, 1, 3).withColumn("val", F.lit(0)), "k")
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="[Rr]emoves or rewrites"):
        _drain(
            spark,
            ss.stream_table(spark, path),
            str(tmp_path / "ckpt"),
            str(tmp_path / "out"),
        )


def test_stream_skip_change_commits(spark, tmp_path):
    path = str(tmp_path / "tbl")
    sn.create_table(_rows(spark, 1, 10), path, "k")
    sn.append_table(spark, path, _rows(spark, 11, 12), "k")
    # change commits in the middle: a MoR delete (DV-only identity change)
    # and a CoW merge rewrite — both must be SKIPPED, not crashed on
    sn.delete_from_mor(spark, path, spark.range(5, 7).select(F.col("id").alias("k")), "k")
    sn.merge_into(spark, path, _rows(spark, 1, 2).withColumn("val", F.lit(0)), "k")
    sn.append_table(spark, path, _rows(spark, 13, 14), "k")

    got = _drain(
        spark,
        ss.stream_table(spark, path, skipChangeCommits=True),
        str(tmp_path / "ckpt"),
        str(tmp_path / "out"),
    )
    # appends flow through; the delete/merge versions contribute nothing
    assert _collect_kv(got) == _collect_kv(_rows(spark, 1, 14))


def test_stream_starting_version(spark, tmp_path):
    path = str(tmp_path / "tbl")
    sn.create_table(_rows(spark, 1, 10), path, "k")
    sn.append_table(spark, path, _rows(spark, 11, 12), "k")
    sn.append_table(spark, path, _rows(spark, 13, 14), "k")
    got = _drain(
        spark,
        ss.stream_table(spark, path, startingVersion=3),
        str(tmp_path / "ckpt"),
        str(tmp_path / "out"),
    )
    assert _collect_kv(got) == [(13, 26), (14, 28)]


def test_rate_limit_and_vacuum_error_reader_direct(spark, tmp_path):
    path = str(tmp_path / "tbl")
    sn.create_table(_rows(spark, 1, 4), path, "k")
    for lo in range(5, 13, 2):
        sn.append_table(spark, path, _rows(spark, lo, lo + 1), "k")
    # 5 versions total; maxVersionsPerTrigger=2 advances the offset ≤2/call
    r = ss.SnapshotStreamReader(path, "{}", {"maxversionspertrigger": "2"})
    seen = [r.initialOffset()["version"]]
    for _ in range(4):
        seen.append(r.latestOffset()["version"])
    assert seen == [0, 2, 4, 5, 5]

    # vacuum away the head of the log, then ask for the dropped window
    sn.vacuum(path, keep_last=1, retention_seconds=0.0)
    r2 = ss.SnapshotStreamReader(path, "{}", {})
    with pytest.raises(FileNotFoundError, match="startingVersion"):
        r2.partitions({"version": 0}, {"version": 5})


def test_batch_reader_time_travel_and_mor_fidelity(spark, tmp_path):
    path = str(tmp_path / "tbl")
    sn.create_table(_rows(spark, 1, 10), path, "k")
    sn.append_table(spark, path, _rows(spark, 11, 14), "k")
    sn.delete_from_mor(spark, path, spark.range(3, 6).select(F.col("id").alias("k")), "k")

    # latest: deletion vectors must be applied inside the DataSource read
    assert _collect_kv(ss.read_table_ds(spark, path)) == _collect_kv(
        sn.read_table(spark, path)
    )
    # time travel to every retained version matches the native reader
    for v in (1, 2, 3):
        assert _collect_kv(ss.read_table_ds(spark, path, version=v)) == _collect_kv(
            sn.read_table(spark, path, version=v)
        ), f"v{v} mismatch"


def test_stream_projects_to_pinned_schema_across_evolution(spark, tmp_path):
    path = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    sn.create_table(_rows(spark, 1, 4), path, "k")
    sdf = ss.stream_table(spark, path)  # schema pinned pre-evolution
    sn.add_columns(spark, path, [("tag", "string")])
    sn.append_table(
        spark, path,
        _rows(spark, 5, 6).withColumn("tag", F.lit("new")), "k",
    )
    got = _drain(spark, sdf, ckpt, str(tmp_path / "out"))
    # pinned (k, val) schema: the widened file's extra column is dropped,
    # the add_columns version itself contributes no rows
    assert got.columns == ["k", "val"]
    assert _collect_kv(got) == _collect_kv(_rows(spark, 1, 6))


def test_ingest_corpus_is_tailable_end_to_end(spark, sf_dir, tmp_path):
    """The full lakehouse loop: streaming ingest lands the corpus as a
    snapshot table (one versioned blind append per micro-batch, txn
    markers in the log) and a DOWNSTREAM stream tails exactly those
    appends through the DataSource — batch 2's rerun picks up only the
    versions the first drain hadn't seen."""
    import time as _time

    import pyspark.sql.functions as SF

    from hadoop_prototype_spark.sources.tables import load_table
    from hadoop_prototype_spark.streaming import ingest

    docs = load_table(spark, sf_dir, "documents")
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    hi = docs.agg(SF.max("doc_id")).first()[0]
    cut = hi // 2
    p0 = os.path.join(src_dir, "b0.parquet")
    p1 = os.path.join(src_dir, "b1.parquet")
    docs.filter(SF.col("doc_id") <= cut).toPandas().to_parquet(p0, index=False)
    docs.filter(SF.col("doc_id") > cut).toPandas().to_parquet(p1, index=False)
    now = _time.time()
    os.utime(p0, (now, now))
    os.utime(p1, (now + 1, now + 1))

    out = str(tmp_path / "out")
    corpus = os.path.join(out, "corpus")
    q = ingest.start_ingest_pipeline(
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir),
        corpus_path=corpus,
        index_path=os.path.join(out, "index"),
        stats_path=os.path.join(out, "stats"),
        checkpoint_dir=os.path.join(out, "ckpt"),
        snapshot_corpus=True,
    )
    q.awaitTermination(300)
    assert sn.current_version(corpus) == 2  # create + append

    ckpt = str(tmp_path / "tail_ckpt")
    sink = str(tmp_path / "tail_out")
    got = _drain(spark, ss.stream_table(spark, corpus), ckpt, sink)
    assert sorted(r.doc_id for r in got.collect()) == sorted(
        r.doc_id for r in sn.read_table(spark, corpus).collect()
    )


def test_stream_read_change_feed_matches_batch_cdc(spark, tmp_path):
    """readChangeFeed=true: the streamed feed over an adversarial commit
    chain (create, append, CoW merge, MoR delete, optimize, append)
    equals the batch table_changes classification version by version —
    including the compaction version cancelling to ZERO rows."""
    path = str(tmp_path / "tbl")
    sn.create_table(_rows(spark, 1, 10), path, "k")
    sn.append_table(spark, path, _rows(spark, 11, 12), "k")
    sn.merge_into(spark, path, _rows(spark, 1, 2).withColumn("val", F.lit(0)), "k")
    sn.delete_from_mor(
        spark, path, spark.range(5, 7).select(F.col("id").alias("k")), "k"
    )
    # compact everything: a real rewrite at any partition count
    opt = sn.optimize(spark, path, target_file_rows=10**6, small_file_rows=10**6)
    sn.append_table(spark, path, _rows(spark, 13, 14), "k")
    latest = sn.current_version(path)
    opt_v = opt["version"]
    assert opt_v == latest - 1 and opt["files_rewritten"] > 0

    got = _drain(
        spark,
        ss.stream_table(spark, path, readChangeFeed=True),
        str(tmp_path / "ckpt"),
        str(tmp_path / "out"),
    )
    assert got.columns == ["k", "val", "_change", "_commit_version"]

    expected = []
    for v in range(1, latest + 1):
        if v == 1:
            df = sn.read_table(spark, path, 1).withColumn(
                "_change", F.lit("insert")
            )
        else:
            df = sn.table_changes(spark, path, v - 1, v)
        expected += [(r["k"], r["val"], r["_change"], v) for r in df.collect()]
    rows = [
        (r["k"], r["val"], r["_change"], r["_commit_version"])
        for r in got.collect()
    ]
    assert sorted(rows) == sorted(expected)
    # the optimize version contributed nothing (pure rewrite cancels)
    assert not [r for r in rows if r[3] == opt_v]
    # spot-check the classification itself
    by_change = {}
    for r in rows:
        by_change.setdefault(r[2], []).append(r)
    assert sorted(k for k, _, c, _ in rows if c == "delete") == [5, 6]
    assert sorted(k for k, _, c, _ in rows if c == "update_postimage") == [1, 2]


def test_stream_cdc_rejects_skip_change_commits(spark, tmp_path):
    path = str(tmp_path / "tbl")
    sn.create_table(_rows(spark, 1, 4), path, "k")
    with pytest.raises(Exception, match="contradicts"):
        _drain(
            spark,
            ss.stream_table(
                spark, path, readChangeFeed=True, skipChangeCommits=True
            ),
            str(tmp_path / "ckpt"),
            str(tmp_path / "out"),
        )


def test_stream_cdc_restore_of_append_is_pure_removal(spark, tmp_path):
    """RESTORE of an append is the one commit shape whose after-side is
    EMPTY (the to-version's files are a subset of the from-version's) —
    the CDC diff must classify every rolled-back row as a delete, not
    crash on the empty relation."""
    path = str(tmp_path / "tbl")
    sn.create_table(_rows(spark, 1, 6), path, "k")
    sn.append_table(spark, path, _rows(spark, 7, 9), "k")
    sn.restore_table(path, 1)

    got = _drain(
        spark,
        ss.stream_table(spark, path, readChangeFeed=True),
        str(tmp_path / "ckpt"),
        str(tmp_path / "out"),
    )
    restore_rows = sorted(
        (r["k"], r["_change"]) for r in got.collect() if r["_commit_version"] == 3
    )
    assert restore_rows == [(7, "delete"), (8, "delete"), (9, "delete")]
    # and the whole feed still matches batch CDC for that version
    batch = sorted(
        (r["k"], r["_change"]) for r in sn.table_changes(spark, path, 2, 3).collect()
    )
    assert restore_rows == batch


def test_batch_writer_append_and_overwrite(spark, tmp_path):
    """df.write.format("snapshot_table"): append commits one version
    (creating the table on first write), overwrite commits a versioned
    INSERT OVERWRITE — the replaced rows stay reachable by time travel."""
    path = str(tmp_path / "tbl")
    ss.register(spark)
    _rows(spark, 1, 10).write.format("snapshot_table").option(
        "keyCol", "k"
    ).mode("append").save(path)
    assert sn.current_version(path) == 1
    assert _collect_kv(sn.read_table(spark, path)) == _collect_kv(_rows(spark, 1, 10))

    _rows(spark, 11, 12).write.format("snapshot_table").mode("append").save(path)
    assert sn.current_version(path) == 2
    assert _collect_kv(sn.read_table(spark, path)) == _collect_kv(_rows(spark, 1, 12))

    _rows(spark, 100, 102).write.format("snapshot_table").mode("overwrite").save(path)
    assert sn.current_version(path) == 3
    assert _collect_kv(sn.read_table(spark, path)) == _collect_kv(
        _rows(spark, 100, 102)
    )
    # time travel still reaches the pre-overwrite contents
    assert _collect_kv(sn.read_table(spark, path, version=2)) == _collect_kv(
        _rows(spark, 1, 12)
    )
    assert sn.history(path)[-1]["op"] == "overwrite"


def test_stream_writer_exactly_once_across_checkpoint_wipe(spark, tmp_path):
    """writeStream.format("snapshot_table"): one versioned append per
    micro-batch with the batch id as an in-log txn marker; wiping the
    sink checkpoint and replaying the same source commits NOTHING new
    (the marker makes the at-least-once writer exactly-once)."""
    import shutil
    import time as _time

    src = str(tmp_path / "src")
    os.makedirs(src)
    p0, p1 = os.path.join(src, "b0.parquet"), os.path.join(src, "b1.parquet")
    _rows(spark, 1, 6).toPandas().to_parquet(p0, index=False)
    _rows(spark, 7, 9).toPandas().to_parquet(p1, index=False)
    now = _time.time()
    os.utime(p0, (now, now))
    os.utime(p1, (now + 1, now + 1))

    path = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    ss.register(spark)

    def run(cp):
        q = (
            spark.readStream.schema(_rows(spark, 1, 1).schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.format("snapshot_table")
            .option("keyCol", "k")
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start(path)
        )
        q.awaitTermination(180)

    run(ckpt)
    assert sn.current_version(path) == 2  # create + one append
    assert [h["op"] for h in sn.history(path)] == ["create", "append"]
    assert _collect_kv(sn.read_table(spark, path)) == _collect_kv(_rows(spark, 1, 9))
    assert sn.find_txn(path, "snapshot_table_sink", 0) == 1
    assert sn.find_txn(path, "snapshot_table_sink", 1) == 2

    # checkpoint wipe: the replayed batches find their markers and skip
    shutil.rmtree(ckpt)
    files_before = sorted(
        f for f in os.listdir(path) if f.endswith(".parquet")
    )
    run(str(tmp_path / "ckpt2"))
    assert sn.current_version(path) == 2
    assert sorted(f for f in os.listdir(path) if f.endswith(".parquet")) == (
        files_before
    )

    # and the written table round-trips through the streaming READER
    got = _drain(
        spark,
        ss.stream_table(spark, path),
        str(tmp_path / "rckpt"),
        str(tmp_path / "rout"),
    )
    assert _collect_kv(got) == _collect_kv(_rows(spark, 1, 9))


def test_commit_staged_retries_from_intact_staging_on_lost_race(spark, tmp_path):
    """The sink's OCC seam: two writers race the same version — the loser
    must RETRY FROM ITS STAGING (files enter by hardlink, so losing the
    race destroys only the links, never the staged data) and land as the
    next version with zero lost rows. The race is made deterministic
    with a barrier inside current_version, so both writers plan the same
    base before either commits."""
    import threading

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "tbl")
    sn.create_table(_rows(spark, 1, 4), path, "k")

    def stage(tag, lo, hi):
        d = os.path.join(path, f"_snap_staging-{tag}")
        os.makedirs(d)
        f = os.path.join(d, f"part-{tag}.parquet")
        pq.write_table(
            pa.table({"k": list(range(lo, hi + 1)),
                      "val": [i * 2 for i in range(lo, hi + 1)]}),
            f,
        )
        return [f]

    fa, fb = stage("aaaa", 10, 12), stage("bbbb", 20, 21)
    barrier = threading.Barrier(2, timeout=30)
    orig = sn.current_version
    passed = {"n": 0}

    def racing_current_version(p):
        v = orig(p)
        # only the FIRST read of each writer synchronizes; retries flow
        if passed["n"] < 2:
            passed["n"] += 1
            barrier.wait()
        return v

    sn.current_version = racing_current_version
    results, errors = [], []

    def run(files):
        try:
            results.append(sn.commit_staged(path, files, "k"))
        except Exception as e:  # pragma: no cover - surfaced by asserts
            errors.append(e)

    try:
        t1 = threading.Thread(target=run, args=(fa,))
        t2 = threading.Thread(target=run, args=(fb,))
        t1.start(); t2.start(); t1.join(30); t2.join(30)
    finally:
        sn.current_version = orig
    assert not errors, errors
    assert sorted(r["version"] for r in results) == [2, 3]
    assert _collect_kv(sn.read_table(spark, path)) == _collect_kv(
        _rows(spark, 1, 4)
    ) + [(10, 20), (11, 22), (12, 24), (20, 40), (21, 42)]
    # every retained version reconstructs (the loser's retry committed a
    # healthy delta entry on the new base)
    for v in (1, 2, 3):
        sn._read_entry(path, v)


def test_chained_snapshot_tables_cdc_to_sink(spark, tmp_path):
    """Derived-table maintenance through the DataSource API alone:
    readChangeFeed over table A → filter to current rows → snapshot sink
    into table B. Each upstream commit becomes one downstream version;
    the derived table converges to the filtered upstream state for
    append+merge histories (no deletes), exactly once."""
    import pyspark.sql.functions as SF

    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    sn.create_table(_rows(spark, 1, 8), a, "k")
    sn.append_table(spark, a, _rows(spark, 9, 12), "k")
    sn.merge_into(spark, a, _rows(spark, 1, 2).withColumn("val", F.lit(0)), "k")

    ss.register(spark)
    sdf = (
        ss.stream_table(spark, a, readChangeFeed=True)
        .filter(SF.col("_change").isin("insert", "update_postimage"))
        .filter(SF.col("k") % 2 == 0)
        .drop("_change", "_commit_version")
    )
    q = (
        sdf.writeStream.format("snapshot_table")
        .option("keyCol", "k")
        .option("txnAppId", "derive_even")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start(b)
    )
    q.awaitTermination(180)

    # merge postimages land as plain appends; collapse to latest per key
    derived = sn.read_table(spark, b)
    from pyspark.sql import Window

    latest = (
        derived.withColumn(
            "_rn",
            SF.row_number().over(
                Window.partitionBy("k").orderBy(SF.col("val").asc())
            ),
        )
        .filter("_rn = 1")
        .drop("_rn")
    )
    upstream_even = sn.read_table(spark, a).filter(SF.col("k") % 2 == 0)
    assert _collect_kv(latest) == _collect_kv(upstream_even)


def test_commit_staged_unlinks_on_stats_failure(spark, tmp_path):
    """A staged file missing the key column must fail the commit AND
    leave no version-prefixed links behind (the staging copy is the
    caller's to clean; the table dir must not accrue debris)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "tbl")
    sn.create_table(_rows(spark, 1, 4), path, "k")
    d = os.path.join(path, "_snap_staging-bad")
    os.makedirs(d)
    f = os.path.join(d, "part-bad.parquet")
    pq.write_table(pa.table({"wrong": [1, 2]}), f)
    table_files_before = sorted(
        n for n in os.listdir(path) if n.endswith(".parquet")
    )
    with pytest.raises(Exception):
        sn.commit_staged(path, [f], "k")
    assert sorted(n for n in os.listdir(path) if n.endswith(".parquet")) == (
        table_files_before
    )
    assert sn.current_version(path) == 1


def test_stream_across_type_widen(spark, tmp_path):
    """ALTER COLUMN TYPE mid-stream (round 13): the widen commit itself
    adds no files (streams as empty); a post-widen append whose values
    still FIT the pinned narrow schema casts down transparently; a
    value needing the wide type fails LOUD under the old pin (pyarrow
    safe cast — never silent corruption); and a RESTARTED stream pins
    the widened schema and reads everything."""
    import json as _json

    path = str(tmp_path / "tbl")
    sn.create_table(
        spark.range(1, 6).selectExpr("id AS k", "CAST(id * 2 AS INT) AS val"),
        path, "k",
    )                                                           # v1: val INT
    # a reader pinned at the NARROW schema (stream started pre-widen) —
    # schema_json is what the DataSource would infer at stream start
    narrow_schema = _json.dumps(
        ss._pinned_entry_schema(spark, sn._read_entry(path, 1), path).jsonValue()
    )
    narrow = ss.SnapshotStreamReader(path, narrow_schema, {})

    sn.alter_column_type(spark, path, "val", "bigint")          # v2: log-only
    sn.append_table(
        spark, path,
        spark.range(6, 9).selectExpr("id AS k", "CAST(id * 2 AS BIGINT) AS val"),
        "k",
    )                                                           # v3: fits int
    parts = narrow.partitions({"version": 1}, {"version": 3})
    rows = [
        (b.column(0).to_pylist(), b.column(1).to_pylist())
        for p in parts
        for b in ss._read_file_batches(p)
    ]
    got = sorted((k, v) for ks, vs in rows for k, v in zip(ks, vs))
    assert got == [(6, 12), (7, 14), (8, 16)]  # cast down, values intact

    sn.append_table(
        spark, path,
        spark.range(9, 10).selectExpr(
            "id AS k", "CAST(9000000000 AS BIGINT) AS val"  # needs 64 bits
        ),
        "k",
    )                                                           # v4
    import pyarrow as pa

    parts = narrow.partitions({"version": 3}, {"version": 4})
    with pytest.raises(pa.lib.ArrowInvalid):
        for p in parts:
            list(ss._read_file_batches(p))

    # a fresh reader (restarted stream) pins the WIDE schema and reads all
    wide_schema = _json.dumps(
        ss._pinned_entry_schema(
            spark, sn._read_entry(path, sn.current_version(path)), path
        ).jsonValue()
    )
    wide = ss.SnapshotStreamReader(path, wide_schema, {})
    assert _json.loads(wide_schema)["fields"][1]["type"] == "long"
    assert _json.loads(narrow_schema)["fields"][1]["type"] == "integer"
    parts = wide.partitions({"version": 0}, {"version": 4})
    allv = sorted(
        v
        for p in parts
        for b in ss._read_file_batches(p)
        for v in b.column(1).to_pylist()
    )
    assert allv[-1] == 9000000000 and len(allv) == 9
