"""Write verbs evaluate their source once and start no Python worker of
their own: the Arrow file-range frame of the merge/delete probe, the
shared source materialization, and the Spark jobs each verb fires."""

from __future__ import annotations

import datetime as dt
import os
import random
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    DateType,
    DecimalType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from hadoop_prototype_spark.sources import merge as mg
from hadoop_prototype_spark.sources import snapshots as sn

# blocks of keys per source row: row i of a nondeterministic source draws
# its key from [i * BLOCK, (i + 1) * BLOCK), so the keys of one evaluation
# are distinct but two evaluations almost surely differ
BLOCK = 100
N_SRC = 10
N_ROWS = N_SRC * BLOCK


def _keyed_table(spark, path):
    """A (k, v) snapshot table of N_ROWS keys in range-clustered files of
    20 keys each, so a key's file is decided by the key alone."""
    df = spark.range(N_ROWS).select(
        F.col("id").alias("k"), F.col("id").alias("v")
    )
    sn.create_table(df.repartitionByRange(N_ROWS // 20, "k"), path, "k")


def _random_keys(spark):
    """N_SRC distinct live keys, drawn afresh on every evaluation."""
    draw = F.udf(
        lambda i: i * BLOCK + random.randrange(BLOCK), "long"
    ).asNondeterministic()
    return spark.range(N_SRC).select(draw("id").alias("k"))


def _job_count(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        res = fn()
    finally:
        sc.setJobGroup("default", "reset")
    return len(sc.statusTracker().getJobIdsForGroup(group)), res


def test_merge_of_nondeterministic_source_commits_one_evaluation(spark, tmp_path):
    """The probe and the staged rewrite see the same source rows: a second
    evaluation would upsert keys whose files the probe never selected,
    leaving their old rows beside the new ones."""
    path = str(tmp_path / "t")
    _keyed_table(spark, path)
    src = _random_keys(spark).withColumn("v", F.lit(-1).cast("long"))
    res = sn.merge_into(spark, path, src, "k")
    out = sn.read_table(spark, path)
    n = out.count()
    assert out.select("k").distinct().count() == n
    assert res["rows_after"] == n == N_ROWS
    assert out.filter(F.col("v") == -1).count() == N_SRC


def test_mor_delete_of_nondeterministic_source_commits_one_evaluation(
    spark, tmp_path
):
    """Every key the (single) evaluation produced is deleted: a second
    evaluation would look for its keys only in the files the first one's
    probe selected, and miss most of them."""
    path = str(tmp_path / "t")
    _keyed_table(spark, path)
    res = sn.delete_from_mor(spark, path, _random_keys(spark), "k")
    out = sn.read_table(spark, path)
    n = out.count()
    assert out.select("k").distinct().count() == n
    assert res["rows_after"] == n
    assert res["rows_deleted"] == N_ROWS - n == N_SRC


def test_materialize_source_copies_only_what_rereading_would_redo(
    spark, tmp_path
):
    path = str(tmp_path / "p")
    spark.range(50).write.parquet(path)
    scan = spark.read.parquet(path)
    # deterministic file scans (with projections/filters) are never copied
    assert sn.materialize_source(scan) is scan
    narrowed = scan.filter("id > 3").select((F.col("id") * 2).alias("k"))
    assert sn.materialize_source(narrowed) is narrowed
    assert sn.materialize_source(None) is None
    # a Python-RDD source and a non-deterministic scan are materialized,
    # and a materialized frame passes through unchanged
    for src in (
        spark.createDataFrame([(1,), (2,)], "id long"),
        scan.withColumn("r", F.rand()),
    ):
        m = sn.materialize_source(src)
        assert m is not src
        assert sn.materialize_source(m) is m
        assert sorted(m.columns) == sorted(src.columns)


# Spark jobs each verb fired on a list source before the source was
# materialized; materialization rides the verb's own jobs, so neither
# count may rise
MERGE_JOBS = 6
MOR_DELETE_JOBS = 8


def test_list_source_verbs_fire_no_extra_jobs(spark, tmp_path):
    path = str(tmp_path / "t")
    _keyed_table(spark, path)
    upd = spark.createDataFrame(
        [(k, -k) for k in (5, 250, 990, N_ROWS + 1)], "k long, v long"
    )
    n, res = _job_count(
        spark, "merge_list_source", lambda: sn.merge_into(spark, path, upd, "k")
    )
    assert res["rows_after"] == N_ROWS + 1
    assert n <= MERGE_JOBS, f"merge_into fired {n} jobs"
    keys = spark.createDataFrame([(k,) for k in (7, 420, 421)], "k long")
    n, res = _job_count(
        spark,
        "mor_delete_list_source",
        lambda: sn.delete_from_mor(spark, path, keys, "k"),
    )
    assert res["rows_deleted"] == 3
    assert n <= MOR_DELETE_JOBS, f"delete_from_mor fired {n} jobs"


@pytest.mark.parametrize(
    "key_type, bounds, outside",
    [
        (LongType(), [10, 20, 30, 40, 50, 60], 99),
        (StringType(), ["b", "d", "f", "h", "j", "l"], "zz"),
        (
            DateType(),
            [dt.date(2024, 1, d) for d in (2, 4, 6, 8, 10, 12)],
            dt.date(2030, 1, 1),
        ),
        (
            DecimalType(12, 2),
            [Decimal(v) for v in ("1.10", "2.20", "3.30", "4.40", "5.50", "6.60")],
            Decimal("99.00"),
        ),
    ],
    ids=["long", "string", "date", "decimal"],
)
def test_affected_files_typed_ranges(spark, key_type, bounds, outside):
    """Typed bounds reach the interval join exactly; a file with rows but
    no key stats is selected by any non-empty batch, a zero-row file by
    none."""
    b = bounds
    ranges = [
        ("a", b[0], b[1], 5),
        ("b", b[2], b[3], 5),
        ("c", b[4], b[5], 5),
        ("blind", None, None, 5),
        ("empty", None, None, 0),
    ]
    schema = StructType([StructField("k", key_type)])

    def batch(keys):
        return spark.createDataFrame(
            pa.Table.from_pydict({"k": keys}, schema=to_arrow_schema(schema)),
            schema,
        )

    hit = mg._affected_files(spark, ranges, batch([b[1], b[4]]), "k")
    assert hit == ["a", "blind", "c"]
    assert mg._affected_files(spark, ranges, batch([outside]), "k") == ["blind"]
    assert mg._affected_files(spark, ranges, batch([]), "k") == []


def test_stats_less_file_is_rewritten_by_delete(spark, tmp_path):
    """A data file written without footer statistics could hold any key,
    so the conservative selection rewrites it: its matching row goes."""
    path = str(tmp_path / "plain")
    os.makedirs(path)
    spark.range(0, 100).select(
        F.col("id").alias("k"), F.col("id").alias("v")
    ).coalesce(1).write.mode("append").parquet(path)
    pq.write_table(
        pa.table({"k": pa.array([500, 501], pa.int64()), "v": pa.array([1, 2], pa.int64())}),
        os.path.join(path, "part-blind.parquet"),
        write_statistics=False,
    )
    keys = spark.createDataFrame([(501,)], "k long")
    res = mg.delete_from(spark, path, keys, "k")
    assert res["files_rewritten"] == 1
    assert res["rows_deleted"] == 1
    assert sorted(
        r.k for r in spark.read.parquet(path).filter("k >= 500").collect()
    ) == [500]
