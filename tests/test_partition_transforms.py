"""Partition-spec TRANSFORMS (sources/spec_transforms.py + snapshots.py
— round-13 verdict #3): days/hours/months/years/bucket/truncate entries
cluster every write on the transformed value, record transformed
per-file ranges in the log, and file-skip probes by source column or by
transform name. Counted file-skip pins per transform, spec-era mixing,
rename-following, and the SQL surface forms."""

from __future__ import annotations

import datetime as dt

import pytest

from hadoop_prototype_spark.sources import snapshot_sql as ss
from hadoop_prototype_spark.sources import snapshots as sn
from hadoop_prototype_spark.sources import spec_transforms as tf


def _events(spark, n=2400):
    """Hourly rows spanning 100 days: k, raw timestamp, uid, val."""
    return spark.range(n).selectExpr(
        "id AS k",
        "timestamp_seconds(1700000000 + id * 3600) AS ts",
        "CAST(id % 100 AS INT) AS uid",
        "CAST(id * 1.5 AS DOUBLE) AS val",
    )


def _kept(spark, path, probes):
    e = sn._read_entry(path, sn.current_version(path))
    checks = sn._scope_checks(spark, path, e, probes)
    return (
        sum(sn._file_in_scope(fe, checks) for fe in e["files"]),
        len(e["files"]),
    )


def test_parse_render_and_python_twins():
    it = tf.SpecItem.parse("Days( ts )")
    assert it.render() == "days(ts)" and it.order_preserving
    assert tf.SpecItem.parse("bucket(16, c)").render() == "bucket(16,c)"
    assert not tf.SpecItem.parse("bucket(16,c)").order_preserving
    assert tf.SpecItem.parse("plain_col").is_identity
    with pytest.raises(ValueError):
        tf.SpecItem.parse("cake(ts)")
    with pytest.raises(ValueError):
        tf.SpecItem.parse("bucket(0, c)")

    d = tf.SpecItem.parse("days(ts)")
    assert d.transform_py(dt.datetime(1970, 1, 2, 5)) == 1
    assert d.transform_py(dt.date(1969, 12, 31)) == -1
    assert d.transform_py("2024-01-01T12:00:00") == 19723
    h = tf.SpecItem.parse("hours(ts)")
    assert h.transform_py(dt.datetime(1970, 1, 1, 3, 59)) == 3
    m = tf.SpecItem.parse("months(ts)")
    assert m.transform_py(dt.date(1971, 2, 15)) == 13
    y = tf.SpecItem.parse("years(ts)")
    assert y.transform_py(dt.date(2024, 6, 1)) == 54
    t = tf.SpecItem.parse("truncate(10,v)")
    assert t.transform_py(27) == 20 and t.transform_py(-3) == -10
    assert tf.SpecItem.parse("truncate(3,s)").transform_py("abcdef") == "abc"
    with pytest.raises(ValueError):
        tf.SpecItem.parse("bucket(4,c)").transform_py(5)


def test_days_transform_file_skips_and_probe_forms(spark, tmp_path):
    path = str(tmp_path / "t")
    sn.create_table(_events(spark), path, "k",
                    partition_by=["days(ts)"], partition_files=16)
    assert sn.partition_spec(path) == ["days(ts)"]
    e = sn._read_entry(path, 1)
    assert "days(ts)" in e["files"][0]["stats"]  # transformed ranges logged

    # probe by RAW timestamp range: a 2-day window opens ~2/100 days
    lo = dt.datetime.utcfromtimestamp(1700000000 + 24 * 3600)
    hi = dt.datetime.utcfromtimestamp(1700000000 + 3 * 24 * 3600 - 1)
    kept, total = _kept(spark, path, {"ts": (lo, hi)})
    assert kept <= 2 and total == 16
    assert sn.read_table_where(spark, path, {"ts": (lo, hi)}).count() == 48

    # probe by TRANSFORM NAME (day id): same skip, exact residual
    day = (lo.date() - dt.date(1970, 1, 1)).days
    kept2, _ = _kept(spark, path, {"days(ts)": day})
    assert kept2 <= 2
    assert sn.read_table_where(spark, path, {"days(ts)": day}).count() == 24
    # and a day-id RANGE probe
    got = sn.read_table_where(spark, path, {"days(ts)": (day, day + 1)})
    assert got.count() == 48


def test_bucket_transform_prunes_equality(spark, tmp_path):
    path = str(tmp_path / "t")
    sn.create_table(_events(spark), path, "k",
                    partition_by=["bucket(8, uid)"], partition_files=8)
    # probe by the SOURCE column: the engine computes the probe's bucket
    # with the column's own type (hash is type-sensitive), then skips
    kept, total = _kept(spark, path, {"uid": 42})
    assert kept < total
    assert sn.read_table_where(spark, path, {"uid": 42}).count() == 24
    # probe by bucket id directly
    e = sn._read_entry(path, 1)
    bid = e["files"][0]["stats"]["bucket(8,uid)"][0]
    got = sn.read_table_where(spark, path, {"bucket(8,uid)": bid})
    assert got.count() > 0
    # range probe on a hashed column cannot prune — stays exact
    assert (
        sn.read_table_where(spark, path, {"uid": (40, 44)}).count() == 24 * 5
    )


def test_truncate_transform_int_and_string(spark, tmp_path):
    path = str(tmp_path / "t")
    sn.create_table(_events(spark), path, "k",
                    partition_by=["truncate(500, k)"], partition_files=8)
    kept, total = _kept(spark, path, {"truncate(500,k)": 1000})
    assert kept < total
    assert (
        sn.read_table_where(spark, path, {"truncate(500,k)": 1000}).count()
        == 500
    )
    # string prefix truncate
    path2 = str(tmp_path / "s")
    df = spark.range(260).selectExpr(
        "id AS k", "concat(char(65 + CAST(id % 26 AS INT)), '_', id) AS name"
    )
    sn.create_table(df, path2, "k", partition_by=["truncate(1, name)"],
                    partition_files=13)
    kept, total = _kept(spark, path2, {"truncate(1,name)": "M"})
    assert kept < total
    got = sn.read_table_where(spark, path2, {"truncate(1,name)": "M"})
    assert got.count() == 10


def test_spec_era_mixing_stays_exact(spark, tmp_path):
    """Files written before SET PARTITION SPEC (days(ts)) carry no
    transformed ranges — conservatively kept; post-spec appends prune."""
    path = str(tmp_path / "t")
    ev = _events(spark)
    sn.create_table(ev.filter("k < 1200"), path, "k")            # v1: no spec
    sn.set_partition_spec(spark, path, ["days(ts)"])             # v2
    for a in range(1200, 2400, 300):                             # v3..v6
        sn.append_table(
            spark, path, ev.filter(f"k >= {a} AND k < {a + 300}"), "k"
        )
    e = sn._read_entry(path, sn.current_version(path))
    with_stats = [fe for fe in e["files"]
                  if "days(ts)" in (fe.get("stats") or {})]
    without = [fe for fe in e["files"]
               if "days(ts)" not in (fe.get("stats") or {})]
    assert with_stats and without  # both eras present
    day = tf.SpecItem.parse("days(ts)").transform_py(
        dt.datetime.utcfromtimestamp(1700000000 + 60 * 86400)
    )
    got = sn.read_table_where(spark, path, {"days(ts)": day})
    assert got.count() == 24  # exact across eras
    kept, total = _kept(spark, path, {"days(ts)": day})
    assert len(without) <= kept < total  # old era kept, new era pruned

    # OPTIMIZE migrates the old era; pruning then sharpens
    sn.optimize(spark, path, target_file_rows=200)
    kept2, total2 = _kept(spark, path, {"days(ts)": day})
    assert kept2 <= 2


@pytest.mark.parametrize("scoped", [False, True])
def test_optimize_migrates_pre_spec_files_once(spark, tmp_path, scoped):
    """OPTIMIZE migrates a file written before SET PARTITION SPEC whatever
    its size (the pre-spec era is ONE 1200-row file, never 'small'), also
    under where= (no range to scope it out); a post-spec file whose ts is
    all NULL records the null range, so a second OPTIMIZE commits
    nothing."""
    path = str(tmp_path / "t")
    ev = _events(spark)
    sn.create_table(ev.filter("k < 1200").coalesce(1), path, "k")  # v1
    pre = [fe["name"] for fe in sn._read_entry(path, 1)["files"]]
    assert len(pre) == 1
    sn.set_partition_spec(spark, path, ["days(ts)"])              # v2
    sn.append_table(spark, path, ev.filter("k >= 1200 AND k < 1800"), "k")
    sn.append_table(
        spark, path,
        spark.range(1800, 2400).selectExpr(
            "id AS k", "CAST(NULL AS TIMESTAMP) AS ts",
            "CAST(id % 100 AS INT) AS uid", "CAST(id * 1.5 AS DOUBLE) AS val",
        ),
        "k",
    )                                                             # v4
    e = sn._read_entry(path, 4)
    null_files = [fe for fe in e["files"] if fe["name"].startswith("v4-")]
    assert null_files
    assert all(fe["stats"]["days(ts)"] == [None, None] for fe in null_files)
    rows = sorted(sn.read_table(spark, path).collect())

    day = tf.SpecItem.parse("days(ts)").transform_py(
        dt.datetime.utcfromtimestamp(1700000000 + 1500 * 3600)
    )
    where = {"days(ts)": day} if scoped else None
    rep = sn.optimize(spark, path, where=where)
    assert rep["version"] == 5 and rep["files_rewritten"] >= 1
    e = sn._read_entry(path, 5)
    assert pre[0] not in {fe["name"] for fe in e["files"]}
    assert all("days(ts)" in (fe.get("stats") or {}) for fe in e["files"])
    assert sorted(sn.read_table(spark, path).collect()) == rows

    again = sn.optimize(spark, path, where=where)
    assert again["version"] == 5 and again["files_rewritten"] == 0


def test_optimize_where_scopes_by_transform(spark, tmp_path):
    path = str(tmp_path / "t")
    sn.create_table(_events(spark), path, "k",
                    partition_by=["days(ts)"], partition_files=16)
    # tiny appends: TWO small files in day 0, one in day 50
    for off in (0, 3600, 50 * 86400):
        sn.append_table(
            spark, path,
            spark.range(5000 + off, 5004 + off).selectExpr(
                "id AS k",
                f"timestamp_seconds(1700000000 + {off}) AS ts",
                "CAST(id % 100 AS INT) AS uid",
                "CAST(0.0 AS DOUBLE) AS val",
            ),
            "k",
        )
    day0 = tf.SpecItem.parse("days(ts)").transform_py(
        dt.datetime.utcfromtimestamp(1700000000)
    )
    before = len(sn._read_entry(path, sn.current_version(path))["files"])
    rep = sn.optimize(spark, path, where={"days(ts)": day0},
                      small_file_rows=10)
    # only day-0's small tail folds; the day-50 tail file is out of scope
    assert 0 < rep["files_rewritten"] <= 3
    e = sn._read_entry(path, sn.current_version(path))
    assert len(e["files"]) < before


def test_rename_and_drop_follow_transform_sources(spark, tmp_path):
    path = str(tmp_path / "t")
    sn.create_table(_events(spark, 240), path, "k",
                    partition_by=["days(ts)", "bucket(4, uid)"])
    sn.rename_column(spark, path, "ts", "event_ts")
    assert sn.partition_spec(path) == ["days(event_ts)", "bucket(4,uid)"]
    # stats keys use PHYSICAL names: pruning still works after the rename
    day = tf.SpecItem.parse("days(x)").transform_py(
        dt.datetime.utcfromtimestamp(1700000000)
    ) + 1  # an interior day: 24 hourly rows
    got = sn.read_table_where(spark, path, {"days(event_ts)": day})
    assert got.count() == 24
    with pytest.raises(ValueError):
        sn.drop_column(spark, path, "uid")  # a transform source col


def test_sql_surface_transform_spec_forms(spark, tmp_path):
    path = str(tmp_path / "t")
    _events(spark, 480).createOrReplaceTempView("pt_src")
    t = {"t": path}
    ss.snapshot_sql(
        spark,
        "CREATE TABLE t KEY k PARTITIONED BY (days(ts), bucket(4, uid)) "
        "AS SELECT * FROM pt_src",
        tables=t,
    )
    assert sn.partition_spec(path) == ["days(ts)", "bucket(4,uid)"]
    ss.snapshot_sql(spark, "ALTER TABLE t SET PARTITION SPEC (hours(ts))",
                    tables=t)
    assert sn.partition_spec(path) == ["hours(ts)"]
    ss.snapshot_sql(spark, "ALTER TABLE t DROP PARTITION SPEC", tables=t)
    assert sn.partition_spec(path) == []


def test_sink_writes_record_transform_stats(spark, tmp_path):
    """The DataSource sink path (df.write.format('snapshot_table') →
    commit_staged) records TRANSFORMED per-file ranges for a transform
    spec exactly like the DataFrame verbs, so streaming/batch sink
    appends stay prunable."""
    from hadoop_prototype_spark.sources import snapshot_stream as sst

    sst.register(spark)
    path = str(tmp_path / "tbl")
    sn.create_table(_events(spark, 48), path, "k",
                    partition_by=["days(ts)"])
    _events(spark, 96).filter("k >= 48").write.format(
        "snapshot_table"
    ).mode("append").save(path)
    e = sn._read_entry(path, 2)
    appended = [fe for fe in e["files"] if fe["min"] >= 48]
    assert appended
    assert all("days(ts)" in (fe.get("stats") or {}) for fe in appended)
    day = tf.SpecItem.parse("days(ts)").transform_py(
        dt.datetime.utcfromtimestamp(1700000000 + 2 * 86400)
    )
    got = sn.read_table_where(spark, path, {"days(ts)": day})
    assert got.count() == 24


def test_tz_aware_probe_values_fold_as_utc():
    """A tz-aware probe datetime must fold to the same day id as the
    SQL expression (session timezone UTC) — a local-zone .date() would
    silently skip the wrong files."""
    d = tf.SpecItem.parse("days(ts)")
    aware = dt.datetime(2024, 1, 1, 23, 30, tzinfo=dt.timezone(
        dt.timedelta(hours=-5)
    ))  # 2024-01-02T04:30 UTC
    assert d.transform_py(aware) == d.transform_py(dt.datetime(2024, 1, 2))
    h = tf.SpecItem.parse("hours(ts)")
    assert h.transform_py(aware) == h.transform_py(
        dt.datetime(2024, 1, 2, 4, 30)
    )
