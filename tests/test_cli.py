"""CLI driver tests — the `python -m hadoop_prototype_spark` surface
(EX/ExampleDriver.java parity). main() is called in-process with the shared
test session; outputs are real files read back and checked exactly."""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys

import pytest

from hadoop_prototype_spark.__main__ import main


def run_cli(capsys, spark, *argv):
    rc = main(list(argv), spark=spark)
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()[-1]
    return json.loads(out)


def read_lines(path):
    lines = []
    for f in sorted(glob.glob(f"{path}/part-*")):
        with open(f) as fh:
            lines.extend(fh.read().splitlines())
    return lines


def test_cli_wordcount(spark, tmp_path, capsys):
    src = tmp_path / "in.txt"
    src.write_text("a b a\nb a\n")
    out = str(tmp_path / "out")
    run_cli(capsys, spark, "wordcount", str(src), out)
    assert sorted(read_lines(out)) == ["a\t3", "b\t2"]


def test_cli_grep(spark, tmp_path, capsys):
    src = tmp_path / "in.txt"
    src.write_text("foo bar\nfoobar baz\nnope\n")
    out = str(tmp_path / "out")
    run_cli(capsys, spark, "grep", str(src), out, r"foo\w*")
    assert read_lines(out) == ["1\tfoo", "1\tfoobar"]


def test_cli_sort_and_keyfield(spark, tmp_path, capsys):
    src = tmp_path / "in.txt"
    src.write_text("b\t2\na\t1\nc\t3\n")
    out = str(tmp_path / "sorted")
    run_cli(capsys, spark, "sort", str(src), out)
    assert read_lines(out) == ["a\t1", "b\t2", "c\t3"]

    out2 = str(tmp_path / "kf")
    run_cli(capsys, spark, "sort", str(src), out2, "--key-field-spec=-k2,2nr")
    assert read_lines(out2) == ["c\t3", "b\t2", "a\t1"]


def test_cli_fieldsel(spark, tmp_path, capsys):
    src = tmp_path / "in.txt"
    src.write_text("0\t1\t2\t3\n")
    out = str(tmp_path / "out")
    run_cli(capsys, spark, "fieldsel", str(src), out, "1:0,2-")
    assert read_lines(out) == ["1\t0\t2\t3"]


def test_cli_join(spark, tmp_path, capsys):
    d1, d2 = tmp_path / "a.txt", tmp_path / "b.txt"
    d1.write_text("k1\tv1\nk2\tv2\n")
    d2.write_text("k2\tw2\nk3\tw3\n")
    out = str(tmp_path / "joined")
    res = run_cli(
        capsys, spark, "join", "--joinOp", "inner", "--output", out,
        str(d1), str(d2),
    )
    assert res["columns"] == ["key", "value_0", "value_1"]
    assert read_lines(out) == ["k2\tv2\tw2"]

    out2 = str(tmp_path / "over")
    run_cli(
        capsys, spark, "join", "--joinOp", "override", "--output", out2,
        str(d1), str(d2),
    )
    assert sorted(read_lines(out2)) == ["k1\tv1", "k2\tw2", "k3\tw3"]


def test_cli_terasort_pipeline(spark, tmp_path, capsys):
    gen, srt = str(tmp_path / "gen"), str(tmp_path / "sorted")
    res = run_cli(capsys, spark, "teragen", "3000", gen, "--num-maps", "4")
    assert res["rows"] == 3000
    run_cli(capsys, spark, "terasort", gen, srt)
    v = run_cli(capsys, spark, "teravalidate", srt)
    assert v["sorted"] is True and v["rows"] == 3000
    v0 = run_cli(capsys, spark, "teravalidate", gen)
    assert v0["checksum"] == v["checksum"], "sort must conserve the checksum"
    assert v0["sorted"] is False, "unsorted input must fail validation"

    # several part files of unequal size, read in splits smaller than a
    # file: the read packs splits into partitions by size, so partition
    # order is not part-file name order, and validation must not depend
    # on it
    multi = str(tmp_path / "sorted_multi")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        run_cli(capsys, spark, "terasort", gen, multi)
    finally:
        spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    parts = sorted(glob.glob(f"{multi}/part-*.parquet"))
    assert len(parts) > 1
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4k")
    try:
        assert spark.read.parquet(multi).rdd.getNumPartitions() > len(parts)
        vm = run_cli(capsys, spark, "teravalidate", multi)
        assert vm["sorted"] is True and vm["rows"] == 3000
        assert vm["checksum"] == v["checksum"]
        assert run_cli(capsys, spark, "teravalidate", gen)["sorted"] is False
        # every file still sorted inside, but name order no longer key order
        swapped = tmp_path / "swapped"
        swapped.mkdir()
        for src, dst in zip(parts, reversed(parts)):
            shutil.copy(src, swapped / os.path.basename(dst))
        vs = run_cli(capsys, spark, "teravalidate", str(swapped))
        assert vs["violations"] == 0 and vs["sorted"] is False
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")


def test_cli_randomtextwriter_compressed(spark, tmp_path, capsys):
    out = str(tmp_path / "rtw")
    run_cli(capsys, spark, "randomtextwriter", "100", out, "--compress", "gzip")
    files = glob.glob(f"{out}/part-*.gz")
    assert files, "output must be gzip-compressed"
    from hadoop_prototype_spark.sources.readers import read_text

    assert read_text(spark, out).count() == 100


def test_cli_streamjob(spark, tmp_path, capsys):
    src = tmp_path / "in.txt"
    src.write_text("x\t1\ny\t2\nx\t3\n")
    out = str(tmp_path / "out")
    reducer = tmp_path / "red.py"
    reducer.write_text(
        "import sys\n"
        "cur, tot = None, 0\n"
        "def flush():\n"
        "    if cur is not None: print(f'{cur}\\t{tot}')\n"
        "for line in sys.stdin:\n"
        "    k, v = line.rstrip('\\n').split('\\t')\n"
        "    if k != cur:\n"
        "        flush(); cur, tot = k, 0\n"
        "    tot += int(v)\n"
        "flush()\n"
    )
    run_cli(
        capsys, spark, "streamjob", "-input", str(src), "-output", out,
        "-reducer", f"{sys.executable} {reducer}",
    )
    assert sorted(read_lines(out)) == ["x\t4", "y\t2"]


def test_cli_streamjob_keyonlytext(spark, tmp_path, capsys):
    """-io keyonlytext end to end through the CLI: the reducer sees bare
    key lines (value dropped at the wire) and the output is the single
    key column."""
    src = tmp_path / "in.txt"
    src.write_text("b\t1\na\t2\nb\t3\n")
    out = str(tmp_path / "out_keyonly")
    run_cli(
        capsys, spark, "streamjob", "-input", str(src), "-output", out,
        "-reducer", "uniq", "-io", "keyonlytext",
    )
    assert sorted(read_lines(out)) == ["a", "b"]


def test_cli_corpusprep(spark, sf_dir, tmp_path, capsys):
    import json

    from hadoop_prototype_spark.__main__ import main

    out = str(tmp_path / "corpus")
    rc = main(
        [
            "corpusprep",
            "-input",
            f"{sf_dir}/documents.parquet",
            "-output",
            out,
            "--capacity",
            "256",
        ],
        spark=spark,
    )
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    counts = rep["split_counts"]
    assert counts["train"] > counts["valid"] + counts["test"]
    assert rep["packs"] >= 1
    train = spark.read.parquet(out + "/train")
    manifest = spark.read.parquet(out + "/train_packs")
    assert manifest.count() == train.count()


def test_cli_corpusprep_strip_boilerplate(spark, sf_dir, tmp_path, capsys):
    """--strip-boilerplate MIN_DOCS runs the span-dedup stage first: with
    the fixture's tiny vocabulary a low threshold strips many shared
    windows, so train tokens must shrink vs the default run while the
    pipeline still produces all three splits."""
    import json

    from pyspark.sql import functions as F

    from hadoop_prototype_spark.__main__ import main

    out = str(tmp_path / "corpus_bp")
    rc = main(
        [
            "corpusprep",
            "-input", f"{sf_dir}/documents.parquet",
            "-output", out,
            "--capacity", "256",
            "--strip-boilerplate", "2",
        ],
        spark=spark,
    )
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(rep["split_counts"]) == {"train", "valid", "test"}
    train = spark.read.parquet(out + "/train")
    assert "text" in train.columns
    # boilerplate spans (shared by >= 2 docs in a 31-token-vocab fixture)
    # must actually have been stripped from the surviving text
    orig = spark.read.parquet(f"{sf_dir}/documents.parquet")
    orig_tokens = orig.select(F.sum(F.size(F.split("text", r"\s+")))).first()[0]
    kept_docs = orig.join(train.select("doc_id"), "doc_id")
    kept_orig = kept_docs.select(F.sum(F.size(F.split("text", r"\s+")))).first()[0]
    train_tokens = train.select(F.sum(F.size(F.split("text", r"\s+")))).first()[0]
    assert train_tokens < kept_orig <= orig_tokens


def test_cli_compact(spark, tmp_path, capsys):
    import glob
    import json

    from hadoop_prototype_spark.__main__ import main

    base = str(tmp_path / "tbl")
    for i in range(8):
        spark.range(i * 10, i * 10 + 10).coalesce(1).write.mode("append").parquet(base)
    before = len(glob.glob(f"{base}/*.parquet"))
    rc = main(
        ["compact", "-input", base, "--target-bytes", str(10 * 1024 * 1024)],
        spark=spark,
    )
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["files_after"] < before
    assert spark.read.parquet(base).count() == 80


def test_cli_explain(spark, sf_dir, capsys):
    """`explain` prints a registered query's physical plan and reports
    scan/exchange counts; unknown names fail with close matches."""
    res = run_cli(
        capsys, spark, "explain", "z_tpch_q6", "--sf-dir", sf_dir, "--mode", "formatted"
    )
    assert res["query"] == "z_tpch_q6" and res["n_scans"] >= 1

    # n_exchanges means SHUFFLES: a broadcast-join query reports its
    # BroadcastExchange under n_broadcasts, never inflating n_exchanges
    res14 = run_cli(capsys, spark, "explain", "z_tpch_q14", "--sf-dir", sf_dir)
    assert res14["n_broadcasts"] >= 1
    assert res14["n_exchanges"] >= 0  # agg shuffles only; no negative underflow

    with pytest.raises(SystemExit, match="close matches"):
        main(["explain", "tpch_q6_typo"], spark=spark)


def test_cli_corpusprep_quality_model(spark, sf_dir, tmp_path, capsys):
    """--quality-model swaps the heuristic threshold for the trained
    classifier gate: all three splits still produced, and the kept-doc
    population matches quality_model_filter's own verdict."""
    import json

    from hadoop_prototype_spark.__main__ import main
    from hadoop_prototype_spark.operators.textstats import quality_model_filter

    out = str(tmp_path / "corpus_qm")
    rc = main(
        [
            "corpusprep",
            "-input", f"{sf_dir}/documents.parquet",
            "-output", out,
            "--capacity", "256",
            "--quality-model",
        ],
        spark=spark,
    )
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    counts = rep["split_counts"]
    assert counts["train"] >= 1 and counts["valid"] >= 1 and counts["test"] >= 1
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_pass = quality_model_filter(docs).count()
    # every split member passed the model gate (splits partition a sample
    # of the gated population)
    assert sum(counts.values()) <= n_pass


def test_cli_validate_gates_on_exit_code(spark, tmp_path, capsys):
    import json

    from hadoop_prototype_spark.__main__ import main

    tbl = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(1, 5), (2, 5), (2, -1)], "k bigint, v bigint"
    ).write.parquet(tbl)
    checks = '[["not_null","k"],["unique","k"],["non_negative","v"]]'
    rc = main(["validate", "-input", tbl, "--checks", checks], spark=spark)
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 1 and rep["passed"] is False  # dup key + negative v
    failed = {r["check_name"] for r in rep["report"] if not r["passed"]}
    assert failed == {"unique", "non_negative"}

    clean = str(tmp_path / "clean")
    spark.createDataFrame([(1, 5), (2, 6)], "k bigint, v bigint").write.parquet(clean)
    rc = main(["validate", "-input", clean, "--checks", checks], spark=spark)
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and rep["passed"] is True


def test_cli_corpusprep_token_budget(spark, sf_dir, tmp_path, capsys):
    """--token-budget N caps each source's train slice at its best-N
    quality-ranked tokens: the budgeted run's per-source train token
    totals must be <= budget + one crossing doc, and strictly smaller
    than the unbudgeted run's train where the budget binds."""
    import json

    from pyspark.sql import functions as F

    from hadoop_prototype_spark.__main__ import main

    out_full = str(tmp_path / "corpus_full")
    out_bud = str(tmp_path / "corpus_bud")
    for out, extra in ((out_full, []), (out_bud, ["--token-budget", "150"])):
        rc = main(
            [
                "corpusprep",
                "-input",
                f"{sf_dir}/documents.parquet",
                "-output",
                out,
                "--capacity",
                "256",
                *extra,
            ],
            spark=spark,
        )
        assert rc == 0
        capsys.readouterr()

    toks = lambda path: {
        r.source: r.t
        for r in spark.read.parquet(path + "/train")
        .groupBy("source")
        .agg(F.sum(F.size(F.split("text", r"\s+"))).alias("t"))
        .collect()
    }
    full, bud = toks(out_full), toks(out_bud)
    assert sum(bud.values()) < sum(full.values())
    # per source: budget met but never exceeded by more than one doc's
    # tokens (the greedy crossing doc); sources with fewer tokens than
    # the budget are kept whole
    for s, t in bud.items():
        assert t <= full[s]
        if full[s] > 150:
            assert t >= min(150, full[s]) or t <= full[s]
            assert t < 150 + 200, (s, t)  # crossing doc is fixture-sized
    # packing manifest still consistent with the budgeted train
    manifest = spark.read.parquet(out_bud + "/train_packs")
    assert manifest.count() == spark.read.parquet(out_bud + "/train").count()


def test_cli_snapshot_maintenance(spark, tmp_path, capsys):
    """snapshot optimize/vacuum/history verbs drive sources/snapshots.py:
    optimize compacts the tiny-merge tail into a new version, history
    shows the log, vacuum (retention 0, no live writers) reclaims."""
    import json

    from hadoop_prototype_spark.__main__ import main
    from hadoop_prototype_spark.sources import snapshots as sn

    path = str(tmp_path / "t")
    sn.create_table(
        spark.range(500).selectExpr("id AS k", "id * 2 AS v").repartitionByRange(2, "k"),
        path,
        "k",
    )
    for i in range(4):
        sn.merge_into(
            spark, path,
            spark.createDataFrame([(1000 + i, -i)], "k bigint, v bigint"), "k",
        )

    rc = main(["snapshot", "optimize", path], spark=spark)
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["files_rewritten"] >= 4

    rc = main(["snapshot", "history", path], spark=spark)
    assert rc == 0
    hist = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["history"]
    assert hist[-1]["op"] == "optimize"

    rc = main(
        ["snapshot", "vacuum", path, "--keep-last", "1", "--retention-seconds", "0"],
        spark=spark,
    )
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["data_files_removed"] > 0 and rep["log_entries_removed"] >= 4
    assert sorted(r.k for r in sn.read_table(spark, path).collect())[:3] == [0, 1, 2]


def test_cli_ingest_is_incremental_across_runs(spark, sf_dir, tmp_path, capsys):
    """`ingest` over a landing directory, run TWICE with new files in
    between: the second run processes only the new batch (checkpointed
    file source), the corpus accumulates, and the ingest-maintained
    corpus-stats fold matches a direct scan of the final corpus."""
    import json
    import os
    import time

    from hadoop_prototype_spark.__main__ import main
    from hadoop_prototype_spark.operators.corpusstats import collect_corpus_stats
    from hadoop_prototype_spark.sources.tables import load_table
    from hadoop_prototype_spark.streaming import ingest as ing

    docs = load_table(spark, sf_dir, "documents")
    hi = docs.agg({"doc_id": "max"}).first()[0]
    src = str(tmp_path / "landing")
    os.makedirs(src)
    docs.filter(f"doc_id <= {hi // 2}").toPandas().to_parquet(
        os.path.join(src, "day1.parquet"), index=False
    )
    out = str(tmp_path / "out")

    rc = main(["ingest", "-input", src, "-output", out], spark=spark)
    assert rc == 0
    rep1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep1["n_kept"] > 0

    # day 2 lands; re-run the same command
    time.sleep(0.02)
    docs.filter(f"doc_id > {hi // 2}").toPandas().to_parquet(
        os.path.join(src, "day2.parquet"), index=False
    )
    rc = main(["ingest", "-input", src, "-output", out], spark=spark)
    assert rc == 0
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["n_in"] == docs.count(), "totals cover BOTH days"
    assert rep2["n_batches"] > rep1["n_batches"]

    corpus = ing.read_corpus(spark, os.path.join(out, "corpus"))
    assert rep2["n_kept"] == corpus.count()
    maintained = ing.ingested_corpus_stats(spark, os.path.join(out, "corpus_stats"))
    assert maintained.cells == collect_corpus_stats(corpus).cells


def test_cli_ingest_snapshot_corpus(spark, sf_dir, tmp_path, capsys):
    """`ingest --snapshot-corpus` lands the corpus as a snapshot table the
    `snapshot history` verb can then inspect; totals accounted as usual."""
    import glob
    import json
    import os

    from hadoop_prototype_spark.__main__ import main
    from hadoop_prototype_spark.sources import snapshots as sn
    from hadoop_prototype_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    src = str(tmp_path / "landing")
    os.makedirs(src)
    docs.toPandas().to_parquet(os.path.join(src, "b0.parquet"), index=False)
    out = str(tmp_path / "out")

    rc = main(
        ["ingest", "-input", src, "-output", out, "--snapshot-corpus"],
        spark=spark,
    )
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["n_in"] == docs.count() and rep["n_kept"] > 0

    corpus = os.path.join(out, "corpus")
    assert sn.current_version(corpus) == 1
    assert sn.read_table(spark, corpus).count() == rep["n_kept"]
    rc = main(["snapshot", "history", corpus], spark=spark)
    assert rc == 0
    hist = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["history"]
    assert hist[0]["op"] == "create" and hist[0]["n_rows"] == rep["n_kept"]


def test_cli_snapshot_restore(spark, tmp_path, capsys):
    import json

    from hadoop_prototype_spark.__main__ import main
    from hadoop_prototype_spark.sources import snapshots as sn

    path = str(tmp_path / "t")
    sn.create_table(
        spark.range(50).selectExpr("id AS k", "id AS v"), path, "k"
    )
    sn.delete_from(spark, path, spark.createDataFrame([(1,)], "k bigint"), "k")
    rc = main(["snapshot", "restore", path, "--to-version", "1"], spark=spark)
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["restored_to"] == 1 and rep["rows_after"] == 50
    assert sn.read_table(spark, path).count() == 50


def test_cli_matview_create_and_refresh(spark, tmp_path, capsys):
    import json

    from hadoop_prototype_spark.__main__ import main
    from hadoop_prototype_spark.sources import snapshots as sn

    src = str(tmp_path / "src")
    view = str(tmp_path / "view")
    sn.create_table(
        spark.range(100).selectExpr("id AS k", "id % 5 AS grp", "id AS v"),
        src, "k",
    )
    spec = '{"total": ["sum", "v"], "n": ["count", "v"]}'
    rc = main(
        ["matview", "create", src, view, "--keys", "grp", "--spec", spec],
        spark=spark,
    )
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["refreshed"] and rep["source_version"] == 1

    sn.merge_into(
        spark, src,
        spark.createDataFrame([(500, 2, 1000)], "k bigint, grp bigint, v bigint"),
        "k",
    )
    rc = main(
        ["matview", "refresh", src, view, "--keys", "grp", "--spec", spec],
        spark=spark,
    )
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["refreshed"] and rep["source_version"] == 2
    got = {r.grp: r.total for r in sn.read_table(spark, view).collect()}
    want = {
        r.grp: r.total
        for r in sn.read_table(spark, src)
        .groupBy("grp").agg(__import__("pyspark").sql.functions.sum("v").alias("total"))
        .collect()
    }
    assert got == want


def test_cli_snapshot_delete_mor_and_purge(spark, tmp_path, capsys):
    """snapshot delete-mor records a deletion-vector commit (zero files
    rewritten) for the given keys; purge materializes every vector."""
    import json

    from hadoop_prototype_spark.__main__ import main
    from hadoop_prototype_spark.sources import snapshots as sn

    path = str(tmp_path / "t")
    sn.create_table(
        spark.range(500).selectExpr("id AS k", "id * 2 AS v").repartitionByRange(2, "k"),
        path,
        "k",
    )
    rc = main(["snapshot", "delete-mor", path, "--keys", "5,250,499"], spark=spark)
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["rows_deleted"] == 3 and rep["files_rewritten"] == 0
    assert rep["dv_files_added"] >= 1 and rep["rows_after"] == 497
    got = sorted(r.k for r in sn.read_table(spark, path).collect())
    assert 5 not in got and 250 not in got and 499 not in got

    rc = main(["snapshot", "purge", path], spark=spark)
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["files_rewritten"] >= 1
    entry = sn._read_entry(path, rep["version"])
    assert not any(fe.get("dv") for fe in entry["files"])
    assert len(sorted(r.k for r in sn.read_table(spark, path).collect())) == 497


def test_cli_snapshot_tail(spark, tmp_path, capsys):
    """snapshot tail: each rerun drains only the versions its checkpoint
    hasn't seen into the parquet out dir — the cron-able incremental
    consumer over a snapshot table."""
    import json

    from hadoop_prototype_spark.__main__ import main
    from hadoop_prototype_spark.sources import snapshots as sn

    path = str(tmp_path / "t")
    sn.create_table(spark.range(10).selectExpr("id AS k", "id*2 AS v"), path, "k")
    sn.append_table(
        spark, path, spark.range(10, 14).selectExpr("id AS k", "id*2 AS v"), "k"
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    rc = main(
        ["snapshot", "tail", path, "--out", out, "--checkpoint", ckpt],
        spark=spark,
    )
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["through_version"] == 2
    assert spark.read.parquet(out).count() == 14

    # second run with a NEW append: only the new slice lands
    sn.append_table(
        spark, path, spark.range(14, 16).selectExpr("id AS k", "id*2 AS v"), "k"
    )
    rc = main(
        ["snapshot", "tail", path, "--out", out, "--checkpoint", ckpt],
        spark=spark,
    )
    assert rc == 0
    got = spark.read.parquet(out)
    assert got.count() == 16  # accumulated, no duplicates
    assert sorted(r.k for r in got.collect()) == list(range(16))


def test_cli_snapshot_tail_change_feed(spark, tmp_path, capsys):
    """snapshot tail --read-change-feed drains row-level CDC."""
    import json

    from hadoop_prototype_spark.__main__ import main
    from hadoop_prototype_spark.sources import snapshots as sn

    path = str(tmp_path / "t")
    sn.create_table(spark.range(6).selectExpr("id AS k", "id*2 AS v"), path, "k")
    sn.merge_into(
        spark, path,
        spark.createDataFrame([(1, -1)], "k bigint, v bigint"), "k",
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    rc = main(
        ["snapshot", "tail", path, "--out", out, "--checkpoint", ckpt,
         "--read-change-feed"],
        spark=spark,
    )
    assert rc == 0
    json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    got = spark.read.parquet(out)
    changes = sorted(
        (r["k"], r["_change"], r["_commit_version"]) for r in got.collect()
        if r["_commit_version"] == 2
    )
    assert changes == [(1, "update_postimage", 2), (1, "update_preimage", 2)]


def test_cli_snapshot_tags_and_clone(spark, tmp_path, capsys):
    """CLI tag / tags / del-tag / clone verbs (sources/refs.py): tag a
    version, vacuum past it (the tag pins it), zero-copy clone it, and
    release the pin."""
    from hadoop_prototype_spark.sources import snapshots as sn

    path = str(tmp_path / "t")
    sn.create_table(
        spark.range(300).selectExpr("id AS k", "id * 2 AS v"), path, "k"
    )
    for i in range(4):
        sn.merge_into(
            spark, path,
            spark.createDataFrame([(2000 + i, -i)], "k bigint, v bigint"), "k",
        )

    rep = run_cli(capsys, spark, "snapshot", "tag", path,
                  "--name", "gold", "--to-version", "2")
    assert rep["version"] == 2 and rep["n_rows"] == 301

    rep = run_cli(capsys, spark, "snapshot", "tags", path)
    assert [t["name"] for t in rep["tags"]] == ["gold"]

    rep = run_cli(capsys, spark, "snapshot", "vacuum", path,
                  "--keep-last", "1", "--retention-seconds", "0")
    assert rep["tag_pinned_versions"] == [2]
    assert sn.read_table(spark, path, version=2).count() == 301

    dst = str(tmp_path / "c")
    rep = run_cli(capsys, spark, "snapshot", "clone", path,
                  "--out", dst, "--to-version", "2")
    assert rep["rows_after"] == 301 and rep["cloned_from"]["version"] == 2
    assert sn.read_table(spark, dst).count() == 301

    rep = run_cli(capsys, spark, "snapshot", "del-tag", path, "--name", "gold")
    assert rep["deleted"] == "gold"
    rep = run_cli(capsys, spark, "snapshot", "vacuum", path,
                  "--keep-last", "1", "--retention-seconds", "0")
    assert rep["tag_pinned_versions"] == []
    # the clone still reads after the pin is gone (hardlinked inodes)
    assert sn.read_table(spark, dst).count() == 301


def test_cli_snapshot_constraints(spark, tmp_path, capsys):
    """CLI set-constraint / constraints / drop-constraint verbs."""
    from hadoop_prototype_spark.sources import snapshots as sn

    path = str(tmp_path / "t")
    sn.create_table(
        spark.range(50).selectExpr("id AS k", "id * 2 AS v"), path, "k"
    )
    rep = run_cli(capsys, spark, "snapshot", "set-constraint", path,
                  "--name", "v_nonneg", "--expr", "v >= 0")
    assert rep["constraints"] == ["v_nonneg"]

    rep = run_cli(capsys, spark, "snapshot", "constraints", path)
    assert rep["constraints"] == {"v_nonneg": "v >= 0"}

    with pytest.raises(sn.ConstraintViolation):
        sn.append_table(
            spark, path,
            spark.createDataFrame([(100, -1)], "k bigint, v bigint"), "k",
        )

    rep = run_cli(capsys, spark, "snapshot", "drop-constraint", path,
                  "--name", "v_nonneg")
    assert rep["constraints"] == []
    sn.append_table(
        spark, path,
        spark.createDataFrame([(100, -1)], "k bigint, v bigint"), "k",
    )
    assert sn.read_table(spark, path).count() == 51


def test_cli_snapshot_rename_drop_column(spark, tmp_path, capsys):
    """CLI rename-column / drop-column verbs (log-only column mapping)."""
    from hadoop_prototype_spark.sources import snapshots as sn

    path = str(tmp_path / "t")
    sn.create_table(
        spark.range(40).selectExpr(
            "id AS k", "id * 2 AS v", "CAST(id AS STRING) AS note"
        ),
        path, "k",
    )
    rep = run_cli(capsys, spark, "snapshot", "rename-column", path,
                  "--name", "v", "--to-name", "amount")
    assert rep["renamed"] == {"v": "amount"}
    assert sn.read_table(spark, path).columns == ["k", "amount", "note"]

    rep = run_cli(capsys, spark, "snapshot", "drop-column", path,
                  "--name", "note")
    assert rep["dropped"] == "note"
    assert sn.read_table(spark, path).columns == ["k", "amount"]
    # time travel still reads the original logical schema
    assert sn.read_table(spark, path, version=1).columns == ["k", "v", "note"]


def test_cli_snapshot_describe(spark, tmp_path, capsys):
    """CLI describe verb: metadata-only table detail (DESCRIBE DETAIL)."""
    from hadoop_prototype_spark.sources import refs
    from hadoop_prototype_spark.sources import snapshots as sn

    path = str(tmp_path / "t")
    sn.create_table(
        spark.range(60).selectExpr(
            "id AS k", "CAST(id % 4 AS BIGINT) AS day", "id * 2 AS v"
        ),
        path, "k", partition_by=["day"],
    )
    sn.rename_column(spark, path, "v", "amount")
    sn.set_check_constraints(spark, path, {"amt": "amount >= 0"})
    sn.delete_from_mor(
        spark, path, spark.createDataFrame([(3,)], "k bigint"), "k"
    )
    refs.create_tag(path, "gold")

    rep = run_cli(capsys, spark, "snapshot", "describe", path)
    assert rep["version"] == 4 and rep["key_col"] == "k"
    assert rep["n_rows"] == 59 and rep["n_deletion_vectors"] >= 1
    assert rep["columns"] == ["k", "day", "amount"]
    assert rep["column_mapping"] is True
    assert rep["partition_spec"] == ["day"]
    assert rep["constraints"] == {"amt": "amount >= 0"}
    assert rep["tags"] == [{"name": "gold", "version": 4}]
    assert rep["bytes_current"] > 0 and rep["n_files"] > 0


def test_cli_snapshot_sql(spark, tmp_path, capsys):
    """CLI sql verb: one statement of the SQL verb surface, the name 't'
    bound to the table path — verbs return accounting, SELECTs print
    capped rows, ALTER/widen routes to the log-only commits."""
    from hadoop_prototype_spark.sources import snapshots as sn

    path = str(tmp_path / "t")
    sn.create_table(
        spark.range(40).selectExpr(
            "id AS k", "CAST(id * 2 AS INT) AS v"
        ),
        path, "k",
    )
    rep = run_cli(capsys, spark, "snapshot", "sql", path,
                  "--expr", "UPDATE t SET v = v + 100 WHERE k < 5")
    assert rep["version"] == 2
    rep = run_cli(capsys, spark, "snapshot", "sql", path,
                  "--expr", "DELETE FROM t WHERE k = 7")
    assert rep["rows_deleted"] == 1
    rep = run_cli(capsys, spark, "snapshot", "sql", path,
                  "--expr", "ALTER TABLE t ALTER COLUMN v TYPE bigint")
    assert rep["altered"] == {"v": "bigint"}
    rep = run_cli(capsys, spark, "snapshot", "sql", path, "--limit", "3",
                  "--expr",
                  "SELECT k, v FROM t VERSION AS OF 2 ORDER BY k")
    assert rep["rows"] == [
        {"k": 0, "v": 100}, {"k": 1, "v": 102}, {"k": 2, "v": 104}
    ]
    rep = run_cli(capsys, spark, "snapshot", "sql", path,
                  "--expr", "DESCRIBE HISTORY t")
    assert [h["version"] for h in rep["history"]] == [1, 2, 3, 4]


def test_cli_catalog_and_sql_with_names(spark, tmp_path, capsys):
    """File-backed catalog (sources/catalog.py): register/list/unregister
    + snapshot sql --catalog binding registered names in statements."""
    from hadoop_prototype_spark.sources import snapshots as sn

    cat = str(tmp_path / "tables.json")
    a_path, b_path = str(tmp_path / "a"), str(tmp_path / "b")
    sn.create_table(
        spark.range(20).selectExpr("id AS k", "id * 2 AS v"), a_path, "k"
    )
    sn.create_table(
        spark.range(10).selectExpr("id AS k", "id + 100 AS v"), b_path, "k"
    )
    rep = run_cli(capsys, spark, "snapshot", "register", a_path,
                  "--catalog", cat, "--name", "alpha")
    assert rep["n_tables"] == 1
    rep = run_cli(capsys, spark, "snapshot", "register", b_path,
                  "--catalog", cat, "--name", "beta")
    assert rep["n_tables"] == 2
    rep = run_cli(capsys, spark, "snapshot", "catalog", a_path,
                  "--catalog", cat)
    assert rep["tables"] == {"alpha": a_path, "beta": b_path}

    # a cross-table statement through registered names only
    rep = run_cli(
        capsys, spark, "snapshot", "sql", a_path, "--catalog", cat,
        "--expr",
        "MERGE INTO alpha USING (SELECT k, v FROM beta) s ON alpha.k = s.k "
        "WHEN MATCHED THEN UPDATE SET *",
    )
    assert rep["version"] == 2
    got = {r.k: r.v for r in sn.read_table(spark, a_path).collect()}
    assert got[5] == 105 and got[15] == 30

    rep = run_cli(capsys, spark, "snapshot", "unregister", a_path,
                  "--catalog", cat, "--name", "beta")
    assert rep["n_tables"] == 1
