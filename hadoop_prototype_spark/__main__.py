"""Command-line driver — the ExampleDriver / `hadoop jar` surface.

Reference: ``EX/ExampleDriver.java`` (ProgramDriver registering wordcount,
grep, sort, join, the terasort suite, randomtextwriter, …) and the
hadoop-streaming CLI (``StreamJob.java:80``). A reference user who ran

    hadoop jar hadoop-mapreduce-examples.jar wordcount in out

runs here:

    python -m hadoop_prototype_spark wordcount in out

Inputs are text dirs/files (any codec extension Spark knows: .gz .bz2 .lz4
…); key/value commands parse KeyValueTextInputFormat-style TAB-separated
lines. Outputs are TextOutputFormat-shaped ``key<TAB>value`` text files
(``--compress gzip|bzip2|lz4|snappy|deflate`` mirrors
FileOutputFormat.setCompressOutput), or parquet for the terasort family
where a typed schema matters. Every command prints one JSON summary line to
stdout, like the reference's job counters dump.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _write_tsv(df: DataFrame, out: str, cols: list[str], compress: str | None) -> None:
    """TextOutputFormat: one `col1<TAB>col2...` line per record."""
    line = F.concat_ws("\t", *[F.col(c).cast("string") for c in cols])
    w = df.select(line.alias("value")).write.mode("error")
    if compress:
        w = w.option("compression", compress)
    w.text(out)


def _lines(spark: SparkSession, path: str) -> DataFrame:
    from .sources.readers import read_text

    return read_text(spark, path)


def cmd_wordcount(spark, a) -> dict:
    from .functions.text import tokenize

    counts = (
        tokenize(_lines(spark, a.input), "line")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    _write_tsv(counts, a.output, ["word", "cnt"], a.compress)
    return {"command": "wordcount", "output": a.output}


def cmd_grep(spark, a) -> dict:
    # EX/Grep.java:40 — 2-job pipeline (match-count, then sort desc) as one plan
    matches = _lines(spark, a.input).select(
        F.explode(F.regexp_extract_all("line", F.lit(a.regex), a.group)).alias("match")
    )
    counts = (
        matches.groupBy("match")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "match")
    )
    _write_tsv(counts, a.output, ["cnt", "match"], a.compress)
    return {"command": "grep", "output": a.output}


def cmd_sort(spark, a) -> dict:
    from .operators.sort import keyfield_sort, total_order_sort
    from .sources.readers import parse_kv

    lines = _lines(spark, a.input)
    if a.key_field_spec:
        out_df = keyfield_sort(lines, a.key_field_spec)
        _write_tsv(out_df, a.output, ["line"], a.compress)
    else:
        kv = parse_kv(lines)
        out_df = total_order_sort(kv, "key")
        _write_tsv(out_df, a.output, ["key", "value"], a.compress)
    return {"command": "sort", "output": a.output}


def cmd_fieldsel(spark, a) -> dict:
    from .operators.fieldsel import field_selection

    out_df = field_selection(_lines(spark, a.input), a.spec)
    _write_tsv(out_df, a.output, ["key", "value"], a.compress)
    return {"command": "fieldsel", "output": a.output}


def cmd_join(spark, a) -> dict:
    # EX/Join.java — -joinOp over co-inputs; inputs are KV text dirs
    from .operators.joins import compose
    from .sources.readers import read_kv_text

    names = [f"t{i}" for i in range(len(a.inputs))]
    tables = {n: read_kv_text(spark, p) for n, p in zip(names, a.inputs)}
    expr = f"{a.join_op}({', '.join(f'tbl({n})' for n in names)})"
    joined = compose(expr, tables, key="key")
    cols = joined.columns
    _write_tsv(joined, a.output, cols, a.compress)
    return {"command": "join", "join_op": a.join_op, "columns": cols, "output": a.output}


def cmd_teragen(spark, a) -> dict:
    from .sources.generators import teragen

    df = teragen(spark, a.rows, num_partitions=a.num_maps)
    df.select("key", "value").write.mode("error").parquet(a.output)
    return {"command": "teragen", "rows": a.rows, "output": a.output}


def cmd_terasort(spark, a) -> dict:
    from .operators.sort import total_order_sort

    df = spark.read.parquet(a.input)
    total_order_sort(df, "key").write.mode("error").parquet(a.output)
    return {"command": "terasort", "output": a.output}


def cmd_teravalidate(spark, a) -> dict:
    # EX/terasort/TeraValidate.java:53 — global sortedness + checksum.
    # Distributed, never a single-partition window: order within each
    # input file split via a lag window over the split's rows in read
    # order, order across splits via the tiny per-split (lo, hi) boundary
    # list collected to the driver and ordered by (part-file name, split
    # offset) — TeraValidate's own design (one mapper per file + boundary
    # records). A split, not a read partition, is the unit: a read packs
    # several files (or pieces of one) into a partition by size, so
    # partition order need not be name order.
    from pyspark.sql.window import Window

    from .sources.generators import record_checksum

    df = spark.read.parquet(a.input)
    keyed = df.select(
        "key",
        F.input_file_name().alias("_file"),
        F.input_file_block_start().alias("_start"),
        F.monotonically_increasing_id().alias("_mid"),
    )
    w = Window.partitionBy("_file", "_start").orderBy("_mid")
    violations = (
        keyed.withColumn("_prev", F.lag("key").over(w))
        .filter(F.col("_prev") > F.col("key"))
        .count()
    )
    splits = (
        keyed.groupBy("_file", "_start")
        .agg(F.min("key").alias("lo"), F.max("key").alias("hi"))
        .collect()
    )
    bounds = sorted(splits, key=lambda r: (os.path.basename(r._file), r._start))
    boundary_ok = all(
        bounds[i].hi <= bounds[i + 1].lo for i in range(len(bounds) - 1)
    )
    return {
        "command": "teravalidate",
        "sorted": violations == 0 and boundary_ok,
        "violations": violations,
        "boundaries_ordered": boundary_ok,
        "checksum": record_checksum(df, "key", "value"),
        "rows": df.count(),
    }


def cmd_randomtextwriter(spark, a) -> dict:
    from .sources.generators import random_text

    df = random_text(spark, a.rows, num_partitions=a.num_maps)
    _write_tsv(df, a.output, ["line"], a.compress)
    return {"command": "randomtextwriter", "rows": a.rows, "output": a.output}


def cmd_streamjob(spark, a) -> dict:
    from .functions.udf_surface import stream_job
    from .sources.readers import parse_kv

    kv = parse_kv(_lines(spark, a.input))
    out_df = stream_job(
        kv,
        mapper=a.mapper,
        combiner=a.combiner,
        reducer=a.reducer,
        io=a.io,
        num_reduce_tasks=a.num_reduce_tasks,
    )
    # keyonlytext emits a single `key` column (NullWritable value)
    cols = [c for c in ("key", "value") if c in out_df.columns]
    _write_tsv(out_df, a.output, cols, a.compress)
    return {"command": "streamjob", "output": a.output}


def cmd_compact(spark, a) -> dict:
    """Bin-pack undersized parquet files in place (incremental OPTIMIZE;
    right-sized files stay untouched bytes)."""
    from .sources.compact import compact

    stats = compact(spark, a.input, target_bytes=a.target_bytes)
    return {"command": "compact", "input": a.input, **stats}


def cmd_ingest(spark, a) -> dict:
    """Run the streaming corpus-ingest pipeline (streaming/ingest.py) over
    a directory of document parquet files, availableNow: quality filter →
    incremental LSH dedup against the persisted index → exactly-once
    corpus/index/stats/corpus-stats writes under ``-output``. Re-running
    after new files land processes ONLY the new batches (checkpointed
    file source); a replayed batch overwrites exactly its own partitions."""
    import os as _os

    from pyspark.sql import functions as F

    from .streaming import ingest as ing

    schema = spark.read.parquet(a.input).schema
    q = ing.start_ingest_pipeline(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(a.max_files_per_trigger))
        .parquet(a.input),
        corpus_path=_os.path.join(a.output, "corpus"),
        index_path=_os.path.join(a.output, "index"),
        stats_path=_os.path.join(a.output, "stats"),
        checkpoint_dir=_os.path.join(a.output, "ckpt"),
        quality_threshold=a.quality_threshold,
        corpus_stats_path=_os.path.join(a.output, "corpus_stats"),
        snapshot_corpus=a.snapshot_corpus,
        optimize_every=a.optimize_every,
        rag_index_path=a.rag_index,
    )
    q.awaitTermination()
    totals = (
        spark.read.parquet(_os.path.join(a.output, "stats"))
        .agg(
            F.sum("n_in").alias("n_in"),
            F.sum("n_quality_passed").alias("n_passed"),
            F.sum("n_kept").alias("n_kept"),
            F.sum("n_dup_dropped").alias("n_dup_dropped"),
            F.count(F.lit(1)).alias("n_batches"),
        )
        .first()
    )
    return {
        "command": "ingest",
        "input": a.input,
        "output": a.output,
        **{k: int(v) for k, v in totals.asDict().items()},
    }


def cmd_snapshot(spark, a) -> dict:
    """Maintenance verbs for snapshot-log tables (sources/snapshots.py):
    ``optimize`` compacts the small-file tail as a versioned commit,
    ``vacuum`` age-gate-reclaims dropped versions and crash debris,
    ``restore`` rolls the table back to an older version as a NEW commit
    (pure log write — no data moved), ``delete-mor`` is the merge-on-read
    DELETE (a deletion-vector commit — O(keys) bytes, zero files
    rewritten; the GDPR-erasure verb for scattered keys), ``purge``
    rewrites every vector-carrying file (REORG…PURGE), ``history``
    prints the retained version log, ``tail`` drains the versions the
    checkpoint hasn't seen yet into a parquet dir through the streaming
    DataSource (the incremental-consumer verb: rerun it on a schedule
    and each run costs only the new slice), ``tag``/``tags``/``del-tag``
    name immutable versions that pin vacuum retention (sources/refs.py),
    and ``clone`` hardlinks a version into a new independent table
    (zero-copy — O(files) metadata, no data bytes)."""
    from .sources import snapshots as sn

    if a.action == "delete-mor":
        if not a.keys:
            raise SystemExit("snapshot delete-mor requires --keys k1,k2,...")
        entry = sn._read_entry(a.table, sn.current_version(a.table))
        key = entry["key_col"]
        ktype = sn.read_table(spark, a.table).schema[key].dataType.simpleString()
        vals = [v.strip() for v in a.keys.split(",") if v.strip()]
        kdf = spark.createDataFrame(
            [(v,) for v in vals], f"{key} string"
        ).selectExpr(f"CAST({key} AS {ktype}) AS {key}")
        rep = sn.delete_from_mor_retrying(spark, a.table, kdf, key)
    elif a.action == "purge":
        rep = sn.optimize_retrying(spark, a.table, purge_dv=True)
    elif a.action == "restore":
        if a.to_version is None:
            raise SystemExit("snapshot restore requires --to-version")
        rep = sn.restore_table(a.table, a.to_version)
    elif a.action == "optimize":
        # compaction runs alongside live writers by design — losing the
        # commit race to a concurrent merge/delete must re-plan against
        # the winner's snapshot (compaction is idempotent to re-plan),
        # not surface a ConflictError traceback
        zb = [c.strip() for c in a.zorder_by.split(",")] if a.zorder_by else None
        where = None
        if a.where:
            schema = sn.read_table(spark, a.table).schema
            where = {}
            for pair in a.where.split(","):
                c, _, v = pair.partition("=")
                c = c.strip()
                if c not in schema.names:
                    raise SystemExit(f"--where column {c!r} not in the table")
                py = spark.createDataFrame(
                    [(v.strip(),)], "x string"
                ).selectExpr(
                    f"CAST(x AS {schema[c].dataType.simpleString()}) AS x"
                ).first()[0]
                where[c] = py
        rep = sn.optimize_retrying(spark, a.table, zorder_by=zb, where=where)
    elif a.action == "vacuum":
        rep = sn.vacuum(
            a.table, keep_last=a.keep_last,
            retention_seconds=a.retention_seconds, dry_run=a.dry_run,
        )
    elif a.action == "tag":
        from .sources import refs

        if not a.name:
            raise SystemExit("snapshot tag requires --name")
        rep = refs.create_tag(a.table, a.name, version=a.to_version)
    elif a.action == "del-tag":
        from .sources import refs

        if not a.name:
            raise SystemExit("snapshot del-tag requires --name")
        refs.delete_tag(a.table, a.name)
        rep = {"deleted": a.name}
    elif a.action == "tags":
        from .sources import refs

        rep = {"tags": refs.list_tags(a.table)}
    elif a.action == "clone":
        from .sources import refs

        if not a.out:
            raise SystemExit("snapshot clone requires --out (destination path)")
        rep = refs.clone_table(a.table, a.out, version=a.to_version)
    elif a.action == "set-constraint":
        if not (a.name and a.expr):
            raise SystemExit("snapshot set-constraint requires --name and --expr")
        rep = sn.set_check_constraints(spark, a.table, {a.name: a.expr})
    elif a.action == "drop-constraint":
        if not a.name:
            raise SystemExit("snapshot drop-constraint requires --name")
        rep = sn.drop_check_constraint(a.table, a.name)
    elif a.action == "constraints":
        rep = {"constraints": sn.get_check_constraints(a.table)}
    elif a.action == "describe":
        rep = sn.describe(a.table)
    elif a.action == "rename-column":
        if not (a.name and a.to_name):
            raise SystemExit("snapshot rename-column requires --name and --to-name")
        rep = sn.rename_column(spark, a.table, a.name, a.to_name)
    elif a.action == "drop-column":
        if not a.name:
            raise SystemExit("snapshot drop-column requires --name")
        rep = sn.drop_column(spark, a.table, a.name)
    elif a.action == "register":
        from .sources import catalog as cat

        if not (a.catalog and a.name):
            raise SystemExit("snapshot register requires --catalog and --name")
        rep = cat.register_table(a.catalog, a.name, a.table)
    elif a.action == "unregister":
        from .sources import catalog as cat

        if not (a.catalog and a.name):
            raise SystemExit("snapshot unregister requires --catalog and --name")
        rep = cat.unregister_table(a.catalog, a.name)
    elif a.action == "catalog":
        from .sources import catalog as cat

        if not a.catalog:
            raise SystemExit("snapshot catalog requires --catalog")
        rep = {"tables": cat.catalog_tables(a.catalog)}
    elif a.action == "sql":
        if not a.expr:
            raise SystemExit(
                'snapshot sql requires --expr "<statement>" '
                "(the name 't' binds to the table path; --catalog binds "
                "every registered name)"
            )
        from pyspark.sql import DataFrame as _DF

        from .sources.snapshot_sql import snapshot_sql

        names = {}
        if a.catalog:
            from .sources import catalog as cat

            names.update(cat.catalog_tables(a.catalog))
        names["t"] = a.table
        out = snapshot_sql(spark, a.expr, tables=names)
        if isinstance(out, _DF):
            rows = out.limit(a.limit).collect()
            rep = {"rows": [r.asDict() for r in rows], "row_cap": a.limit}
        elif isinstance(out, list):
            rep = {"history": out}
        else:
            rep = out
    elif a.action == "tail":
        if not (a.out and a.checkpoint):
            raise SystemExit("snapshot tail requires --out and --checkpoint")
        from .sources import snapshot_stream as ss

        opts = {}
        if a.starting_version is not None:
            opts["startingVersion"] = a.starting_version
        if a.skip_change_commits:
            opts["skipChangeCommits"] = "true"
        if a.read_change_feed:
            opts["readChangeFeed"] = "true"
        q = (
            ss.stream_table(spark, a.table, **opts)
            .writeStream.format("parquet")
            .option("path", a.out)
            .option("checkpointLocation", a.checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rep = {"out": a.out, "through_version": sn.current_version(a.table)}
    else:
        rep = {"history": sn.history(a.table)}
    return {"command": "snapshot", "action": a.action, "table": a.table, **rep}


def cmd_matview(spark, a) -> dict:
    """Persisted incremental materialized views (operators/matview.py):
    ``create`` materializes a sum/count rollup of a snapshot table as its
    own snapshot table; ``refresh`` folds the source versions since the
    view's watermark as one txn-marked upsert of the touched groups. Spec
    is JSON: {"out_col": ["sum"|"count", "in_col"], ...}."""
    import json as _json

    from .operators import matview as mvo

    spec = {k: (v[0], v[1]) for k, v in _json.loads(a.spec).items()}
    keys = a.keys.split(",")
    if a.action == "create":
        rep = mvo.create_materialized_view(
            spark, a.source, a.view, keys, spec, name=a.name
        )
    else:
        rep = mvo.refresh_materialized_view(
            spark, a.source, a.view, keys, spec, name=a.name
        )
    return {"command": "matview", "action": a.action, **rep}


def cmd_corpus_stats(spark, a) -> dict:
    """Materialize the one-scan corpus-stats table next to (or for) a
    documents table — the ingest-time step that lets every stats-hungry
    query (BM25, mixture planners, quality filter) skip its corpus scan."""
    from .operators.corpusstats import corpus_stats_table, write_corpus_stats

    docs = spark.read.parquet(a.input)
    write_corpus_stats(corpus_stats_table(docs), a.output)
    rows = spark.read.parquet(a.output).count()
    return {"command": "corpus-stats", "input": a.input, "output": a.output, "cells": rows}


def cmd_validate(spark, a) -> dict:
    """One-scan data-quality publish gate (operators/validate.py): run a
    JSON list of declarative constraints (plus an optional referential-
    integrity check) against a parquet table; nonzero exit on failure so
    a pipeline can gate the publish step on the return code."""
    import json as _json
    import os as _os

    from .operators import validate as v

    raw = _json.loads(
        open(a.checks).read() if _os.path.exists(a.checks) else a.checks
    )
    checks = [
        tuple(tuple(x) if isinstance(x, list) else x for x in c) for c in raw
    ]
    refs = []
    if a.ref:
        child_col, parent_path, parent_col = a.ref.split(":")
        refs = [(child_col, spark.read.parquet(parent_path), parent_col)]
    report = v.validation_report(
        spark.read.parquet(a.input), checks, refs=refs, approx=a.approx
    )
    rows = [r.asDict() for r in report.collect()]
    return {
        "command": "validate",
        "input": a.input,
        "passed": all(r["passed"] for r in rows),
        "report": rows,
    }


def cmd_trace_build(spark, a) -> dict:
    """Rumen TraceBuilder analogue: digest a Spark event log into a
    per-job trace table (parquet)."""
    from .sources.trace import build_trace

    trace = build_trace(spark, a.input)
    trace.coalesce(1).write.mode("overwrite").parquet(a.output)
    return {
        "command": "trace-build",
        "input": a.input,
        "output": a.output,
        "jobs": spark.read.parquet(a.output).count(),
    }


def cmd_trace_replay(spark, a) -> dict:
    """GridMix analogue: replay a built trace as synthetic load."""
    from .sources.trace import replay_trace

    report = replay_trace(
        spark,
        spark.read.parquet(a.input),
        policy=a.policy,
        time_scale=a.time_scale,
        concurrency=a.concurrency,
    )
    return {
        "command": "trace-replay",
        "input": a.input,
        "policy": a.policy,
        "jobs": len(report),
        "total_wall_ms": sum(r["wall_ms"] for r in report),
        "report": report,
    }


def cmd_explain(spark, a) -> dict:
    """Print a registered query's physical plan (the operational
    counterpart of the plan-shape tests): --mode formatted shows scans
    with PushedFilters/ReadSchema, exchanges, and codegen spans — the
    things the scale contract is about."""
    import hadoop_prototype_spark.plans  # noqa: F401  (populate REGISTRY)
    from .plans.registry import REGISTRY

    q = REGISTRY.get(a.query)
    if q is None:
        close = sorted(n for n in REGISTRY if a.query.lower() in n.lower())[:10]
        raise SystemExit(
            f"unknown query {a.query!r}; close matches: {close or sorted(REGISTRY)[:10]}"
        )
    df = q.spark_fn(spark, a.sf_dir)
    qe = df._jdf.queryExecution()
    plan = qe.explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(a.mode)
    )
    print(plan)
    # counts from the SIMPLE tree regardless of printed mode: formatted
    # output lists every node twice (tree + details); ReusedExchange must
    # not count as a real shuffle, and neither must BroadcastExchange —
    # the metric is SHUFFLES (data movement proportional to input), which
    # a broadcast of a small side specifically avoids
    tree = qe.explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    n_broadcasts = tree.count("BroadcastExchange")
    return {
        "command": "explain",
        "query": a.query,
        "mode": a.mode,
        "n_scans": tree.count("Scan parquet"),
        "n_exchanges": tree.count("Exchange")
        - tree.count("ReusedExchange")
        - n_broadcasts,
        "n_broadcasts": n_broadcasts,
    }


def cmd_corpusprep(spark, a) -> dict:
    """Full training-corpus preparation over a documents table: quality
    filter → near-dup canonical election → stratified sample →
    train/valid/test split → eval-overlap decontamination of train →
    sequence packing; writes one parquet dataset per split plus a packing
    manifest for train."""
    from pyspark.sql import functions as F

    from .operators import decontam, dedup, packing, sampling, textstats

    docs = spark.read.parquet(a.input)
    if getattr(a, "strip_boilerplate", 0):
        # span-level dedup BEFORE doc-level stages: shared footers/headers
        # otherwise both depress quality scores and glue near-dup clusters
        # together through text none of the docs owns
        docs = dedup.remove_boilerplate_spans(
            docs, min_docs=a.strip_boilerplate
        ).select(
            "doc_id", F.col("text_clean").alias("text")
        ).join(docs.drop("text"), "doc_id")
    if getattr(a, "quality_model", False):
        # trained-classifier gate (FineWeb/DCLM-style) instead of the
        # heuristic threshold — join-free, so the same stage runs under
        # Structured Streaming unchanged
        kept = textstats.quality_model_filter(docs)
    else:
        q = textstats.quality_scores(docs).select("doc_id", "quality")
        kept = docs.join(q, "doc_id").filter(F.col("quality") > a.min_quality)
    cc = dedup.connected_components(dedup.minhash_lsh_pairs(docs))
    keepers = dedup.canonical_docs(docs, cc).select(F.col("keeper_id").alias("doc_id"))
    clustered = cc.select(F.col("node").alias("doc_id"))
    kept = kept.join(clustered, "doc_id", "left_anti").unionByName(
        kept.join(keepers, "doc_id", "left_semi")
    )
    sampled = sampling.hash_rate_sample(kept)
    split = sampling.train_eval_split(sampled)
    counts = {}
    for name in ("valid", "test"):
        part = split.filter(F.col("split") == name).drop("split")
        part.write.mode("overwrite").parquet(f"{a.output}/{name}")
        counts[name] = spark.read.parquet(f"{a.output}/{name}").count()
    # decontaminate: the train split minus every doc sharing a k-gram with
    # the eval/test splits (same split arithmetic — decontam shares
    # sampling's bucket constants). k defaults to 8: published recipes flag
    # LONG verbatim overlaps (8-13-grams); short-k would fire on ordinary
    # phrase collisions.
    train_clean = decontam.decontaminate(sampled, k=a.decontam_k)
    if getattr(a, "token_budget", 0):
        # final recipe stage: keep each source's best --token-budget
        # whitespace tokens by quality rank (sampling.budget_select's
        # histogram-boundary scale path)
        chosen = sampling.budget_select(train_clean, a.token_budget).select("doc_id")
        train_clean = train_clean.join(chosen, "doc_id", "left_semi")
    train_clean.write.mode("overwrite").parquet(f"{a.output}/train")
    counts["train"] = spark.read.parquet(f"{a.output}/train").count()
    manifest = packing.pack_sequences(
        spark.read.parquet(f"{a.output}/train"), capacity=a.capacity
    )
    manifest.write.mode("overwrite").parquet(f"{a.output}/train_packs")
    return {
        "command": "corpusprep",
        "input_docs": docs.count(),
        "split_counts": counts,
        "packs": spark.read.parquet(f"{a.output}/train_packs")
        .agg(F.max("last_pack"))
        .first()[0],
        "output": a.output,
    }


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m hadoop_prototype_spark",
        description="ExampleDriver-compatible command surface",
    )
    sub = p.add_subparsers(dest="command", required=True)

    def common(sp, output=True):
        if output:
            sp.add_argument("output")
        sp.add_argument("--compress", choices=["gzip", "bzip2", "lz4", "snappy", "deflate"])

    sp = sub.add_parser("wordcount", help="tokenize -> (word, count)")
    sp.add_argument("input")
    common(sp)
    sp.set_defaults(fn=cmd_wordcount)

    sp = sub.add_parser("grep", help="regex match counts, sorted desc")
    sp.add_argument("input")
    common(sp)
    sp.add_argument("regex")  # hadoop arg order: grep <in> <out> <regex>
    sp.add_argument("--group", type=int, default=0)
    sp.set_defaults(fn=cmd_grep)

    sp = sub.add_parser("sort", help="total-order sort of key\\tvalue lines")
    sp.add_argument("input")
    common(sp)
    sp.add_argument("--key-field-spec", default=None, help="-k GNU-sort spec (KeyFieldBasedComparator)")
    sp.set_defaults(fn=cmd_sort)

    sp = sub.add_parser("fieldsel", help="FieldSelection spec over TSV lines")
    sp.add_argument("input")
    common(sp)
    sp.add_argument("spec")
    sp.set_defaults(fn=cmd_fieldsel)

    sp = sub.add_parser("join", help="CompositeInputFormat join of KV text dirs")
    sp.add_argument("--joinOp", dest="join_op", choices=["inner", "outer", "override"], default="inner")
    sp.add_argument("--output", required=True)
    sp.add_argument("inputs", nargs="+")
    sp.add_argument("--compress", choices=["gzip", "bzip2", "lz4", "snappy", "deflate"])
    sp.set_defaults(fn=cmd_join)

    sp = sub.add_parser("teragen", help="N 100-byte records -> parquet")
    sp.add_argument("rows", type=int)
    sp.add_argument("output")
    sp.add_argument("--num-maps", type=int, default=None)
    sp.set_defaults(fn=cmd_teragen)

    sp = sub.add_parser("terasort", help="total-order sort of teragen output")
    sp.add_argument("input")
    sp.add_argument("output")
    sp.set_defaults(fn=cmd_terasort)

    sp = sub.add_parser("teravalidate", help="sortedness + checksum report")
    sp.add_argument("input")
    sp.set_defaults(fn=cmd_teravalidate)

    sp = sub.add_parser("randomtextwriter", help="N pseudo-random text lines")
    sp.add_argument("rows", type=int)
    common(sp)
    sp.add_argument("--num-maps", type=int, default=None)
    sp.set_defaults(fn=cmd_randomtextwriter)

    sp = sub.add_parser("streamjob", help="hadoop-streaming CLI (StreamJob.java)")
    sp.add_argument("-input", dest="input", required=True)
    sp.add_argument("-output", dest="output", required=True)
    sp.add_argument("-mapper", dest="mapper", default=None)
    sp.add_argument("-combiner", dest="combiner", default=None)
    sp.add_argument("-reducer", dest="reducer", default=None)
    sp.add_argument(
        "-io",
        dest="io",
        default="text",
        choices=["text", "typedbytes", "rawbytes", "keyonlytext"],
    )
    sp.add_argument("-numReduceTasks", dest="num_reduce_tasks", type=int, default=None)
    sp.add_argument("--compress", choices=["gzip", "bzip2", "lz4", "snappy", "deflate"])
    sp.set_defaults(fn=cmd_streamjob)

    sp = sub.add_parser(
        "compact", help="bin-pack undersized parquet files (incremental OPTIMIZE)"
    )
    sp.add_argument("-input", dest="input", required=True)
    sp.add_argument(
        "--target-bytes", dest="target_bytes", type=int, default=128 * 1024 * 1024
    )
    sp.set_defaults(fn=cmd_compact)

    sp = sub.add_parser(
        "corpusprep", help="quality->dedup->sample->split->decontam->pack over documents parquet"
    )
    sp.add_argument("-input", dest="input", required=True)
    sp.add_argument("-output", dest="output", required=True)
    sp.add_argument("--min-quality", dest="min_quality", type=float, default=0.3)
    sp.add_argument("--capacity", dest="capacity", type=int, default=512)
    sp.add_argument("--decontam-k", dest="decontam_k", type=int, default=8)
    sp.add_argument(
        "--quality-model",
        dest="quality_model",
        action="store_true",
        help="gate on the trained linear classifier instead of the "
        "min-quality heuristic threshold",
    )
    sp.add_argument(
        "--strip-boilerplate",
        dest="strip_boilerplate",
        type=int,
        default=0,
        metavar="MIN_DOCS",
        help="strip 3-token spans shared by >= MIN_DOCS docs before the "
        "doc-level stages (0 = off)",
    )
    sp.add_argument(
        "--token-budget",
        dest="token_budget",
        type=int,
        default=0,
        metavar="TOKENS",
        help="after decontamination keep each source's best TOKENS "
        "whitespace tokens by quality rank (0 = off)",
    )
    sp.set_defaults(fn=cmd_corpusprep)

    sp = sub.add_parser(
        "corpus-stats",
        help="materialize the one-scan (source, qbin, n_docs, n_tokens) stats table",
    )
    sp.add_argument("-input", dest="input", required=True, help="documents parquet path")
    sp.add_argument("-output", dest="output", required=True, help="stats table path")
    sp.set_defaults(fn=cmd_corpus_stats)

    sp = sub.add_parser(
        "trace-build", help="digest a Spark event log into a per-job trace (Rumen)"
    )
    sp.add_argument("-input", dest="input", required=True, help="event log path/glob")
    sp.add_argument("-output", dest="output", required=True, help="trace parquet path")
    sp.set_defaults(fn=cmd_trace_build)

    sp = sub.add_parser(
        "trace-replay", help="replay a built trace as synthetic load (GridMix)"
    )
    sp.add_argument("-input", dest="input", required=True, help="trace parquet path")
    sp.add_argument("--policy", choices=["serial", "replay", "stress"], default="serial")
    sp.add_argument("--time-scale", dest="time_scale", type=float, default=0.0)
    sp.add_argument("--concurrency", type=int, default=4)
    sp.set_defaults(fn=cmd_trace_replay)

    sp = sub.add_parser(
        "ingest",
        help="streaming corpus ingest: quality -> incremental dedup -> exactly-once append",
    )
    sp.add_argument("-input", dest="input", required=True, help="document parquet dir")
    sp.add_argument("-output", dest="output", required=True, help="base output dir")
    sp.add_argument(
        "--quality-threshold", dest="quality_threshold", type=float, default=None
    )
    sp.add_argument(
        "--max-files-per-trigger", dest="max_files_per_trigger", type=int, default=8
    )
    sp.add_argument(
        "--snapshot-corpus",
        dest="snapshot_corpus",
        action="store_true",
        help="land the corpus as a versioned snapshot table (one append "
        "commit per batch; time travel / CDC / vacuum; replays skip via "
        "the log-embedded txn marker) instead of batch-partitioned parquet",
    )
    sp.add_argument(
        "--optimize-every",
        dest="optimize_every",
        type=int,
        default=None,
        help="auto-compact the snapshot corpus after every N-th batch "
        "(snapshot-corpus only): folds the one-small-file-per-batch "
        "append tail as a versioned OPTIMIZE commit",
    )
    sp.add_argument(
        "--rag-index",
        dest="rag_index",
        default=None,
        help="maintain the RAG retrieval postings index at this snapshot "
        "table alongside the corpus (snapshot-corpus only): one "
        "txn-marked create-or-append commit per batch",
    )
    sp.set_defaults(fn=cmd_ingest)

    sp = sub.add_parser(
        "snapshot",
        help="snapshot-table maintenance: optimize / vacuum / restore / "
        "delete-mor / purge / history / tail / tag / tags / del-tag / "
        "clone / sql (one statement of the SQL verb surface)",
    )
    sp.add_argument(
        "action",
        choices=[
            "optimize", "vacuum", "restore", "delete-mor", "purge",
            "history", "tail", "tag", "tags", "del-tag", "clone",
            "set-constraint", "drop-constraint", "constraints",
            "rename-column", "drop-column", "describe", "sql",
            "register", "unregister", "catalog",
        ],
    )
    sp.add_argument("table", help="snapshot table path")
    sp.add_argument("--keep-last", dest="keep_last", type=int, default=1)
    sp.add_argument(
        "--to-version",
        dest="to_version",
        type=int,
        default=None,
        help="target version (restore / tag / clone; default: current)",
    )
    sp.add_argument(
        "--retention-seconds",
        dest="retention_seconds",
        type=float,
        default=86400.0,
        help="age gate for unreferenced files (0 only when no writer is live)",
    )
    sp.add_argument(
        "--keys",
        default=None,
        help="comma-separated key values to delete (delete-mor only); "
        "cast to the table's key type",
    )
    sp.add_argument(
        "--zorder-by",
        dest="zorder_by",
        default=None,
        help="comma-separated columns: optimize rewrites the table "
        "Z-order-clustered on them and records their per-file stats",
    )
    sp.add_argument(
        "--where",
        default=None,
        help="comma-separated col=value equality predicates: optimize "
        "compacts ONLY the files whose recorded ranges can hold them "
        "(partition-scoped OPTIMIZE; values cast to the column types)",
    )
    sp.add_argument(
        "--out", default=None,
        help="output dir: parquet for tail, destination table for clone",
    )
    sp.add_argument(
        "--name", default=None,
        help="tag, constraint, or column name (tag / del-tag / "
        "set-constraint / drop-constraint / rename-column / drop-column)",
    )
    sp.add_argument(
        "--to-name", dest="to_name", default=None,
        help="new column name (rename-column only; log-only commit via "
        "column mapping — zero files rewritten)",
    )
    sp.add_argument(
        "--expr", default=None,
        help="set-constraint: CHECK predicate in Spark SQL (NULL results "
        "satisfy, new writes validate O(batch)). sql: one statement of "
        "the snapshot SQL verb grammar — the name 't' binds to the table "
        "path (MERGE INTO t …, SELECT … FROM t VERSION AS OF 3, ALTER "
        "TABLE t …; see sources/snapshot_sql.snapshot_sql.__doc__)",
    )
    sp.add_argument(
        "--limit", type=int, default=20,
        help="row cap printed for a sql SELECT result (sql only)",
    )
    sp.add_argument(
        "--catalog", default=None,
        help="file-backed name→path catalog (sources/catalog.py): sql "
        "binds every registered name; register/unregister/catalog manage "
        "the bindings (register binds --name to the TABLE positional)",
    )
    sp.add_argument(
        "--dry-run", dest="dry_run", action="store_true",
        help="vacuum only: report what would be reclaimed, touch nothing",
    )
    sp.add_argument(
        "--checkpoint", default=None,
        help="stream checkpoint dir — reruns resume from it (tail only)",
    )
    sp.add_argument(
        "--starting-version", dest="starting_version", type=int, default=None,
        help="first version a FRESH tail emits (tail only)",
    )
    sp.add_argument(
        "--skip-change-commits", dest="skip_change_commits", action="store_true",
        help="stream past merge/delete/optimize versions instead of failing",
    )
    sp.add_argument(
        "--read-change-feed", dest="read_change_feed", action="store_true",
        help="tail row-level CDC (_change + _commit_version per row) "
        "instead of appends-only",
    )
    sp.set_defaults(fn=cmd_snapshot)

    sp = sub.add_parser(
        "matview",
        help="incremental materialized view over a snapshot table: create / refresh",
    )
    sp.add_argument("action", choices=["create", "refresh"])
    sp.add_argument("source", help="source snapshot table path")
    sp.add_argument("view", help="view snapshot table path")
    sp.add_argument("--keys", required=True, help="comma-separated group keys")
    sp.add_argument(
        "--spec", required=True,
        help='JSON {"out": ["sum"|"count", "in_col"], ...}',
    )
    sp.add_argument("--name", default="default", help="watermark app name")
    sp.set_defaults(fn=cmd_matview)

    sp = sub.add_parser(
        "validate", help="one-scan data-quality publish gate (Deequ-style)"
    )
    sp.add_argument("-input", dest="input", required=True, help="parquet table path")
    sp.add_argument(
        "--checks",
        required=True,
        help='JSON list (inline or a file path), e.g. \'[["not_null","k"],'
        '["value_range","v",0,9]]\'',
    )
    sp.add_argument(
        "--ref",
        help="referential integrity as child_col:parent_parquet_path:parent_col",
    )
    sp.add_argument("--approx", action="store_true", help="HLL unique check")
    sp.set_defaults(fn=cmd_validate)

    sp = sub.add_parser("explain", help="print a registered query's physical plan")
    sp.add_argument("query", help="registered query name (see COVERAGE.md)")
    sp.add_argument(
        "--sf-dir", dest="sf_dir", default="/root/testdata/sf0.001"
    )
    sp.add_argument(
        "--mode",
        dest="mode",
        default="formatted",
        choices=["simple", "extended", "formatted", "cost", "codegen"],
    )
    sp.set_defaults(fn=cmd_explain)

    return p


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    args = build_parser().parse_args(argv)
    if spark is None:
        from .session import get_spark

        spark = get_spark(app_name=f"hps-{args.command}")
    result = args.fn(spark, args)
    print(json.dumps(result))
    # validate is a GATE: let pipelines branch on the exit code
    return 0 if result.get("passed", True) else 1


if __name__ == "__main__":
    sys.exit(main())
