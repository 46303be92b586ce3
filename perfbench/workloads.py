"""The benchmark's two workloads.

A workload builds its inputs from the checked-in fixture tables and the
seed (``setup``, which may run several times; each call starts over), then
hands the closed loop one pass of operations at a time (``pass_ops``).
Each ``Op`` has an untimed ``prepare``, a timed ``run`` and an untimed
``check`` that returns the list of problems with the run's output (empty =
correct).
``final_checks`` run once after the last pass and count as operations.

- jobs: registry queries over the fixture tables plus one TeraSort per pass.
  The first execution of each query is compared with its DuckDB oracle
  under the parity rules; later executions must reproduce that result's
  digest. Every TeraSort output is validated part file by part file.
- table_writes: one streamed ingest of documents, then passes of seeded
  snapshot-table verbs with point lookups between them, checked against a
  model of the same ops kept without the snapshot code.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import checks

# The project's sf0.01 test tables (15,000 orders, 60,000 line items, 500
# documents, 500 embeddings), checked in so that a run reads nothing outside
# its checkout. Each run copies them into its own scratch directory.
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.01")
TERA_ROWS = 300_000  # 100-byte TeraGen records sorted per pass
TERA_MB = TERA_ROWS * 100 / (1 << 20)


@dataclass
class Op:
    name: str
    run: Callable[[], object]
    check: Callable[[object], list[str]]
    prepare: Callable[[], None] = lambda: None
    kind: str = ""  # latency class used by the per-layer summaries


class Workload:
    name = ""

    def __init__(self, spark, tracer, seed: int, work_dir: str):
        self.spark = spark
        self.tr = tracer
        self.seed = seed
        self.work = work_dir

    def setup(self) -> None:
        raise NotImplementedError

    def pass_ops(self, pass_idx: int) -> list[Op]:
        raise NotImplementedError

    def final_checks(self) -> list[tuple[str, list[str]]]:
        return []

    def layer_values(self, samples: list[tuple[str, str, float]]) -> dict[str, float]:
        """Workload-specific per-layer metrics from (op, kind, seconds)
        samples of the traced passes."""
        return {}

    def close(self) -> None:
        pass

    def _rng(self, *salt: int) -> np.random.Generator:
        """Independent stream per purpose: (0, pass) for a pass's order and
        keys, (1,) and (2,) for the inputs."""
        return np.random.default_rng([self.seed, *salt])

    def _fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        return path


def _copy_fixtures(dst: str) -> None:
    os.makedirs(dst)
    for f in os.listdir(FIXTURES):
        shutil.copyfile(os.path.join(FIXTURES, f), os.path.join(dst, f))


# --- registry query workloads ------------------------------------------------

# The reference's canonical MapReduce jobs and TPC-H-style aggregation
# (planning and per-job overhead), the pipe / mapInPandas queries that run
# in Python workers, and the text dedup operator.
QUERIES = (
    "q1_pricing_summary", "join_inner_revenue", "sort_total_order", "grep",
    "pipe_wordcount", "multimodal_features", "dedup_minhash_lsh",
)


class Jobs(Workload):
    name = "jobs"

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from hadoop_prototype_spark.plans import registry
        from hadoop_prototype_spark.sources.generators import teragen

        self.data_dir = self._fresh_dir("tables")
        _copy_fixtures(self.data_dir)
        self.registry = registry.REGISTRY
        self.digests: dict[str, tuple[int, str]] = {}
        self._duck = None

        # TeraGen rows from a seeded id offset (the records are a pure
        # function of their id, so the offset picks the input)
        offset = int(self._rng(1).integers(0, 1000)) * 1000
        self.tera_in = self._fresh_dir("tera_in")
        (
            teragen(self.spark, TERA_ROWS + offset)
            .filter(F.col("id") >= offset)
            .select("key", "value")
            .write.parquet(self.tera_in)
        )
        self.tera_expected = None

    def _oracle(self, sql: str) -> tuple[list[str], list[dict]]:
        import duckdb

        if self._duck is None:
            from hadoop_prototype_spark.sources.tables import TABLE_NAMES

            self._duck = duckdb.connect()
            for t in TABLE_NAMES:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                self._duck.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
                )
        # through Arrow, as the parity harness does: an untyped integer sum
        # surfaces as a float there and must mismatch Spark's bigint
        tbl = self._duck.execute(sql).arrow()
        return list(tbl.column_names), tbl.to_pylist()

    def _query_op(self, name: str) -> Op:
        q = self.registry[name]

        def run():
            with self.tr.span("plans", "build"):
                df = q.spark_fn(self.spark, self.data_dir)
            with self.tr.span("spark", "collect"):
                rows = df.collect()
            return df.columns, rows

        def check(result) -> list[str]:
            cols, rows = result
            got = [dict(zip(cols, r)) for r in rows]
            if name not in self.digests:
                want_cols, want = self._oracle(q.oracle)
                errors = checks.compare_rows(cols, got, want_cols, want)
                if not want:
                    errors.append("oracle result is empty")
                if errors:
                    return errors
                self.digests[name] = checks.row_digest(cols, got)
                return []
            d = checks.row_digest(cols, got)
            return [] if d == self.digests[name] else [
                f"digest {d} differs from the oracle-checked {self.digests[name]}"
            ]

        return Op(name, run, check, kind="query")

    def _terasort_op(self, pass_idx: int) -> Op:
        from hadoop_prototype_spark.operators import sort

        out = os.path.join(self.work, f"tera_out_{pass_idx}")

        def run():
            with self.tr.span("operators", "total_order_sort"):
                df = sort.total_order_sort(self.spark.read.parquet(self.tera_in), "key")
            with self.tr.span("spark", "write"):
                df.write.parquet(out)
            return out

        def check(path) -> list[str]:
            if self.tera_expected is None:
                self.tera_expected = _records_summary(self.tera_in)
            parts = glob.glob(os.path.join(path, "part-*.parquet"))
            got = checks.validate_sorted_parts(parts)
            shutil.rmtree(path)
            want = self.tera_expected
            errors = []
            if got["violations"]:
                errors.append(f"{got['violations']} keys out of order across {len(parts)} part files")
            if got["rows"] != want["rows"] or got["rows"] != TERA_ROWS:
                errors.append(f"{got['rows']} rows written, {want['rows']} read")
            if got["checksum"] != want["checksum"]:
                errors.append("record checksum differs from the input's")
            return errors

        return Op("terasort", run, check, kind="sort")

    def pass_ops(self, pass_idx: int) -> list[Op]:
        ops = [self._query_op(q) for q in QUERIES] + [self._terasort_op(pass_idx)]
        return [ops[i] for i in self._rng(0, pass_idx).permutation(len(ops))]

    def layer_values(self, samples) -> dict[str, float]:
        sorts = [s for _, k, s in samples if k == "sort"]
        return {"operators.sort_mb_per_s": TERA_MB / statistics.median(sorts)}

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()


# --- table_writes ------------------------------------------------------------

DOCS_PER_BATCH = 100
INGEST_BATCHES = 2
N_DOCS = DOCS_PER_BATCH * INGEST_BATCHES
MERGE_ROWS = 100  # existing keys updated per merge; as many new keys inserted
APPEND_ROWS = 200
DELETE_ROWS = 100
LOOKUPS_AFTER = (5, 4, 3)  # point lookups after the merge, append, delete
ORDER_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority",
]
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
ORDER_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate date, o_orderpriority string"
)


class TableWrites(Workload):
    name = "table_writes"

    def setup(self) -> None:
        from hadoop_prototype_spark.sources import snapshots as sn

        orders = pq.read_table(os.path.join(FIXTURES, "orders.parquet"))
        orders = orders.set_column(
            4, "o_orderdate", orders.column("o_orderdate").cast(pa.date32())
        )
        src = os.path.join(self._fresh_dir("orders_src"), "orders.parquet")
        os.makedirs(os.path.dirname(src))
        pq.write_table(orders, src)
        self.table = self._fresh_dir("orders_table")
        sn.create_table(self.spark.read.parquet(src), self.table, "o_orderkey")
        self.model = checks.OrdersModel("o_orderkey", orders.to_pylist())
        self.next_key = max(self.model.rows) + 1
        self.n_cust = pc.max(orders.column("o_custkey")).as_py() + 1
        self.deleted: list[int] = []

        # the seed picks which fixture documents are offered, in id order
        docs = pq.read_table(os.path.join(FIXTURES, "documents.parquet"))
        pick = np.sort(self._rng(2).choice(docs.num_rows, size=N_DOCS, replace=False))
        self.docs = docs.sort_by("doc_id").take(pa.array(pick))
        self.doc_dir = self._fresh_dir("docs_in")
        os.makedirs(self.doc_dir)
        self.ingest_dir = self._fresh_dir("ingest")

    # payload helpers (prepare steps, untimed)

    def _rows(self, rng, keys) -> list[dict]:
        import datetime as dt

        return [
            {
                "o_orderkey": int(k),
                "o_custkey": int(rng.integers(0, self.n_cust)),
                "o_orderstatus": ("F", "O", "P")[int(rng.integers(0, 3))],
                "o_totalprice": round(float(rng.uniform(1000, 500_000)), 2),
                "o_orderdate": dt.date(1995, 1, 1) + dt.timedelta(days=int(rng.integers(0, 2405))),
                "o_orderpriority": PRIORITIES[int(rng.integers(0, 5))],
            }
            for k in keys
        ]

    def _frame(self, rows: list[dict]):
        return self.spark.createDataFrame(
            [tuple(r[c] for c in ORDER_COLS) for r in rows], ORDER_SCHEMA
        )

    def _fresh(self, n: int) -> list[int]:
        keys = list(range(self.next_key, self.next_key + n))
        self.next_key += n
        return keys

    def _live_sample(self, rng, n: int) -> list[int]:
        live = sorted(self.model.rows)
        return [int(k) for k in rng.choice(live, size=n, replace=False)]

    def _verb_op(self, name: str, verb: Callable, payload: Callable, apply: Callable) -> Op:
        from hadoop_prototype_spark.sources import snapshots as sn

        st: dict = {}

        def prepare():
            st["arg"], st["model_arg"] = payload()
            rows = st["model_arg"]
            st["user_bytes"] = (
                _plain_parquet_bytes(rows) if rows and isinstance(rows[0], dict) else 0
            )

        def run():
            with self.tr.span("sources", name) as rec:
                if rec is not None and st["user_bytes"]:
                    rec["counts"]["user_bytes"] = st["user_bytes"]
                return verb(sn, st["arg"])

        def check(res) -> list[str]:
            apply(st["model_arg"])
            if res["rows_after"] != len(self.model):
                return [f"{name}: table reports {res['rows_after']} rows, model has {len(self.model)}"]
            return []

        return Op(name, run, check, prepare, kind="commit")

    def _ops_merge(self, rng) -> Op:
        def payload():
            rows = self._rows(rng, self._live_sample(rng, MERGE_ROWS) + self._fresh(MERGE_ROWS))
            return self._frame(rows), rows

        return self._verb_op(
            "merge",
            lambda sn, df: sn.merge_into(self.spark, self.table, df, "o_orderkey"),
            payload, self.model.merge,
        )

    def _ops_append(self, rng) -> Op:
        def payload():
            rows = self._rows(rng, self._fresh(APPEND_ROWS))
            return self._frame(rows), rows

        return self._verb_op(
            "append",
            lambda sn, df: sn.append_table(self.spark, self.table, df, "o_orderkey"),
            payload, self.model.append,
        )

    def _ops_delete(self, rng) -> Op:
        def payload():
            keys = self._live_sample(rng, DELETE_ROWS)
            self.deleted += keys
            return self.spark.createDataFrame([(k,) for k in keys], "o_orderkey long"), keys

        return self._verb_op(
            "delete",
            lambda sn, df: sn.delete_from_mor(self.spark, self.table, df, "o_orderkey"),
            payload, self.model.delete,
        )

    def _ops_optimize(self) -> Op:
        return self._verb_op(
            "optimize",
            lambda sn, _: sn.optimize(self.spark, self.table),
            lambda: (None, None), lambda _: None,
        )

    def _ops_lookup(self, rng) -> Op:
        from hadoop_prototype_spark.sources import snapshots as sn

        st: dict = {}

        def prepare():
            # two in three probes hit a live key, the rest a deleted or
            # never-written one (empty answer)
            if rng.random() < 2 / 3 or not self.deleted:
                st["key"] = self._live_sample(rng, 1)[0]
            else:
                st["key"] = int(rng.choice(self.deleted))

        def run():
            with self.tr.span("sources", "lookup"):
                df = sn.read_table_where(self.spark, self.table, {"o_orderkey": st["key"]})
                return df.columns, df.collect()

        def check(res) -> list[str]:
            cols, rows = res
            got = [dict(zip(cols, r)) for r in rows]
            return checks.compare_rows(cols, got, ORDER_COLS, self.model.lookup(st["key"]))

        return Op("lookup", run, check, prepare, kind="lookup")

    def _ops_ingest(self) -> Op:
        """Phase 1: INGEST_BATCHES files of ascending doc ids streamed
        through one availableNow ingest query (one micro-batch per file)."""
        from hadoop_prototype_spark.streaming import ingest

        def prepare():
            now = time.time()
            for i in range(INGEST_BATCHES):
                path = os.path.join(self.doc_dir, f"batch_{i:04d}.parquet")
                pq.write_table(self.docs.slice(i * DOCS_PER_BATCH, DOCS_PER_BATCH), path)
                # ascending mtimes: the file source delivers them in id order
                os.utime(path, (now - 100 + i, now - 100 + i))

        def run():
            t0 = time.perf_counter()
            with self.tr.span("streaming", "ingest") as rec:
                stream = (
                    self.spark.readStream.schema(DOC_SCHEMA)
                    .option("maxFilesPerTrigger", "1").parquet(self.doc_dir)
                )
                q = ingest.start_ingest_pipeline(
                    stream,
                    corpus_path=os.path.join(self.ingest_dir, "corpus"),
                    index_path=os.path.join(self.ingest_dir, "index"),
                    stats_path=os.path.join(self.ingest_dir, "stats"),
                    checkpoint_dir=os.path.join(self.ingest_dir, "ckpt"),
                    snapshot_corpus=True,
                )
                q.awaitTermination()
                if rec is not None:
                    rec["groups"].append(str(q.runId))
            self.ingest_s = time.perf_counter() - t0
            return q

        def check(q) -> list[str]:
            if q.exception() is not None:
                return [f"ingest failed: {q.exception()}"]
            progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
            self.batch_s = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]
            got = sorted(
                r.doc_id for r in ingest.read_corpus(
                    self.spark, os.path.join(self.ingest_dir, "corpus")
                ).select("doc_id").collect()
            )
            want = self._keepers()
            return [] if got == want else [
                f"ingested corpus has {len(got)} docs, the batch LSH rule keeps {len(want)}"
            ]

        return Op("ingest", run, check, prepare, kind="ingest")

    def _keepers(self) -> list[int]:
        """Batch LSH survivors of every doc offered so far, from DuckDB."""
        import duckdb

        from hadoop_prototype_spark.operators.dedup import lsh_keepers_oracle_sql

        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW offered AS SELECT * FROM read_parquet("
                f"'{os.path.join(self.doc_dir, '*.parquet')}')"
            )
            return sorted(r[0] for r in con.execute(lsh_keepers_oracle_sql("offered")).fetchall())
        finally:
            con.close()

    def pass_ops(self, pass_idx: int) -> list[Op]:
        """A fixed verb order with lookups after each verb, closed by an
        optimize, so every pass does the same work; the seed picks every
        key. Lookups after the merge and the append read files the merge
        rewrote; lookups after the delete go through its deletion vectors."""
        rng = self._rng(0, pass_idx)
        ops = [self._ops_ingest()] if pass_idx == 0 else []
        for verb, lookups in zip(
            (self._ops_merge, self._ops_append, self._ops_delete), LOOKUPS_AFTER
        ):
            ops.append(verb(rng))
            ops += [self._ops_lookup(rng) for _ in range(lookups)]
        ops.append(self._ops_optimize())
        return ops

    def final_checks(self) -> list[tuple[str, list[str]]]:
        from hadoop_prototype_spark.sources import snapshots as sn

        df = sn.read_table(self.spark, self.table)
        cols = df.columns
        got = [dict(zip(cols, r)) for r in df.collect()]
        return [("table_state", checks.compare_rows(cols, got, ORDER_COLS, list(self.model.rows.values())))]

    def layer_values(self, samples) -> dict[str, float]:
        live = list(self.model.rows.values())
        return {
            "sources.live_files": float(_live_files(self.table)),
            "sources.space_amp": _dir_bytes(self.table) / _plain_parquet_bytes(live),
            "streaming.batches_per_s": 1.0 / statistics.median(self.batch_s),
            "streaming.ingest_docs_per_s": N_DOCS / self.ingest_s,
        }


def _live_files(table: str) -> int:
    from hadoop_prototype_spark.sources import snapshots as sn

    return sn.describe(table)["n_files"]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _plain_parquet_bytes(rows: list[dict]) -> int:
    """Size of rows written once as one zstd parquet file (no log, no
    staging, no deletion vectors): the denominator of space amplification."""
    sink = pa.BufferOutputStream()
    pq.write_table(pa.Table.from_pylist(rows), sink, compression="zstd")
    return sink.getvalue().size


def _records_summary(in_dir: str) -> dict:
    """Row count and record checksum of the TeraGen input, read with
    pyarrow (never through Spark)."""
    rows = checksum = 0
    for f in glob.glob(os.path.join(in_dir, "part-*.parquet")):
        k, v = checks.read_records(f, 10, 90)
        rows += len(k)
        checksum = (checksum + checks.record_checksum(k, v)) % (1 << 64)
    return {"rows": rows, "checksum": checksum}


WORKLOADS: dict[str, type[Workload]] = {
    w.name: w for w in (Jobs, TableWrites)
}
