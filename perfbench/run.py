"""Benchmark of record for hadoop_prototype_spark.

    python3 perfbench/run.py --workload jobs --seed 1 --seconds 16 --trace 0

Runs one workload (see workloads.py) in one process against a local[4]
SparkSession, as one closed-loop client: each operation starts when the
previous one has finished and been checked. Prints one line per metric and,
as the last line, one JSON object {correct, attempted, failed, metrics}.

A run: set-up, one cold pass, WARMUP_PASSES untimed warm-up passes (their
outputs are checked all the same), then steady passes for --seconds: a
pass starts only if, at the length of the previous one, it ends inside the
window, so the window holds whole passes and not a fraction of one more.

--trace 0 reports the end-to-end metrics. --trace 1 alternates untraced and
traced steady passes and reports the per-layer metrics of the traced ones
plus the tracing overhead; its spans are written to .perfbench_traces/.

Host interference is measured, not corrected for: every pass reads the
machine's CPU steal and iowait from /proc/stat, and the run prints them.
On a shared 4-vCPU VM, passes ran 1.5-2.5x slower while more than
STEAL_MAX of the CPU time was stolen; a run whose steady passes saw more
prints "# INVALID" above its result. Its numbers still use every pass.

All scratch state (TMPDIR, SPARK_LOCAL_DIRS, the JVM's temp dir, the SQL
warehouse, the corpus-stats cache, inputs and outputs) lives in one
directory under .perfbench/ of the checkout and is deleted when the run
ends. Exits non-zero without a
result when the program is missing or any step raises.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

import checks
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
SETUP_REPEATS = 3  # setup_s = session start + median of this many input builds
WARMUP_PASSES = 1  # after the cold pass the first pass is still ~15% slower (JIT)
MIN_STEADY = 2  # steady passes of each kind (untraced, traced) a run needs
STEAL_MAX = 0.0015  # steal share above which a run is marked invalid

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "op_p50_gmean_ms": "ms",
    "op_slowest_p50_ms": "ms",
}
# Every per-layer time is one that both workloads spend; a layer only one
# workload uses reports shares, rates and counts (0 where it does not apply).
PER_LAYER = {
    "session.start_s": "s",
    "plans.build_frac": "ratio",
    "plans.eager_jobs": "count",
    "plans.build_cpu_util": "ratio",
    "spark.job_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.scan_mb": "MB",
    "spark.files_read": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.broadcast_mb": "MB",
    "spark.cpu_util": "ratio",
    "functions.pyworker_cpu_s": "s",
    "operators.sort_mb_per_s": "MB/s",
    "sources.merges_per_s": "1/s",
    "sources.appends_per_s": "1/s",
    "sources.deletes_per_s": "1/s",
    "sources.optimizes_per_s": "1/s",
    "sources.lookups_per_s": "1/s",
    "sources.jobs_per_commit": "count",
    "sources.lookup_files_read": "count",
    "sources.live_files": "count",
    "sources.bytes_written_per_user_byte": "ratio",
    "sources.space_amp": "ratio",
    "streaming.ingest_docs_per_s": "1/s",
    "streaming.batches_per_s": "1/s",
    "trace.overhead_frac": "ratio",
}
WRITE_VERBS = ("merge", "append", "delete", "optimize")


def _isolate(run_dir: str) -> dict[str, str]:
    """Point every temp/scratch location of this process, the JVMs and the
    Python workers into run_dir (set before the JVM starts and before the
    program is imported: its stats-cache root is read at import)."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "warehouse", "work")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ.update(
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["local"],
        SPARK_GRAFT_WAREHOUSE=dirs["warehouse"],
        SPARK_GRAFT_STATS_CACHE=os.path.join(dirs["tmp"], "corpus_stats"),
        # no /tmp/hsperfdata_<user> files from the launcher or driver JVM
        JAVA_TOOL_OPTIONS="-XX:+PerfDisableSharedMem",
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_GRAFT_DRIVER_MEM="2g",
        PYSPARK_PYTHON=sys.executable,
        # collect() turns timestamps into naive datetimes in the local zone;
        # the oracles' are UTC
        TZ="UTC",
    )
    time.tzset()
    tempfile.tempdir = None
    return dirs


def _start_session(dirs: dict[str, str], trace: bool):
    from hadoop_prototype_spark.session import get_spark

    java_opts = f"-Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={dirs['tmp']}"
    conf = {
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:  # keep every job/stage/execution of the run in the status store
        conf.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    return get_spark(app_name="perfbench", extra_conf=conf)


def _stop_session(spark, worker_pids: list[int]) -> None:
    """Stop Spark, then the JVM, then wait for the Python workers."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.monotonic() + 15
        for pid in worker_pids:
            while _alive(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass


def _alive(pid: int) -> bool:
    """True while the process exists and has not exited (a zombie waiting
    to be reaped by its new parent counts as ended)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2:][:1] != b"Z"


class Loop:
    """The closed-loop client: runs passes and keeps every measurement."""

    def __init__(self, workload, tracer):
        self.wl = workload
        self.tr = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        # (pass, traced, op name, kind, seconds) of every op whose call
        # returned, checked correct or not
        self.samples: list[tuple[int, bool, str, str, float]] = []
        self.pass_s: dict[int, tuple[bool, float]] = {}  # timed ops only
        self.wall_s: dict[int, float] = {}  # prepare and check steps too
        # (steal, iowait) share of the machine's CPU time during each pass
        self.host: dict[int, tuple[float, float]] = {}

    def run_pass(self, pass_idx: int, traced: bool) -> None:
        self.tr.enabled = traced
        total = 0.0
        j0 = tracing.host_jiffies()
        w0 = time.perf_counter()
        for op in self.wl.pass_ops(pass_idx):
            self.tr.set_op(pass_idx, op.name)
            self.attempted += 1
            dt = None
            try:
                op.prepare()
                t0 = time.perf_counter()
                result = op.run()
                dt = time.perf_counter() - t0
                problems = op.check(result)
            except Exception as e:  # an op that raises counts as failed
                problems = [f"{type(e).__name__}: {e}"]
            if dt is not None:
                self.samples.append((pass_idx, traced, op.name, op.kind, dt))
                total += dt
            if problems:
                self.failed += 1
                self.errors.append(f"pass {pass_idx} {op.name}: {problems[0]}")
                print(f"FAILED {op.name} (pass {pass_idx}): {problems}", file=sys.stderr)
        self.tr.enabled = False
        self.tr.set_op(None, None)
        self.pass_s[pass_idx] = (traced, total)
        self.wall_s[pass_idx] = time.perf_counter() - w0
        self.host[pass_idx] = tracing.host_fracs(j0, tracing.host_jiffies())

    @staticmethod
    def steady(pass_idx: int) -> bool:
        return pass_idx > WARMUP_PASSES

    def final(self) -> None:
        for name, problems in self.wl.final_checks():
            self.attempted += 1
            if problems:
                self.failed += 1
                self.errors.append(f"{name}: {problems[0]}")
                print(f"FAILED {name}: {problems}", file=sys.stderr)

    def steady_samples(self, traced: bool) -> list[tuple[str, float]]:
        return [(n, s) for p, t, n, _, s in self.samples if self.steady(p) and t == traced]

    def steady_passes(self, traced: bool) -> list[float]:
        return [s for p, (t, s) in self.pass_s.items() if self.steady(p) and t == traced]

    def enough(self, trace: bool) -> bool:
        """Whether there are MIN_STEADY steady passes of each kind the run
        times."""
        n = len(self.steady_passes(False))
        return min(n, len(self.steady_passes(True))) >= MIN_STEADY if trace else n >= MIN_STEADY

    def host_report(self, steady_host: tuple[float, float]) -> None:
        print("# host steal/iowait % per pass: " + " ".join(
            f"{p}:{st * 100:.2f}/{io * 100:.2f}" for p, (st, io) in self.host.items()))
        steal, iowait = steady_host
        print(f"# host steal/iowait over the steady passes: {steal:.2%}/{iowait:.2%}")
        if steal > STEAL_MAX:
            print(f"# INVALID: the host took {steal:.2%} of the CPU time during the steady "
                  f"passes (> {STEAL_MAX:.2%}); compare this run's numbers with care")


def run_workload(name: str, seed: int, seconds: float, trace: bool, dirs) -> dict:
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    j0 = tracing.host_jiffies()
    spark = _start_session(dirs, trace)
    start_s = time.perf_counter() - t0
    from pyspark import SparkContext

    probe = tracing.ProcProbe(SparkContext._gateway.proc.pid)
    tracer = tracing.Tracer(spark, probe, enabled=False)
    wl = WORKLOADS[name](spark, tracer, seed, dirs["work"])
    try:
        builds = []
        for _ in range(SETUP_REPEATS):
            t1 = time.perf_counter()
            wl.setup()
            builds.append(time.perf_counter() - t1)
        setup_s = start_s + statistics.median(builds)
        steal, iowait = tracing.host_fracs(j0, tracing.host_jiffies())
        print(f"# setup: session start {start_s:.3f} s, input builds "
              + " ".join(f"{b:.3f}" for b in builds)
              + f" s; host steal/iowait {steal * 100:.2f}/{iowait * 100:.2f} %")

        loop = Loop(wl, tracer)
        for pass_idx in range(1 + WARMUP_PASSES):  # the cold pass, then warm-up
            loop.run_pass(pass_idx, traced=False)
        steady_t0 = time.perf_counter()
        steady_j0 = tracing.host_jiffies()
        pass_idx = 1 + WARMUP_PASSES
        # a pass starts if the run still lacks the minimum, or if at the
        # length of the previous pass it ends inside the window
        while not loop.enough(trace) or (
            time.perf_counter() - steady_t0 + loop.wall_s[pass_idx - 1] <= seconds
        ):
            loop.run_pass(pass_idx, traced=trace and pass_idx % 2 == 0)
            pass_idx += 1
        loop.host_report(tracing.host_fracs(steady_j0, tracing.host_jiffies()))
        loop.final()
        if trace:
            tracer.harvest()
            metrics = _layer_metrics(loop, tracer, wl, start_s)
            _write_trace(name, seed, tracer, metrics)
            units = PER_LAYER
        else:
            lat = loop.steady_samples(False)
            medians = checks.op_type_medians(lat)
            slowest = max(medians, key=medians.get)
            metrics = {
                "setup_s": setup_s,
                "cold_pass_s": loop.pass_s[0][1],
                "pass_s": statistics.median(loop.steady_passes(False)),
                "op_p50_gmean_ms": checks.geometric_mean(medians.values()) * 1e3,
                "op_slowest_p50_ms": medians[slowest] * 1e3,
            }
            print(f"# {len(lat)} steady ops in {len(loop.steady_passes(False))} passes "
                  f"({time.perf_counter() - steady_t0:.1f} s); median ms per op type: "
                  + " ".join(f"{k}={v * 1e3:.1f}" for k, v in medians.items()))
            pooled = [s for _, s in lat]
            if len(pooled) > checks.MIN_BEYOND:
                pct, tail = checks.tail_latency(pooled)
                print(f"# pooled over all steady ops: p50 {statistics.median(pooled) * 1e3:.1f} ms, "
                      f"p{pct:.1f} {tail * 1e3:.1f} ms")
            print("# pass seconds (timed ops): "
                  + " ".join(f"{s:.3f}" for _, s in loop.pass_s.values()))
            units = END_TO_END
    finally:
        wl.close()
        _stop_session(spark, probe.workers())
    failed_frac = loop.failed / loop.attempted
    print(f"# attempted {loop.attempted}, failed {loop.failed} (failed_frac {failed_frac:.4f})")
    for e in loop.errors[:20]:
        print(f"# error: {e}")
    for k, v in metrics.items():
        print(f"{name} {k} {v:.6g} {units[k]}")
    return {
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def _layer_metrics(loop: Loop, tracer, wl, start_s: float) -> dict[str, float]:
    spans = tracer.spans
    traced = sorted(p for p, (t, _) in loop.pass_s.items() if t and loop.steady(p))

    def per_pass(selected: list[dict], value) -> float:
        """Median over traced passes of the per-pass sum."""
        return statistics.median(
            sum(value(s) for s in selected if s["pass"] == p) for p in traced
        )

    def dur(s) -> float:
        return s["end"] - s["start"]

    def count(key):
        return lambda s: s["counts"].get(key, 0.0)

    m = {k: 0.0 for k in PER_LAYER}
    m["session.start_s"] = start_s
    pass_s = statistics.median(loop.steady_passes(True))
    plans = [s for s in spans if s["layer"] == "plans"]
    if plans:
        build_s = per_pass(plans, dur)
        m["plans.build_frac"] = build_s / pass_s
        m["plans.eager_jobs"] = per_pass(plans, count("jobs"))
        m["plans.build_cpu_util"] = per_pass(
            plans, lambda s: s["cpu"]["driver"] + s["cpu"]["jvm"]) / build_s
    for metric, key in (
        ("spark.job_s", "job_s"), ("spark.jobs", "jobs"), ("spark.stages", "stages"),
        ("spark.tasks", "tasks"), ("spark.scan_mb", "scan_mb"),
        ("spark.files_read", "files_read"), ("spark.shuffle_write_mb", "shuffle_write_mb"),
        ("spark.spill_mb", "spill_mb"), ("spark.broadcast_mb", "broadcast_mb"),
    ):
        m[metric] = per_pass(spans, count(key))
    top = [s for s in spans if s["parent"] is None]
    m["spark.cpu_util"] = per_pass(top, lambda s: sum(s["cpu"].values())) / (
        per_pass(top, dur) * CORES)
    m["functions.pyworker_cpu_s"] = per_pass(top, lambda s: s["cpu"]["workers"])

    in_traced = [s for s in spans if s["pass"] in traced and s["layer"] == "sources"]
    by_name = {v: [s for s in in_traced if s["name"] == v] for v in (*WRITE_VERBS, "lookup")}
    for verb, calls in by_name.items():
        if calls:
            m[f"sources.{verb}s_per_s"] = 1.0 / statistics.median(dur(s) for s in calls)
    writes = [s for v in WRITE_VERBS for s in by_name[v]]
    if writes:
        m["sources.jobs_per_commit"] = sum(s["counts"]["jobs"] for s in writes) / len(writes)
        user = sum(s["counts"].get("user_bytes", 0) for s in writes)
        m["sources.bytes_written_per_user_byte"] = (
            sum(s["counts"]["output_mb"] for s in writes) * (1 << 20) / user
        )
    if by_name["lookup"]:
        m["sources.lookup_files_read"] = statistics.median(
            s["counts"]["files_read"] for s in by_name["lookup"]
        )
    samples = [(n, k, s) for p, t, n, k, s in loop.samples if t and loop.steady(p)]
    m.update(wl.layer_values(samples))
    m["trace.overhead_frac"] = pass_s / statistics.median(loop.steady_passes(False)) - 1.0
    return m


def _write_trace(name: str, seed: int, tracer, metrics: dict) -> None:
    out = os.path.join(ROOT, ".perfbench_traces")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{name}-seed{seed}.json"), "w") as f:
        json.dump({"workload": name, "seed": seed, "metrics": metrics,
                   "spans": tracer.spans}, f)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["jobs", "table_writes"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "hadoop_prototype_spark", "__init__.py")):
        print(f"hadoop_prototype_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    run_dir = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}-{time.time_ns()}")
    try:
        dirs = _isolate(run_dir)
        result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), dirs)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
