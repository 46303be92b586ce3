"""Process probes and the traced run's spans.

``host_jiffies`` reads how much of the machine's CPU time the hypervisor
gave to other tenants (steal) and how much sat in iowait. ``ProcProbe``
reads /proc for the three kinds of process a local Spark session runs: this
Python driver, the JVM it launched, and the Python worker processes under
the JVM, and gives their CPU time.

``Tracer`` records spans around the benchmark's own calls into each layer
(``session``, ``plans``, ``operators``, ``functions``, ``sources``,
``streaming``, ``spark``): name, layer, parent span, pass, start and end,
CPU time of the three process kinds, and a Spark job group per span so the
jobs a span started can be found afterwards. A disabled tracer records
nothing and sets no job group. Spans stay in memory; ``harvest`` reads
Spark's status stores once at the end and attaches each span's jobs,
stages, tasks, stage I/O and SQL plan metrics.
"""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_MB = 1 << 20


def _read_stat(pid: int) -> tuple[int, float, float] | None:
    """(ppid, own cpu s, reaped children's cpu s) of a live process."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(b")") + 2:].split()
    # fields[0] is state (stat field 3): ppid=4, utime=14 .. cstime=17
    return (
        int(fields[1]),
        (int(fields[11]) + int(fields[12])) / _TICK,
        (int(fields[13]) + int(fields[14])) / _TICK,
    )


def host_jiffies() -> tuple[int, int, int]:
    """(steal, iowait, total) CPU jiffies of the whole machine, summed over
    its CPUs, from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        # cpu user nice system idle iowait irq softirq steal guest guest_nice
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], v[4], sum(v[:8])


def host_fracs(j0: tuple[int, int, int], j1: tuple[int, int, int]) -> tuple[float, float]:
    """Shares of CPU time stolen by the hypervisor and spent in iowait
    between two host_jiffies() readings."""
    total = max(j1[2] - j0[2], 1)
    return (j1[0] - j0[0]) / total, (j1[1] - j0[1]) / total


class ProcProbe:
    """CPU time of the driver, the JVM and the JVM's descendants."""

    def __init__(self, jvm_pid: int):
        self.driver_pid = os.getpid()
        self.jvm_pid = jvm_pid

    def workers(self) -> list[int]:
        parents: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _read_stat(int(name))
                if st is not None:
                    parents[int(name)] = st[0]
        tree, frontier = set(), {self.jvm_pid}
        while frontier:
            frontier = {p for p, pp in parents.items() if pp in frontier} - tree
            tree |= frontier
        return sorted(tree)

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds: driver, jvm, workers (live workers plus
        what their parents have reaped)."""
        out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
        for key, pid in (("driver", self.driver_pid), ("jvm", self.jvm_pid)):
            st = _read_stat(pid)
            if st is not None:
                out[key] = st[1]
        for pid in self.workers():
            st = _read_stat(pid)
            if st is not None:
                out["workers"] += st[1] + st[2]
        return out


class Tracer:
    def __init__(self, spark, probe: ProcProbe, enabled: bool):
        self.spark = spark
        self.probe = probe
        self.enabled = enabled
        self.spans: list[dict] = []
        self.pass_idx: int | None = None
        self.op: str | None = None
        self._stack: list[dict] = []

    def set_op(self, pass_idx: int | None, op: str | None) -> None:
        self.pass_idx, self.op = pass_idx, op

    def _group(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group)

    @contextmanager
    def span(self, layer: str, name: str):
        """Time one call into ``layer``; yields the span record (or None
        when tracing is off) so a caller can attach counts to it."""
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans), "layer": layer, "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "pass": self.pass_idx, "op": self.op, "groups": [],
            "counts": {},
        }
        self.spans.append(rec)
        group = f"perfbench-span-{rec['id']}"
        rec["groups"].append(group)
        self._stack.append(rec)
        self._group(group)
        cpu0 = self.probe.cpu()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            cpu1 = self.probe.cpu()
            rec["cpu"] = {k: cpu1[k] - cpu0[k] for k in cpu1}
            self._stack.pop()
            if self._stack:
                self._group(self._stack[-1]["groups"][0])
            else:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    # --- end of run: read Spark's status stores --------------------------

    def harvest(self) -> None:
        """Attach jobs, stages, tasks, stage I/O and SQL metrics to every
        span. Call once, after the last span."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        job_span: dict[int, dict] = {}
        for rec in self.spans:
            jobs = sorted({j for g in rec["groups"] for j in tracker.getJobIdsForGroup(g)})
            stages = sorted({s for j in jobs for s in (tracker.getJobInfo(j).stageIds or [])})
            c = rec["counts"]
            c.update(jobs=len(jobs), stages=len(stages), tasks=0, output_mb=0.0,
                     shuffle_write_mb=0.0, spill_mb=0.0, job_s=0.0)
            for j in jobs:
                job_span[j] = rec
                jd = store.job(j)
                sub, done = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and done.isDefined():
                    c["job_s"] += (done.get().getTime() - sub.get().getTime()) / 1e3
            for s in stages:
                sd = store.lastStageAttempt(s)
                c["tasks"] += sd.numTasks()
                c["output_mb"] += sd.outputBytes() / _MB
                c["shuffle_write_mb"] += sd.shuffleWriteBytes() / _MB
                c["spill_mb"] += sd.diskBytesSpilled() / _MB
        for rec in self.spans:
            rec["counts"].update(files_read=0.0, scan_mb=0.0, broadcast_mb=0.0)
        sql = self.spark._jsparkSession.sharedState().statusStore()
        it = sql.executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            keys = ex.jobs().keySet().iterator()
            owner = None
            while keys.hasNext() and owner is None:
                owner = job_span.get(int(keys.next()))
            if owner is not None:
                _add_sql_metrics(sql, ex.executionId(), owner["counts"])


_SQL_WANTED = {
    ("Scan", "number of files read"): ("files_read", 1.0),
    ("Scan", "size of files read"): ("scan_mb", 1.0 / _MB),
    ("BroadcastExchange", "data size"): ("broadcast_mb", 1.0 / _MB),
}
_NUM = re.compile(r"([-\d.,]+)\s*([A-Za-z]*)")
_UNITS = {
    "": 1, "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-6, "us": 1e-3, "ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6,
}


def parse_metric(text: str) -> float:
    """Spark's formatted SQL metric -> number in base units (bytes, ms or a
    count). Multi-task metrics read 'total (min, med, max ...)\\n<total>
    (...)'; driver metrics are the bare value."""
    line = text.split("\n")[1] if "\n" in text else text
    m = _NUM.match(line.strip())
    if not m:
        raise ValueError(f"unparsed SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def _add_sql_metrics(sql, execution_id: int, counts: dict) -> None:
    values = sql.executionMetrics(execution_id)
    nodes = sql.planGraph(execution_id).allNodes().iterator()
    while nodes.hasNext():
        node = nodes.next()
        kind = node.name().split(" ")[0]
        wanted = {m: v for (k, m), v in _SQL_WANTED.items() if k == kind}
        if not wanted:
            continue
        metrics = node.metrics().iterator()
        while metrics.hasNext():
            pm = metrics.next()
            if pm.name() in wanted:
                key, scale = wanted[pm.name()]
                v = values.get(pm.accumulatorId())
                if v.isDefined():
                    counts[key] += parse_metric(v.get()) * scale
