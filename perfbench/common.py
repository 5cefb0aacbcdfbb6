"""Shared benchmark plumbing: session pinning, clocks, peak RSS, the
Spark status-store reader and the in-memory span tracer.

Nothing here reaches into the package under test: spans wrap calls the
benchmark itself makes, and execution counters are read from Spark's own
status stores (AppStatusStore for jobs/stages, the SQL status store for
per-operator metrics) after each operation has returned.
"""

from __future__ import annotations

import json
import os
import statistics
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "etl_edi_data_scrapper_spark"

now = time.perf_counter


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def physical_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_session_env(work: str) -> dict[str, str]:
    """Pin the session through the settings ``session.get_spark`` already
    reads. Returns what was set so the result can record it.

    The driver-memory default is 24g, above the physical RAM of small
    hosts; the benchmark holds it to half of RAM, at most 2 GiB. The JVM
    and Python temp dirs point inside the work dir so a run writes only
    under the checkout.
    """
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_LOCAL_DIRS": local,
        "SPARK_DRIVER_MEMORY": f"{min(2048, physical_mb() // 2)}m",
        # keep the session's own GC choice; add only the temp dir
        "SPARK_DRIVER_JAVA_OPTS": f"-XX:+UseParallelGC -Djava.io.tmpdir={tmp}",
        "TMPDIR": tmp,
        # Python workers (pandas UDFs) import the package by name
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    }
    for k in ("SPARK_MASTER", "SPARK_SHUFFLE_PARTITIONS",
              "SPARK_INITIAL_SHUFFLE_PARTITIONS", "EDI_EXPR_EXEC_MAX_BYTES"):
        os.environ.pop(k, None)
    os.environ.update(pinned)
    return pinned


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this
    process and every live descendant: the Python driver, the JVM and the
    JVM's Python workers. Time the hypervisor steals is accounted as
    steal, not to these processes."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(name)
        parent[pid] = int(f[1])
        ticks[pid] = sum(int(x) for x in f[11:15])
    me = os.getpid()
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            total += t
    return total / _TICK


def host_cpu() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _jvm_pid() -> int | None:
    """The py4j gateway JVM: a java child of this process (spark-submit
    execs into it, so normally the gateway's own Popen pid)."""
    me = str(os.getpid())
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        ppid = stat.rsplit(")", 1)[1].split()[1]
        if ppid == me and comm == "java":
            return int(pid)
    return None


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this Python driver plus the JVM, in MB."""
    kb = _vm_hwm_kb("self")
    jvm = _jvm_pid()
    if jvm is not None:
        kb += _vm_hwm_kb(jvm)
    return kb / 1024.0


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


# --- Spark status stores ------------------------------------------------------


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _metric_number(text: str | None) -> float:
    """SQL metric strings: '1,234' for sums; 'total (min, med, max ...)\\n
    12.3 MiB (...)' for size/timing — only plain sums are read here."""
    if not text:
        return 0.0
    try:
        return float(text.replace(",", ""))
    except ValueError:
        return 0.0


_SCAN_PREFIXES = ("Scan ", "FileScan", "BatchScan", "LocalTableScan")


class ExecStats:
    """Deltas of Spark's status stores between two points in time.

    ``mark()`` remembers the newest job, stage and SQL execution ids;
    ``since_mark()`` sums what completed after it. Reads first drain the
    listener bus so the stores have seen every event of the operations
    that already returned.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._app = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        gw = sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self.mark()

    def _flush(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def job_count(self) -> int:
        self._flush()
        return int(self._app.jobsList(None).size())

    def mark(self) -> None:
        self._flush()
        self._job_mark = self._max_id(self._app.jobsList(None), "jobId")
        self._stage_mark = self._max_id(
            self._app.stageList(None, False, False, self._no_quantiles, None),
            "stageId",
        )
        self._exec_mark = self._max_id(self._sql.executionsList(), "executionId")

    @staticmethod
    def _max_id(seq, attr: str) -> int:
        ids = [int(getattr(x, attr)()) for x in _scala_iter(seq)]
        return max(ids) if ids else -1

    def since_mark(self) -> dict[str, float]:
        """Counters since the last mark, under their per-layer names."""
        self._flush()
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "task_s", "map_side_task_s",
             "reduce_side_task_s", "shuffle_write_bytes", "shuffle_read_bytes",
             "spill_bytes", "sort_fallback_tasks", "merge_rows_in",
             "merge_rows_out"),
            0.0,
        )
        out["jobs"] = float(sum(
            1 for j in _scala_iter(self._app.jobsList(None))
            if int(j.jobId()) > self._job_mark
        ))
        stages = self._app.stageList(None, False, False, self._no_quantiles, None)
        for s in _scala_iter(stages):
            if int(s.stageId()) <= self._stage_mark:
                continue
            if s.status().toString() == "SKIPPED":
                continue
            run_s = s.executorRunTime() / 1000.0
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["task_s"] += run_s
            read = s.shuffleReadBytes()
            out["shuffle_read_bytes"] += read
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            if read > 0:
                out["reduce_side_task_s"] += run_s
            else:
                out["map_side_task_s"] += run_s
        for e in _scala_iter(self._sql.executionsList()):
            eid = int(e.executionId())
            if eid <= self._exec_mark:
                continue
            self._add_sql_metrics(eid, out)
        self.mark()
        return {
            (f"merge.{k[6:]}" if k.startswith("merge_") else
             "merge.sort_fallback_tasks" if k == "sort_fallback_tasks" else
             f"exec.{k}"): v
            for k, v in out.items()
        }

    def _add_sql_metrics(self, eid: int, out: dict[str, float]) -> None:
        """Per-operator metrics of the FINAL (post-AQE) plan: the
        execution's metric list also carries every superseded AQE plan
        version, so names are resolved through the plan graph."""
        values = self._sql.executionMetrics(eid)

        def value(m) -> float:
            v = values.get(m.accumulatorId())
            return _metric_number(v.get() if v.isDefined() else None)

        top_agg_seen = False
        for node in _scala_iter(self._sql.planGraph(eid).allNodes()):
            name = node.name()
            metrics = {m.name(): m for m in _scala_iter(node.metrics())}
            fb = metrics.get("number of sort fallback tasks")
            if fb is not None:
                out["sort_fallback_tasks"] += value(fb)
            rows = metrics.get("number of output rows")
            if rows is None:
                continue
            if name.endswith("Aggregate") and not top_agg_seen:
                # nodes come root-first: the first aggregate is the merge's
                # final one, whose output rows are the merged keys
                top_agg_seen = True
                out["merge_rows_out"] += value(rows)
            elif name.startswith(_SCAN_PREFIXES):
                out["merge_rows_in"] += value(rows)


# --- tracing ------------------------------------------------------------------


class Tracer:
    """In-memory spans ``{name, start, end, parent, op_id}``; written out
    once, at the end. Times are seconds on the ``perf_counter`` clock,
    relative to the tracer's creation."""

    def __init__(self):
        self.t0 = now()
        self.spans: list[dict] = []

    def open(self, name: str, op_id, parent: int | None = None) -> int:
        self.spans.append({"name": name, "start": now() - self.t0, "end": None,
                           "parent": parent, "op_id": op_id})
        return len(self.spans) - 1

    def close(self, idx: int) -> float:
        s = self.spans[idx]
        s["end"] = now() - self.t0
        return s["end"] - s["start"]

    def add(self, name: str, start: float, end: float, op_id,
            parent: int | None = None) -> int:
        """A span whose bounds were taken elsewhere (absolute clock)."""
        self.spans.append({"name": name, "start": start - self.t0,
                           "end": end - self.t0, "parent": parent,
                           "op_id": op_id})
        return len(self.spans) - 1

    def write(self, path: str, summary: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"summary": summary, "spans": self.spans}, fh, indent=1)


# --- per-layer metric names ---------------------------------------------------

CURATE_STAGES = ("quality", "gopher", "c4", "xent", "bxent", "exact", "minhash",
                 "linedup", "spans")

# The per-layer metrics of the final JSON: the layers both workloads reach,
# so every value is a measurement on every workload. The workload-specific
# layers (config, pipeline, sources, consumer, curate, embed) are in the
# run record and the trace file. Totals are over one traced pass.
PER_LAYER = {
    "sinks.write_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.map_side_task_s": "s",
    "exec.reduce_side_task_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "merge.sort_fallback_tasks": "count",
    "merge.rows_in": "count",
    "merge.rows_out": "count",
    "trace.untraced_wall_s": "s",
    "trace.traced_wall_s": "s",
    "trace.overhead_s": "s",
    "trace.span_coverage": "fraction",
}
