"""Measurement plumbing shared by every workload.

Nothing here knows a workload. It owns the Spark session, the span
tracer, the peak-memory sampler, the driver-log capture, and the readers
of plan facts (executed-plan strings, the SQL status store, job groups
and stage metrics). The benchmark reads everything from outside the
package: spans are recorded around calls into ``beats_spark``, never
inside it.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: driver heap, committed up front (-Xms) so peak RSS does not depend on
#: when the collector decides to grow the heap; session.py would
#: otherwise default to 48g
DRIVER_MEM = "1g"
CORES = 4


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every span a
    no-op so untraced runs pay nothing; spans are written out once, by
    :meth:`dump`, when the run ends."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sp = Span(name, time.perf_counter(), 0.0,
                  self._stack[-1] if self._stack else None, dict(attrs))
        self.spans.append(sp)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()

    def dump(self, path: str) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        rows = [
            {"id": i, "name": s.name, "parent": s.parent,
             "start_s": round(s.start - t0, 6), "end_s": round(s.end - t0, 6),
             **({"attrs": s.attrs} if s.attrs else {})}
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


# ---------------------------------------------------------------------------
# memory of the JVM and its Python workers
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _rss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _is_python(pid: int) -> bool:
    with open(f"/proc/{pid}/comm") as f:
        return f.read().startswith("python")


def tree_memory_bytes(root: int) -> int:
    """Resident memory of ``root`` (the JVM) plus the proportional set
    size of every Python process under it (the pyspark daemon and its
    workers).

    PSS splits the pages a fork left shared between the processes that
    share them, so forked workers are not counted twice; the JVM shares
    nothing, so its cheap RSS counter is exact. Other children are left
    out: the JVM spawns short-lived helpers whose address space is,
    until they exec, the JVM's own, and counting them would double the
    JVM whenever a sample lands in that window."""
    kids = _children_map()
    total, todo = 0, list(kids.get(root, []))
    try:
        total += _rss_bytes(root)
    except OSError:
        pass
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            if _is_python(pid):
                total += _pss_bytes(pid)
        except OSError:  # exited since the listing
            pass
    return total


def tree_cpu_seconds(root: int) -> float:
    """CPU seconds, user and system, used by ``root`` and every process
    under it, children they have already reaped included. Time the
    hypervisor stole from the virtual CPUs is accounted as steal, not
    here, so this does not grow when the host is busy."""
    kids = _children_map()
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited since the listing
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class MemorySampler:
    """Samples the memory of the process tree under ``root`` every
    ``interval`` s on a daemon thread; :attr:`peak` is the largest total
    seen."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root = root
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_memory_bytes(self.root))
            self._stop.wait(self.interval)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_memory_bytes(self.root))


# ---------------------------------------------------------------------------
# driver log capture
# ---------------------------------------------------------------------------

_ERROR_LINE = re.compile(r'"level": "ERROR"|^\S+ \S+ ERROR ')


class LogCapture:
    """Points file descriptor 2 at a file before the JVM starts, so the
    driver log (log4j writes to stderr) can be counted. :meth:`close`
    restores stderr and replays the captured text onto it."""

    def __init__(self, path: str):
        self.path = path
        self._saved = os.dup(2)
        self._fd = os.open(path, os.O_CREAT | os.O_WRONLY | os.O_TRUNC, 0o644)
        os.dup2(self._fd, 2)

    def offset(self) -> int:
        return os.path.getsize(self.path)

    def error_lines(self, start: int, end: int | None = None) -> int:
        with open(self.path, "rb") as f:
            f.seek(start)
            chunk = f.read() if end is None else f.read(end - start)
        return sum(1 for line in chunk.decode("utf-8", "replace").splitlines()
                   if _ERROR_LINE.search(line))

    def close(self) -> None:
        os.dup2(self._saved, 2)
        os.close(self._fd)
        os.close(self._saved)
        with open(self.path, "rb") as f:
            data = f.read()
        if data:
            os.write(2, data)


# ---------------------------------------------------------------------------
# Spark session
# ---------------------------------------------------------------------------


def start_session(root: str, work: str, cores: int = CORES, app: str = "perfbench"):
    """``local[cores]`` session through the package's own factory, with
    the benchmark's pins: fixed heap, no console progress bar, Python
    workers that can import the package, plan strings long enough to
    count nodes in."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("PYSPARK_PYTHON", "python3")
    from beats_spark.session import JVM_PERF_FLAGS, get_spark

    java_opts = f"{JVM_PERF_FLAGS} -Xms{DRIVER_MEM} -Djava.io.tmpdir={work}/tmp"
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return get_spark(
        app, master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.debug.maxToStringFields": "100000",
            "spark.sql.maxMetadataStringLength": "4096",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.executor.extraJavaOptions": java_opts,
        },
    )


def restart_session(spark, root: str, work: str, **kw):
    """Stop the SparkContext and start a fresh one in the same JVM: a
    cold context (new executors, Python workers, status stores) on a
    JVM whose loaded classes and compiled code survive."""
    spark.stop()
    return start_session(root, work, **kw)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def drain_listeners(spark) -> None:
    """Wait until every listener event (SQL status store, job status,
    listener-logged errors) of the finished actions is processed."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30000)


# ---------------------------------------------------------------------------
# plan facts
# ---------------------------------------------------------------------------


def physical_plan(df) -> str:
    """The physical plan Spark runs for ``df`` (the initial adaptive plan
    when AQE wraps it; the final plan only differs by join strategy)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    return plan.toString()


_NODE = re.compile(r"^[\s:+\-|]*(?:\*\(\d+\)\s*)?(\w+)", re.M)


def count_nodes(plan: str, prefixes: tuple[str, ...]) -> int:
    return sum(1 for m in _NODE.finditer(plan) if m.group(1).startswith(prefixes))


def exchanges(plan: str) -> int:
    return count_nodes(plan, ("Exchange", "BroadcastExchange", "ReusedExchange"))


def regex_nodes(plan: str, patterns: list[str]) -> int:
    """Occurrences of each pattern's regex text in the plan: every copy
    is one regex evaluation Catalyst left in a row's path. File scan
    lines are skipped: their pushed-down filters repeat the Filter
    node's expressions but a regex cannot prune row groups."""
    lines = [ln for ln in plan.splitlines() if "FileScan" not in ln]
    return sum(ln.count(p) for ln in lines for p in patterns)


class JobGroup:
    """Tags the actions in a ``with`` block with one job group so the
    status tracker and the status store can attribute jobs, stages and
    SQL executions to it."""

    _n = 0

    def __init__(self, spark, label: str):
        JobGroup._n += 1
        self.spark = spark
        self.gid = f"perfbench-{JobGroup._n}-{label}"
        self.execs = range(0)

    def __enter__(self) -> "JobGroup":
        drain_listeners(self.spark)
        self._first = _max_execution_id(self.spark) + 1
        self.spark.sparkContext.setJobGroup(self.gid, self.gid)
        return self

    def __exit__(self, *exc) -> None:
        self.spark.sparkContext.setJobGroup("perfbench-idle", "idle")
        drain_listeners(self.spark)
        self.execs = range(self._first, _max_execution_id(self.spark) + 1)

    def job_ids(self) -> list[int]:
        return list(self.spark.sparkContext.statusTracker().getJobIdsForGroup(self.gid))

    def shuffle_bytes(self) -> int:
        """Shuffle bytes written by this group's stages."""
        from py4j.protocol import Py4JJavaError

        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        stage_ids: set[int] = set()
        for jid in self.job_ids():
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        store = sc._jsc.sc().statusStore()
        total = 0
        for sid in sorted(stage_ids):
            try:
                total += int(store.lastStageAttempt(sid).shuffleWriteBytes())
            except Py4JJavaError:  # skipped stage: never attempted
                continue
        return total

    def executed_scans(self, path: str) -> tuple[int, int]:
        """(file scans of ``path`` that produced rows, bytes of the files
        they read) over this group's SQL executions. A scan inside a
        cached plan shows up in every execution that reads the cache but
        only produces rows in the one that filled it, so only executed
        scans count."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        scans = size = 0
        for eid in self.execs:
            values = {}
            it = sql.executionMetrics(eid).iterator()
            while it.hasNext():
                kv = it.next()
                values[kv._1()] = kv._2()
            nodes = sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                if not node.name().startswith("Scan parquet") or path not in node.desc():
                    continue
                metrics = node.metrics()
                got = {}
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    got[metric.name()] = values.get(metric.accumulatorId(), "0")
                if _metric_number(got.get("number of output rows", "0")) > 0:
                    scans += 1
                    size += _metric_number(got.get("size of files read", "0"))
        return scans, size


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _metric_number(text: str) -> int:
    """A SQL metric's display text (``1,234`` or ``8.4 MiB``, possibly
    after a ``total (min, med, max ...)`` line) as a number."""
    value, _, unit = text.strip().splitlines()[-1].split(" (")[0].partition(" ")
    return int(float(value.replace(",", "")) * _UNITS.get(unit, 1))


def _max_execution_id(spark) -> int:
    sql = spark._jsparkSession.sharedState().statusStore()
    execs = sql.executionsList()
    return max((execs.apply(k).executionId() for k in range(execs.size())), default=-1)


def noop(df) -> None:
    """Materialize every column of ``df`` without keeping the rows."""
    df.write.format("noop").mode("overwrite").save()


def dir_files(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(data files, bytes) under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return files, size
