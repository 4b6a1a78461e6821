"""Shared pieces of the benchmark: engine settings, Spark set-up and
tear-down, the process-tree monitor, spans, and small statistics.

Everything here runs inside the one benchmark process. Nothing in the
engine is patched except, in traced runs, ``ramen_spark.queries.
load_table`` (wrapped to record a span around each catalog load).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import threading
import time

PROCESS_START = time.time()

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

# Engine pinned to the box it runs on. session.py defaults to
# local[32] and a 24g heap; the benchmark uses one thread per core and
# a heap that fits a 15 GB machine without swap.
CPUS = len(os.sched_getaffinity(0))
DRIVER_MEM = "2g"


def log(*args) -> None:
    print(f"[perfbench {time.time() - PROCESS_START:6.1f}s]", *args, file=sys.stderr, flush=True)


def engine_available() -> bool:
    return os.path.isfile(os.path.join(ROOT, "ramen_spark", "__init__.py"))


def prepare_environment() -> None:
    """Settings that must be in place before pyspark or ramen_spark is
    imported: core count, heap, a PYTHONPATH that lets Python workers
    import ramen_spark (the stateful fold's applyInPandasWithState
    fails with ModuleNotFoundError without it), and scratch locations
    inside the checkout."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("local", "tmp", "data"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(CPUS)
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH", "")) if p
    )
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    env["TMPDIR"] = os.path.join(WORK, "tmp")
    # every JVM (the launcher's too): temp files inside the checkout,
    # and no hsperfdata file under /tmp
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={env['TMPDIR']}"
    env["PYTHONWARNINGS"] = "ignore"
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def session_conf() -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # the status store must keep every job and stage of a run so
        # spans can be resolved at the end
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


class Run:
    """What one run measured, and how many operations it attempted and
    how many failed (raised, or returned a wrong result)."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}

    def fail(self, what: str) -> None:
        self.failed += 1
        if self.failed <= 20:
            log("FAILED:", what)


def start_spark():
    from ramen_spark.session import get_spark

    return get_spark("perfbench", cpus=CPUS, extra_conf=session_conf())


def stop_spark(spark) -> None:
    """Stop the streaming queries, the session and its JVM, and wait
    for the JVM to exit."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        q.stop()
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


# --------------------------------------------------------------------------
# process tree: CPU, RSS, bytes written
# --------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(pid: int):
    """→ (parent pid, CPU ticks incl. reaped children, resident pages,
    start time), or None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    rest = raw[raw.rindex(")") + 2:].split()
    # fields after the command: state ppid ... utime(12) stime(13)
    # cutime(14) cstime(15) ... starttime(20) rss(22)
    return int(rest[1]), sum(int(x) for x in rest[11:15]), int(rest[21]), rest[19]


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _read_written(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/io") as fh:
            for line in fh:
                if line.startswith("write_bytes:"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


class TreeMonitor:
    """Samples the benchmark's process tree (this process, the JVMs it
    launches, their Python workers, the generator) every 0.2 s.

    CPU: user+system of live members including their reaped children,
    so work of exited workers is kept. Bytes written: /proc/*/io
    write_bytes, with the last value of an exited process kept. RSS:
    the peak of the tree's summed resident set."""

    def __init__(self, period: float = 0.2) -> None:
        self.period = period
        self.me = os.getpid()
        self.written: dict[int, int] = {}
        self.seen: dict[int, str] = {}  # pid → start time
        self.peak_rss = 0
        self.peak_parts: dict[str, list[int]] = {}  # kind → [processes, bytes] at the peak
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _tree(self) -> dict[int, tuple[int, int, str]]:
        """→ pid → (CPU ticks, resident pages, start time) of the live
        tree. A JVM spawns short-lived helpers (Hadoop's readlink, chmod)
        through jspawnhelper; until the helper's exec, the child shows
        the JVM's own pages. Children of a JVM still running from the
        JDK, and processes gone before their executable could be read,
        add no pages."""
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _read_stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        members, frontier = {self.me}, [self.me]
        children: dict[int, list[int]] = {}
        for pid, (ppid, *_) in stats.items():
            children.setdefault(ppid, []).append(pid)
        while frontier:
            nxt = []
            for p in frontier:
                for c in children.get(p, ()):
                    if c not in members:
                        members.add(c)
                        nxt.append(c)
            frontier = nxt
        out = {}
        for p in members & stats.keys():
            ppid, ticks, pages, started = stats[p]
            exe, parent = _exe(p), _exe(ppid)
            if parent.endswith("/bin/java"):
                jdk = os.path.dirname(os.path.dirname(parent))
                # pages read again after the executable: a helper that
                # exec'd in between was read with the JVM's pages
                again = _read_stat(p)
                spawning = exe.startswith(jdk + "/") or _exe(p) != exe
                pages = 0 if spawning or again is None else again[2]
            out[p] = (ticks, pages if exe else 0, started)
        return out

    def sample(self) -> tuple[float, int]:
        """→ (CPU seconds of the tree, bytes written by the tree)."""
        tree = self._tree()
        with self._lock:
            rss, parts = 0, {}
            for pid, (_, pages, started) in tree.items():
                rss += pages * _PAGE
                kind = "benchmark" if pid == self.me else os.path.basename(_exe(pid)) or "?"
                part = parts.setdefault(kind, [0, 0])
                part[0] += 1
                part[1] += pages * _PAGE
                w = _read_written(pid)
                if w is not None:
                    self.written[pid] = w
                self.seen[pid] = started
            if rss > self.peak_rss:
                self.peak_rss, self.peak_parts = rss, parts
            cpu = sum(t for t, _, _ in tree.values()) / _TICK
            return cpu, sum(self.written.values())

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def close(self) -> None:
        self._stop.set()
        self._thread.join()

    def _alive(self) -> list[int]:
        """Processes of this run still running: the current tree, and
        any earlier member that has left it (an orphaned worker)."""
        alive = set(self._tree())
        for pid, started in self.seen.items():
            st = _read_stat(pid)
            if st is not None and st[3] == started:
                alive.add(pid)
        return sorted(alive - {self.me})

    def kill_descendants(self) -> None:
        for p in self._alive():
            try:
                os.kill(p, 9)
            except OSError:
                pass

    def wait_descendants_gone(self, timeout: float = 20.0) -> None:
        """Wait until every process the run started has exited; kill
        what is still there after ``timeout``."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            if not self._alive():
                return
            time.sleep(0.2)
        self.kill_descendants()


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


class Tracer:
    """Spans recorded around calls into the engine, kept in memory and
    written out at the end of the run.

    When enabled (traced runs), each span gets its own Spark job group, so the jobs and stages it
    triggered — schema-inference, collect and localCheckpoint jobs as
    well as the final execution — are resolved from the status store
    once the run is over. A span's exec.* figures are its own jobs
    only; a parent's inclusive figures add its children's."""

    def __init__(self, enabled: bool) -> None:
        self.spark = None  # the current session; set by the caller
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def self_ms(self, span: dict) -> float:
        return span["ms"] - sum(c["ms"] for c in self.children(span))

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.t, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> dict:
        t = self.t
        parent = t._stack[-1] if t._stack else None
        self.rec = {
            "id": len(t.spans),
            "name": self.name,
            "parent": parent["id"] if parent else None,
            "group": None,
            **self.attrs,
        }
        t.spans.append(self.rec)
        t._stack.append(self.rec)
        if t.enabled:
            self.rec["group"] = f"perfbench-{self.rec['id']}"
            t.spark.sparkContext.setJobGroup(self.rec["group"], self.name)
        self.rec["start"] = time.time()
        self.t0 = time.perf_counter()
        return self.rec

    def __exit__(self, *exc) -> None:
        self.rec["ms"] = (time.perf_counter() - self.t0) * 1000.0
        t = self.t
        t._stack.pop()
        if t.enabled:
            parent = t._stack[-1] if t._stack else None
            sc = t.spark.sparkContext
            if parent is not None:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)


# --------------------------------------------------------------------------
# status store
# --------------------------------------------------------------------------

def drain_listener_bus(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30000)


def _stage_record(store, sid: int) -> dict | None:
    try:
        sd = store.lastStageAttempt(sid)
    except Exception:
        return None
    sub, done = sd.submissionTime(), sd.completionTime()
    wall = (
        done.get().getTime() - sub.get().getTime()
        if sub.isDefined() and done.isDefined() else 0
    )
    return {
        "id": sid,
        "tasks": sd.numCompleteTasks(),
        "cpu_ms": sd.executorCpuTime() / 1e6,
        "gc_ms": sd.jvmGcTime(),
        "shuffle_write": sd.shuffleWriteBytes(),
        "shuffle_read": sd.shuffleReadBytes(),
        "spill": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
        "input_rows": sd.inputRecords(),
        "wall_ms": wall,
    }


def group_exec(spark, groups: list[str]) -> dict[str, dict]:
    """job group → {jobs, stages: [stage records]} from the status
    store (call once, after the listener bus is drained)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {}
    for g in groups:
        jobs = sorted(tracker.getJobIdsForGroup(g))
        sids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                sids.update(info.stageIds)
        stages = [s for s in (_stage_record(store, i) for i in sorted(sids)) if s]
        out[g] = {"jobs": len(jobs), "stages": stages}
    return out


def exec_totals(entries: list[dict]) -> dict[str, float]:
    stages = [s for e in entries for s in e["stages"]]
    return {
        "exec.jobs": sum(e["jobs"] for e in entries),
        "exec.stages": len(stages),
        "exec.tasks": sum(s["tasks"] for s in stages),
        "exec.executor_cpu_ms": sum(s["cpu_ms"] for s in stages),
        "exec.gc_ms": sum(s["gc_ms"] for s in stages),
        "exec.shuffle_write_bytes": sum(s["shuffle_write"] for s in stages),
        "exec.shuffle_read_bytes": sum(s["shuffle_read"] for s in stages),
        "exec.spill_bytes": sum(s["spill"] for s in stages),
        "exec.input_rows": sum(s["input_rows"] for s in stages),
    }


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _parse_size(text: str) -> int:
    """Spark renders a summed size metric as 'total (min, med, max)'
    on its last line."""
    import re

    line = text.split("\n")[-1]
    m = re.search(r"([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)", line)
    return int(float(m.group(1)) * _UNITS[m.group(2)]) if m else 0


def sql_execution_mark(spark) -> int:
    return spark._jsparkSession.sharedState().statusStore().executionsCount()


def python_bytes_since(spark, mark: int) -> tuple[int, int]:
    """Bytes sent to and returned from Python workers, summed over the
    SQL executions recorded after ``mark`` (an executionsCount)."""
    store = spark._jsparkSession.sharedState().statusStore()
    count = store.executionsCount()
    sent = received = 0
    if count <= mark:
        return 0, 0
    execs = store.executionsList(mark, count - mark)
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for j in range(nodes.size()):
            metrics = nodes.apply(j).metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                name = m.name()
                if name not in ("data sent to Python workers",
                                "data returned from Python workers"):
                    continue
                v = values.get(m.accumulatorId())
                if v.isEmpty():
                    continue
                n = _parse_size(v.get())
                if name.startswith("data sent"):
                    sent += n
                else:
                    received += n
    return sent, received


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile, q in [0, 100]."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[max(0, math.ceil(q / 100.0 * len(xs)) - 1)]
