"""Shared benchmark plumbing: session start, tracing, stats, memory.

Nothing here imports the package under test at module import time, so
``run.py`` can report a missing package as a plain failure.
"""

from __future__ import annotations

import os
import re
import statistics
import sys
import threading
import time
from contextlib import contextmanager

#: All scratch data, Spark temp files and trace dumps live here, inside
#: the checkout the benchmark runs from (and ignored by git).
WORK_DIR = os.path.abspath(".bench_work")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def prepare_environment() -> None:
    """Point every temp/scratch location of Python, the JVM and Spark at
    WORK_DIR and keep Spark's console progress off stdout.  Must run
    before pyspark launches the JVM."""
    tmp = os.path.join(WORK_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK_DIR, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # -XX:-UsePerfData, for the launcher JVM spark-submit starts first and
    # for the driver: HotSpot would otherwise keep a perf-data file under
    # /tmp, whatever java.io.tmpdir says
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK_DIR, 'warehouse')} "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "pyspark-shell")
    import tempfile
    tempfile.tempdir = tmp


def start_session():
    """The package's own tuned session on local[nproc]; returns
    (spark, seconds taken)."""
    from axonops_schema_registry_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=os.cpu_count())
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


# -- statistics ---------------------------------------------------------------

def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]) of a non-empty sequence."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(round(q / 100.0 * len(s) + 0.5)) - 1))
    return float(s[k])


def weighted_percentile(pairs, q: float) -> float:
    """Percentile over (value, weight) pairs, weights being sample counts."""
    pairs = sorted(pairs)
    total = sum(w for _, w in pairs)
    target = q / 100.0 * total
    acc = 0
    for v, w in pairs:
        acc += w
        if acc >= target:
            return float(v)
    return float(pairs[-1][0])


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def run_concurrently(calls) -> None:
    """Run warm-up calls on WARMUP_THREADS threads: the one-off costs they
    pay (JIT compilation, code generation, Python-worker start-up) then
    overlap instead of queueing behind each other."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(WARMUP_THREADS) as pool:
        for fut in [pool.submit(c) for c in calls]:
            fut.result()


#: never more threads than cores
WARMUP_THREADS = min(3, os.cpu_count() or 1)


# -- memory ---------------------------------------------------------------

_RSS = re.compile(r"^VmRSS:\s+(\d+)\s+kB", re.M)


def process_tree() -> list[int]:
    """This process and every live descendant (the driver JVM, the PySpark
    daemon and its Python workers), from /proc."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat.rsplit(")", 1)[1].split()
        if fields[0] != "Z":
            kids.setdefault(int(fields[1]), []).append(int(entry))
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(kids.get(pid, ()))
    return tree


class RssSampler:
    """Sampled concurrent peak of resident memory: every PERIOD_S a
    background thread sums VmRSS over the processes of the tree alive at
    that moment; ``peak_mb`` is the largest such sum."""

    PERIOD_S = 0.25

    def __init__(self) -> None:
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler",
                                        daemon=True)

    def sample(self) -> None:
        total = 0
        for pid in process_tree():
            try:
                with open(f"/proc/{pid}/status") as fh:
                    m = _RSS.search(fh.read())
            except OSError:
                continue
            if m:
                total += int(m.group(1))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.PERIOD_S):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()

    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# -- tracing ------------------------------------------------------------------

class Tracer:
    """In-memory spans around layer calls, made from the benchmark's own
    files.  A span is (op_id, span_id, parent_id, name, start, end); spans
    of one operation share op_id.  Disabled tracers hand out a no-op
    context so timed runs pay nothing but one attribute test.

    ``overhead_s`` accumulates the time spent on tracing bookkeeping
    itself (span records and Spark status reads) so the traced run can
    report what tracing added to it."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[tuple] = []
        self.counters: dict[str, float] = {}
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._op = 0

    def new_op(self) -> int:
        self._op += 1
        return self._op

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([self._op, sid, parent, name, 0.0, 0.0])
        self._stack.append(sid)
        t1 = time.perf_counter()
        try:
            yield
        finally:
            t2 = time.perf_counter()
            self._stack.pop()
            rec = self.spans[sid]
            rec[4], rec[5] = t1, t2
            self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    def start_measuring(self) -> None:
        """Forget the spans, per-op counters and overhead of set-up and
        warm-up; set-up counters (catalog.*, sql_surface.*) are kept."""
        self.spans.clear()
        self._stack.clear()
        self.overhead_s = 0.0
        for key in [k for k in self.counters if k.startswith("session.")]:
            del self.counters[key]

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters[name] = self.counters.get(name, 0.0) + value

    def durations_ms(self, name: str) -> list[float]:
        return [1000.0 * (s[5] - s[4]) for s in self.spans if s[3] == name]

    def self_time_s(self) -> dict[str, float]:
        """Per span name: duration minus the part covered by children."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s[2] >= 0:
                child[s[2]] += s[5] - s[4]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s[3]] = out.get(s[3], 0.0) + (s[5] - s[4]) - child[s[1]]
        return out

    def dump(self, path: str) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": [dict(zip(("op", "id", "parent", "name",
                                           "start", "end"), s))
                                 for s in self.spans],
                       "counters": self.counters,
                       "self_time_s": self.self_time_s()}, fh)


class JobCounter:
    """Spark jobs / stages / tasks run under a job group, read from the
    status tracker — the per-operation cost of the engine's scheduling.
    Only used in traced runs (each read is a few py4j round trips)."""

    def __init__(self, spark, tracer: Tracer) -> None:
        self.sc = spark.sparkContext
        self.tracer = tracer
        self._n = 0

    @contextmanager
    def group(self):
        if not self.tracer.enabled:
            yield None
            return
        self._n += 1
        gid = f"perfbench-{self._n}"
        self.sc.setJobGroup(gid, gid)
        stats = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        try:
            yield stats
        finally:
            t0 = time.perf_counter()
            st = self.sc.statusTracker()
            for jid in st.getJobIdsForGroup(gid):
                stats["jobs"] += 1
                info = st.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    si = st.getStageInfo(sid)
                    if si is None:
                        continue
                    stats["stages"] += 1
                    stats["tasks"] += si.numCompletedTasks
                    stats["failed_tasks"] += si.numFailedTasks
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.tracer.overhead_s += time.perf_counter() - t0
