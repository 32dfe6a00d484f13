"""Run context shared by the workloads: the pinned SparkSession, timed
operations, /proc readings and the end-to-end statistics."""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

# Pinned for every workload, so two captures on hosts with different core
# counts or memory defaults still run the same engine configuration.
CORES = 4
DRIVER_MEMORY = "2g"

_CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Sample:
    metric: str  # commit | consume | read | query
    kind: str  # op type: merge, catchup, knn, or a catalog entry
    start: float
    end: float
    ok: bool
    py4j: int = 0  # py4j sends during the op (traced runs only)

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Run:
    """One benchmark run: seed, measured samples and the Spark session."""

    workload: str
    seed: int
    seconds: int
    root: str  # the repository checkout
    tracer: object | None = None
    samples: list[Sample] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    spark: object | None = None
    jvm_pid: int | None = None
    phase: tuple[float, float] | None = None  # measured phase window
    passes: list[float] = field(default_factory=list)  # wall time of each measured pass
    jvm_mem_mb: float = float("nan")  # JVM memory held at the end of the measured phase
    cpu: dict[str, float] = field(default_factory=dict)  # CPU seconds in the phase

    @property
    def work(self) -> str:
        return os.path.join(self.root, ".perfbench_work", f"{self.workload}-{os.getpid()}")

    # -- session ---------------------------------------------------------

    def start_session(self):
        """Start the pinned local SparkSession. Worker processes inherit the
        environment the JVM starts with, so PYTHONPATH must name the repo
        before the session exists (the table-stream DataSource workers
        import sif_spark)."""
        for sub in ("spark-local", "tmp", "warehouse"):
            os.makedirs(os.path.join(self.work, sub), exist_ok=True)
        paths = [self.root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
        os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
        os.environ.pop("SPARK_GRAFT_MASTER", None)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        # spark-submit's launcher JVM takes its options from here
        os.environ["SPARK_LAUNCHER_OPTS"] = (
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(self.work, 'tmp')}"
        )
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR

        from sif_spark import session

        conf = {
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData"
            ),
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.tracer is not None:  # per-op attribution needs every job and batch
            conf["spark.ui.retainedJobs"] = "100000"
            conf["spark.ui.retainedStages"] = "100000"
            conf["spark.sql.streaming.numRecentProgressUpdates"] = "10000"
        t0 = time.time()
        self.spark = session.get_session(f"perfbench-{self.workload}", extra_conf=conf)
        log(f"{self.workload}: session started in {time.time() - t0:.1f} s")
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return self.spark

    def _jvm_held_mb(self) -> float:
        """The JVM heap still live after a full collection, plus non-heap
        memory in use. Unlike RSS or occupancy between collections, this
        does not depend on when the collector last ran or how much heap it
        chose to commit, so it moves only when the program keeps more."""
        jvm = self.spark._jvm
        jvm.java.lang.System.gc()  # a full, compacting collection under G1
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
        return used / 2**20

    def mem_mb(self) -> float:
        """The Python driver's peak RSS (VmHWM) plus the JVM memory held at
        the end of the measured phase."""
        return vm_hwm_kb("self") / 1024.0 + self.jvm_mem_mb

    def stop(self) -> None:
        """Stop Spark, wait for the JVM to exit, delete the work dir."""
        spark, self.spark = self.spark, None
        if spark is not None:
            gw = spark.sparkContext._gateway
            proc = getattr(gw, "proc", None)
            for q in spark.streams.active:
                q.stop()
            spark.stop()
            gw.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.work))
        except OSError:
            pass
        log(f"{self.workload}: stopped")

    # -- measured phase --------------------------------------------------

    def _cpu(self) -> dict[str, float]:
        return {
            "driver.py_cpu_s": cpu_seconds("self"),
            "driver.jvm_cpu_s": cpu_seconds(self.jvm_pid),
            "udf.worker_cpu_s": worker_cpu_seconds(self.jvm_pid),
        }

    def begin_phase(self) -> None:
        log(f"{self.workload}: set up")
        self.cpu = self._cpu()
        self.phase = (time.time(), float("nan"))

    def end_phase(self) -> None:
        self.phase = (self.phase[0], time.time())
        after = self._cpu()
        self.cpu = {k: after[k] - self.cpu[k] for k in after}
        self.jvm_mem_mb = self._jvm_held_mb()
        log(f"{self.workload}: measured {self.phase[1] - self.phase[0]:.1f} s")

    # -- timed operations ------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        """A traced span around a call into ``layer`` (no-op untraced)."""
        if self.tracer is None:
            yield
            return
        self.tracer.begin(name, layer)
        try:
            yield
        finally:
            self.tracer.end()

    def op(self, metric: str, kind: str, fn, record: bool = True):
        """Run ``fn`` as one counted operation. Returns (ok, value); an op
        that raises counts as failed and its traceback goes to stderr."""
        tr = self.tracer
        calls0 = tr.py4j_calls if tr is not None else 0
        t0 = time.time()
        ok, value = True, None
        with self.span(f"op.{kind}", "bench"):
            try:
                value = fn()
            except Exception:
                ok = False
                traceback.print_exc(file=sys.stderr)
        t1 = time.time()
        if record:
            self.attempted += 1
            self.failed += 0 if ok else 1
            calls = (tr.py4j_calls - calls0) if tr is not None else 0
            self.samples.append(Sample(metric, kind, t0, t1, ok, calls))
        return ok, value

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.problems.append(what)
            print(f"check failed: {what}", file=sys.stderr)
        return ok

    def times(self, metric: str) -> list[float]:
        return [s.seconds for s in self.samples if s.metric == metric and s.ok]

    def by_kind(self, metric: str | None) -> dict[str, list[float]]:
        """Latencies per op kind, of every op when ``metric`` is None.
        ``freshness`` pairs each commit with the consume op that follows
        it: the time from issuing a change until the change-feed consumers
        have it, keyed by the commit's kind."""
        out: dict[str, list[float]] = {}
        if metric == "freshness":
            for a, b in zip(self.samples, self.samples[1:]):
                if a.metric == "commit" and b.metric == "consume" and a.ok and b.ok:
                    out.setdefault(a.kind, []).append(a.seconds + b.seconds)
            return out
        for s in self.samples:
            if metric in (None, s.metric) and s.ok:
                out.setdefault(s.kind, []).append(s.seconds)
        return out


# -- statistics --------------------------------------------------------------


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def kind_geomean(by_kind: dict[str, list[float]]) -> float:
    """Geometric mean over op kinds of each kind's median: every kind
    weighs the same however many samples it has, so the statistic does
    not jump between kinds the way a median over a mixed set does, and
    a kind's speed-up moves it by the same share whatever the kind's
    absolute latency."""
    meds = [statistics.median(v) for v in by_kind.values() if v]
    return math.exp(sum(math.log(m) for m in meds) / len(meds)) if meds else float("nan")


def log(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


# -- /proc -------------------------------------------------------------------


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _stat_fields(pid: int | str) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        data = fh.read()
    # comm may contain spaces: fields resume after the last ')'
    return data[data.rindex(")") + 2 :].split()


def cpu_seconds(pid: int | str, children: bool = False) -> float:
    """utime+stime (fields 14, 15), plus reaped children's cutime+cstime
    (16, 17) when ``children``."""
    f = _stat_fields(pid)
    ticks = int(f[11]) + int(f[12])
    if children:
        ticks += int(f[13]) + int(f[14])
    return ticks / _CLK_TCK


def worker_cpu_seconds(jvm_pid: int) -> float:
    """CPU of every Python worker the JVM started (the daemon and its
    forked UDF workers, the DataSource planner workers): live
    descendants' own and reaped time, plus the JVM's reaped children."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                parent[int(name)] = int(_stat_fields(name)[1])
            except (OSError, ValueError, IndexError):
                continue
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    total = 0.0
    stack = list(kids.get(jvm_pid, []))
    while stack:
        pid = stack.pop()
        try:
            total += cpu_seconds(pid, children=True)
        except (OSError, ValueError, IndexError):
            continue
        stack.extend(kids.get(pid, []))
    f = _stat_fields(jvm_pid)
    return total + (int(f[13]) + int(f[14])) / _CLK_TCK


def dir_files(paths: list[str]) -> dict[str, int]:
    """{file path: size} under every directory in ``paths``."""
    out: dict[str, int] = {}
    for top in paths:
        for d, _, files in os.walk(top):
            for f in files:
                p = os.path.join(d, f)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    pass
    return out


def new_bytes(before: dict[str, int], after: dict[str, int]) -> int:
    return sum(size for p, size in after.items() if p not in before)
