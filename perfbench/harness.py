"""Shared machinery of the benchmark: the Spark session and its set-up,
benchmark-side spans, timed operations and the Spark driver JVM's memory.

Everything here sits outside the package: operations are calls into its
public functions, timed from the caller's side.  Tracing (Spark event
log, one job group per operation, wrappers around public functions) is
switched on only for a traced run; end-to-end metrics come from
untraced runs.
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass, field

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

PROCESS_START = time.perf_counter()
PROCESS_START_EPOCH = time.time()
CORES = len(os.sched_getaffinity(0))


class Tracer:
    """Spans kept in memory: name, start, end and the enclosing span."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), **attrs}
        p0 = time.perf_counter()
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["dur"] = time.perf_counter() - p0
            rec["end"] = rec["start"] + rec["dur"]

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the part its child spans cover."""
        covered = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] += s["dur"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, covered):
            out[s["name"]] = out.get(s["name"], 0.0) + s["dur"] - c
        return out

    def wrap(self, module, attr: str, span_name: str) -> None:
        """Replace ``module.attr`` (and every loaded module's binding of
        the same object) with a spanned call, until :meth:`unwrap`."""
        original = getattr(module, attr)
        tracer = self

        def spanned(*args, **kwargs):
            with tracer.span(span_name):
                return original(*args, **kwargs)

        for mod in list(sys.modules.values()):
            if getattr(mod, attr, None) is original:
                setattr(mod, attr, spanned)
                self._undo.append((mod, attr, original))

    def unwrap(self) -> None:
        while self._undo:
            mod, attr, original = self._undo.pop()
            setattr(mod, attr, original)


@dataclass
class Op:
    """One timed operation: epoch marks (for the event log) and
    perf-counter durations (for the metrics)."""

    op_id: str
    name: str
    module: str
    t0: float = 0.0
    tb: float = 0.0
    t1: float = 0.0
    build_s: float = 0.0
    wall_s: float = 0.0
    cpu_s: float = 0.0
    ok: bool = True
    error: str = ""
    evicted: int = 0


@dataclass
class Context:
    workload: str
    seed: int
    trace: bool
    work: str
    spark: object = None
    tracer: Tracer = None
    ops: list[Op] = field(default_factory=list)
    setup: dict = field(default_factory=dict)
    #: operations started, never reset: op ids (= job groups) stay unique
    #: when an untimed pass's ops are dropped from ``ops``
    started: int = 0
    #: driver JVM uptime at the start and end of the timed passes
    timed_uptime: tuple[float, float] = (0.0, 0.0)

    def run_op(self, name: str, module: str, build, act) -> Op:
        """Time ``act(build())``: build is the constructor phase
        (query built, eager pins included), act runs it to completion."""
        from financial_data_ingestion_pipeline_spark.session import evict_persisted

        op = Op(f"{self.workload}:{self.started}:{name}", name, module)
        self.started += 1
        sc = self.spark.sparkContext
        if self.trace:
            sc.setJobGroup(op.op_id, name)
        # every operation starts from the live set alone: its GC work and
        # the heap it keeps do not depend on the garbage of the one before
        sc._jvm.System.gc()
        c0 = tree_cpu_s()
        with self.tracer.span("op", op=op.op_id):
            op.t0, p0 = time.time(), time.perf_counter()
            try:
                obj = build()
                op.tb, op.build_s = time.time(), time.perf_counter() - p0
                act(obj)
            except Exception as exc:  # a failed operation is counted, not fatal
                op.ok, op.error = False, f"{type(exc).__name__}: {exc}"[:500]
                op.tb = op.tb or time.time()
            op.t1, op.wall_s = time.time(), time.perf_counter() - p0
        op.cpu_s = tree_cpu_s() - c0
        if self.trace:
            sc.setJobGroup("between-ops", "between-ops")
        # the operation's lifecycle ends here, as in bench.py
        op.evicted = evict_persisted()
        self.ops.append(op)
        return op


def session_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.enabled": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": " ".join([
            # C1 only: C2 keeps compiling for more passes than a run can
            # afford, and its compiler threads made each timed pass use
            # 20-45% less CPU than the one before; with C1 the JIT settles
            # in the untimed gate
            "-XX:TieredStopAtLevel=1",
            # a fixed heap: GC work per pass does not shrink as the heap
            # grows; memory is read from the GC log instead of the RSS
            "-Xms2g",
            f"-Xlog:gc:file={os.path.join(work, 'gc.log')}",
            # no perf-data file and no temp files outside ``work``
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        ]),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(work: str, trace: bool):
    from financial_data_ingestion_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name="fdip-perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf=session_conf(work, trace),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark) -> None:
    """One small job: JIT and scheduler start-up.  Python workers start
    in the untimed gate, which runs every operation once."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()


def prepare_work(work: str) -> None:
    """Confine every file the run writes, Spark's and Python's, to ``work``."""
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.path.join(work, "tmp")


def set_up(ctx: Context, make_fixtures, reps: int) -> object:
    """Session + fixture generation + warm-up, ``reps`` times in this
    process; ``setup_s`` is their median.  The first repetition runs
    from process start and includes the JVM launch; later ones restart
    the SparkContext in the same JVM.  Returns the last fixtures."""
    totals, sessions, gens = [], [], []
    fixtures = None
    for rep in range(reps):
        t0 = PROCESS_START if rep == 0 else time.perf_counter()
        if ctx.spark is not None:
            ctx.spark.stop()
        with ctx.tracer.span("setup.get_spark") as span:
            ctx.spark = start_session(ctx.work, ctx.trace)
        sessions.append(span["dur"])
        with ctx.tracer.span("setup.fixture_gen") as span:
            fixtures = make_fixtures()
        gens.append(span["dur"])
        warm_up(ctx.spark)
        totals.append(time.perf_counter() - t0)
    ctx.setup = {
        "setup_s": statistics.median(totals),
        "setup_reps_s": totals,
        "get_spark_s": statistics.median(sessions),
        "fixture_gen_s": statistics.median(gens),
    }
    return fixtures


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process under it: the Spark driver JVM and its Python workers.  Work
    of exited descendants is in their parents' ``cutime``/``cstime``."""
    parent, own = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended meanwhile
            continue
        parent[int(pid)] = int(fields[1])
        own[int(pid)] = sum(int(f) for f in fields[11:15])
    me = os.getpid()
    t = os.times()
    total = t.user + t.system + t.children_user + t.children_system
    for pid, ticks in own.items():
        p = parent.get(pid)
        while p is not None and p != me:
            p = parent.get(p)
        if p == me:
            total += ticks / _TICK
    return total


_GC_PAUSE = re.compile(r"^\[([\d.]+)s\].*Pause .*?\d+[KMG]->(\d+)([KMG])\(")


def jvm_uptime_s(spark) -> float:
    """The driver JVM's uptime, the clock its GC log is stamped with."""
    return spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getRuntimeMXBean().getUptime() / 1e3


def peak_heap_after_gc_mb(work: str, start: float, end: float) -> float:
    """Largest heap occupancy the driver JVM's GC log shows right after a
    collection between JVM uptimes ``start`` and ``end``: what the
    program kept alive, not what the heap holds."""
    scale = {"K": 1 / 1024, "M": 1, "G": 1024}
    peak = 0.0
    with open(os.path.join(work, "gc.log")) as fh:
        for line in fh:
            m = _GC_PAUSE.search(line)
            if m and start <= float(m.group(1)) <= end:
                peak = max(peak, int(m.group(2)) * scale[m.group(3)])
    if not peak:
        raise RuntimeError("no collection in the GC log's window")
    return peak


def shutdown(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)
