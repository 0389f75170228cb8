"""Shared plumbing: the run context (checkout root, temp root, seed,
tracer), the Spark session the workloads use, peak-RSS sampling and the
read-back scan timer."""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

from .spans import Tracer


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # non-Linux
        return os.cpu_count() or 4


#: the driver heap the benchmark gives Spark: enough for every workload at
#: its benchmark size, small enough to share a 4-core box
DRIVER_MEMORY = "3g"
#: driver JVM flags: a fixed-size young generation, so the heap's resident
#: size follows the data the run retains rather than the collector's
#: resizing decisions; no hsperfdata file (it would land in /tmp)
JVM_OPTS = "-XX:NewSize=768m -XX:MaxNewSize=768m -XX:-UsePerfData"
#: set-up repetitions per run; setup_s is their median
SETUP_REPS = 5
#: runs of a workload's read-back aggregate: untimed warm-ups (JIT), then
#: timed ones; scan_s is the median of the timed runs
SCAN_WARMUPS = 3
SCAN_REPS = 9


@dataclass
class Ctx:
    root: str  # the checkout the program is built from
    work: str  # temp root for every file the run writes
    seed: int
    seconds: int
    tracer: Tracer
    event_log: str = ""
    spark: object = None
    setup_s: list[float] = field(default_factory=list)
    #: perf_counter bounds of the measured section
    window: list[float] = field(default_factory=lambda: [0.0, 0.0])
    #: operations the run attempted (micro-batches, pipeline calls, queries)
    attempted: int = 0

    def path(self, *parts: str) -> str:
        """A file path under the temp root; its directory is created."""
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def dir(self, *parts: str) -> str:
        """A directory under the temp root, created."""
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p


def session_conf(ctx: Ctx) -> dict[str, str]:
    """Benchmark-owned confs: memory, quiet console, and every path Spark
    writes to kept under the run's temp root."""
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": ctx.dir("spark-local"),
        "spark.sql.warehouse.dir": ctx.dir("warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.dir('jvm-tmp')}"
        f" -Dderby.system.home={ctx.dir('derby')} {JVM_OPTS}",
    }
    if ctx.tracer.enabled:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = ctx.event_log
        conf["spark.eventLog.compress"] = "false"
    return conf


def start_session(ctx: Ctx, prep) -> None:
    """Set-up, SETUP_REPS times: (re)build the session through the engine's
    `session.build_session`, then run the workload's `prep(spark)`. The
    first rep also launches the JVM; later reps restart the SparkContext
    inside it. The last session stays up for the measured phase."""
    from emr_flink_example_spark.session import build_session

    n = nproc()
    for _ in range(SETUP_REPS):
        if ctx.spark is not None:
            ctx.spark.stop()
        t0 = time.perf_counter()
        spark = build_session(
            app_name="perfbench",
            master=f"local[{n}]",
            shuffle_partitions=n,
            streaming=True,
            extra_conf=session_conf(ctx),
        )
        spark.sparkContext.setLogLevel("ERROR")
        prep(spark)
        ctx.setup_s.append(time.perf_counter() - t0)
        ctx.spark = spark


def scan_median(tracer, name: str, fn) -> tuple[float, list]:
    """SCAN_WARMUPS untimed runs of a fixed read-back aggregate `fn`, then
    SCAN_REPS timed runs. Returns (median seconds, rows of the last run)."""
    for _ in range(SCAN_WARMUPS):
        fn()
    times = []
    for _ in range(SCAN_REPS):
        t0 = time.perf_counter()
        with tracer.span("io", name):
            rows = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), rows


def storage_mb(spark) -> float:
    """Memory + disk held by persisted blocks right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / (1024.0 * 1024.0)


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(x) for x in f.read().split()]
    except OSError:
        pass
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of the RSS high-water marks of this process and every live
    descendant (the JVM and its Python workers)."""
    seen, todo, kb = set(), [os.getpid()], 0
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        kb += _hwm_kb(pid)
        todo += _children(pid)
    return kb / 1024.0


class Checks:
    """Output checks: every failure is recorded, counted into `failed`, and
    makes the run exit non-zero."""

    def __init__(self) -> None:
        self.failures: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.failures.append(what)
        return ok
