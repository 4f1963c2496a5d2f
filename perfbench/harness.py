"""Session set-up, timed loops and metric helpers shared by the workloads."""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager

from perfbench import config
from perfbench.trace import Tracer


class Context:
    """What a workload sees: the session, the tracer, its work directory,
    the seed and the measuring time."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work: str, tracer: Tracer):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.tracer = tracer
        self.spark = None
        self.eventlog_dir = os.path.join(work, "eventlog")
        self.prefix = ""     # job-description prefix (the traced layer probe)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    @contextmanager
    def phase(self, name: str):
        """A span plus a Spark job description, so the event log can be
        split by the same names."""
        sc = self.spark.sparkContext
        sc.setJobDescription(f"bench:{self.workload}:{self.prefix}{name}")
        try:
            with self.tracer.span(self.prefix + name) as rec:
                yield rec
        finally:
            sc.setJobDescription(None)


def start_session(ctx: Context):
    """The engine's own session factory, pinned to local[nproc] and to
    directories inside the work area; tracing adds the event log."""
    from joern_spark.session import get_spark

    tmp = os.path.abspath(ctx.path("tmp"))
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: the JVM's perf-counter file would go to /tmp; a
    # crash report stays in the work area
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                       f"-XX:ErrorFile={tmp}/hs_err_%p.log")
    conf = {
        "spark.local.dir": os.path.abspath(ctx.path("spark-local")),
        "spark.sql.warehouse.dir": os.path.abspath(ctx.path("warehouse")),
    }
    if ctx.trace:
        os.makedirs(ctx.eventlog_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(ctx.eventlog_dir),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name=f"perfbench-{ctx.workload}",
                      master=f"local[{config.NPROC}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    return spark


def stop_session(ctx) -> int | None:
    """Stop the session and wait for the Spark JVM (and with it the
    Python workers) to exit, so nothing it prints can follow the result
    line.  Returns the JVM's exit code."""
    from pyspark import SparkContext

    if ctx.spark is None:
        return None
    ctx.spark.stop()
    ctx.spark = None
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return None
    if proc.stdin:
        proc.stdin.close()   # the gateway JVM exits when its stdin closes
    try:
        return proc.wait(timeout=60)
    except Exception:
        proc.kill()
        return proc.wait()


def _warm(batches):
    # the imports every per-document kernel pays on first use
    import joern_spark.cpg.build  # noqa: F401
    import joern_spark.query.scan  # noqa: F401
    for pdf in batches:
        yield pdf


def warm_workers(spark):
    """Start one Python worker per core and load the engine in each."""
    n = config.NPROC
    spark.range(n, numPartitions=n).mapInPandas(_warm, "id long").collect()


def timed_loop(seconds: float, step) -> list[float]:
    """Call `step(i)` until `seconds` have passed (at least once); the
    wall time of each call."""
    times = []
    end = time.perf_counter() + seconds
    i = 0
    while True:
        t = time.perf_counter()
        step(i)
        times.append(time.perf_counter() - t)
        i += 1
        if time.perf_counter() >= end:
            return times


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def percentile(xs, pct: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    if not s:
        return 0.0
    k = max(0, min(len(s) - 1, int(-(-pct * len(s) // 100)) - 1))
    return s[k]


def sample_rows(rows: list, seed: int, n: int) -> list:
    """A seeded sample of `rows`, in input order."""
    import random

    idx = sorted(random.Random(f"sample:{seed}").sample(range(len(rows)), min(n, len(rows))))
    return [rows[i] for i in idx]
