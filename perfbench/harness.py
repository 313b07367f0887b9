"""Session lifecycle and the measurements the benchmark takes from
outside the program: set-up timing, shuffle bytes from Spark's live
status store, executed plans from the SQL status store, and the
resident memory of the whole process tree from /proc."""

from __future__ import annotations

import os
import sys
import tempfile
import threading
import time

CPUS = 4
DRIVER_MEM = "2g"


def isolate(work: str) -> None:
    """Point every temp/scratch location of this process, the JVM it
    launches and the Python workers at ``work``, so a run reads and
    writes inside the checkout only.  Must run before Spark starts."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # hsperfdata ignores java.io.tmpdir and would land in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["FUZZSPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tempfile.tempdir = None  # re-read TMPDIR


def import_engine() -> None:
    """Import what a user's program imports before its first session."""
    import pyspark.sql  # noqa: F401

    import fuzzspark.functions  # noqa: F401
    import fuzzspark.pipeline  # noqa: F401
    import fuzzspark.session  # noqa: F401


def start(app: str, work: str, eventlog_dir: str | None = None):
    """Start a session the way a user does (``get_spark``: JVM launch
    if none is up, session, package ship, native-kernel build/load) and
    run one scorer UDF call so the Python workers are up.  Returns
    (spark, {jvm_s, start_s, warm_s}); ``start_s`` excludes the JVM
    launch."""
    from pyspark.sql import functions as F

    from fuzzspark.session import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + eventlog_dir,
                     "spark.eventLog.compress": "false"})
    # time the JVM launch on its own when this set-up pays it
    from pyspark import context
    launch, jvm_s = context.launch_gateway, []

    def timed_launch(*args, **kwargs):
        t = time.perf_counter()
        gateway = launch(*args, **kwargs)
        jvm_s.append(time.perf_counter() - t)
        return gateway

    context.launch_gateway = timed_launch
    t0 = time.perf_counter()
    try:
        spark = get_spark(app, cpus=CPUS, extra_conf=conf)
    finally:
        context.launch_gateway = launch
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    from fuzzspark.functions import scorer_column
    # one scorer UDF task per core: the Python workers are up and have
    # loaded the native kernel
    warm = spark.range(0, CPUS * 32, 1, CPUS).selectExpr(
        "repeat('w', 64) as s1", "repeat('x', 64) as s2")
    warm.withColumn("r", scorer_column("ratio", "s1", "s2")) \
        .agg(F.sum("r")).collect()
    t2 = time.perf_counter()
    return spark, {"jvm_s": sum(jvm_s), "start_s": t1 - t0 - sum(jvm_s),
                   "warm_s": t2 - t1}


def stop(spark) -> None:
    spark.stop()
    # scorer UDFs are memoised per process; the next session must build
    # its own rather than reuse ones created under the stopped context
    from fuzzspark import functions
    cached = getattr(functions, "_cached_udf", None)
    if cached is not None:
        cached.cache_clear()


def shutdown_jvm() -> None:
    """Stop the JVM that PySpark launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=60)


def _drain(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def shuffle_write_bytes(spark) -> int:
    """Shuffle bytes written so far by this application (live status
    store; no event log needed)."""
    _drain(spark)
    execs = spark.sparkContext._jsc.sc().statusStore().executorList(False)
    return sum(int(execs.apply(i).totalShuffleWrite())
               for i in range(execs.size()))


class PlanLog:
    """Executed plans of the SQL executions that ran since the last
    call, read from the SQL status store."""

    def __init__(self):
        self.seen = -1

    def new_plans(self, spark) -> list[str]:
        _drain(spark)
        store = spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()  # ascending execution id
        plans = []
        for i in reversed(range(execs.size())):
            e = execs.apply(i)
            if e.executionId() <= self.seen:
                break
            plans.append(e.physicalPlanDescription())
        if execs.size():
            self.seen = max(self.seen, execs.apply(execs.size() - 1)
                            .executionId())
        return plans[::-1]


def _tree_rss(root_pid: int, page: int) -> dict[str, int]:
    """RSS bytes of the JVM and Python processes among ``root_pid`` and
    its descendants, summed per command name.  Other names are skipped:
    a child the JVM is about to exec (Hadoop's local file system shells
    out) shares the JVM's address space and would count it twice."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out: dict[str, int] = {}
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
        except OSError:
            continue
        if comm == "java" or comm.startswith("python"):
            out[comm] = out.get(comm, 0) + rss
    return out


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    JVM and the Python workers), sampled every ``period`` seconds."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak = 0
        self.peak_by_comm: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        page = os.sysconf("SC_PAGE_SIZE")
        pid = os.getpid()
        while not self._stop.is_set():
            by_comm = _tree_rss(pid, page)
            total = sum(by_comm.values())
            if total > self.peak:
                self.peak, self.peak_by_comm = total, by_comm
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
