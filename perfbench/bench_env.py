"""Process environment, Spark session lifetime and host context for the
benchmark.

Everything the benchmark writes goes under ``<checkout>/.perfbench_work``:
Spark's local dirs, the JVM and Python temp dirs, the event logs, the
materialised inputs and every pass's output.
"""

from __future__ import annotations

import os
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = 4
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "2g"
CODEGEN_CACHE_ENTRIES = 1000


def pin_process_env() -> None:
    """Must run before pyspark or the package is imported: the package
    reads ``SPARK_GRAFT_*`` at import time and the JVM and Python workers
    inherit this environment when the gateway starts."""
    for sub in ("spark-local", "tmp", "eventlog"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # mapInPandas workers import the package; they start in Spark's cwd,
    # not in the checkout, so the checkout must be on their path
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prev if prev else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_SHUFFLE"] = str(SHUFFLE_PARTITIONS)
    # the package's 16g default exceeds the RAM of small hosts
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    import tempfile

    tempfile.tempdir = tmp


def start_session(cores: int = CORES, event_log: bool = False):
    """Start (or restart, after ``spark.stop()``) the benchmark's session
    through the package's own factory, with the benchmark's pins."""
    from timeseries_harmonizer_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        "spark.eventLog.enabled": "true" if event_log else "false",
        "spark.eventLog.dir": os.path.join(WORK, "eventlog"),
        # the default zstd codec needs a module this install lacks
        "spark.eventLog.compress": "false",
        # Spark's default of 100 cached generated classes is less than one
        # pass generates, so every pass evicted and recompiled about 30 of
        # them and the JIT never settled: pass times drifted for minutes
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
    }
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf=conf,
    )


def shutdown(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for the JVM to
    exit (the Python workers are its children and go with it)."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF from its parent
        proc.wait(timeout=60)


def probe_seconds(spark) -> float:
    """bench.py's idle probe: a tiny job on every core."""
    n = spark.sparkContext.defaultParallelism
    t0 = time.perf_counter()
    spark.range(1 << 22, numPartitions=n).selectExpr(
        "sum(cast(id as double) * id) as s"
    ).first()
    return time.perf_counter() - t0


def load_average() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot: the share of time the host
    gave this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants: the driver, the JVM it
    launched and the JVM's Python workers."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        parent[int(name)] = int(stat[stat.rfind(")") + 2 :].split()[1])
    tree, frontier = [], [root_pid]
    while frontier:
        pid = frontier.pop()
        tree.append(pid)
        frontier.extend(c for c, p in parent.items() if p == pid)
    return tree


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process tree,
    reaped children included."""
    ticks = 0
    for pid in _process_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_rss_mb() -> float:
    """Resident set of this process tree right now."""
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    total = 0
    for pid in _process_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page_kb
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total / 1024.0
