"""The traced run: per-layer metrics, measured from outside the package.

Self time of a layer of the tier pass is the difference between two
cumulative prefixes of the pass, each run into Spark's ``noop`` sink:
prefix(k) - prefix(k-1). Counts, busy time and waiting come from the Spark
event log of the traced session; every prefix and the full pass run under
their own job group, so the log's task and SQL metrics split by layer. The
checkpointed cron job's layers are spanned by wrapping the calls it makes
into ``sources.tables``, ``plans.checkpoint`` and ``operators.retention``.
Spans stay in memory and are written to the work directory at the end.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import Counter, defaultdict

import bench_env
import workloads

# even, so that as many repeats run the prefixes forward as backward
PREFIX_REPEATS = 4


class Tracer:
    """In-memory spans: name, start, end, parent span and pass id."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id = 0

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans), "name": name, "pass": self.pass_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# -- event log -----------------------------------------------------------

PYTHON_NODE_MARKERS = ("Python", "Pandas", "Arrow")


def _plan_counts(plan: dict) -> Counter:
    """Operator counts of one physical plan. A cached relation's plan is
    counted once however many scans read it."""
    counts: Counter = Counter()
    seen_cached: set[str] = set()

    def walk(node: dict) -> None:
        name = node["nodeName"]
        counts[name] += 1
        if name == "InMemoryTableScan":
            key = json.dumps(node["children"], sort_keys=True)
            if key in seen_cached:
                return
            seen_cached.add(key)
        for child in node["children"]:
            walk(child)

    walk(plan)
    return counts


def _events(paths: list[str]):
    for path in paths:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


class EventLog:
    """Task, stage, job and SQL metrics of one application, by job group."""

    def __init__(self, paths: list[str]):
        self.groups: dict[str, Counter] = defaultdict(Counter)
        self.task_ms: dict[tuple[str, int], list[int]] = defaultdict(list)
        self.plans: dict[int, dict] = {}
        self.exec_group: dict[int, str] = {}
        stage_group: dict[int, str] = {}
        for ev in _events(paths):
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id", "")
                self.groups[group]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = group
                if "spark.sql.execution.id" in props:
                    self.exec_group[int(props["spark.sql.execution.id"])] = group
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                self.groups[stage_group.get(sid, "")]["stages"] += 1
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                self.plans[ev["executionId"]] = ev["sparkPlanInfo"]
            elif kind == "SparkListenerTaskEnd":
                self._task(ev, stage_group.get(ev["Stage ID"], ""))

    def _task(self, ev: dict, group: str) -> None:
        c = self.groups[group]
        info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
        c["tasks"] += 1
        c["failed_tasks"] += int(bool(info.get("Failed")))
        run_ms = tm.get("Executor Run Time", 0)
        self.task_ms[(group, ev["Stage ID"])].append(run_ms)
        c["run_ms"] += run_ms
        c["gc_ms"] += tm.get("JVM GC Time", 0)
        c["bytes_read"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
        c["records_read"] += tm.get("Input Metrics", {}).get("Records Read", 0)
        c["shuffle_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        c["fetch_wait_ms"] += tm.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0)
        c["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        c["peak_exec_mem"] = max(c["peak_exec_mem"], tm.get("Peak Execution Memory", 0))
        for acc in info.get("Accumulables", []):
            if acc.get("Metadata") == "sql" and "Python" in acc.get("Name", ""):
                c["sql:" + acc["Name"]] += int(acc.get("Update", 0))

    def get(self, group: str, key: str) -> float:
        return self.groups.get(group, Counter())[key]

    def task_skew(self, group: str) -> float:
        """Largest max/mean task run time over the group's stages that ran
        more than one task."""
        ratios = [
            max(ms) / statistics.mean(ms)
            for (g, _), ms in self.task_ms.items()
            if g == group and len(ms) > 1 and statistics.mean(ms) > 0
        ]
        return max(ratios, default=1.0)

    def plan_counts(self, group: str) -> Counter:
        """Operator counts of the group's last SQL execution's final plan."""
        ids = [e for e in self.plans if self.exec_group.get(e) == group]
        return _plan_counts(self.plans[max(ids)]) if ids else Counter()


def _event_log_files(app_id: str) -> list[str]:
    hits = glob.glob(os.path.join(bench_env.WORK, "eventlog", f"*{app_id}*"))
    if not hits:
        raise FileNotFoundError(f"no event log for {app_id}")
    if not os.path.isdir(hits[0]):
        return hits[:1]
    # rolling layout: events_<n>_<app>, in n order
    files = glob.glob(os.path.join(hits[0], "events_*"))
    return sorted(files, key=lambda f: int(os.path.basename(f).split("_")[1]))


# -- tier pass layers --------------------------------------------------------

def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(spark, group: str, fn) -> float:
    spark.sparkContext.setJobGroup(group, group)
    t0 = time.perf_counter()
    fn()
    dt = time.perf_counter() - t0
    spark.sparkContext.setJobGroup("", "")
    return dt


def tier_prefixes(wl) -> list[tuple[str, object]]:
    """Cumulative prefixes of the tier pass, in layer order; each builds
    its plan from the package's functions and runs it into a noop sink.
    The last is the full pass itself."""
    from pyspark.sql import functions as F

    from timeseries_harmonizer_spark.functions.extract import extract_text
    from timeseries_harmonizer_spark.plans import pipeline

    tier = wl.tier

    def extracted():
        return (
            wl.pages.withColumn("text", extract_text(F.col("html")))
            .withColumn("value", F.length("text").cast("double"))
            .select("url", "warc_ts", "ingest_pos", "value", "lang")
        )

    def prepared():
        # run_tier's persisted projection of prepare's output
        return pipeline.prepare(wl.pages, wl.reg, tier).select(
            "url", "warc_ts", "value", "lang", "agg_func", "session_id"
        )

    return [
        ("scan", lambda: _noop(wl.pages.select("url", "warc_ts", "html", "ingest_pos", "lang"))),
        ("extract", lambda: _noop(extracted())),
        ("prepare", lambda: _noop(pipeline.prepare(wl.pages, wl.reg, tier))),
        ("persist", lambda: _noop(prepared().persist())),
        # the codec reads only these columns, so the full pass prunes the
        # rest; the rollup prefix keeps the same ones
        ("rollup", lambda: _noop(
            pipeline.rollup_points(prepared().persist(), tier).select("url", "start", "value"))),
        ("shape", lambda: _noop(wl.points().select("url", "start", "value"))),
        ("compress", lambda: _noop(wl.blobs(wl.points()))),
        ("sink", wl.run_pass),
    ]


def kernel_metrics(points_pdf) -> dict:
    """The codec kernels alone, on the pass's points, as compress_points
    groups them (url, UTC day)."""
    import numpy as np

    from timeseries_harmonizer_spark.functions import compression as C

    pdf = points_pdf.assign(
        ts=points_pdf["start"].astype("int64") // 10**9,
    )
    pdf["chunk"] = pdf["ts"] // 86400
    pdf = pdf.sort_values(["url", "chunk", "ts"], kind="mergesort")
    urls, chunks = pdf["url"].to_numpy(), pdf["chunk"].to_numpy()
    change = np.ones(len(pdf), dtype=bool)
    change[1:] = (urls[1:] != urls[:-1]) | (chunks[1:] != chunks[:-1])
    starts = np.flatnonzero(change)
    ends = np.append(starts[1:], len(pdf))
    ts, vals = pdf["ts"].to_numpy(), pdf["value"].to_numpy(dtype="float64")
    times, out = [], 0
    for _ in range(3):
        t0 = time.perf_counter()
        tb = C.encode_timestamps_grouped(ts, starts, ends)
        vb = C.encode_floats_grouped(vals, starts, ends)
        times.append(time.perf_counter() - t0)
        out = sum(map(len, tb)) + sum(map(len, vb))
    return {
        "compression.kernel.encode_s": statistics.median(times),
        "compression.kernel.bytes_in": float(len(pdf) * 16),
        "compression.kernel.bytes_out": float(out),
    }


def tier_layer_counts(wl) -> dict:
    """Row counts at the layer boundaries (extra jobs, outside every
    timed figure)."""
    from pyspark.sql import functions as F

    from timeseries_harmonizer_spark.functions.extract import extract_text
    from timeseries_harmonizer_spark.plans import pipeline

    pages, tier = wl.pages, wl.tier
    raw = pages.agg(
        F.count("*").alias("rows"),
        F.count_distinct("url", "warc_ts").alias("keys"),
        F.sum(extract_text(F.col("html")).isNull().cast("int")).alias("null_rows"),
    ).first()
    prepared = pipeline.prepare(pages, wl.reg, tier).persist()
    out_rows = prepared.agg(
        F.count("*").alias("rows"),
        F.count_distinct("url", "session_id").alias("sessions"),
    ).first()
    windows = pipeline.rollup_points(prepared, tier).agg(
        F.count("*").alias("n"),
        F.sum((~F.col("is_real")).cast("int")).alias("locf"),
    ).first()
    out = {
        "extract.null_rows": float(raw["null_rows"]),
        "prepare.dedup_dropped": float(raw["rows"] - raw["keys"]),
        "prepare.rows_out": float(out_rows["rows"]),
        "prepare.sessions": float(out_rows["sessions"]),
        "rollup.windows_out": float(windows["n"]),
        "rollup.locf_frac": float(windows["locf"] or 0) / max(windows["n"], 1),
    }
    prepared.unpersist()
    return out


def _cached_bytes(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return float(sum(i.memSize() + i.diskSize() for i in infos))


def traced_tier(run, tracer: Tracer, repeats: int) -> tuple[dict, list[float]]:
    """Prefix passes, interleaved ``repeats`` times; min per prefix. The
    first repeat doubles as the warm-up, so the event log's figures come
    from the last one (job group ``prefix:<layer>``). Also returns the
    times of the last prefix, ``sink``: the traced full pass."""
    wl, spark = run.wl, run.spark
    prefixes = tier_prefixes(wl)
    best: dict[str, float] = {}
    full: list[float] = []
    m: dict[str, float] = {}
    for rep in range(repeats):
        tracer.pass_id = rep
        # alternate the order so a drift in host speed biases no layer
        for name, fn in prefixes if rep % 2 == 0 else prefixes[::-1]:
            wl.reset()
            group = f"prefix:{name}" if rep == repeats - 1 else f"prefix{rep}:{name}"
            with tracer.span(name):
                dt = _timed(spark, group, fn)
            best[name] = min(best.get(name, dt), dt)
            if name == "persist" and rep == 0:
                m["persist.cached_bytes"] = _cached_bytes(spark)
            if name == "sink":
                full.append(dt)
    order = [name for name, _ in prefixes]
    for prev, name in zip([None] + order, order):
        key = "sink.write_s" if name == "sink" else f"{name}.self_s"
        m[key] = best[name] - (best[prev] if prev else 0.0)
    wl.reset()
    m.update(tier_layer_counts(wl))
    points_pdf = wl.points().select("url", "start", "value").toPandas()
    m.update(kernel_metrics(points_pdf))
    blobs = spark.read.parquet(wl.out_dir)
    m["compress.blobs"] = float(blobs.count())
    m["sink.files"] = float(len(glob.glob(os.path.join(wl.out_dir, "part-*"))))
    m["sink.bytes"] = float(workloads.dir_bytes(wl.out_dir))
    return m, full


def tier_log_metrics(log: EventLog, m: dict) -> dict:
    g = log.get
    m["scan.bytes_read"] = g("prefix:scan", "bytes_read")
    m["scan.rows_read"] = g("prefix:scan", "records_read")
    m["prepare.shuffle_bytes"] = g("prefix:prepare", "shuffle_bytes")
    m["prepare.fetch_wait_s"] = g("prefix:prepare", "fetch_wait_ms") / 1e3
    m["prepare.task_skew"] = log.task_skew("prefix:prepare")
    plan = log.plan_counts("prefix:sink")
    m["persist.inmemory_scans"] = float(plan["InMemoryTableScan"])
    m["rollup.spill_bytes"] = g("prefix:rollup", "spill_bytes") - g("prefix:persist", "spill_bytes")
    m["rollup.peak_exec_mem_mb"] = g("prefix:rollup", "peak_exec_mem") / 2**20
    m["compress.arrow_bytes_sent"] = g("prefix:compress", "sql:data sent to Python workers")
    m["compress.arrow_bytes_returned"] = g("prefix:compress", "sql:data returned from Python workers")
    m["compress.python_run_s"] = g("prefix:compress", "sql:time to run Python workers") / 1e3
    return m


# -- cron job layers ---------------------------------------------------------

@contextlib.contextmanager
def _wrapped(tracer: Tracer, owner, attr: str, span_name):
    """Span every call of ``owner.attr`` (a function or method) for the
    duration of the block. ``span_name`` may be a callable of the call's
    arguments."""
    original = getattr(owner, attr)

    def wrapper(*args, **kwargs):
        name = span_name(*args, **kwargs) if callable(span_name) else span_name
        with tracer.span(name):
            return original(*args, **kwargs)

    setattr(owner, attr, wrapper)
    try:
        yield
    finally:
        setattr(owner, attr, original)


def traced_cron(spark, seed: int, tracer: Tracer, corrupt: bool) -> tuple[dict, list[str]]:
    """The checkpointed tier job over its own inputs, with spans on the
    calls it makes into the package, then the read-side layers (dedup and
    retention) measured by prefix on the final warehouse. Also returns the
    problems its output check found (``corrupt``: flip one blob first)."""
    import pandas as pd

    from timeseries_harmonizer_spark.operators.dedup import last_write_wins
    from timeseries_harmonizer_spark.operators.retention import sweep_tier
    from timeseries_harmonizer_spark.plans.checkpoint import Manifest, StageRunner
    from timeseries_harmonizer_spark.sources.tables import Catalog

    cron = workloads.make_cron(seed)
    cron.inputs.ensure(spark)
    cron.register(spark)
    cron.warm_up()
    cron.reset()
    tier = cron.tier.name
    with contextlib.ExitStack() as hooks:
        hooks.enter_context(_wrapped(
            tracer, StageRunner, "run", lambda self, stage, *a, **k: f"run_tier.{stage}"))
        hooks.enter_context(_wrapped(tracer, Manifest, "commit", "checkpoint.commit"))
        hooks.enter_context(_wrapped(tracer, Catalog, "write", "tables.write"))
        hooks.enter_context(_wrapped(tracer, Catalog, "_commit_files", "tables.commit"))
        hooks.enter_context(_wrapped(tracer, Catalog, "read", "tables.read_plan"))
        hooks.enter_context(_wrapped(tracer, cron.job, "sweep_tier", "retention.sweep_call"))
        with tracer.span("cron.pass"):
            spark.sparkContext.setJobGroup("cron", "cron")
            n_points = cron.run_pass()
            spark.sparkContext.setJobGroup("", "")
    problems = cron.check(corrupt)
    m: dict[str, float] = {"run_tier.points_committed": float(n_points)}
    last = len(cron.ts_ends) - 1  # the resume run's spans come after
    for stage in cron.STAGES:
        d = tracer.durations(f"run_tier.{stage}")
        m[f"run_tier.{stage}_s_first"] = d[0]
        m[f"run_tier.{stage}_s_last"] = d[last]
    m["run_tier.last_run_s"] = cron.last_run_s
    m["run_tier.skip_s"] = cron.resume_s
    m["checkpoint.commit_s"] = tracer.total("checkpoint.commit")
    m["tables.write_s"] = tracer.total("tables.write")
    m["tables.commit_s"] = tracer.total("tables.commit")
    m["tables.read_plan_s"] = tracer.total("tables.read_plan")
    cat = Catalog(cron.warehouse)
    tables = sorted(
        d for d in os.listdir(cron.warehouse)
        if os.path.isdir(os.path.join(cron.warehouse, d))
    )
    m["tables.files_tracked"] = float(sum(len(cat.tracked_files(t)) for t in tables))
    m["tables.snapshots"] = float(sum(len(cat.snapshots(t)) for t in tables))
    m["tables.files"] = float(len(glob.glob(
        os.path.join(cron.warehouse, "*", "data", "**", "*.parquet"), recursive=True)))
    m["tables.bytes"] = float(workloads.dir_bytes(cron.warehouse))

    # read side at the final state: lww and the sweep, by prefix
    def read():
        return cat.read(spark, f"points_{tier}")

    def latest():
        return last_write_wins(read(), keys=("url", "start"), write_order_col="snapshot_id")

    now = pd.Timestamp(cron.ts_ends[-1])
    reg = spark.read.parquet(cron.inputs.registry_path)

    def sweep():
        coarse, retained = sweep_tier(latest(), tier, now, registry=reg)
        _noop(coarse)
        _noop(retained)

    t_read = _timed(spark, "cron:read", lambda: _noop(read()))
    t_lww = _timed(spark, "cron:lww", lambda: _noop(latest()))
    t_sweep = _timed(spark, "cron:sweep", sweep)
    m["dedup_lww.self_s"] = t_lww - t_read
    m["retention.self_s"] = t_sweep - t_lww
    m["dedup_lww.rows_in"] = float(read().count())
    m["dedup_lww.rows_out"] = float(latest().count())
    coarse, retained = sweep_tier(latest(), tier, now, registry=reg)
    m["retention.coarse_points"] = float(coarse.count())
    m["retention.expired_rows"] = m["dedup_lww.rows_out"] - float(retained.count())
    return m, problems


# -- the traced run ----------------------------------------------------------

CRON_KEYS = (
    [f"run_tier.{s}_s_{w}" for s in workloads.CronWorkload.STAGES for w in ("first", "last")]
    + ["run_tier.points_committed", "run_tier.last_run_s", "run_tier.skip_s", "checkpoint.commit_s",
       "tables.write_s", "tables.commit_s", "tables.read_plan_s",
       "tables.files_tracked", "tables.snapshots", "tables.files", "tables.bytes",
       "dedup_lww.self_s", "dedup_lww.rows_in", "dedup_lww.rows_out",
       "retention.self_s", "retention.coarse_points", "retention.expired_rows"]
)


def traced_run(run, corrupt: bool = False) -> dict[str, float]:
    """A session with the event log on: the prefixes (the last is the
    traced full pass), and on tier1m_dense the cron sequence. Then a fresh
    session with the log off for the untraced passes, the overhead
    baseline, and the output checks; on tier1h_scan, one more pass at a
    single core for the scaling figure. Phase times go to the context."""
    tracer = Tracer()
    t0 = time.perf_counter()
    run.start(event_log=True)
    run.wl.inputs.ensure(run.spark)
    run.phases["start_and_inputs_s"] = time.perf_counter() - t0
    run.wl.register(run.spark)
    t0 = time.perf_counter()
    m, traced = traced_tier(run, tracer, PREFIX_REPEATS)
    run.phases["prefixes_and_counts_s"] = time.perf_counter() - t0
    if run.wl.name == "tier1m_dense":
        t0 = time.perf_counter()
        cron_m, cron_problems = traced_cron(run.spark, run.wl.inputs.seed, tracer, corrupt)
        run.phases["cron_s"] = time.perf_counter() - t0
        m.update(cron_m)
        run.problems.extend(cron_problems)
        run.failed += int(bool(cron_problems))
    else:
        m.update({k: 0.0 for k in CRON_KEYS})
    app_id = run.spark.sparkContext.applicationId
    run.spark.stop()  # flushes the event log
    run.spark = None
    log = EventLog(_event_log_files(app_id))
    tier_log_metrics(log, m)

    t0 = time.perf_counter()
    run.start(event_log=False)
    run.wl.register(run.spark)
    run.timed_passes(min_passes=2, seconds=0)
    untraced = min(run.pass_s)  # the first pass after a restart is colder
    run.check(corrupt)
    run.phases["untraced_and_check_s"] = time.perf_counter() - t0

    g = log.get
    plan = log.plan_counts("prefix:sink")
    busy = g("prefix:sink", "run_ms") / 1e3
    m.update({
        "plan.exchanges": float(plan["Exchange"]),
        "plan.windows": float(plan["Window"]),
        "plan.sorts": float(plan["Sort"]),
        "plan.python_nodes": float(sum(
            v for k, v in plan.items() if any(s in k for s in PYTHON_NODE_MARKERS))),
        "spark.jobs": g("prefix:sink", "jobs"),
        "spark.stages": g("prefix:sink", "stages"),
        "spark.tasks": g("prefix:sink", "tasks"),
        "spark.task_busy_s": busy,
        "spark.cpu_util": busy / (traced[-1] * bench_env.CORES),
        "spark.gc_s": g("prefix:sink", "gc_ms") / 1e3,
        "spark.failed_tasks": g("prefix:sink", "failed_tasks"),
        "spark.task_skew": log.task_skew("prefix:sink"),
        "trace.overhead_frac": min(traced) / untraced - 1.0,
    })

    # scaling: one core vs four on the same input, JIT already warm
    m["scaling_eff_1to4"] = m["scaling.pass_s_1core"] = 0.0
    if run.wl.name == "tier1h_scan":
        t0 = time.perf_counter()
        run.start(event_log=False, cores=1)
        run.wl.register(run.spark)
        run.wl.reset()
        t1 = _timed(run.spark, "scale1", run.wl.run_pass)
        m["scaling_eff_1to4"] = t1 / (bench_env.CORES * untraced)
        m["scaling.pass_s_1core"] = t1
        run.phases["scaling_s"] = time.perf_counter() - t0

    tracer.write(os.path.join(
        bench_env.WORK, f"spans-{run.wl.name}-s{run.wl.inputs.seed}.json"))
    return m
