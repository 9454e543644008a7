"""Tier-pipeline benchmark: one workload, one closed-loop driver, one result.

    python3 perfbench/run.py --workload tier1h_scan --seed 1 --seconds 14 --trace 0

Run from the root of a checkout. The last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it is per-run context (pass times, CPU time per pass,
idle-probe ratios, load average) that is not a metric. ``--corrupt-blob``
flips one byte of one output blob before the checks, which must then
fail.

Each run starts a session and sets up three times (input registration,
one warm-up pass), reporting the start plus the median; inputs are
materialised once per (workload, seed) outside every timed figure. It
then runs untimed passes for ``WARM_SECONDS``, timed passes until
``--seconds`` have elapsed, each pass checked for its point count, and
last checks the last timed pass's output.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

import bench_env

SETUPS = 3
# untimed passes after the set-ups: the JIT keeps compiling for about ten
# passes of a new process, and timed passes should not include that
WARM_SECONDS = 6.0


def _package_present() -> bool:
    return os.path.isfile(
        os.path.join(bench_env.ROOT, "timeseries_harmonizer_spark", "__init__.py")
    )


def load_spec() -> dict:
    with open(os.path.join(bench_env.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def declared_metrics(spec: dict, trace: bool) -> dict[str, str]:
    """name -> unit of the metrics BENCHMARK.json declares for this mode."""
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


class Run:
    """One benchmark run of one workload: set-ups, timed passes, checks."""

    def __init__(self, workload, seconds: float):
        self.wl = workload
        self.seconds = seconds
        self.spark = None
        self.setup_s: list[float] = []
        self.phases: dict[str, float] = {}
        self.ref_count: int | None = None
        self.pass_s: list[float] = []
        self.rss_mb: list[float] = []
        self.probe_s: list[float] = []
        self.load: list[float] = []
        self.steal: list[float] = []
        self.cpu_s: list[float] = []
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0

    def start(self, event_log: bool = False, cores: int = bench_env.CORES) -> float:
        """(Re)start the session; returns the seconds it took."""
        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = bench_env.start_session(cores=cores, event_log=event_log)
        return time.perf_counter() - t0

    def set_up(self, times: int = SETUPS) -> None:
        """Session start, then ``times`` x (input registration + one
        warm-up pass). ``setup_s`` is the start plus the median of the
        repeated part; input generation is timed on its own."""
        session_s = self.start()
        t0 = time.perf_counter()
        self.wl.inputs.ensure(self.spark)
        self.phases["input_gen_s"] = time.perf_counter() - t0
        for _ in range(times):
            t0 = time.perf_counter()
            self.wl.register(self.spark)
            self._count(self.wl.warm_up())
            self.setup_s.append(time.perf_counter() - t0)
        self.phases["session_start_s"] = session_s
        self.setup_total_s = session_s + statistics.median(self.setup_s)

    def warm_up(self, seconds: float = WARM_SECONDS) -> None:
        """Untimed passes until ``seconds`` have elapsed."""
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds:
            self.wl.reset()
            self._count(self.wl.run_pass())
        self.phases["warm_up_s"] = time.perf_counter() - t0

    def _count(self, n: int) -> None:
        """Every pass must commit as many points as the first one."""
        if self.ref_count is None:
            self.ref_count = n
        elif n != self.ref_count:
            self.failed += 1
            self.problems.append(f"count: pass committed {n}, first pass {self.ref_count}")

    def timed_passes(self, min_passes: int = 1, seconds: float | None = None) -> None:
        """Closed loop: passes until ``seconds`` (default: the run's) have
        elapsed and at least ``min_passes`` were attempted."""
        seconds = self.seconds if seconds is None else seconds
        start = time.perf_counter()
        while self.attempted < min_passes or time.perf_counter() - start < seconds:
            self.probe_s.append(bench_env.probe_seconds(self.spark))
            self.load.append(bench_env.load_average())
            self.wl.reset()
            self.attempted += 1
            steal0, total0 = bench_env.cpu_ticks()
            cpu0 = bench_env.tree_cpu_s()
            t0 = time.perf_counter()
            try:
                n = self.wl.run_pass()
            except Exception:  # a failed pass is counted, the run goes on
                traceback.print_exc()
                self.failed += 1
                continue
            dt = time.perf_counter() - t0
            steal1, total1 = bench_env.cpu_ticks()
            self.cpu_s.append(bench_env.tree_cpu_s() - cpu0)
            self.steal.append((steal1 - steal0) / max(total1 - total0, 1))
            # read between passes: polling /proc during a pass contends
            # with the JVM's memory map and slowed passes by up to 30%
            self.rss_mb.append(bench_env.tree_rss_mb())
            self.pass_s.append(dt)
            self._count(n)

    def check(self, corrupt: bool) -> None:
        try:
            found = self.wl.check(corrupt=corrupt)
        except Exception as e:  # a check that cannot run has failed
            traceback.print_exc()
            found = [f"check raised {type(e).__name__}: {str(e)[:200]}"]
        if found:
            self.failed += 1
            self.problems.extend(found)

    def context(self) -> dict:
        best = min(self.probe_s) if self.probe_s else 0.0
        return {
            "workload": self.wl.name,
            "seed": self.wl.inputs.seed,
            "pass_s": self.pass_s,
            "setup_repeat_s": self.setup_s,
            "phases_s": self.phases,
            "points": self.ref_count,
            "probe_s": self.probe_s,
            "probe_ratio": [p / best for p in self.probe_s] if best else [],
            "load_avg_1m": self.load,
            "cpu_steal_frac": self.steal,
            "pass_cpu_s": self.cpu_s,
            "problems": self.problems,
        }

    def end_to_end(self) -> dict[str, float]:
        pass_s = statistics.median(self.pass_s)
        points = self.ref_count
        blob_bytes, disk_bytes = self.wl.output_sizes()
        return {
            "pass_s": pass_s,
            "points_per_s": points / pass_s,
            "setup_s": self.setup_total_s,
            "blob_bytes_per_point": blob_bytes / points,
            "disk_bytes_per_point": disk_bytes / points,
            "peak_rss_mb": max(self.rss_mb),
            "ok_frac": (self.attempted - self.failed) / self.attempted,
        }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-blob", action="store_true")
    args = ap.parse_args(argv)

    if not _package_present():
        print("perfbench: timeseries_harmonizer_spark not found next to perfbench/",
              file=sys.stderr)
        return 2
    bench_env.pin_process_env()
    sys.path.insert(0, bench_env.ROOT)
    import workloads

    spec = load_spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: {args.workload!r} is not a workload of BENCHMARK.json",
              file=sys.stderr)
        return 2
    units = declared_metrics(spec, bool(args.trace))
    run = Run(workloads.make(args.workload, args.seed), args.seconds)
    try:
        if args.trace:
            import tracing

            metrics = tracing.traced_run(run, args.corrupt_blob)
        else:
            run.set_up()
            run.warm_up()
            t0 = time.perf_counter()
            run.timed_passes()
            run.phases["timed_s"] = time.perf_counter() - t0
            # after the timed passes: checking first slowed the next pass
            t0 = time.perf_counter()
            run.check(args.corrupt_blob)
            run.phases["check_s"] = time.perf_counter() - t0
            if not run.pass_s:
                print("perfbench: no pass completed", file=sys.stderr)
                return 1
            metrics = run.end_to_end()
        print(json.dumps({"context": run.context()}))
    finally:
        bench_env.shutdown(run.spark)
    if set(metrics) != set(units):
        print(f"perfbench: metrics {sorted(set(metrics) ^ set(units))} are "
              "not both measured and declared in BENCHMARK.json", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in sorted(metrics)},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
