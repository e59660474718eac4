"""Crawl-frontier benchmark: one workload per invocation.

    python3 perfbench/run.py --workload crawl_polite_bloom --seed 1 --seconds 1 --trace 0

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The line before it records the host
(cores, RAM, driver heap), every sample and every failure. See NOTES.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import re
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

CRAWL_WORKLOADS = ("crawl_plain", "crawl_polite_bloom", "crawl_durable")
WORKLOADS = CRAWL_WORKLOADS + ("corpus_ops",)
SETUPS = 3  # set-ups per run; setup_s is their median
# optional extra samples (the untraced twin of a traced crawl) start only
# if they can end this long after the run started
RUN_LIMIT_S = 150
ERROR_CLASS = re.compile(r"\[[A-Z_]+(\.[A-Z_]+)*\]")


class Outcome:
    """What one run attempted, what failed and why, and every sample."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.walls: list[float] = []
        self.traced_walls: list[float] = []
        self.untraced_walls: list[float] = []  # warm, beside the traced ones
        self.layers: list[dict[str, float]] = []
        self.peak_rss_mb = 0.0
        self.items = 0  # pages per timed unit (crawl: URLs visited)

    def attempt(self, fn):
        """Run one timed unit; a raise or a failed check counts as failed.
        Returns (seconds, value) or None when the unit raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            value = fn()
        except Exception as e:  # the failure is the measurement
            self.record(e)
            return None
        return time.perf_counter() - t0, value

    def record(self, e: Exception) -> None:
        self.failed += 1
        # Spark errors carry their class as "[CLASS.SUBCLASS] message"
        lines = str(e).splitlines() or [""]
        line = next((ln for ln in lines if ERROR_CLASS.search(ln)), lines[0])
        self.errors.append(f"{type(e).__name__}: {line.strip()[:300]}")
        traceback.print_exc(file=sys.stderr)

    def mismatch(self, problems: list[str]) -> None:
        if problems:
            self.failed += 1
            self.errors.extend(problems)


def crawl_workload(spark, name: str, seed: int, seconds: float, trace: bool,
                   out: Outcome, setups: list[float], deadline: float):
    import crawl
    import tracing
    from host import WORK, PeakRss

    inputs = None
    for _ in range(SETUPS):
        if inputs is not None:
            inputs.release()
        t0 = time.perf_counter()
        inputs = crawl.build_inputs(spark, name, seed)
        setups.append(time.perf_counter() - t0)
    exp = crawl.expected(inputs)
    out.items = exp.stats["count_visited"]
    sc = spark.sparkContext
    roots = iter(range(1 << 30))

    def plain(full=False):
        io = crawl.new_io(inputs, os.path.join(WORK, "durable", str(next(roots))))
        r = out.attempt(lambda: crawl.crawl(spark, inputs, io))
        if r is not None:
            out.mismatch(crawl.check(r[1], exp, full))
        gc.collect()
        return r

    def traced():
        log = tracing.event_log_file(sc, os.path.join(WORK, "eventlog"))
        group = f"perfbench-crawl-{out.attempted}"
        io = tracing.TimingTableIO(
            crawl.new_io(inputs, os.path.join(WORK, "durable", str(next(roots)))), sc
        )
        plan = tracing.PlanBuildTimer()
        offset = os.path.getsize(log)
        sc.setJobGroup(group, f"{tracing.DESC}:loop")
        try:
            with plan.installed():
                r = out.attempt(lambda: crawl.crawl(spark, inputs, io))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        if r is None:
            return None
        wall, res = r
        out.mismatch(crawl.check(res, exp))
        out.mismatch(tracing.span_problems(io.spans, wall))
        tracing.drain_listener_bus(sc)
        jobs, job_bytes = tracing.read_job_bytes(log, offset, group)
        out.layers.append(
            tracing.crawl_layer_metrics(wall, io.spans, plan, jobs, job_bytes, res.iterations)
        )
        gc.collect()
        return r

    # The first crawl is the cold one a CLI user pays for (JVM JIT, codegen,
    # Python workers); its outputs also get the full check. More crawls run
    # while the measuring time lasts.
    t_end = time.perf_counter() + seconds
    with PeakRss() as rss:
        while time.perf_counter() < t_end or not out.walls:
            r = plain(full=not out.walls)
            if r is None:
                break
            out.walls.append(r[0])
    out.peak_rss_mb = rss.peak
    if trace and out.walls:
        # a traced crawl, then an untraced one to compare it with, if the
        # run still has room for it
        r = traced()
        if r is not None:
            out.traced_walls.append(r[0])
            if time.perf_counter() + r[0] < deadline:
                r = plain()
                if r is not None:
                    out.untraced_walls.append(r[0])


def corpus_workload(spark, seed: int, seconds: float, trace: bool,
                    out: Outcome, setups: list[float], deadline: float):
    import corpus_ops
    import host
    from host import PeakRss

    tables = None
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        tables = corpus_ops.build_tables(seed)
        host.start_python_workers(spark, corpus_ops.UDF_MODULES)
        setups.append(time.perf_counter() - t0)
    out.items = corpus_ops.N_DOCS + corpus_ops.N_VECS  # input rows a pass reads
    # every pass collects each query's rows; the check against the oracles
    # runs after the timed region
    t_end = time.perf_counter() + seconds
    with PeakRss() as rss:
        while time.perf_counter() < t_end or not out.walls:
            r = out.attempt(lambda: corpus_ops.timed_pass(spark, tables))
            if r is None:
                break
            out.walls.append(r[0])
            out.mismatch(corpus_ops.check(tables, r[1][1]))
    out.peak_rss_mb = rss.peak
    if trace and out.walls:
        for describe in (True, False):
            r = out.attempt(lambda: corpus_ops.timed_pass(spark, tables, describe))
            if r is None:
                break
            out.mismatch(corpus_ops.check(tables, r[1][1]))
            if describe:
                out.traced_walls.append(r[0])
                out.layers.append(r[1][0])
            else:
                out.untraced_walls.append(r[0])
            if time.perf_counter() + r[0] > deadline:
                break


def median_layers(layers: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(d[k] for d in layers) for k in layers[0]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    t_start = time.perf_counter()

    missing = [
        f for f in ("doonop_spark/plans/loop.py", "__spark_entry__.py")
        if not os.path.exists(os.path.join(ROOT, f))
    ]
    if missing:
        print(f"perfbench: not a checkout of the program, missing {missing}",
              file=sys.stderr)
        return 2

    import corpus_ops
    import host
    import tracing

    host.prepare_env()
    info = host.host_info()
    t0 = time.perf_counter()
    spark = host.start_session(
        info, os.path.join(host.WORK, "eventlog") if a.trace else None
    )
    session_s = time.perf_counter() - t0
    out, setups = Outcome(), []
    deadline = t_start + RUN_LIMIT_S
    try:
        if a.workload in CRAWL_WORKLOADS:
            crawl_workload(spark, a.workload, a.seed, a.seconds, bool(a.trace),
                           out, setups, deadline)
        else:
            corpus_workload(spark, a.seed, a.seconds, bool(a.trace), out, setups,
                            deadline)
    except Exception as e:  # set-up failed: nothing could be measured
        out.attempted += 1
        out.record(e)
    finally:
        host.stop_session(spark)

    wall = statistics.median(out.walls) if out.walls else float("nan")
    if a.trace:
        layers = median_layers(out.layers) if out.layers else {}
        names = tracing.CRAWL_METRICS + tuple(
            corpus_ops.metric_name(q) for q in corpus_ops.QUERIES
        )
        if a.workload == "crawl_durable":
            names += ("commit.bytes_written_mb",)
        metrics = {k: layers.get(k, 0.0) for k in names}
        # traced minus untraced, both warm when the run had room for the
        # untraced one; otherwise against the cold untraced sample
        base = out.untraced_walls or out.walls
        metrics["trace.overhead_s"] = (
            statistics.median(out.traced_walls) - statistics.median(base)
            if out.traced_walls and base else float("nan")
        )
        units = {k: _unit(k) for k in metrics}
    else:
        metrics = {
            "wall_s": wall,
            "pages_per_s": out.items / wall,
            "setup_s": session_s + statistics.median(setups) if setups else float("nan"),
            "peak_rss_mb": out.peak_rss_mb,
        }
        units = {"wall_s": "s", "pages_per_s": "1/s", "setup_s": "s", "peak_rss_mb": "MB"}
    print(json.dumps({
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "host": info,
        "session_s": session_s, "setup_samples_s": setups,
        "wall_samples_s": out.walls, "traced_wall_samples_s": out.traced_walls,
        "untraced_wall_samples_s": out.untraced_walls,
        "failed_frac": out.failed / max(out.attempted, 1),
        "errors": out.errors[:20],
    }))
    correct = out.attempted > 0 and out.failed == 0 and bool(out.walls)
    print(json.dumps({
        "correct": correct,
        "attempted": max(out.attempted, 1),
        "failed": out.failed if out.attempted else 1,
        "metrics": {
            k: {"value": v, "unit": units[k]} for k, v in metrics.items()
            if v == v  # NaN: nothing was measured
        },
    }))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
