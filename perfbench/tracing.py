"""Per-layer tracing for the crawl workloads, entirely from outside the
program: a timing ``TableIO`` wrapper passed through ``run_crawl(io=...)``,
timing wrappers around the operator functions ``plans.loop`` imports, and a
reader for the Spark event log that maps shuffle and output bytes to the
phase whose job description was set when the job ran.

Every ``TableIO`` call is one span, keyed by table name and iteration. The
calls are sequential on the driver thread and never nest, so the spans plus
``loop.residual_s`` add up to the crawl's wall time exactly.
"""

from __future__ import annotations

import contextlib
import inspect
import json
import os
import statistics
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from doonop_spark.sources.tables import TableIO

# (TableIO method, table name) -> phase. Anything not listed is commit.state
# (results/metrics appends, save_state and the end-of-crawl reads).
_MATERIALIZE_PHASE = {
    "wave": "schedule",
    "wave_fetched": "fetch",
    "wave_missed": "fetch",
    "links_flagged": "expand.bloom_probe",
    "new_links": "expand",
    "frontier": "commit.frontier",
    "bloom": "commit.bloom_fold",
}
PHASES = (
    "schedule",
    "fetch",
    "expand",
    "expand.bloom_probe",
    "commit.frontier",
    "commit.bloom_fold",
    "commit.seen",
    "commit.state",
)
# job-description prefix; the phase follows it, "loop" marks driver time
DESC = "perfbench"


def phase_of(op: str, name: str) -> str:
    if op == "materialize":
        return _MATERIALIZE_PHASE.get(name, "commit.state")
    return "commit.seen" if name == "seen" else "commit.state"


@dataclass
class Span:
    phase: str
    op: str
    name: str
    iteration: int
    start: float
    end: float
    obs: Observation | None = None  # row counts riding the materialize job

    @property
    def seconds(self) -> float:
        return self.end - self.start


class TimingTableIO(TableIO):
    """Wraps another ``TableIO``: one span per call, the phase set as the
    Spark job description while the call runs, and an ``Observation`` on
    every materialized frame (its row count, plus the links the fetched
    pages emitted) so counts are taken by the same job that does the work."""

    def __init__(self, inner: TableIO, sc) -> None:
        self.inner = inner
        self.sc = sc
        self.spans: list[Span] = []

    def _call(self, op: str, name: str, iteration: int, fn, obs=None):
        phase = phase_of(op, name)
        self.sc.setJobDescription(f"{DESC}:{phase}")
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            t1 = time.perf_counter()
            self.sc.setJobDescription(f"{DESC}:loop")
            self.spans.append(Span(phase, op, name, iteration, t0, t1, obs))

    def materialize(self, df: DataFrame, name: str, iteration: int) -> DataFrame:
        obs = Observation()
        metrics = [F.count(F.lit(1)).alias("rows")]
        if "out_links" in df.columns:
            metrics.append(
                F.sum(
                    F.when(F.col("status") == "ok", F.size("out_links")).otherwise(0)
                ).alias("links")
            )
        df = df.observe(obs, *metrics)
        return self._call(
            "materialize", name, iteration,
            lambda: self.inner.materialize(df, name, iteration), obs,
        )

    def append(self, df, name, iteration, eager=True):
        return self._call(
            "append", name, iteration,
            lambda: self.inner.append(df, name, iteration, eager),
        )

    def read_appended(self, spark, name):
        return self._call(
            "read_appended", name, -1, lambda: self.inner.read_appended(spark, name)
        )

    def save_state(self, state):
        it = state.get("iteration", -1)
        return self._call("save_state", "state", it, lambda: self.inner.save_state(state))

    def load_state(self):
        return self._call("load_state", "state", -1, self.inner.load_state)

    def load_table(self, spark, name, iteration):
        return self._call(
            "load_table", name, iteration,
            lambda: self.inner.load_table(spark, name, iteration),
        )

    def prune_appends(self, name, max_iteration):
        return self._call(
            "prune_appends", name, max_iteration,
            lambda: self.inner.prune_appends(name, max_iteration),
        )

    def drop_appends_before(self, name, iteration):
        return self._call(
            "drop_appends_before", name, iteration,
            lambda: self.inner.drop_appends_before(name, iteration),
        )


class PlanBuildTimer:
    """Times the operator functions ``doonop_spark.plans.loop`` imports by
    swapping wrapped copies into that module's namespace for the duration of
    a ``with`` block. These calls build lazy plans between ``TableIO`` calls,
    so their time is a part of ``loop.residual_s``. Nested wrapped calls are
    counted once."""

    def __init__(self) -> None:
        self.seconds = 0.0
        self.calls = 0
        self._depth = 0

    def _wrap(self, fn):
        def timed(*args, **kwargs):
            if self._depth:
                return fn(*args, **kwargs)
            self._depth += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.seconds += time.perf_counter() - t0
                self.calls += 1
                self._depth -= 1

        return timed

    @contextlib.contextmanager
    def installed(self):
        from doonop_spark.plans import loop

        originals = {
            k: v
            for k, v in vars(loop).items()
            if inspect.isfunction(v)
            and v.__module__.startswith("doonop_spark.")
            and v.__module__ != loop.__name__
        }
        try:
            for k, v in originals.items():
                setattr(loop, k, self._wrap(v))
            yield self
        finally:
            for k, v in originals.items():
                setattr(loop, k, v)


def span_problems(spans: list[Span], wall: float) -> list[str]:
    """The spans must not overlap and must fit in the crawl's wall time,
    or ``loop.residual_s`` would not be the time outside every phase."""
    bad = [
        f"span {b.op}:{b.name} starts before {a.op}:{a.name} ends"
        for a, b in zip(spans, spans[1:])
        if b.start < a.end
    ]
    total = sum(s.seconds for s in spans)
    if total > wall:
        bad.append(f"spans sum to {total:.3f} s, more than the {wall:.3f} s wall")
    return bad


def event_log_file(sc, log_dir: str) -> str:
    app = sc.applicationId
    for name in (app + ".inprogress", app):
        path = os.path.join(log_dir, name)
        if os.path.exists(path):
            return path
    raise FileNotFoundError(f"no event log for {app} in {log_dir}")


def drain_listener_bus(sc) -> None:
    """Block until every queued listener event (the event log writer's
    included) has been processed."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def read_job_bytes(path: str, offset: int, group: str) -> tuple[int, dict[str, dict]]:
    """Parse the event log from byte ``offset``: the number of jobs run
    under job group ``group`` and, per phase of that group, the shuffle
    bytes written and the output bytes written by their tasks."""
    stage_phase: dict[int, str] = {}
    jobs = 0
    out: dict[str, dict] = {}
    with open(path, "rb") as f:
        f.seek(offset)
        for line in f:
            try:
                ev = json.loads(line)
            except ValueError:
                continue  # a line still being written
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                if (ev.get("Properties") or {}).get("spark.jobGroup.id") == group:
                    jobs += 1
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                if props.get("spark.jobGroup.id") != group:
                    continue
                desc = props.get("spark.job.description") or ""
                phase = desc.split(":", 1)[1] if desc.startswith(DESC + ":") else "loop"
                stage_phase[ev["Stage Info"]["Stage ID"]] = phase
            elif kind == "SparkListenerTaskEnd":
                phase = stage_phase.get(ev.get("Stage ID"))
                if phase is None:
                    continue
                m = ev.get("Task Metrics") or {}
                agg = out.setdefault(phase, {"shuffle_bytes": 0, "output_bytes": 0})
                agg["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                agg["output_bytes"] += (m.get("Output Metrics") or {}).get(
                    "Bytes Written", 0
                )
    return jobs, out


CRAWL_METRICS = (
    "schedule.s", "schedule.shuffle_mb", "fetch.s", "fetch.rows",
    "fetch.shuffle_mb", "expand.s", "expand.bloom_probe_s", "expand.fresh_ratio",
    "expand.shuffle_mb", "commit.frontier_s", "commit.frontier_rows",
    "commit.bloom_fold_s", "commit.seen_s", "commit.state_s", "commit.shuffle_mb",
    "loop.residual_s", "loop.plan_build_s", "loop.spark_jobs", "loop.waves",
    "loop.wave_p50_s",
)


def crawl_layer_metrics(
    wall: float, spans: list[Span], plan: PlanBuildTimer, jobs: int,
    job_bytes: dict[str, dict], waves: int,
) -> dict[str, float]:
    """Fold one traced crawl into the per-layer metrics."""
    by_phase = {p: 0.0 for p in PHASES}
    for s in spans:
        by_phase[s.phase] += s.seconds
    accounted = sum(by_phase.values())

    def rows(names) -> int:
        return sum(
            int(s.obs.get["rows"])
            for s in spans
            if s.obs is not None and s.name in names
        )

    links = sum(
        int(s.obs.get["links"] or 0)
        for s in spans
        if s.obs is not None and s.name in ("wave_fetched", "wave_missed")
    )
    # a wave ends with its frontier write; the first one is the seed frontier
    ends = [s.end for s in spans if s.op == "materialize" and s.name == "frontier"]
    wave_s = [b - a for a, b in zip(ends, ends[1:])]

    def mb(phases, key) -> float:
        return sum(job_bytes.get(p, {}).get(key, 0) for p in phases) / 1e6

    commit = [p for p in PHASES if p.startswith("commit")] + ["commit"]
    return {
        "schedule.s": by_phase["schedule"],
        "schedule.shuffle_mb": mb(["schedule"], "shuffle_bytes"),
        "fetch.s": by_phase["fetch"],
        "fetch.rows": rows(("wave_fetched", "wave_missed")),
        "fetch.shuffle_mb": mb(["fetch"], "shuffle_bytes"),
        "expand.s": by_phase["expand"],
        "expand.bloom_probe_s": by_phase["expand.bloom_probe"],
        "expand.fresh_ratio": rows(("new_links",)) / links if links else 0.0,
        "expand.shuffle_mb": mb(["expand", "expand.bloom_probe"], "shuffle_bytes"),
        "commit.frontier_s": by_phase["commit.frontier"],
        "commit.frontier_rows": rows(("frontier",)),
        "commit.bloom_fold_s": by_phase["commit.bloom_fold"],
        "commit.seen_s": by_phase["commit.seen"],
        "commit.state_s": by_phase["commit.state"],
        "commit.shuffle_mb": mb(commit, "shuffle_bytes"),
        "commit.bytes_written_mb": mb(commit, "output_bytes"),
        "loop.residual_s": wall - accounted,
        "loop.plan_build_s": plan.seconds,
        "loop.spark_jobs": jobs,
        "loop.waves": waves,
        "loop.wave_p50_s": statistics.median(wave_s) if wave_s else 0.0,
    }
