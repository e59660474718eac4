"""Crawl workloads: inputs, one crawl, and its correctness check.

All three crawl the same deterministic ``synthetic_corpus`` graph (50
hosts, the hot host owns 30% of the pages, ~1 KB pages). The seed list is
the top five levels of every host's page tree (p0..p30, where the host has
them), so wave 0 fetches them all and the crawl needs five waves fewer than
one seeded with the roots alone, to the same visited set. The workload seed picks the robots
``Disallow`` rule and the fault set; the graph itself never changes.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from doonop_spark.plans.job import CrawlJob
from doonop_spark.plans.loop import CrawlResult, run_crawl
from doonop_spark.sources.corpus import synthetic_corpus, synthetic_robots
from doonop_spark.sources.tables import MemoryTableIO, SnapshotTableIO, TableIO

from host import start_python_workers
from oracle import CorpusShape, Expected, bfs, digest, page_url

SHAPE = CorpusShape(n_hosts=50, n_pages=2_000, hot_share=0.3, filler_words=150)
SEED_LEVELS = 5


def seed_urls(shape: CorpusShape) -> list[str]:
    return [page_url(h, p) for _, h, p, _ in shape.pages() if p < 2**SEED_LEVELS - 1]
# the hot host may dispatch this share of the corpus per wave; it owns 30%,
# so the budget binds on the widest waves of its tree
HOT_BUDGET_SHARE = 0.10
FAULT_SHARE = 0.02
# modules whose Arrow UDFs a crawl runs
UDF_MODULES = [
    "doonop_spark.functions.extract",
    "doonop_spark.operators.robots",
    "doonop_spark.operators.bloom",
]

# workload -> how it differs from the plain scale-mode crawl
CRAWLS = {
    "crawl_plain": dict(),
    "crawl_polite_bloom": dict(polite=True, bloom="copartition"),
    # the CLI's durable crawl (--table-root, --bloom-partitions, robots)
    # with default bloom settings and first-attempt timeouts
    "crawl_durable": dict(polite=True, bloom="default", faults=True, durable=True),
}


@dataclass
class CrawlInputs:
    job: CrawlJob
    corpus: DataFrame
    robots: DataFrame | None
    faults: DataFrame | None
    durable: bool
    disallow: dict[str, str] = field(default_factory=dict)
    timeouts: dict[str, int] = field(default_factory=dict)
    cached: list[DataFrame] = field(default_factory=list)

    def release(self) -> None:
        for df in self.cached:
            df.unpersist(blocking=True)


def _disallow_rule(rng: random.Random) -> dict[str, str]:
    """One non-hot host disallows the subtrees under a path prefix (/p1 or
    /p2, which also covers /p1x and /p1xx): some of its seeds are dropped
    at the gate and some links stay unfetched."""
    host = rng.randrange(1, SHAPE.n_hosts)
    return {f"h{host:04d}.example": f"/p{rng.randrange(1, 3)}"}


def _timeouts(rng: random.Random) -> dict[str, int]:
    """~2% of the corpus times out on its first attempt."""
    urls = sorted({page_url(h, p) for _, h, p, _ in SHAPE.pages()})
    return {u: 1 for u in rng.sample(urls, int(len(urls) * FAULT_SHARE))}


def build_inputs(spark: SparkSession, workload: str, seed: int) -> CrawlInputs:
    """Generate and cache every input of ``workload``; nothing generated
    here is recomputed inside a timed crawl."""
    cfg = CRAWLS[workload]
    rng = random.Random(seed)
    parts = 2 * spark.sparkContext.defaultParallelism
    corpus = synthetic_corpus(
        spark,
        n_hosts=SHAPE.n_hosts,
        n_pages=SHAPE.n_pages,
        hot_share=SHAPE.hot_share,
        cross_link_every=SHAPE.cross_link_every,
        partitions=parts,
        filler_words=SHAPE.filler_words,
    ).cache()
    corpus.count()
    cached = [corpus]
    start_python_workers(spark, UDF_MODULES)
    kw: dict = dict(seeds=seed_urls(SHAPE), engines=None)
    robots = faults = None
    disallow: dict[str, str] = {}
    timeouts: dict[str, int] = {}
    if cfg.get("polite"):
        disallow = _disallow_rule(rng)
        kw["use_robots"] = True
        delay = CrawlJob().wave_seconds / int(SHAPE.n_pages * HOT_BUDGET_SHARE)
        host_idx = {f"h{h:04d}.example": h for h in range(SHAPE.n_hosts)}
        robots = synthetic_robots(
            spark,
            n_hosts=SHAPE.n_hosts,
            disallow={host_idx[h]: p for h, p in disallow.items()},
            crawl_delay={0: delay},
        ).cache()
        robots.count()
        cached.append(robots)
    if cfg.get("bloom") == "copartition":
        n = 2 * spark.sparkContext.defaultParallelism
        kw.update(
            bloom_partitions=n,
            bloom_probe_mode="copartition",
            bloom_expected_per_partition=max(SHAPE.n_pages // n, 1024),
        )
    elif cfg.get("bloom") == "default":
        kw["bloom_partitions"] = 2 * spark.sparkContext.defaultParallelism
    if cfg.get("faults"):
        timeouts = _timeouts(rng)
        faults = spark.createDataFrame(
            [(u, a, "timeout") for u, n in timeouts.items() for a in range(1, n + 1)],
            "url string, attempt int, fault string",
        ).cache()
        faults.count()
        cached.append(faults)
    return CrawlInputs(
        CrawlJob(**kw), corpus, robots, faults, bool(cfg.get("durable")),
        disallow, timeouts, cached,
    )


def expected(inputs: CrawlInputs) -> Expected:
    return bfs(
        SHAPE, inputs.job.seeds, inputs.disallow, inputs.timeouts,
        inputs.job.retry_count,
    )


def new_io(inputs: CrawlInputs, root: str) -> TableIO:
    if not inputs.durable:
        return MemoryTableIO()
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    return SnapshotTableIO(root)


def crawl(spark: SparkSession, inputs: CrawlInputs, io: TableIO) -> CrawlResult:
    return run_crawl(
        spark, inputs.job, inputs.corpus,
        robots=inputs.robots, fault_schedule=inputs.faults, io=io,
    )


def check(res: CrawlResult, exp: Expected, full: bool = False) -> list[str]:
    """Mismatches between a crawl's outputs and the oracle's: the visited
    URLs, the seen keys and the statistics; ``full`` also compares every
    collected page text and requires an empty final frontier."""
    bad = []
    stats = vars(res.stats)
    if stats != exp.stats:
        bad.append(f"stats {stats} != {exp.stats}")
    urls = [r.url for r in res.results.select("url").collect()]
    if digest(urls) != digest(exp.results):
        bad.append(f"results: {len(urls)} urls, expected {len(exp.results)}")
    keys = [r.ukey for r in res.seen.select("ukey").collect()]
    if digest(keys) != digest(exp.seen):
        bad.append(f"seen: {len(keys)} keys, expected {len(exp.seen)}")
    if full:
        rows = res.results.select("url", "data").collect()
        wrong = sum(1 for r in rows if exp.texts.get(r.url) != r.data)
        if wrong:
            bad.append(f"{wrong} collected texts differ from the corpus text")
        left = res.frontier.count()
        if left:
            bad.append(f"{left} rows left in the frontier")
    return bad
