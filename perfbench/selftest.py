"""Self-test of the benchmark's checkers, so a broken checker cannot report
a pass:

    python3 perfbench/selftest.py

Runs tiny ``synthetic_corpus`` crawls and checks that the BFS oracle agrees
with them (plain, robots ``Disallow`` + Crawl-delay + bloom, and retried
timeouts), that every checker rejects a deliberately wrong answer, and that
the timing ``TableIO`` wrapper's spans are disjoint, cover the phases and
count the rows the crawl reports. Exits non-zero on the first failure.
"""

from __future__ import annotations

import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import host  # noqa: E402
import oracle  # noqa: E402

def expect(ok, what="") -> None:
    """A check that python -O cannot strip."""
    if not ok:
        raise AssertionError(what)


TINY = oracle.CorpusShape(n_hosts=3, n_pages=61, filler_words=3)
SEEDS = [oracle.page_url(h, 0) for h in range(TINY.n_hosts)]


def test_oracle_by_hand() -> None:
    # 6 pages: host 0 owns p0 (int(6*0.3) = 1 page), host 1 owns p0..p4.
    # h0/p0 links to h1/p0 (row 0 is a cross-link row); h1/p0 -> p1 (twice),
    # p2; h1/p1 -> p3, p4; h1/p2 would link to p5 and p6, past the host's 5
    # pages; row 5 (h1/p4) is below cross_link_every=7 so links nowhere.
    shape = oracle.CorpusShape(n_hosts=2, n_pages=6, filler_words=0)
    exp = oracle.bfs(shape, [oracle.page_url(0, 0)])
    urls = {oracle.page_url(0, 0)} | {oracle.page_url(1, p) for p in range(5)}
    expect(exp.results == urls, exp.results)
    expect(exp.stats == dict(
        count_errors=0, count_retries=0, count_visited=6, count_collected=6
    ), exp.stats)
    # a disallowed prefix drops the subtree but its root stays seen
    exp = oracle.bfs(shape, [oracle.page_url(0, 0)], disallow={"h0001.example": "/p1"})
    expect(oracle.page_url(1, 1) in exp.seen and oracle.page_url(1, 3) not in exp.seen)
    expect(exp.stats["count_collected"] == 3, exp.stats)
    # one timeout is retried; three exhaust the default budget of 3 attempts
    u = oracle.page_url(1, 2)
    exp = oracle.bfs(shape, [oracle.page_url(0, 0)], timeouts={u: 1})
    expect(exp.stats["count_retries"] == 1 and u in exp.results)
    exp = oracle.bfs(shape, [oracle.page_url(0, 0)], timeouts={u: 3})
    expect(exp.stats["count_retries"] == 3 and u not in exp.results)


def _corpus(spark):
    from doonop_spark.sources.corpus import synthetic_corpus

    return synthetic_corpus(
        spark, n_hosts=TINY.n_hosts, n_pages=TINY.n_pages,
        hot_share=TINY.hot_share, filler_words=TINY.filler_words,
    ).cache()


def test_crawls_match_oracle(spark) -> None:
    import crawl
    from doonop_spark.plans.job import CrawlJob
    from doonop_spark.plans.loop import run_crawl
    from doonop_spark.sources.corpus import synthetic_robots

    corpus = _corpus(spark)
    res = run_crawl(spark, CrawlJob(seeds=SEEDS, engines=None), corpus)
    exp = oracle.bfs(TINY, SEEDS)
    expect(exp.stats["count_errors"] > 0)  # the graph links past short hosts
    expect(crawl.check(res, exp, full=True) == [])

    # every checker rejects a wrong answer
    wrong = oracle.bfs(TINY, SEEDS)
    wrong.results.discard(oracle.page_url(1, 1))
    expect(any(p.startswith("results") for p in crawl.check(res, wrong)))
    wrong = oracle.bfs(TINY, SEEDS)
    wrong.seen.add("http://h0009.example/p0")
    expect(any(p.startswith("seen") for p in crawl.check(res, wrong)))
    wrong = oracle.bfs(TINY, SEEDS)
    wrong.stats["count_visited"] += 1
    expect(any(p.startswith("stats") for p in crawl.check(res, wrong)))
    wrong = oracle.bfs(TINY, SEEDS)
    wrong.texts[oracle.page_url(0, 0)] += "x"
    expect(any("texts" in p for p in crawl.check(res, wrong, full=True)))

    # robots Disallow + a binding Crawl-delay + the bloom sidecar
    disallow = {"h0001.example": "/p1"}
    robots = synthetic_robots(
        spark, n_hosts=TINY.n_hosts, disallow={1: "/p1"}, crawl_delay={0: 10.0}
    )
    job = CrawlJob(
        seeds=SEEDS, engines=None, use_robots=True, bloom_partitions=2,
        bloom_probe_mode="copartition", bloom_expected_per_partition=64,
    )
    res = run_crawl(spark, job, corpus, robots=robots)
    expect(crawl.check(res, oracle.bfs(TINY, SEEDS, disallow=disallow)) == [])
    expect(crawl.check(res, oracle.bfs(TINY, SEEDS)) != [])

    # first-attempt timeouts are retried
    timeouts = {oracle.page_url(0, 1): 1, oracle.page_url(2, 0): 1}
    faults = spark.createDataFrame(
        [(u, 1, "timeout") for u in timeouts], "url string, attempt int, fault string"
    )
    res = run_crawl(spark, CrawlJob(seeds=SEEDS, engines=None), corpus,
                    fault_schedule=faults)
    exp = oracle.bfs(TINY, SEEDS, timeouts=timeouts)
    expect(exp.stats["count_retries"] == 2)
    expect(crawl.check(res, exp) == [])
    corpus.unpersist()


def test_timing_wrapper(spark) -> None:
    import crawl
    import tracing
    from doonop_spark.plans.job import CrawlJob
    from doonop_spark.plans.loop import run_crawl
    from doonop_spark.sources.tables import MemoryTableIO

    corpus = _corpus(spark)
    sc = spark.sparkContext
    io = tracing.TimingTableIO(MemoryTableIO(), sc)
    plan = tracing.PlanBuildTimer()
    t0 = time.perf_counter()
    with plan.installed():
        res = run_crawl(spark, CrawlJob(seeds=SEEDS, engines=None), corpus, io=io)
    wall = time.perf_counter() - t0
    expect(crawl.check(res, oracle.bfs(TINY, SEEDS)) == [])
    expect(tracing.span_problems(io.spans, wall) == [])
    expect(all(t0 <= s.start <= s.end <= t0 + wall for s in io.spans))
    expect(plan.calls > 0 and 0 < plan.seconds < wall)

    m = tracing.crawl_layer_metrics(wall, io.spans, plan, 0, {}, res.iterations)
    phases = [k for k in m if k.endswith(".s") or k.endswith("_s")]
    spans = sum(m[k] for k in phases if not k.startswith("loop."))
    expect(abs(spans + m["loop.residual_s"] - wall) < 1e-6)
    expect(m["fetch.s"] > 0 and m["expand.s"] > 0 and m["commit.frontier_s"] > 0)
    expect(m["fetch.rows"] == res.stats.count_visited, m)
    expect(m["loop.waves"] == res.iterations)
    expect(0 < m["expand.fresh_ratio"] < 1)

    # the span checker rejects overlapping spans
    a, b = io.spans[0], io.spans[1]
    bad = [a, tracing.Span(b.phase, b.op, b.name, b.iteration, a.start, b.end)]
    expect(tracing.span_problems(bad, wall))
    # the plan-build wrappers are gone afterwards
    from doonop_spark.plans import loop
    from doonop_spark.operators import filters

    expect(loop.apply_link_filters is filters.apply_link_filters)
    corpus.unpersist()


def test_minhash_invariants() -> None:
    import corpus_ops

    path = os.path.join(host.WORK, "selftest_corpus_ops")
    corpus_ops.build_tables(7, path)
    import pyarrow.parquet as pq

    docs = pq.read_table(os.path.join(path, "documents.parquet")).to_pydict()
    first: dict[str, int] = {}
    for i, t in zip(docs["doc_id"], docs["text"]):
        first.setdefault(t, i)
    ids = sorted(first.values())  # one document per distinct text
    expect(corpus_ops._minhash_keep_problems(path, ids) == [])
    # dropping a document that has no near duplicate is caught
    expect(any(
        corpus_ops._minhash_keep_problems(path, [i for i in ids if i != d])
        for d in ids[:5]
    ))
    expect(corpus_ops._minhash_keep_problems(path, ids + ids[:1]) != [])  # duplicate id


def main() -> int:
    host.prepare_env()
    test_oracle_by_hand()
    test_minhash_invariants()
    info = dict(host.host_info(), cores=2)
    spark = host.start_session(info)
    try:
        test_crawls_match_oracle(spark)
        test_timing_wrapper(spark)
    finally:
        host.stop_session(spark)
    print("perfbench selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
