"""Pure-Python reference crawl over the ``synthetic_corpus`` link graph.

Rebuilds the generated site graph from the generator's own arithmetic (not
from Spark), then runs a breadth-first crawl with the same robots
``Disallow`` prefixes and the same per-attempt fault schedule. The visited
set, the seen set and the ``Statistics`` of a crawl do not depend on how
the URLs are split into waves, so one BFS gives the expected outcome of
every scale-mode crawl configuration.
"""

from __future__ import annotations

import hashlib
from collections import deque
from dataclasses import dataclass


def page_url(h: int, p: int) -> str:
    return f"http://h{h:04d}.example/p{p}"


@dataclass(frozen=True)
class CorpusShape:
    n_hosts: int = 50
    n_pages: int = 10_000
    hot_share: float = 0.3
    cross_link_every: int = 7
    filler_words: int = 150

    def pages(self):
        """Yield (row id, host, page, out-links) for every corpus row."""
        hot = int(self.n_pages * self.hot_share)
        rest = max(self.n_hosts - 1, 1)
        per_rest = -(-(self.n_pages - hot) // rest) if self.n_hosts > 1 else 0
        for i in range(self.n_pages):
            h, p = (0, i) if i < hot else ((i - hot) % rest + 1, (i - hot) // rest)
            cap = hot if h == 0 else per_rest
            links = []
            if 2 * p + 1 < cap:
                links += [page_url(h, 2 * p + 1)] * 2
            if 2 * p + 2 < cap:
                links.append(page_url(h, 2 * p + 2))
            if i % self.cross_link_every == 0 and self.n_hosts > 1:
                links.append(page_url((h + 1) % self.n_hosts, 0))
            yield i, h, p, links

    def text(self, i: int, h: int, p: int) -> str:
        t = (
            f"Document for host h{h:04d}.example page {p}. "
            f"The quick brown fox & the <angle> case; id={i}."
        )
        if self.filler_words > 0:
            words = (
                f"w{(w * 2654435761 + i) % 9973}"
                for w in range(1, self.filler_words + 1)
            )
            t += " " + " ".join(words)
        return t


@dataclass
class Expected:
    results: set[str]
    seen: set[str]
    stats: dict[str, int]
    texts: dict[str, str]


def bfs(
    shape: CorpusShape,
    seeds: list[str],
    disallow: dict[str, str] | None = None,
    timeouts: dict[str, int] | None = None,
    retry_count: int = 3,
) -> Expected:
    """``disallow`` maps a host name to a path prefix its robots.txt
    disallows; ``timeouts`` maps a URL to the number of leading attempts
    that time out. Follows the crawl's rules: every discovered link enters
    the seen set, disallowed URLs are never fetched or counted, a missing
    page is a terminal error, and a timeout is retried (under the FIRST
    policy) until ``retry_count`` attempts were made."""
    disallow = disallow or {}
    timeouts = timeouts or {}
    graph = {}
    for i, h, p, links in shape.pages():
        graph[page_url(h, p)] = (i, h, p, links)

    def allowed(url: str) -> bool:
        host, _, path = url[len("http://"):].partition("/")
        prefix = disallow.get(host)
        return prefix is None or not ("/" + path).startswith(prefix)

    stats = dict(count_errors=0, count_retries=0, count_visited=0, count_collected=0)
    seen = set(seeds)
    results: set[str] = set()
    texts: dict[str, str] = {}
    queue = deque(u for u in dict.fromkeys(seeds) if allowed(u))
    while queue:
        url = queue.popleft()
        attempts = 0
        while True:
            attempts += 1
            stats["count_visited"] += 1
            if attempts <= timeouts.get(url, 0):
                stats["count_retries"] += 1
                if attempts < retry_count:
                    continue
                break  # retry budget spent: dropped
            page = graph.get(url)
            if page is None:
                stats["count_errors"] += 1
                break
            i, h, p, links = page
            stats["count_collected"] += 1
            results.add(url)
            texts[url] = shape.text(i, h, p)
            for link in links:
                if link not in seen:
                    seen.add(link)
                    if allowed(link):
                        queue.append(link)
            break
    return Expected(results, seen, stats, texts)


def digest(keys) -> str:
    """Order-insensitive digest of a collection of strings; duplicates
    change it."""
    h = hashlib.sha256()
    for k in sorted(keys):
        h.update(k.encode())
        h.update(b"\n")
    return h.hexdigest()
