"""robots.txt gate semantics (reference ``src/robots.rs``,
``src/workload.rs:100-109``)."""

from __future__ import annotations

from hypothesis import example, given, settings
from hypothesis import strategies as st

from doonop_spark.operators.robots import (
    DEFAULT_ROBOT,
    crawl_delay_of,
    is_allowed,
    robots_gate,
)

ROBOTS = """# example
User-agent: *
Disallow: /private/
Allow: /private/ok.html
Crawl-delay: 2

User-agent: DoonopRobot
Disallow: /secret/
Crawl-delay: 0.5
"""


def test_longest_match_and_allow_tie():
    assert is_allowed(ROBOTS, "/public/x", "OtherBot")
    assert not is_allowed(ROBOTS, "/private/x", "OtherBot")
    # longest-match: Allow /private/ok.html beats Disallow /private/
    assert is_allowed(ROBOTS, "/private/ok.html", "OtherBot")


def test_specific_agent_group_wins():
    # DoonopRobot group overrides *: /private/ allowed, /secret/ not
    assert is_allowed(ROBOTS, "/private/x", DEFAULT_ROBOT)
    assert not is_allowed(ROBOTS, "/secret/x", DEFAULT_ROBOT)
    assert crawl_delay_of(ROBOTS, DEFAULT_ROBOT) == 0.5
    assert crawl_delay_of(ROBOTS, "OtherBot") == 2


def test_fetch_miss_skips():
    # host with no robots row → silently skipped (src/workload.rs:100-109)
    assert not is_allowed(None, "/anything")


def test_wildcards():
    txt = "User-agent: *\nDisallow: /*.pdf$\n"
    assert not is_allowed(txt, "/a/b/file.pdf")
    assert is_allowed(txt, "/a/b/file.pdf.html")


def test_empty_disallow_allows_all():
    txt = "User-agent: *\nDisallow:\n"
    assert is_allowed(txt, "/anything")


def test_robots_gate_spark(spark):
    frontier = spark.createDataFrame(
        [
            ("http://a.example/ok", "a.example"),
            ("http://a.example/secret/x", "a.example"),
            ("http://missing.example/x", "missing.example"),
            ("javascript:void(0)", None),  # hostless → always allowed (F7)
        ],
        "url string, host string",
    )
    robots = spark.createDataFrame(
        [("a.example", "User-agent: *\nDisallow: /secret/\n")],
        "host string, robots_txt string",
    )
    got = sorted(
        r.url for r in robots_gate(frontier, robots, use_robots=True).collect()
    )
    assert got == ["http://a.example/ok", "javascript:void(0)"]
    # gate off → passthrough
    assert robots_gate(frontier, robots, use_robots=False).count() == 4


def test_ua_exact_token_never_substring():
    """RFC 9309 §2.2.1 / cylon: exact case-insensitive product-token match
    only — robot 'Doonop' falls through to '*' when the named groups are
    'doonopbot' and 'doo' (substring matching in either direction would
    wrongly bind it to one of them)."""
    txt = (
        "User-agent: doonopbot\nDisallow: /bot/\n\n"
        "User-agent: doo\nDisallow: /doo/\n\n"
        "User-agent: *\nDisallow: /star/\n"
    )
    assert is_allowed(txt, "/bot/x", "Doonop")  # not 'doonopbot'
    assert is_allowed(txt, "/doo/x", "Doonop")  # not 'doo' either
    assert not is_allowed(txt, "/star/x", "Doonop")  # '*' is its group
    # ...and the exact token binds, case-insensitively
    assert not is_allowed(txt, "/bot/x", "DoonopBot")
    assert is_allowed(txt, "/star/x", "DoonopBot")


def test_ua_product_token_truncation():
    """Google ExtractUserAgent: 'FooBot/2.1 (+url)' matches group 'foobot';
    version suffixes on the group line are likewise truncated."""
    txt = "User-agent: FooBot/1.0\nDisallow: /x/\n"
    assert not is_allowed(txt, "/x/y", "FooBot/2.1 (+http://example.com)")
    assert not is_allowed(txt, "/x/y", "foobot")
    assert is_allowed(txt, "/x/y", "BarBot")  # no '*' group ⇒ no rules


def test_ua_matching_groups_merge():
    """RFC 9309: multiple groups naming the same token combine."""
    txt = (
        "User-agent: a\nDisallow: /one/\n\n"
        "User-agent: b\nDisallow: /b/\n\n"
        "User-agent: a\nDisallow: /two/\nCrawl-delay: 3\n"
    )
    assert not is_allowed(txt, "/one/x", "A")
    assert not is_allowed(txt, "/two/x", "A")
    assert is_allowed(txt, "/b/x", "A")
    assert crawl_delay_of(txt, "A") == 3


# rule and path pieces: regex metacharacters, the '*'/'$' wildcards and a
# literal \E — drawn from one small vocabulary so rules and paths overlap
_PIECES = ["/", "a", "b", ".", "+", "?", "(", ")", "[", "]", "{", "}", "|",
           "^", "\\", "E", "\\E", "*", "$"]
_AGENTS = ["DoonopRobot", "OtherBot", "*", "doonop"]


def _joined(pieces):
    return st.lists(st.sampled_from(pieces), max_size=5).map("".join)


_rule = st.tuples(
    st.sampled_from(["Allow", "Disallow"]),
    _joined(_PIECES),  # "" = empty Disallow
)
_group = st.tuples(
    st.lists(st.sampled_from(_AGENTS), min_size=1, max_size=2),
    st.lists(_rule, max_size=4),
)


def _robots_txt(groups):
    return "\n\n".join(
        "".join(f"User-agent: {a}\n" for a in agents)
        + "".join(f"{d}: {p}\n" for d, p in rules)
        for agents, rules in groups
    )


_host_robots = st.one_of(
    st.none(),  # a robots row whose fetch failed (NULL robots_txt)
    st.lists(_group, min_size=1, max_size=3).map(_robots_txt),
)
_url = st.tuples(
    st.integers(0, 6),  # host index; indexes past the table have no row
    _joined([p for p in _PIECES if p != "?"]),  # '?' would end the path
    st.one_of(st.none(), _joined(["a", "=", "&", "/", "*", "$"])),  # query
)


@settings(max_examples=12, deadline=None, derandomize=True)
@given(
    st.lists(_host_robots, min_size=1, max_size=5),
    st.lists(_url, min_size=1, max_size=40),
)
@example(
    ["User-agent: *\nDisallow: /a\\Eb\nDisallow: /*.x$\nAllow: /(a\n"],
    [(0, "a\\Eb", None), (0, "a\\Ec", None), (0, "q.x", None),
     (0, "q.x", "y"), (0, "q.xy", None), (0, "(ab", None), (0, "", None)],
)
def test_jvm_gate_matches_is_allowed(spark, host_robots, urls):
    """The JVM gate keeps exactly the rows ``is_allowed`` admits, for a
    robot with its own groups and one that falls back to '*': each
    generated host carries robots.txt or a NULL fetch miss, host indexes
    past the table have no robots row at all, and a hostless URL always
    passes (F7). The query never takes part in matching."""
    robots = spark.createDataFrame(
        [(f"h{i}.example", t) for i, t in enumerate(host_robots)],
        "host string, robots_txt string",
    )
    rows = [("javascript:void(0)", None, None, None)]
    for i, path, query in urls:
        url = f"http://h{i}.example/{path}" + ("" if query is None else "?" + query)
        rows.append((url, f"h{i}.example", i, "/" + path))
    wave = spark.createDataFrame(
        rows, "url string, host string, i int, path string"
    )
    for robot in ("DoonopRobot", "ZetaBot"):
        want = sorted(
            url
            for url, host, i, path in rows
            if host is None
            or (i < len(host_robots) and is_allowed(host_robots[i], path, robot))
        )
        got = sorted(
            r.url for r in robots_gate(wave, robots, robot, use_robots=True).collect()
        )
        assert got == want, robot
