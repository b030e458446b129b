"""robots.txt parser: section selection, Allow-overrides, crawl-delay,
Arrow batch integration."""

from __future__ import annotations

from nde_crawlers_spark.operators.robots import (
    is_allowed, parse_robots_bodies, parse_robots_txt,
)

ROBOTS = """
# comments ignored
User-agent: *
Disallow: /private/
Disallow: /tmp/
Crawl-delay: 2

User-agent: nde-spark
Disallow: /private/
Allow: /private/public-subdir/
Crawl-delay: 0.5

User-agent: evilbot
Disallow: /
"""


def test_parse_selects_most_specific_agent():
    r = parse_robots_txt(ROBOTS, agent="nde-spark")
    assert r["crawl_delay_ms"] == 500
    assert r["disallow_prefixes"] == ["/private/"]
    assert r["allow_prefixes"] == ["/private/public-subdir/"]
    # generic agent falls back to *
    r2 = parse_robots_txt(ROBOTS, agent="someone-else")
    assert r2["crawl_delay_ms"] == 2000
    assert r2["disallow_prefixes"] == ["/private/", "/tmp/"]
    # empty body -> defaults (open, reference DOWNLOAD_DELAY)
    r3 = parse_robots_txt("", agent="nde-spark")
    assert r3 == {"disallow_prefixes": [], "allow_prefixes": [], "crawl_delay_ms": 500}


def test_allow_longest_match_wins():
    r = parse_robots_txt(ROBOTS, agent="nde-spark")
    assert not is_allowed("/private/secret", r["disallow_prefixes"], r["allow_prefixes"])
    assert is_allowed("/private/public-subdir/file", r["disallow_prefixes"], r["allow_prefixes"])
    assert is_allowed("/records/1", r["disallow_prefixes"], r["allow_prefixes"])


def test_parse_robots_bodies_batch(spark):
    bodies = {"h1.org": ROBOTS, "h2.org": "", "h3.org": None}
    df = spark.createDataFrame([(h,) for h in bodies], "host string")
    rows = {r["host"]: r for r in parse_robots_bodies(df, bodies.get).collect()}
    assert rows["h1.org"]["crawl_delay_ms"] == 500
    assert rows["h2.org"]["disallow_prefixes"] == []
    assert rows["h3.org"]["crawl_delay_ms"] == 500


def test_robots_render_parse_roundtrip():
    """The crawl plan fetches robots.txt BODIES and parses them with the
    real parser; parse(render(host)) must round-trip to the semantic
    rules exactly for every host shape (no-disallow, disallow, 0-delay,
    2s-delay)."""
    from nde_crawlers_spark.operators.robots import parse_robots_txt
    from nde_crawlers_spark.sources.synthetic import render_robots_txt, robots_rules

    seen_shapes = set()
    for i in range(300):
        host = f"host-{i:04d}.example.org"
        want = robots_rules(host)
        got = parse_robots_txt(render_robots_txt(host))
        assert got["disallow_prefixes"] == want["disallow_prefixes"], host
        assert got["crawl_delay_ms"] == want["crawl_delay_ms"], host
        seen_shapes.add((bool(want["disallow_prefixes"]), want["crawl_delay_ms"]))
    # the corpus actually exercises all rule shapes
    assert len(seen_shapes) >= 4


def test_crawl_robots_allow_overrides_disallow(spark, tmp_path):
    """A robots.txt that closes a host but opens a subtree, read through
    a fetcher's ``robots_txt``, keeps that subtree crawlable: the crawl's
    robots cache keeps the Allow prefixes, and the frontier's robots
    filter applies ``is_allowed``'s rule (longest match wins, Allow wins
    a tie). A NULL prefix array, as read from a run dir written before
    ``allow_prefixes`` existed, counts as empty."""
    from nde_crawlers_spark.operators import frontier as FR
    from nde_crawlers_spark.plans.crawl import CrawlConfig, CrawlRun

    bodies = {
        "a.org": "User-agent: *\nDisallow: /\nAllow: /public/\n",
        "b.org": "User-agent: *\nDisallow: /same/\nAllow: /same/\nDisallow: /x/y/\nAllow: /x/\n",
        "c.org": "",
    }

    def fetch(url):
        raise AssertionError("only robots.txt is fetched here")

    fetch.robots_txt = lambda host: bodies[host]
    run = CrawlRun(spark, str(tmp_path), CrawlConfig(fetcher=fetch))
    hosts = spark.createDataFrame([(h,) for h in bodies], "host string")
    robots = run._update_robots(run._read("robots_cache", []), hosts)
    rules = {r["host"]: (r["disallow_prefixes"], r["allow_prefixes"]) for r in robots.collect()}
    assert rules == {
        "a.org": (["/"], ["/public/"]),
        "b.org": (["/same/", "/x/y/"], ["/same/", "/x/"]),
        "c.org": ([], []),
    }
    # d.org predates allow_prefixes; e.org has no robots row at all
    robots = robots.unionByName(spark.createDataFrame(
        [("d.org", ["/private/"], None, 500)], robots.schema))
    paths = ["/", "/public", "/public/a", "/same/a", "/x/a", "/x/y/a", "/private/a", "/open"]
    cands = spark.createDataFrame(
        [(h, p) for h in [*bodies, "d.org", "e.org"] for p in paths], "host string, path string")
    kept = {(r["host"], r["path"]) for r in FR.robots_filter(cands, robots).collect()}
    rules["d.org"], rules["e.org"] = (["/private/"], []), ([], [])
    assert kept == {
        (h, p) for h, (d, a) in rules.items() for p in paths if is_allowed(p, d, a)
    }
    assert ("a.org", "/public/a") in kept and ("a.org", "/open") not in kept
    assert ("b.org", "/same/a") in kept and ("b.org", "/x/y/a") not in kept
