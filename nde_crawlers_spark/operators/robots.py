"""robots.txt parsing — the ROBOTSTXT_OBEY half of politeness.

The reference delegates robots parsing to Scrapy's RobotsTxtMiddleware
(enabled via ROBOTSTXT_OBEY, tycho_crawler/files/settings.py:6; NCBI GEO
opts out, ncbi_geo_crawler/files/settings.py:20). Here the parser is a
small pure function applied to fetched robots.txt bodies inside an Arrow
batch stage, producing the ``robots_cache`` rows the frontier scheduler
broadcasts (operators/frontier.py::robots_filter / with_host_budget).

Supported subset (what crawlers actually honor): User-agent sections
with longest-agent-match selection between ``*`` and our token,
Disallow/Allow prefixes (Allow wins on longer match), Crawl-delay.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

AGENT_TOKEN = "nde-spark"

ROBOTS_RULES_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("disallow_prefixes", T.ArrayType(T.StringType())),
        T.StructField("allow_prefixes", T.ArrayType(T.StringType())),
        T.StructField("crawl_delay_ms", T.IntegerType()),
    ]
)


def parse_robots_txt(body: str, agent: str = AGENT_TOKEN, default_delay_ms: int = 500) -> dict:
    """Parse a robots.txt body into the rules record for ``agent``.

    Section selection: rules from the group whose User-agent most
    specifically matches (exact/substring token beats ``*``); groups may
    list several User-agent lines."""
    groups: list[tuple[list[str], dict]] = []
    agents: list[str] = []
    rules: dict = {"disallow": [], "allow": [], "delay": None}
    in_group = False
    for raw in body.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, val = (p.strip() for p in line.split(":", 1))
        key = key.lower()
        if key == "user-agent":
            if in_group and agents:
                groups.append((agents, rules))
                agents, rules = [], {"disallow": [], "allow": [], "delay": None}
            agents.append(val.lower())
            in_group = False
        elif key in ("disallow", "allow", "crawl-delay"):
            in_group = True
            if key == "disallow" and val:
                rules["disallow"].append(val)
            elif key == "allow" and val:
                rules["allow"].append(val)
            elif key == "crawl-delay":
                try:
                    rules["delay"] = float(val)
                except ValueError:
                    pass
    if agents:
        groups.append((agents, rules))

    best, best_len = None, -1
    a = agent.lower()
    for agents_g, rules_g in groups:
        for g in agents_g:
            if g == "*":
                match_len = 0
            elif g in a or a in g:
                match_len = len(g)
            else:
                continue
            if match_len > best_len:
                best, best_len = rules_g, match_len
    if best is None:
        return {"disallow_prefixes": [], "allow_prefixes": [],
                "crawl_delay_ms": default_delay_ms}
    # clamp to a sane range before the ms conversion: a hostile/malformed
    # Crawl-delay ('1e15', negative) must not overflow the IntegerType
    # column or read as an unlimited budget downstream
    delay_ms = (
        int(min(max(best["delay"], 0.0), 3600.0) * 1000)
        if best["delay"] is not None
        else default_delay_ms
    )
    return {"disallow_prefixes": sorted(best["disallow"]),
            "allow_prefixes": sorted(best["allow"]),
            "crawl_delay_ms": delay_ms}


def is_allowed(path: str, disallow: list[str], allow: list[str]) -> bool:
    """Longest-match wins; Allow breaks ties at equal length (Google
    semantics)."""
    d = max((len(p) for p in disallow if path.startswith(p)), default=-1)
    a = max((len(p) for p in allow if path.startswith(p)), default=-1)
    return a >= d


def parse_robots_bodies(hosts: DataFrame, body_of: Callable[[str], str | None]) -> DataFrame:
    """host -> robots_cache rows, Arrow-batched: each host's robots.txt
    body is ``body_of(host)`` (the crawl passes its fetcher's
    ``robots_txt``), parsed by ``parse_robots_txt``; a NULL body parses
    as an empty file."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for host in pdf["host"]:
                r = parse_robots_txt(body_of(host) or "")
                rows.append((host, r["disallow_prefixes"], r["allow_prefixes"], r["crawl_delay_ms"]))
            yield pd.DataFrame(rows, columns=ROBOTS_RULES_SCHEMA.fieldNames())

    return hosts.select("host").mapInPandas(_run, schema=ROBOTS_RULES_SCHEMA)
