"""Single-threaded Python crawl oracle.

Plays the role the reference code itself plays for parity testing
(SURVEY §5): a straight-line, obviously-correct implementation of the
exact crawl semantics — same canonicalization, same robots rules, same
politeness budgets, same total order, same synthetic corpus — against
which the Spark plan must produce an identical crawl ordering, URL-seen
set, and span sequences (BASELINE.json north_rule invariants).

Everything here is deliberately naive (dicts, sets, sorted lists); the
only shared code with the Spark path is the *pure-function* corpus
(sources/synthetic.py) and parser (operators/parse.py::parse_body) —
the scheduling/dedup/ordering logic is re-derived independently so the
test actually cross-checks the Spark implementation.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass, field

from ..operators.parse import parse_record
from ..sources.synthetic import robots_rules, synth_fetch


def canonical_url_py(url: str) -> str:
    """Mirror of functions/urls.py::canonical_url (column expression)."""
    u = url.split("#")[0]
    if "://" in u:
        scheme, rest = u.split("://", 1)
        scheme = scheme.lower()
    else:
        scheme, rest = "", u
    hostport = re.match(r"[^/?]*", rest).group(0)
    pathq = rest[len(hostport):]
    if ":" in hostport:
        host, port = hostport.split(":", 1)
    else:
        host, port = hostport, ""
    host = host.lower()
    keep_port = port != "" and not (
        (scheme == "https" and port == "443") or (scheme == "http" and port == "80")
    )
    portpart = f":{port}" if keep_port else ""
    path = pathq.split("?")[0]
    query = pathq.split("?", 1)[1] if "?" in pathq else ""
    path = path.rstrip("/") or "/"
    qpart = "?" + "&".join(sorted(query.split("&"))) if query else ""
    return f"{scheme}://{host}{portpart}{path}{qpart}"


def url_hash_py(canon: str) -> str:
    return hashlib.sha256(canon.encode("utf-8")).hexdigest()


def hash_seq_py(canon: str) -> int:
    return int(hashlib.md5(canon.encode("utf-8")).hexdigest()[:12], 16)


def host_of(url: str) -> str:
    rest = url.split("://", 1)[1] if "://" in url else url
    return re.match(r"[^/?]*", rest).group(0).split(":")[0].lower()


def path_of(canon: str) -> str:
    rest = canon.split("://", 1)[1]
    hostport = re.match(r"[^/?]*", rest).group(0)
    pathq = rest[len(hostport):]
    return pathq.split("?")[0] or "/"


def at_fold(xs: list[float], acc: float, base: float, maxd: float, conc: float) -> float:
    """The Scrapy AutoThrottle recurrence over signed latencies (the
    same fold the batch plan runs in plans/crawl.py host_state):
    target = |latency|/C; next = clamp(max(target, (delay + target)/2),
    base, max) — including Scrapy's max(target, mean) step, so one very
    slow response raises the delay to its full target. A negative value
    marks a failed fetch, which may only RAISE the delay."""
    for x in xs:
        tgt = abs(x) / conc
        nd = min(max(tgt, (acc + tgt) / 2, base), maxd)
        acc = nd if x >= 0 else max(acc, nd)
    return acc


@dataclass
class OracleResult:
    order: list = field(default_factory=list)       # [(round, priority, seq, url_hash)]
    seen: set = field(default_factory=set)          # {url_hash}
    documents: dict = field(default_factory=dict)   # url_hash -> [span tuples]
    doc_urls: dict = field(default_factory=dict)    # doc_id -> canonical url
    failures: list = field(default_factory=list)    # [(round, url_hash, status)]
    rounds: list = field(default_factory=list)      # per-round counters


def crawl_oracle(
    seeds: list[dict],
    num_hosts: int,
    round_seconds: int = 2,
    max_rounds: int = 5,
    max_attempts: int = 3,
    discovered_priority: int = 5,
    autothrottle: bool = True,
    at_base_delay_ms: float = 500.0,
    at_max_delay_ms: float = 60_000.0,
    at_concurrency: float = 1.0,
    at_start_delay_ms: float | None = 5000.0,
) -> OracleResult:
    res = OracleResult()
    frontier: dict[str, tuple] = {}  # url_hash -> (priority, seq, canon, host)
    robots: dict[str, dict] = {}
    cooldown: dict[str, int] = {}    # host -> next_allowed_round (Retry-After)
    at_delay: dict[str, float] = {}  # host -> AutoThrottle-adapted delay (ms)
    candidates = [(s["url"], int(s["priority"])) for s in seeds]

    for r in range(max_rounds):
        # canonicalize + dedupe (keep best (priority, seq, url) per hash)
        best: dict[str, tuple] = {}
        for url, prio in candidates:
            scheme = url.split("://", 1)[0].lower() if "://" in url else ""
            if scheme not in ("http", "https"):
                continue
            canon = canonical_url_py(url)
            h = url_hash_py(canon)
            seq = hash_seq_py(canon)
            key = (prio, seq, h, url)
            if h not in best or key < best[h]:
                best[h] = key
        # unseen filter + robots + enqueue
        for h, (prio, seq, _h, url) in sorted(best.items()):
            if h in res.seen:
                continue
            res.seen.add(h)
            canon = canonical_url_py(url)
            host = host_of(canon)
            if host not in robots:
                robots[host] = robots_rules(host)
            if any(path_of(canon).startswith(p) for p in robots[host]["disallow_prefixes"]):
                continue
            frontier[h] = (prio, seq, canon, host)

        # politeness top-k per host
        per_host: dict[str, list] = {}
        for h, (prio, seq, canon, host) in frontier.items():
            per_host.setdefault(host, []).append((prio, seq, h, canon))
        selected: list[tuple] = []
        for host, items in per_host.items():
            if cooldown.get(host, 0) > r:
                continue  # Retry-After cooldown: budget 0 this round
            delay = float(robots[host]["crawl_delay_ms"])
            if autothrottle:
                # adapted delay can only RAISE the robots/default floor
                delay = max(delay, at_delay.get(host, 0.0))
            k = (
                round_seconds * 1000
                if delay <= 0
                else max(int(round_seconds * 1000 // delay), 1)
            )
            for prio, seq, h, canon in sorted(items)[:k]:
                selected.append((prio, seq, h, canon, host))

        # fetch + parse
        n_docs = 0
        ra_by_host: dict[str, int] = {}
        lat_hist: dict[str, list[float]] = {}  # signed: -lat marks a failure
        next_candidates: list[tuple] = []
        for prio, seq, h, canon, host in sorted(selected):
            res.order.append((r, prio, seq, h))
            del frontier[h]
            f = synth_fetch(canon, num_hosts, max_attempts)
            lat = float(f["latency_ms"])
            lat_hist.setdefault(host, []).append(lat if f["status"] == 200 else -lat)
            if f["status"] != 200:
                res.failures.append((r, h, f["status"]))
                if f["status"] == 429:
                    ra_by_host[host] = max(ra_by_host.get(host, 0), f["retry_after_s"])
                continue
            docs, links = parse_record(f["kind"], f["body"])
            for role, spans in docs:
                key = h if role == "" else f"{h}#{role}"
                res.documents[key] = spans
                res.doc_urls[key] = canon
            n_docs += 1
            next_candidates.extend((u, discovered_priority) for u in links)

        # Retry-After feedback: hosts that ended the round in a 429 are
        # barred for ceil(ra / round_seconds) rounds (mirror of
        # plans/crawl.py host_state.next_allowed_round)
        for host, ra in ra_by_host.items():
            nar = r + -(-ra // round_seconds)  # ceil
            cooldown[host] = max(cooldown.get(host, 0), nar)

        # AutoThrottle adaptation (mirror of plans/crawl.py host_state):
        # fold each host's signed latencies in crawl order, seeded with
        # its previous adapted delay (base for new hosts); failures may
        # only raise the delay
        if autothrottle:
            start = at_start_delay_ms if at_start_delay_ms is not None else at_base_delay_ms
            for host, xs in lat_hist.items():
                at_delay[host] = at_fold(
                    xs, at_delay.get(host, start), at_base_delay_ms, at_max_delay_ms,
                    at_concurrency,
                )

        res.rounds.append(
            {"round": r, "selected": len(selected), "documents": n_docs,
             "frontier_next": len(frontier), "outlinks": len(next_candidates)}
        )
        candidates = next_candidates
        if not frontier and not next_candidates:
            break
    return res
