"""Real-socket fetch behind the injectable fetch contract.

Proves the claim fetch.py has carried since round 1 — "the fetch body
swaps for an HTTP client with the same contract" — with actual sockets:
a loopback ThreadingHTTPServer replays the deterministic synthetic
corpus (bodies, statuses, per-attempt retry draws, Retry-After headers,
robots.txt bytes) over HTTP, and

- ``HttpFetcher`` (stdlib urllib, bounded retries) returns records
  field-identical to ``synth_fetch`` (latency_ms excepted — it is real
  wall-clock here), and
- a full 2-round ``CrawlRun`` driven through ``LoopbackProxyFetcher``
  produces byte-identical crawl order / seen set / span sequences to
  the same crawl over the in-process corpus (AutoThrottle OFF for the
  byte-equality claim: with it ON the measured — genuinely
  nondeterministic — latencies feed the delay fold, which is the
  intended production behavior but unpinnable in a test).

Reference: the Scrapy downloader stack these rounds replace
(tycho_crawler/files/settings.py:2-6 — AUTOTHROTTLE over real latency,
RETRY_TIMES-bounded retries, ROBOTSTXT_OBEY).
"""

from __future__ import annotations

import tempfile
import threading
from collections import defaultdict
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from nde_crawlers_spark.operators.frontier import AT_BASE_DELAY_MS, AT_MAX_DELAY_MS
from nde_crawlers_spark.operators.http_fetch import HttpFetcher, LoopbackProxyFetcher
from nde_crawlers_spark.plans.crawl import CrawlConfig, CrawlRun
from nde_crawlers_spark.sources.synthetic import (
    _status_draw,
    make_seeds,
    render_body,
    render_robots_txt,
    retry_after_s,
    synth_body,
    synth_fetch,
)

N_HOSTS = 10


class _CorpusHandler(BaseHTTPRequestHandler):
    """Replay gateway: GET /{host}{path} serves the synthetic page for
    the LOGICAL url https://{host}{path}; /{host}/robots.txt serves the
    host's robots bytes. Per-URL request counters drive the SAME
    per-attempt status draws synth_fetch folds internally, so a real
    retry loop observes the same 429/500-then-200 sequences."""

    server_version = "corpus/0.1"
    protocol_version = "HTTP/1.1"

    def log_message(self, *a):  # silence per-request stderr
        pass

    def _reply(self, status: int, body: bytes = b"", headers: dict | None = None):
        self.send_response(status)
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        if body:
            self.wfile.write(body)

    def do_GET(self):
        rest = self.path.lstrip("/")
        host, _, path = rest.partition("/")
        if path == "robots.txt":
            self._reply(200, render_robots_txt(host).encode(),
                        {"Content-Type": "text/plain"})
            return
        logical = f"https://{rest}"
        with self.server.lock:
            attempt = self.server.counts[logical]
            self.server.counts[logical] += 1
        status = _status_draw(logical, attempt)
        if status == 200:
            page = synth_body(logical, self.server.num_hosts)
            self._reply(200, render_body(page).encode(),
                        {"Content-Type": "text/plain", "X-NDE-Kind": page["kind"]})
        elif status == 429:
            self._reply(429, headers={"Retry-After": str(retry_after_s(logical))})
        else:
            self._reply(status)


@pytest.fixture()  # function-scoped: per-URL attempt counters must
# start fresh per test — the corpus replays per-attempt status draws,
# so a counter advanced by another test's fetch of the same URL would
# shift this test's retry sequences
def corpus():
    """The running corpus server; ``counts`` maps each logical page URL
    to the number of requests it has served."""
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _CorpusHandler)
    srv.counts = defaultdict(int)
    srv.lock = threading.Lock()
    srv.num_hosts = N_HOSTS
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv
    srv.shutdown()


@pytest.fixture()
def corpus_server(corpus):
    return f"http://127.0.0.1:{corpus.server_address[1]}"


def test_http_fetcher_matches_synth_contract(corpus_server):
    """Field-identical records over real sockets, including bounded
    retries (attempts), 404 finality, and Retry-After capture."""
    from nde_crawlers_spark.plans.oracle import canonical_url_py

    fetcher = LoopbackProxyFetcher(corpus_server, max_attempts=3)
    urls = sorted({canonical_url_py(s["url"]) for s in make_seeds(120, N_HOSTS)})
    statuses = set()
    for u in urls:
        got = fetcher(u)
        want = synth_fetch(u, N_HOSTS, 3)
        got.pop("latency_ms"), want.pop("latency_ms")  # real vs corpus-data
        assert got == want, u
        statuses.add(got["status"])
    assert 200 in statuses and statuses - {200}, "fixture must exercise failures too"


def test_http_robots_bytes(corpus_server):
    fetcher = LoopbackProxyFetcher(corpus_server)
    for host in ("host0.example.org", "host3.example.org"):
        assert fetcher.robots_txt(host) == render_robots_txt(host)


def test_crawl_run_over_real_sockets(spark, corpus, corpus_server):
    """2 crawl rounds through CrawlRun with the HTTP fetcher: crawl
    order, seen set, and span sequences byte-identical to the
    in-process corpus run (AutoThrottle OFF — see module docstring).
    Every selected page is requested exactly its recorded ``attempts``
    times and never again: nothing recomputes a round's fetch."""
    seeds = make_seeds(60, N_HOSTS)
    seed_df = spark.createDataFrame(
        [(s["url"], s["priority"]) for s in seeds], ["url", "priority"])

    def _drive(fetcher):
        cfg = CrawlConfig(num_hosts=N_HOSTS, round_seconds=2, max_rounds=2,
                          autothrottle=False, fetcher=fetcher)
        run = CrawlRun(spark, tempfile.mkdtemp(prefix="crawl_http_"), cfg)
        run.run(seeds=seed_df)
        order = [(r["round"], r["priority"], r["seq"], r["url_hash"])
                 for r in run.crawl_order()
                 .select("round", "priority", "seq", "url_hash").collect()]
        seen = {r["url_hash"] for r in run.seen().collect()}
        docs = {r["doc_id"]: [tuple(s) for s in r["spans"]]
                for r in run.documents().collect()}
        return order, seen, docs, run

    *http, run = _drive(LoopbackProxyFetcher(corpus_server, max_attempts=3))
    attempts = {
        r["canonical_url"]: r["attempts"]
        for r in run._read("fetched", run.committed_rounds())
        .select("canonical_url", "attempts").collect()
    }
    assert dict(corpus.counts) == attempts, "a page was requested other than its attempts times"
    *synth, _ = _drive(None)
    assert http[0] == synth[0], "crawl order diverged over real sockets"
    assert http[1] == synth[1], "seen set diverged"
    assert http[2] == synth[2], "span sequences diverged"
    assert len(http[2]) > 20


def test_http_fetcher_timeout_and_refused(corpus_server):
    """Transport-level failure modes: a hanging endpoint times out and
    a refused connection errors — both retried up to max_attempts and
    reported as status 0 with empty body (the transport-error contract
    the crawl plan treats as a failed fetch, like any 5xx)."""
    import socket

    # refused: bind-then-close guarantees nothing listens on the port
    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    dead_port = s.getsockname()[1]
    s.close()
    f = HttpFetcher(max_attempts=2, timeout_s=0.5)
    rec = f(f"http://127.0.0.1:{dead_port}/records/1")
    assert rec["status"] == 0 and rec["attempts"] == 2 and rec["body"] == ""
    assert rec["bytes"] == 0 and rec["retry_after_s"] == 0

    # hang: a socket that accepts but never responds -> timeout
    hang = socket.socket()
    hang.bind(("127.0.0.1", 0))
    hang.listen(1)
    try:
        f2 = HttpFetcher(max_attempts=2, timeout_s=0.3)
        rec2 = f2(f"http://127.0.0.1:{hang.getsockname()[1]}/records/2")
        assert rec2["status"] == 0 and rec2["attempts"] == 2
        assert rec2["latency_ms"] >= 250  # the timeout was actually waited
    finally:
        hang.close()


def test_retry_after_http_date_form():
    """RFC 9110 allows Retry-After as delta-seconds OR an HTTP-date;
    real servers emit both. The date form must convert to seconds, not
    silently read as 0 (which would skip the host's backoff hint)."""
    import email.utils
    import time as _time

    from nde_crawlers_spark.operators.http_fetch import _retry_after_s

    assert _retry_after_s({"Retry-After": "17"}) == 17
    assert _retry_after_s({"Retry-After": "-3"}) == 0
    assert _retry_after_s({"Retry-After": "soon"}) == 0
    assert _retry_after_s({}) == 0
    when = email.utils.formatdate(_time.time() + 30, usegmt=True)
    assert 25 <= _retry_after_s({"Retry-After": when}) <= 31
    past = email.utils.formatdate(_time.time() - 60, usegmt=True)
    assert _retry_after_s({"Retry-After": past}) == 0


class _FlakyRobotsHandler(_CorpusHandler):
    """Corpus gateway whose robots.txt endpoints 503 for the first
    ``robots_failures`` requests per host, then serve normally — the
    transient-robots scenario Scrapy's robots middleware survives by
    downloading robots.txt through the retrying downloader."""

    def do_GET(self):
        rest = self.path.lstrip("/")
        host, _, path = rest.partition("/")
        if path == "robots.txt":
            with self.server.lock:
                n = self.server.robots_counts[host]
                self.server.robots_counts[host] += 1
            if n < self.server.robots_failures:
                self._reply(503)
                return
        super().do_GET()


def test_robots_txt_retries_transient_503():
    """A robots.txt that 503s twice then serves must still come back
    with the host's real robots bytes — a single-shot fetch would have
    read '' = allow-all and turned politeness OFF for the round."""
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _FlakyRobotsHandler)
    srv.counts = defaultdict(int)
    srv.robots_counts = defaultdict(int)
    srv.robots_failures = 2
    srv.lock = threading.Lock()
    srv.num_hosts = N_HOSTS
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        fetcher = LoopbackProxyFetcher(base, max_attempts=3)
        host = "host2.example.org"
        assert fetcher.robots_txt(host) == render_robots_txt(host)
        assert srv.robots_counts[host] == 3  # 503, 503, 200
        # one attempt short -> still the allow-all fallback, not a crash
        short = LoopbackProxyFetcher(base, max_attempts=2)
        srv.robots_counts.clear()
        assert short.robots_txt(host) == ""
    finally:
        srv.shutdown()


def test_crawl_cuckoo_and_http_compose(spark, corpus_server):
    """Feature composition: the cuckoo seen-filter and the HTTP fetcher
    are orthogonal config axes — a crawl with BOTH (real sockets, TTL-
    capable segmented seen store) still produces byte-identical outputs
    to the all-default in-process run with the same scheduling config
    (AutoThrottle OFF, see module docstring)."""
    seeds = make_seeds(50, N_HOSTS)
    seed_df = spark.createDataFrame(
        [(s["url"], s["priority"]) for s in seeds], ["url", "priority"])

    def _drive(**kw):
        cfg = CrawlConfig(num_hosts=N_HOSTS, round_seconds=2, max_rounds=2,
                          autothrottle=False, **kw)
        run = CrawlRun(spark, tempfile.mkdtemp(prefix="crawl_ck_http_"), cfg)
        run.run(seeds=seed_df)
        order = [(r["round"], r["priority"], r["seq"], r["url_hash"])
                 for r in run.crawl_order()
                 .select("round", "priority", "seq", "url_hash").collect()]
        return order, {r["url_hash"] for r in run.seen().collect()}

    combo = _drive(seen_filter="cuckoo",
                   fetcher=LoopbackProxyFetcher(corpus_server, max_attempts=3))
    plain = _drive()
    assert combo == plain


class _SlowHostHandler(_CorpusHandler):
    """Corpus gateway that sleeps ``slow_s`` before serving any document
    of ``slow_host`` — a genuinely slow origin for the AutoThrottle-ON
    invariant test (robots.txt stays fast: the latency fold only ever
    sees document fetches)."""

    def do_GET(self):
        rest = self.path.lstrip("/")
        host, _, path = rest.partition("/")
        if path != "robots.txt" and host == self.server.slow_host:
            import time as _t
            _t.sleep(self.server.slow_s)
        super().do_GET()


def test_crawl_autothrottle_on_real_sockets(spark):
    """The shipped production configuration — AutoThrottle ON over real
    sockets — integration-tested via the invariants that survive real
    (nondeterministic) latency. The synthetic link space is ~10^7 ids,
    so the frontier never drains and whole-run set equality is
    latency-dependent by design; what is NOT:

    1. ROUND-0 crawl order is bit-identical to the in-process corpus
       run — first-round budgets come from robots/default floors, not
       latency (the fold's start-delay seed binds from round 2);
    2. for every doc id BOTH runs harvested, the span sequences are
       identical (the north rule's per-row invariant, now under real
       adapted scheduling);
    3. politeness ceiling: no host exceeds floor(round_ms/at_base)
       fetches in any round — the hard upper bound no adapted delay
       can relax;
    4. every fetched host's adapted delay lands in [at_base, at_max];
    5. a deliberately slowed origin (0.6 s handler sleep > the 500 ms
       floor target) ends STRICTLY above the floor and above every
       fast host (Scrapy AUTOTHROTTLE's observable contract)."""
    slow_host = "host-0001.example.org"
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _SlowHostHandler)
    srv.counts = defaultdict(int)
    srv.lock = threading.Lock()
    srv.num_hosts = N_HOSTS
    srv.slow_host = slow_host
    srv.slow_s = 0.6
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        seeds = make_seeds(40, N_HOSTS)
        seed_df = spark.createDataFrame(
            [(s["url"], s["priority"]) for s in seeds], ["url", "priority"])
        round_seconds = 10

        def _drive(fetcher):
            cfg = CrawlConfig(num_hosts=N_HOSTS, round_seconds=round_seconds,
                              max_rounds=3, autothrottle=True,
                              fetcher=fetcher)
            run = CrawlRun(spark, tempfile.mkdtemp(prefix="crawl_at_"), cfg)
            run.run(seeds=seed_df)
            return run

        real = _drive(LoopbackProxyFetcher(base, max_attempts=3))
        corp = _drive(None)

        def _order0(run):
            return [(r["priority"], r["seq"], r["url_hash"])
                    for r in run.crawl_order().filter("round = 0")
                    .select("priority", "seq", "url_hash").collect()]

        assert _order0(real) == _order0(corp), "round-0 order is latency-free"

        docs_r = {r["doc_id"]: [tuple(s) for s in r["spans"]]
                  for r in real.documents().collect()}
        docs_c = {r["doc_id"]: [tuple(s) for s in r["spans"]]
                  for r in corp.documents().collect()}
        both = set(docs_r) & set(docs_c)
        assert len(both) > 20
        diverged = [d for d in both if docs_r[d] != docs_c[d]]
        assert not diverged, f"span sequences diverged for {diverged[:3]}"

        ceiling = round_seconds * 1000 // int(AT_BASE_DELAY_MS)
        per_round = (
            real.crawl_order().groupBy("round", "host").count().collect())
        for r in per_round:
            assert r["count"] <= ceiling, (r["round"], r["host"], r["count"])

        hs = real.host_state().collect()
        delays = {r["host"]: r["at_delay_ms"] for r in hs if r["fetched_total"] > 0}
        assert slow_host in delays and len(delays) >= 5
        fast = {h: d for h, d in delays.items() if h != slow_host}
        for h, d in delays.items():
            assert AT_BASE_DELAY_MS <= d <= AT_MAX_DELAY_MS, (h, d)
        # 0.6 s sleep -> observed latency/target >= ~600 ms > the 500 ms
        # floor; fast loopback hosts converge onto the floor
        assert delays[slow_host] >= 550, delays[slow_host]
        assert delays[slow_host] > max(fast.values()), (delays[slow_host], fast)
    finally:
        srv.shutdown()
