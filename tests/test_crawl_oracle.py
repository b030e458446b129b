"""End-to-end crawl vs the straight-line Python oracle: crawl ordering,
URL-seen set, span-sequence equality (BASELINE.json north-rule
invariants), kill-resume replay, and ordering determinism across
partitioning configurations."""

from __future__ import annotations

import functools
import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest
from pyspark.sql import functions as F

from nde_crawlers_spark.operators import frontier as FR
from nde_crawlers_spark.operators import seen as SN
from nde_crawlers_spark.plans import crawl as CR
from nde_crawlers_spark.plans.crawl import CrawlConfig, CrawlRun
from nde_crawlers_spark.plans.oracle import crawl_oracle
from nde_crawlers_spark.sources.synthetic import make_seeds, synth_fetch

N_SEEDS, N_HOSTS, ROUNDS = 80, 10, 3


@pytest.fixture(scope="module")
def oracle():
    return crawl_oracle(make_seeds(N_SEEDS, N_HOSTS), N_HOSTS, round_seconds=2, max_rounds=ROUNDS)


@pytest.fixture(scope="module")
def one_core_crawl(tmp_path_factory):
    """The oracle scenario crawled by a separate local[1] process,
    through a failed round-1 write and a resume. It
    starts with the module's first test and runs alongside the others;
    test_crawl_at_one_core_matches_oracle waits for it."""
    d = tmp_path_factory.mktemp("local1")
    out, log = d / "invariants.json", d / "stderr.log"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(log, "w") as err:
        proc = subprocess.Popen(
            [sys.executable, "-m", "tests.test_crawl_oracle", str(out)],
            cwd=repo, env={**os.environ, "SPARK_DRIVER_MEM": "1g"},
            stdout=subprocess.DEVNULL, stderr=err,
        )
    yield proc, out, log
    if proc.poll() is None:
        proc.kill()
        proc.wait()


# start the local[1] crawl first, so it overlaps the module's other tests
pytestmark = pytest.mark.usefixtures("one_core_crawl")


def _seed_df(spark):
    return spark.createDataFrame(
        [(s["url"], s["priority"]) for s in make_seeds(N_SEEDS, N_HOSTS)], ["url", "priority"]
    )


def _invariants(run: CrawlRun):
    order = [
        (r["round"], r["priority"], r["seq"], r["url_hash"])
        for r in run.crawl_order().select("round", "priority", "seq", "url_hash").collect()
    ]
    seen = {r["url_hash"] for r in run.seen().collect()}
    docs = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in run.documents().collect()
    }
    return order, seen, docs


def _check_against_oracle(run: CrawlRun, oracle):
    order, seen, docs = _invariants(run)
    assert order == sorted(oracle.order), "crawl ordering diverged"
    assert seen == oracle.seen, "URL-seen set diverged"
    assert docs == {k: [tuple(s) for s in v] for k, v in oracle.documents.items()}, (
        "span sequences diverged"
    )
    # spans well-formed: offsets strictly increasing, kinds from vocabulary
    for spans in docs.values():
        offs = [s[3] for s in spans]
        assert offs == sorted(offs) and len(set(offs)) == len(offs)
        assert {s[0] for s in spans} <= {"title", "description", "author", "date", "keyword", "media"}


def _check_segment_geometry(run: CrawlRun, seg_table: str):
    """Each committed round's meta records the geometry of its
    ``seg_table``, and every row of that table carries exactly those
    values: the geometry the next round routes by is the one written."""
    for r in run.committed_rounds():
        geometry = run._meta(r)[seg_table]
        rows = run._read(seg_table, [r]).select(*geometry).distinct().collect()
        assert [row.asDict() for row in rows] == [geometry], (r, rows, geometry)


def _check_round_layout(run: CrawlRun):
    """Each committed round of a bloom-filtered crawl holds the tables
    ``CR.ROUND_TABLES`` declares: one data table, ``fetched``, beside the
    state resume needs, and exactly one frontier table: ``frontier_next``
    on snapshot rounds, ``frontier_add`` on the others. Each table's
    parquet footer schema is its declared schema, so a write that drifts
    from it fails here rather than being cast or null-filled by the
    schema'd reads. Each round's meta records the bloom table's geometry
    as its rows carry it. Crawl order, documents and lineage are
    read-time projections of ``fetched``, and lineage's totals agree
    with the crawl order."""
    cfg = run.cfg
    _check_segment_geometry(run, "bloom_segments")
    for r in run.committed_rounds():
        snapshot = not cfg.frontier_deltas or (r + 1) % CR.COMPACT_EVERY == 0
        rdir = os.path.join(run.run_dir, f"round={r:04d}")
        assert set(os.listdir(rdir)) == {"_COMMIT", *CR.ROUND_TABLES} - {
            "cuckoo_segments", "frontier_add" if snapshot else "frontier_next",
        }
        for name in os.listdir(rdir):
            if name != "_COMMIT":
                schema = run.spark.read.parquet(os.path.join(rdir, name)).schema
                assert schema == CR.ROUND_TABLES[name], (r, name, schema.simpleString())
    assert run.documents().columns == ["doc_id", "canonical_url", "spans", "round"]
    assert run.lineage().columns == [
        "partition_id", "host_bucket", "urls_fetched", "ok", "bytes", "wall_ms", "attempts",
        "round",
    ]
    lineage = run.lineage().agg(F.sum("urls_fetched"), F.sum("bytes")).first()
    order = run.crawl_order().agg(F.count("*"), F.sum("bytes")).first()
    assert tuple(lineage) == tuple(order)


def test_accessors_without_committed_rounds(spark):
    """A run directory with no committed round reads as the empty crawl:
    every accessor returns an empty frame with its usual columns."""
    run = CrawlRun(spark, tempfile.mkdtemp(prefix="crawl_e_"))
    for df, columns in (
        (run.crawl_order(), ["url_hash", "canonical_url", "host", "priority", "seq", "status",
                             "attempts", "bytes", "round"]),
        (run.documents(), ["doc_id", "canonical_url", "spans", "round"]),
        (run.lineage(), ["partition_id", "host_bucket", "urls_fetched", "ok", "bytes",
                         "wall_ms", "attempts", "round"]),
        (run.seen(), ["url_hash", "first_seen_round"]),
        (run.host_state(), ["host", "fetched_total", "bytes_total", "next_allowed_round",
                            "at_delay_ms"]),
    ):
        assert df.columns == columns
        assert df.count() == 0


def test_crawl_config_rejects_unknown_seen_filter():
    for mode in ("exact", "bloom", "cuckoo"):
        assert CrawlConfig(seen_filter=mode).seen_filter == mode
    with pytest.raises(ValueError, match="seen_filter"):
        CrawlConfig(seen_filter="Bloom")


@pytest.fixture(scope="module")
def default_run(spark):
    """One crawl of the oracle scenario under the shipped CrawlConfig
    defaults, shared by the tests that only read its committed tables."""
    cfg = CrawlConfig(num_hosts=N_HOSTS, round_seconds=2, max_rounds=ROUNDS)
    run = CrawlRun(spark, tempfile.mkdtemp(prefix="crawl_t_"), cfg)
    run.run(seeds=_seed_df(spark))
    return run


def test_crawl_matches_oracle(default_run, oracle):
    run = default_run
    _check_against_oracle(run, oracle)
    _check_round_layout(run)
    # 1->N fan-out actually exercised: some fetched records emit sample
    # docs (doc_id = url_hash#sK) alongside their dataset doc, and every
    # sample doc's parent dataset doc exists
    _, _, docs = _invariants(run)
    sample_ids = [d for d in docs if "#s" in d]
    assert len(sample_ids) > 0
    assert all(d.split("#")[0] in docs for d in sample_ids)


def test_crawl_bloom_segments_equal_full_rebuild(spark, default_run, oracle):
    """The round-committed incremental bloom-segment table (segments(r)
    = segments(r-1) OR build(delta_r)) must be BYTE-identical to
    rebuilding from the crawl's full seen set — the invariant that lets
    each round commit only its delta. Also pins that the e2e path runs
    bloom-ON (CrawlConfig default) and still matches the oracle."""
    run, cfg = default_run, default_run.cfg
    assert cfg.seen_filter == "bloom"  # bloom is the shipped default
    _check_against_oracle(run, oracle)

    last = run.committed_rounds()[-1]
    seg_dir = os.path.join(run.run_dir, f"round={last:04d}", "bloom_segments")
    assert os.path.isdir(seg_dir)
    committed = {
        r["seg"]: (r["bits"], r["nbits"], r["nhashes"])
        for r in spark.read.parquet(seg_dir).collect()
    }
    rebuilt = {
        r["seg"]: (r["bits"], r["nbits"], r["nhashes"])
        for r in SN.build_bloom_segments(
            run.seen().select("url_hash"), nseg=SN.FILTER_SEGMENTS, expected=SN.FILTER_CAPACITY,
        ).collect()
    }
    assert committed == rebuilt


def _round0_copy(run: CrawlRun, prefix: str) -> str:
    """A new run dir holding only ``run``'s committed round 0: what a run
    killed after round 0 leaves (a round's tables do not depend on
    max_rounds)."""
    d = tempfile.mkdtemp(prefix=prefix)
    shutil.copytree(os.path.join(run.run_dir, "round=0000"), os.path.join(d, "round=0000"))
    return d


def test_crawl_resume_replays_exactly(spark, default_run, oracle):
    """Kill after round 0 (a copy of the default crawl's round 0), resume
    to the full horizon: identical invariants to an uninterrupted run —
    the insert_last_updated / tmp+rename resume protocol analog."""
    d = _round0_copy(default_run, "crawl_r_")
    run1 = CrawlRun(spark, d, CrawlConfig(num_hosts=N_HOSTS, round_seconds=2, max_rounds=1))
    assert run1.committed_rounds() == [0]
    run2 = CrawlRun(spark, d, CrawlConfig(num_hosts=N_HOSTS, round_seconds=2, max_rounds=ROUNDS))
    run2.run(resume=True)
    assert run2.committed_rounds() == list(range(ROUNDS))
    _check_against_oracle(run2, oracle)


def test_resume_from_meta_without_geometry_rebuilds(spark, default_run, oracle, monkeypatch):
    """A round-0 meta that records no bloom geometry (as a run directory
    written before the meta carried it) resumes the way round 0 starts:
    round 1 takes the exact anti-join with no probe and rebuilds its
    table from the seen set at the geometry its own meta records, and
    round 2 probes that table. The crawl stays oracle-exact."""
    d = _round0_copy(default_run, "crawl_g_")
    marker = os.path.join(d, "round=0000", "_COMMIT")
    with open(marker) as f:
        meta = json.load(f)
    del meta["bloom_segments"]
    with open(marker, "w") as f:
        json.dump(meta, f)

    cfg = CrawlConfig(num_hosts=N_HOSTS, round_seconds=2, max_rounds=ROUNDS)
    run = CrawlRun(spark, d, cfg)
    probe, probed_in = SN.probe_bloom_segmented, []

    def counted(*args, **kwargs):
        probed_in.append(run.committed_rounds()[-1] + 1)  # the round running
        return probe(*args, **kwargs)

    monkeypatch.setattr(SN, "probe_bloom_segmented", counted)
    run.run(resume=True)
    _check_against_oracle(run, oracle)
    assert probed_in.count(1) == 0 and probed_in.count(2) == 1, probed_in

    geometry = run._meta(1)["bloom_segments"]
    committed = {
        r["seg"]: tuple(r) for r in run._read("bloom_segments", [1]).collect()
    }
    rebuilt = {
        r["seg"]: tuple(r)
        for r in SN.build_bloom_segments(
            run.seen().filter(F.col("first_seen_round") <= 1).select("url_hash"),
            nseg=geometry["nseg"], sizing=(geometry["nbits"], geometry["nhashes"]),
        ).collect()
    }
    assert committed == rebuilt


def test_resume_overwrites_uncommitted_partial_round(spark, default_run, oracle):
    """A crash mid-round leaves data files without the _COMMIT marker;
    resume must ignore and cleanly overwrite them (the
    delete-on-failure/invalidated-run analog,
    ncbi_geo_crawler/files/ndjson.py:17-23)."""
    d = _round0_copy(default_run, "crawl_x_")
    # fabricate a partial, uncommitted round 1: stale garbage data, no
    # marker, in the table every accessor reads
    partial = os.path.join(d, "round=0001")
    os.makedirs(os.path.join(partial, "fetched"), exist_ok=True)
    spark.createDataFrame([("junk",)], "url_hash string").write.mode("overwrite").parquet(
        os.path.join(partial, "fetched")
    )
    run2 = CrawlRun(spark, d, CrawlConfig(num_hosts=N_HOSTS, round_seconds=2, max_rounds=ROUNDS))
    assert run2.committed_rounds() == [0]  # partial round invisible
    run2.run(resume=True)
    _check_against_oracle(run2, oracle)


def test_crawl_job_entry_point_matches_oracle(spark, oracle, capsys):
    """jobs/crawl_job.py, the spark-submit entry point, run in-process
    on the oracle scenario: a fresh one-round run, then --resume to two
    rounds, crawls the oracle's rounds 0-1, and its summary line sums
    the committed round metas."""
    from jobs import crawl_job

    # main() takes the live session as it is (get_spark leaves its
    # settings alone) but sets the log level to WARN on purpose; put
    # that back
    level = spark._jvm.org.apache.logging.log4j.LogManager.getRootLogger().getLevel().toString()
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    d = tempfile.mkdtemp(prefix="crawl_job_")
    args = ["--run-dir", d, "--seeds", str(N_SEEDS), "--hosts", str(N_HOSTS),
            "--round-seconds", "2"]
    try:
        assert crawl_job.main(args + ["--rounds", "1"]) == 0
        assert crawl_job.main(args + ["--resume", "--rounds", "2"]) == 0
    finally:
        spark.sparkContext.setLogLevel(level)
    assert spark.conf.get("spark.sql.shuffle.partitions") == partitions
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    run = CrawlRun(spark, d, CrawlConfig(num_hosts=N_HOSTS, round_seconds=2, max_rounds=2))
    assert run.committed_rounds() == [0, 1]
    order, _, _ = _invariants(run)
    assert order == sorted(o for o in oracle.order if o[0] < 2)
    metas = [run._meta(r) for r in run.committed_rounds()]
    assert summary["rounds"] == len(metas)
    assert summary["documents"] == sum(m["documents"] for m in metas)
    assert summary["seen"] == sum(m["new_seen"] for m in metas)


def test_crawl_frontier_delta_mode_matches_oracle(spark, default_run, oracle, monkeypatch):
    """O(delta) frontier persistence (a snapshot every COMPACT_EVERY
    rounds, frontier_add on the others, the fetched keys as removes)
    must be indistinguishable from snapshot mode — including resume
    across a snapshot round and after a failed frontier write — and the
    run dir must read the same under either frontier_deltas value."""
    monkeypatch.setattr(CR, "COMPACT_EVERY", 2)
    d = tempfile.mkdtemp(prefix="crawl_d_")

    def cfg(max_rounds: int, deltas: bool = True) -> CrawlConfig:
        return CrawlConfig(num_hosts=N_HOSTS, round_seconds=2, max_rounds=max_rounds,
                           frontier_deltas=deltas)

    CrawlRun(spark, d, cfg(2)).run(seeds=_seed_df(spark))
    # round 1 is a snapshot round: the full frontier and no delta
    assert os.path.isdir(os.path.join(d, "round=0001", "frontier_next"))
    assert not os.path.isdir(os.path.join(d, "round=0001", "frontier_add"))

    # fault injection: the resumed run fails on its round-2 frontier
    # write, so round 2 must stay uncommitted
    failing = CrawlRun(spark, d, cfg(ROUNDS))
    write = failing._write

    def _write(df, r, name):
        if r == 2 and name.startswith("frontier_"):
            raise RuntimeError("injected frontier write failure")
        write(df, r, name)

    monkeypatch.setattr(failing, "_write", _write)
    with pytest.raises(RuntimeError, match="injected"):
        failing.run(resume=True)
    assert failing.committed_rounds() == [0, 1]
    assert not os.path.exists(os.path.join(d, "round=0002", "_COMMIT"))
    # a stale snapshot an earlier attempt left in the uncommitted round
    # must not shadow the delta the rerun writes there
    shutil.copytree(os.path.join(d, "round=0001", "frontier_next"),
                    os.path.join(d, "round=0002", "frontier_next"))

    run = CrawlRun(spark, d, cfg(ROUNDS))
    run.run(resume=True)
    _check_against_oracle(run, oracle)
    _check_round_layout(run)
    # reads only: a snapshot-mode run reads the delta-written dir, and
    # every round's frontier equals the snapshot crawl's frontier_next
    snap = CrawlRun(spark, d, cfg(ROUNDS, deltas=False))
    for r in run.committed_rounds():
        rows = sorted(tuple(x) for x in run._frontier_through(r).collect())
        assert sorted(tuple(x) for x in snap._frontier_through(r).collect()) == rows
        assert sorted(tuple(x) for x in default_run._read("frontier_next", [r]).collect()) == rows


def _round_rows(run: CrawlRun, r: int) -> dict:
    """Every table of committed round ``r`` as sorted JSON rows, less
    the two columns that vary between runs (fetch wall time and the
    Spark partition a URL was fetched in)."""
    out = {}
    for name in sorted(os.listdir(run._rdir(r))):
        if name == "_COMMIT":
            continue
        df = run._read(name, [r]).drop("fetch_wall_ms", "partition_id")
        out[name] = sorted(
            json.dumps(row.asDict(recursive=True), sort_keys=True, default=repr)
            for row in df.collect()
        )
    return out


@pytest.fixture(scope="module")
def default_round1(default_run):
    meta = default_run._meta(1)
    meta.pop("wall_s")
    return _round_rows(default_run, 1), meta


@pytest.mark.parametrize("fault", ["fetched", "new_seen", "robots_cache", "host_state",
                                   "bloom_segments", "frontier_next", "_commit"])
def test_round_fault_at_every_write_resumes_exactly(spark, default_run, default_round1, fault,
                                                    monkeypatch):
    """A round is a transaction: a failure at any one of its writes, or
    between the last write and the _COMMIT rename, leaves the round
    uncommitted and its caches released, and a resume writes the round
    exactly as the uninterrupted crawl did."""
    d = _round0_copy(default_run, "crawl_f_")
    cfg = CrawlConfig(num_hosts=N_HOSTS, round_seconds=2, max_rounds=2)
    failing = CrawlRun(spark, d, cfg)
    if fault == "_commit":
        commit = failing._commit

        def _commit(r, meta):
            if r == 1:
                raise RuntimeError("injected commit failure")
            commit(r, meta)

        monkeypatch.setattr(failing, "_commit", _commit)
    else:
        write = failing._write

        def _write(df, r, name):
            if r == 1 and name == fault:
                raise RuntimeError(f"injected {name} write failure")
            write(df, r, name)

        monkeypatch.setattr(failing, "_write", _write)

    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    with pytest.raises(RuntimeError, match="injected"):
        failing.run(resume=True)
    assert not os.path.exists(os.path.join(d, "round=0001", "_COMMIT"))
    assert persistent().size() == before, "the failed round left its caches persisted"

    run = CrawlRun(spark, d, cfg)
    run.run(resume=True)
    assert run.committed_rounds() == [0, 1]
    rows, meta = default_round1
    assert _round_rows(run, 1) == rows
    got = run._meta(1)
    got.pop("wall_s")
    assert got == meta


def test_crawl_order_independent_of_partitioning(spark, oracle, monkeypatch):
    """Same crawl at a different shuffle-partition count, salt factor and
    bloom prefilter: byte-identical ordering/seen/docs — the in-session
    proxy for N-vs-4N executor determinism (the two-process local[1]
    run is test_crawl_at_one_core_matches_oracle)."""
    monkeypatch.setattr(FR, "topk_per_host", functools.partial(FR.topk_per_host, salt_factor=3))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        run = CrawlRun(
            spark, tempfile.mkdtemp(prefix="crawl_p_"),
            CrawlConfig(num_hosts=N_HOSTS, round_seconds=2, max_rounds=ROUNDS),
        )
        run.run(seeds=_seed_df(spark))
        _check_against_oracle(run, oracle)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_retry_after_cooldown_matches_oracle(spark):
    """Retry-After feedback actually exercised: max_attempts=1 on a
    single-host frontier makes final-429s happen (verified below), the
    429'd host is barred for ceil(ra/round_seconds) rounds on BOTH sides,
    and ordering/seen still match exactly. Without the Spark-side
    feedback loop the crawl order diverges here."""
    seeds = [
        {"url": f"https://host-0000.example.org/records/{i}", "priority": i % 10}
        for i in range(200)
    ]
    oracle = crawl_oracle(seeds, 10, round_seconds=4, max_rounds=6, max_attempts=1)
    f429 = [x for x in oracle.failures if x[2] == 429]
    assert len(f429) > 0  # the scenario must actually hit the 429 path

    run = CrawlRun(
        spark, tempfile.mkdtemp(prefix="crawl_ra_"),
        CrawlConfig(num_hosts=10, round_seconds=4, max_rounds=6,
                    fetcher=lambda u: synth_fetch(u, 10, max_attempts=1)),
    )
    run.run(seeds=spark.createDataFrame(
        [(s["url"], s["priority"]) for s in seeds], ["url", "priority"]))
    order = [
        (r["round"], r["priority"], r["seq"], r["url_hash"])
        for r in run.crawl_order().select("round", "priority", "seq", "url_hash").collect()
    ]
    assert order == sorted(oracle.order), "crawl ordering diverged under cooldown"
    assert {r["url_hash"] for r in run.seen().collect()} == oracle.seen
    # the ledger recorded the cooldown
    hs = run.host_state()
    assert hs.filter(hs.next_allowed_round > 0).count() > 0


def test_autothrottle_adapts_budgets(spark, monkeypatch):
    """AutoThrottle wired into the LIVE scheduler (r4 task 1): after a
    crawl, systematically slow hosts (synth_latency_ms host bias) carry
    a larger adapted delay than fast hosts, and feeding the committed
    host_state back through with_host_budget SHRINKS a slow host's
    next-round budget below its politeness-only budget while a fast
    host with a real crawl-delay keeps its budget unchanged. The crawl
    itself stays oracle-exact with autothrottle ON (the latencies are
    corpus data, not wall-clock)."""
    from nde_crawlers_spark.sources.synthetic import _frac, robots_rules

    n_hosts, n_seeds = 20, 160
    seeds = make_seeds(n_seeds, n_hosts)
    # start at the FLOOR (not the shipped 5s START_DELAY default): this
    # test asserts adaptation DIRECTION from a common floor — a fast
    # host's budget must stay at politeness while a slow host's
    # shrinks. With the 5s start both classes begin throttled and the
    # fast host has not descended to the floor after 2 rounds; the
    # START_DELAY behavior has its own test below.
    orc = crawl_oracle(seeds, n_hosts, round_seconds=2, max_rounds=2,
                       at_start_delay_ms=None)
    d = tempfile.mkdtemp(prefix="crawl_at_")
    monkeypatch.setattr(FR, "AT_START_DELAY_MS", FR.AT_BASE_DELAY_MS)
    cfg = CrawlConfig(num_hosts=n_hosts, round_seconds=2, max_rounds=2)
    assert cfg.autothrottle  # autothrottle is the shipped default
    run = CrawlRun(spark, d, cfg)
    run.run(seeds=spark.createDataFrame(
        [(s["url"], s["priority"]) for s in seeds], ["url", "priority"]))
    order = [
        (r["round"], r["priority"], r["seq"], r["url_hash"])
        for r in run.crawl_order().select("round", "priority", "seq", "url_hash").collect()
    ]
    assert order == sorted(orc.order)
    assert {r["url_hash"] for r in run.seen().collect()} == orc.seen

    last = run.committed_rounds()[-1]
    robots = spark.read.parquet(os.path.join(d, f"round={last:04d}", "robots_cache"))
    state = spark.read.parquet(os.path.join(d, f"round={last:04d}", "host_state"))
    at = {r["host"]: r["at_delay_ms"] for r in state.collect()}
    slow = {h for h in at if _frac("lat-host:" + h) < 0.25}
    fast = set(at) - slow
    assert slow and fast, "fixture must exercise both latency classes"
    assert min(at[h] for h in slow) > max(at[h] for h in fast)

    hosts = state.select("host")
    with_at = {
        r["host"]: r["host_budget"]
        for r in FR.with_host_budget(
            hosts, robots, 2, host_state=state, current_round=last + 1
        ).collect()
    }
    plain = {
        r["host"]: r["host_budget"]
        for r in FR.with_host_budget(
            hosts, robots, 2, host_state=state.drop("at_delay_ms"), current_round=last + 1
        ).collect()
    }
    # throttling only ever lowers budgets (delay floor can only rise)
    assert all(with_at[h] <= plain[h] for h in with_at)
    crawl_delay = {h: robots_rules(h)["crawl_delay_ms"] for h in at}
    for h in slow:
        if crawl_delay[h] <= 500:
            assert with_at[h] < plain[h], f"slow host {h} budget did not shrink"
    for h in fast:
        if crawl_delay[h] >= 500:
            assert with_at[h] == plain[h], f"fast host {h} budget changed"


def test_crawl_bloom_adapts_to_seen_growth(spark, oracle, monkeypatch):
    """Adaptive segment sizing: with a deliberately-undersized
    ``SN.FILTER_CAPACITY``, the committed key count outgrows the persisted
    bit arrays mid-crawl and the round commit REBUILDS (larger nbits,
    2x-headroom sizing) instead of OR-ing into a saturating filter. The
    final table must still equal a from-scratch build at the adaptive
    size, and the crawl itself stays oracle-exact."""
    d = tempfile.mkdtemp(prefix="crawl_grow_")
    # round 0 commits ~N_SEEDS keys, later rounds add outlink URLs.
    # nseg=2 keeps per-segment counts above _seg_params' 64-key floor,
    # so the growing seen set genuinely outgrows the round-0 sizing and
    # the fpp budget forces a resize rebuild mid-crawl.
    monkeypatch.setattr(SN, "FILTER_CAPACITY", 32)
    monkeypatch.setattr(SN, "FILTER_SEGMENTS", 2)
    cfg = CrawlConfig(num_hosts=N_HOSTS, round_seconds=2, max_rounds=ROUNDS)
    run = CrawlRun(spark, d, cfg)
    run.run(seeds=_seed_df(spark))
    _check_against_oracle(run, oracle)

    rounds = run.committed_rounds()
    sizes, totals = [], []
    total = 0
    for r in rounds:
        with open(os.path.join(d, f"round={r:04d}", "_COMMIT")) as f:
            meta = json.load(f)
        total += meta["new_seen"]
        totals.append(total)
        geometry = meta["bloom_segments"]
        sizes.append((geometry["nseg"], geometry["nbits"], geometry["nhashes"]))
    # growth actually triggered at least one resize rebuild
    assert sizes[-1][1] > sizes[0][1], f"no adaptive rebuild happened: {sizes}"
    # every committed geometry satisfies the fpp budget for its own
    # committed key count (the adaptive guarantee)
    for (nseg, nbits, _k), tot in zip(sizes, totals):
        need_nbits, _ = SN._seg_params(max(SN.FILTER_CAPACITY, tot), nseg, SN.BLOOM_FPP)
        assert nbits >= need_nbits, (nbits, need_nbits, tot)
    # final table == full rebuild at the adaptive size it was born with
    last = rounds[-1]
    committed = {
        r["seg"]: (r["bits"], r["nseg"], r["nbits"], r["nhashes"])
        for r in spark.read.parquet(
            os.path.join(d, f"round={last:04d}", "bloom_segments")
        ).collect()
    }
    rebuilt = {
        r["seg"]: (r["bits"], r["nseg"], r["nbits"], r["nhashes"])
        for r in SN.build_bloom_segments(
            run.seen().select("url_hash"), nseg=SN.FILTER_SEGMENTS,
            sizing=(sizes[-1][1], sizes[-1][2]),
        ).collect()
    }
    assert committed == rebuilt


def test_crawl_bloom_nseg_change_on_resume_rebuilds(spark, oracle, monkeypatch):
    """The r4 ADVICE resume hazard: a resume under a DIFFERENT
    SN.FILTER_SEGMENTS must not probe the old table with new-config routing
    (bloom false negatives -> re-enqueued seen URLs). The persisted
    geometry makes probes route by the table's own nseg, and the next
    commit rebuilds under the new config — crawl stays oracle-exact
    and the final table carries the new segment count."""
    d = tempfile.mkdtemp(prefix="crawl_nseg_")
    monkeypatch.setattr(SN, "FILTER_SEGMENTS", 16)
    cfg1 = CrawlConfig(num_hosts=N_HOSTS, round_seconds=2, max_rounds=1)
    CrawlRun(spark, d, cfg1).run(seeds=_seed_df(spark))

    monkeypatch.setattr(SN, "FILTER_SEGMENTS", 4)
    cfg2 = CrawlConfig(num_hosts=N_HOSTS, round_seconds=2, max_rounds=ROUNDS)
    run2 = CrawlRun(spark, d, cfg2)
    run2.run(resume=True)
    _check_against_oracle(run2, oracle)
    last = run2.committed_rounds()[-1]
    segs = spark.read.parquet(os.path.join(d, f"round={last:04d}", "bloom_segments"))
    assert {r["nseg"] for r in segs.select("nseg").collect()} == {4}


def test_autothrottle_fast_host_budget_grows_from_start_delay(spark):
    """Scrapy's AUTOTHROTTLE_START_DELAY separated from the floor: with
    a high start delay (5s), every host begins throttled; across
    observations a FAST host's adapted delay shrinks toward the floor —
    its with_host_budget output GROWS back to the politeness budget —
    while a slow host stays pinned near 1. The crawl remains
    oracle-exact with the same start parameter."""
    from nde_crawlers_spark.sources.synthetic import robots_rules

    n_hosts, n_seeds = 20, 240
    seeds = make_seeds(n_seeds, n_hosts)
    orc = crawl_oracle(seeds, n_hosts, round_seconds=2, max_rounds=2,
                       at_start_delay_ms=FR.AT_START_DELAY_MS)
    d = tempfile.mkdtemp(prefix="crawl_sd_")
    cfg = CrawlConfig(num_hosts=n_hosts, round_seconds=2, max_rounds=2)
    run = CrawlRun(spark, d, cfg)
    run.run(seeds=spark.createDataFrame(
        [(s["url"], s["priority"]) for s in seeds], ["url", "priority"]))
    order = [
        (r["round"], r["priority"], r["seq"], r["url_hash"])
        for r in run.crawl_order().select("round", "priority", "seq", "url_hash").collect()
    ]
    assert order == sorted(orc.order)
    assert {r["url_hash"] for r in run.seen().collect()} == orc.seen

    last = run.committed_rounds()[-1]
    robots = spark.read.parquet(os.path.join(d, f"round={last:04d}", "robots_cache"))
    state = spark.read.parquet(os.path.join(d, f"round={last:04d}", "host_state"))
    hosts = state.select("host")
    # budget at the START delay (pre-observation) vs after adaptation
    seeded = state.withColumn("at_delay_ms", F.lit(5000.0))

    def budgets(st):
        return {
            r["host"]: r["host_budget"]
            for r in FR.with_host_budget(
                hosts, robots, 2, host_state=st, current_round=last + 1
            ).collect()
        }

    b_start, b_adapted = budgets(seeded), budgets(state)
    at = {r["host"]: r["at_delay_ms"] for r in state.collect()}
    crawl_delay = {h: robots_rules(h)["crawl_delay_ms"] for h in at}
    from nde_crawlers_spark.sources.synthetic import _frac as fr_
    fast = [h for h in at if fr_("lat-host:" + h) >= 0.25 and crawl_delay[h] <= 500]
    slow = [h for h in at if fr_("lat-host:" + h) < 0.25 and crawl_delay[h] <= 500]
    assert fast and slow
    # a fast host that got observations has adapted DOWN -> budget GREW
    grew = [h for h in fast if b_adapted[h] > b_start[h]]
    assert grew, (at, b_start, b_adapted)
    # slow hosts stay near the start-delay budget (delay >= ~1300ms)
    for h in slow:
        assert at[h] > 1000.0, (h, at[h])


def test_crawl_cuckoo_seen_filter_matches_oracle(spark, oracle, monkeypatch):
    """The crawl's membership prefilter is pluggable (north rule:
    'partitioned cuckoo/bloom URL-seen filter'): with
    seen_filter='cuckoo' the rounds maintain per-segment cuckoo tables
    (insert-per-round, capacity-checked) instead of bloom segments, and
    the crawl stays byte-identical to the oracle. The committed table
    has NO false negatives for the full seen set (incremental inserts
    preserve membership even when eviction walks spill to the stash)."""
    from nde_crawlers_spark.operators import cuckoo as CK

    d = tempfile.mkdtemp(prefix="crawl_ck_")
    monkeypatch.setattr(SN, "FILTER_SEGMENTS", 8)
    monkeypatch.setattr(SN, "FILTER_CAPACITY", 4096)
    cfg = CrawlConfig(num_hosts=N_HOSTS, round_seconds=2, max_rounds=ROUNDS,
                      seen_filter="cuckoo")
    run = CrawlRun(spark, d, cfg)
    run.run(seeds=_seed_df(spark))
    _check_against_oracle(run, oracle)
    last = run.committed_rounds()[-1]
    segs = spark.read.parquet(os.path.join(d, f"round={last:04d}", "cuckoo_segments"))
    # written as declared: the footer schema is the one the reads assume
    assert segs.schema == CR.ROUND_TABLES["cuckoo_segments"]
    _check_segment_geometry(run, "cuckoo_segments")
    nseg = run._meta(last)["cuckoo_segments"]["nseg"]
    assert nseg == 8
    probed = CK.probe_cuckoo_segmented(run.seen().select("url_hash"), segs, nseg)
    assert probed.filter(~F.col("__maybe_seen")).count() == 0
    # and no bloom table was written in cuckoo mode
    assert not os.path.isdir(os.path.join(d, f"round={last:04d}", "bloom_segments"))


def test_crawl_recrawl_ttl_in_loop(spark, monkeypatch):
    """TTL recrawl INSIDE the crawl loop (cfg.recrawl_ttl_rounds, the
    figshare EXPIRE analog): keys seen >= ttl rounds ago leave the
    active seen set and their fingerprints are evicted from the
    committed cuckoo segments via the guarded delete — so a
    re-discovered expired URL is genuinely RE-FETCHED by a later round.

    Corpus: a closed ring of 16 URLs over 2 hosts where every page
    links to the next two ring members (ring small enough to wrap within the run) — re-discovery of expired keys
    is guaranteed, unlike the open synthetic URL space. Asserts, for
    BOTH frontier modes (snapshot and delta): re-fetches happen, never
    before expiry, identical order/seen/docs across modes, expired-and-
    not-refreshed fingerprints absent from the committed segments while
    every active key still probes present, and the commit meta carries
    the guarded-delete rebuild counter."""
    from nde_crawlers_spark.operators import cuckoo as CK

    RING, HOSTS, TTL, ROUNDS_TTL = 8, 2, 2, 8

    class RingFetcher:
        """Deterministic closed-world fetcher: /records/i links to
        i+1, i+2 (mod RING), alternating hosts; allow-all robots."""

        def __call__(self, url: str) -> dict:
            i = int(url.rsplit("/", 1)[1])
            links = "".join(
                f'<a href="https://h{(i + k) % HOSTS}.example.org/records/{(i + k) % RING}"></a>'
                for k in (1, 2)
            )
            body = (
                f"<html><body><h1>ring {i}</h1><p>ring page {i} of the closed "
                f"corpus</p>{links}</body></html>"
            )
            return {
                "status": 200, "attempts": 1, "kind": "html", "body": body,
                "bytes": len(body), "retry_after_s": 0, "latency_ms": 10.0,
            }

        def robots_txt(self, host: str) -> str:
            return ""  # allow-all

    seeds = spark.createDataFrame(
        [(f"https://h{i % HOSTS}.example.org/records/{i}", 0) for i in range(4)],
        ["url", "priority"],
    )
    monkeypatch.setattr(SN, "FILTER_SEGMENTS", 4)
    monkeypatch.setattr(SN, "FILTER_CAPACITY", 2048)
    results = {}
    for mode, extra in (("snapshot", {}), ("delta", {"frontier_deltas": True})):
        d = tempfile.mkdtemp(prefix=f"crawl_ttl_{mode}_")
        cfg = CrawlConfig(
            num_hosts=HOSTS, round_seconds=2, max_rounds=ROUNDS_TTL,
            seen_filter="cuckoo", recrawl_ttl_rounds=TTL, autothrottle=False,
            fetcher=RingFetcher(), **extra,
        )
        run = CrawlRun(spark, d, cfg)
        metas = run.run(seeds=seeds)
        order = [
            (r["round"], r["url_hash"])
            for r in run.crawl_order().select("round", "url_hash").collect()
        ]
        # re-fetches happened, and never before the TTL horizon
        by_key: dict[str, list[int]] = {}
        for rnd, h in order:
            by_key.setdefault(h, []).append(rnd)
        refetched = {h: rs for h, rs in by_key.items() if len(rs) > 1}
        assert refetched, "ring corpus must re-fetch expired URLs"
        for h, rs in by_key.items():
            for a, b in zip(rs, rs[1:]):
                assert b - a >= TTL, (h, rs, "re-fetched before expiry")
        # guarded-delete observability in the commit meta
        assert all("cuckoo_rebuilds_total" in m for m in metas[TTL:])
        assert metas[-1]["cuckoo_rebuilds_total"] >= 0
        # committed segments: active keys all present; keys whose NEWEST
        # sighting has expired are deleted (deterministic corpus ->
        # deterministic probe outcome)
        last = run.committed_rounds()[-1]
        segs = spark.read.parquet(os.path.join(d, f"round={last:04d}", "cuckoo_segments"))
        _check_segment_geometry(run, "cuckoo_segments")
        nseg = run._meta(last)["cuckoo_segments"]["nseg"]
        newest = run.seen().groupBy("url_hash").agg(
            F.max("first_seen_round").alias("fsr"))
        horizon = last - TTL
        active = newest.filter(F.col("fsr") > horizon)
        expired = newest.filter(F.col("fsr") <= horizon)
        assert expired.count() > 0
        probed_active = CK.probe_cuckoo_segmented(active.select("url_hash"), segs, nseg)
        assert probed_active.filter(~F.col("__maybe_seen")).count() == 0
        probed_exp = CK.probe_cuckoo_segmented(expired.select("url_hash"), segs, nseg)
        assert probed_exp.filter(F.col("__maybe_seen")).count() == 0
        results[mode] = (
            sorted(order),
            {r["url_hash"] for r in run.seen().collect()},
            sorted(
                (r["doc_id"], str(r["spans"]))
                for r in run.documents().collect()
            ),
        )
    assert results["snapshot"] == results["delta"], "TTL crawl diverged across frontier modes"


def test_ttl_requeue_never_fetches_twice(spark):
    """Recrawl TTL where hosts queue more URLs than their round budget:
    keys expire while still queued and are rediscovered, and fetched
    keys are queued again and wait. Each must stay one frontier row — no
    URL is fetched twice in a round, and every round's ``frontier_next``
    equals the frontier the next round reads — and both frontier modes
    crawl the same URLs."""
    HOSTS, PER_HOST = 2, 10
    N = HOSTS * PER_HOST

    def url(i: int) -> str:
        return f"https://q{i % HOSTS}.example.org/records/{i % N}"

    class QueueFetcher:
        """Closed universe of N pages; page i links to the next three.
        Robots allow every path at a 1 s crawl delay: each host's budget
        is 2 per 2 s round, below its queue of 10."""

        def __call__(self, u: str) -> dict:
            i = int(u.rsplit("/", 1)[1])
            links = "".join(f'<a href="{url(i + k)}"></a>' for k in (1, 2, 3))
            body = f"<html><body><h1>page {i}</h1><p>queued page {i}</p>{links}</body></html>"
            return {
                "status": 200, "attempts": 1, "kind": "html", "body": body,
                "bytes": len(body), "retry_after_s": 0, "latency_ms": 10.0,
            }

        def robots_txt(self, host: str) -> str:
            return "User-agent: *\nCrawl-delay: 1\n"

    # seeds outrank rediscovered URLs, so a fetched key queued again
    # after its TTL waits in the frontier behind the seeds
    seeds = spark.createDataFrame([(url(i), 0) for i in range(N)], ["url", "priority"])
    orders = []
    for deltas in (False, True):
        cfg = CrawlConfig(
            num_hosts=HOSTS, round_seconds=2, max_rounds=2, seen_filter="exact",
            recrawl_ttl_rounds=1, autothrottle=False, frontier_deltas=deltas,
            fetcher=QueueFetcher(),
        )
        run = CrawlRun(spark, tempfile.mkdtemp(prefix="crawl_ttlq_"), cfg)
        metas = run.run(seeds=seeds)
        assert len(metas) == cfg.max_rounds
        assert all(m["frontier_next"] > 0 for m in metas)  # budgets below the queue
        # the exact filter keeps no membership-filter segments
        for r in run.committed_rounds():
            tables = os.listdir(os.path.join(run.run_dir, f"round={r:04d}"))
            assert not [t for t in tables if t.endswith("_segments")], tables
        twice = run.crawl_order().groupBy("round", "url_hash").count().filter("count > 1")
        assert twice.count() == 0, twice.collect()
        for m in metas:
            rows, keys = run._frontier_through(m["round"]).agg(
                F.count("*"), F.countDistinct("url_hash")
            ).first()
            assert m["frontier_next"] == rows == keys, (m, rows, keys)
        orders.append([tuple(x) for x in run.crawl_order().select("round", "url_hash").collect()])
    assert orders[0] == orders[1], "TTL crawl diverged across frontier modes"


def _crawl_invariants_at(cores: int, out_path: str) -> None:
    """Run the oracle scenario in a new session on ``cores`` cores,
    interrupted: round 0, then a resume whose round-1 ``fetched`` write
    fails, then a resume to the full horizon by a fresh run. Write the
    order, seen set and docs, and whether the failed round committed,
    to ``out_path`` as JSON."""
    from nde_crawlers_spark.session import get_spark

    spark = get_spark(app_name="nde-tests-cores", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    d = tempfile.mkdtemp(prefix="crawl_c_")

    def cfg(max_rounds: int) -> CrawlConfig:
        return CrawlConfig(num_hosts=N_HOSTS, round_seconds=2, max_rounds=max_rounds)

    CrawlRun(spark, d, cfg(1)).run(seeds=_seed_df(spark))
    failing = CrawlRun(spark, d, cfg(ROUNDS))
    write = failing._write

    def _write(df, r, name):
        if r == 1 and name == "fetched":
            raise RuntimeError("injected fetched write failure")
        write(df, r, name)

    failing._write = _write
    try:
        failing.run(resume=True)
    except RuntimeError as e:
        if "injected" not in str(e):
            raise
    failed_round_committed = os.path.exists(os.path.join(d, "round=0001", "_COMMIT"))

    run = CrawlRun(spark, d, cfg(ROUNDS))
    run.run(resume=True)
    order, seen, docs = _invariants(run)
    with open(out_path, "w") as f:
        json.dump({"order": order, "seen": sorted(seen), "docs": docs,
                   "failed_round_committed": failed_round_committed}, f)
    spark.stop()


def test_crawl_at_one_core_matches_oracle(oracle, one_core_crawl):
    """N-vs-4N determinism across processes: the oracle scenario in a
    separate local[1] session (one shuffle partition), resumed after a
    failed round-1 write that left the round uncommitted, gives the
    oracle's order, seen set and docs, which the local[16] runs above
    also give."""
    proc, out, log = one_core_crawl
    assert proc.wait(timeout=900) == 0, log.read_text()[-4000:]
    got = json.loads(out.read_text())
    assert not got["failed_round_committed"]
    assert [tuple(o) for o in got["order"]] == sorted(oracle.order)
    assert set(got["seen"]) == oracle.seen
    assert {k: [tuple(s) for s in v] for k, v in got["docs"].items()} == {
        k: [tuple(s) for s in v] for k, v in oracle.documents.items()
    }


if __name__ == "__main__":
    _crawl_invariants_at(1, sys.argv[1])
