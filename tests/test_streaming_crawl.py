"""Streaming crawl pipeline: scheduler -> foreachBatch fetch+parse with
persistent seen table, deferred re-emission, and incremental second
drain that does not re-fetch."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from nde_crawlers_spark.sources.synthetic import make_seeds
from nde_crawlers_spark.streaming.crawl_stream import StreamingCrawl


def _write_candidates(spark, root: str, name: str, rows: list[tuple]) -> None:
    del name  # file-stream sources don't recurse: append flat part files
    spark.createDataFrame(rows, "url string, priority int, asof_s double").coalesce(1) \
        .write.mode("append").parquet(os.path.join(root, "candidates"))


def test_streaming_crawl_drain_and_incremental(spark):
    root = tempfile.mkdtemp(prefix="scrawl_")
    sc = StreamingCrawl(spark, root, num_hosts=10, crawl_delay_ms=500)

    seeds = make_seeds(30, 10)
    _write_candidates(spark, root, "b1", [(s["url"], s["priority"], 0.0) for s in seeds])
    sc.run_available_now()

    docs1 = sc.documents()
    n1 = docs1.count()
    seen1 = {r["url_hash"] for r in sc.seen().collect()}
    assert n1 > 0
    # failures are seen but produce no doc; sample docs (url_hash#role)
    # fan out beyond the seen set, so compare dataset docs only
    n_dataset = docs1.filter(~F.col("doc_id").contains("#")).count()
    assert len(seen1) >= n_dataset
    # spans well-formed
    row = docs1.first()
    kinds = [s["kind"] for s in row["spans"]]
    assert kinds[:2] == ["title", "description"]
    # politeness: hosts over budget got deferred
    assert sc.deferred().count() + len(seen1) == 30

    # second drain with NEW candidates + a repeat of already-seen URLs:
    # repeats must not re-fetch (seen table), new ones must
    more = make_seeds(60, 10)[30:]
    repeat = seeds[:5]
    _write_candidates(
        spark, root, "b2",
        [(s["url"], s["priority"], 10.0) for s in more + repeat],
    )
    sc.run_available_now()
    seen2 = {r["url_hash"] for r in sc.seen().collect()}
    assert seen1 <= seen2
    assert len(seen2) > len(seen1)
    # no url_hash appears in two seen batches (never fetched twice)
    dup = (
        sc.seen().groupBy("url_hash").count().filter(F.col("count") > 1).count()
    )
    assert dup == 0


def test_streaming_crawl_three_batches_defer_retry_and_replay(spark):
    """Three drains with deferred retries fed back in, then a manual
    replay of the last micro-batch: replay must be idempotent (the batch
    recomputes its own unseen set against strictly earlier batches) —
    the crash-between-seen-write-and-checkpoint case."""
    import glob

    root = tempfile.mkdtemp(prefix="scrawl3_")
    sc = StreamingCrawl(spark, root, num_hosts=6, crawl_delay_ms=500)

    seeds = make_seeds(40, 6)
    _write_candidates(spark, root, "b1", [(s["url"], s["priority"], 0.0) for s in seeds])
    sc.run_available_now()
    deferred1 = sc.deferred().collect()
    assert len(deferred1) > 0  # 6 hosts x burst 4 < 40 urls

    # batch 2: the deferred rows re-enter as candidates (the retry loop)
    _write_candidates(
        spark, root, "b2",
        [(r["url"], r["priority"], r["asof_s"] + 4.0) for r in deferred1],
    )
    sc.run_available_now()

    # batch 3: fresh urls + repeats of batch-1 urls (must not re-fetch)
    more = make_seeds(52, 6)[40:]
    _write_candidates(
        spark, root, "b3",
        [(s["url"], s["priority"], 20.0) for s in more + seeds[:4]],
    )
    sc.run_available_now()

    seen_all = sc.seen().groupBy("url_hash").count()
    assert seen_all.filter(F.col("count") > 1).count() == 0  # fetched once ever
    docs = sc.documents()
    n_docs = docs.count()
    assert docs.select("doc_id").distinct().count() == n_docs

    # ---- replay the highest committed batch by hand: idempotent ----
    batch_dirs = sorted(glob.glob(os.path.join(root, "seen", "batch=*")))
    last_id = int(batch_dirs[-1].split("=")[-1])
    docs_dir = os.path.join(root, "documents", f"batch={last_id:06d}")
    before_docs = sorted(
        r["doc_id"] for r in spark.read.parquet(docs_dir).select("doc_id").collect()
    ) if os.listdir(docs_dir) else []
    before_seen = sorted(
        r["url_hash"] for r in spark.read.parquet(batch_dirs[-1]).collect()
    )
    # rebuild the decisions frame the scheduler would replay: all
    # candidates of that batch (deterministic state => same decisions);
    # here we simply re-run _process_batch with the SAME decisions rows,
    # which is what the checkpoint replays
    from nde_crawlers_spark.functions import urls as U2
    from nde_crawlers_spark.streaming.politeness import schedule_with_state  # noqa: F401

    cand3 = spark.createDataFrame(
        [(s["url"], s["priority"], 20.0) for s in more + seeds[:4]],
        "url string, priority int, asof_s double",
    )
    deferred3 = {
        r["url"]
        for r in spark.read.parquet(
            os.path.join(root, "deferred", f"batch={last_id:06d}")
        ).collect()
    }
    keyed = (
        U2.with_url_columns(cand3)
        .withColumn("seq", U2.hash_seq(F.col("canonical_url")))
        .withColumn(
            "decision",
            F.when(F.col("url").isin(list(deferred3)), F.lit("defer")).otherwise(
                F.lit("fetch")
            ),
        )
        .withColumn("tokens_left", F.lit(0.0))
    )
    sc._process_batch(keyed, last_id)
    after_docs = sorted(
        r["doc_id"] for r in spark.read.parquet(docs_dir).select("doc_id").collect()
    ) if os.listdir(docs_dir) else []
    after_seen = sorted(
        r["url_hash"] for r in spark.read.parquet(batch_dirs[-1]).collect()
    )
    assert after_seen == before_seen
    assert after_docs == before_docs
    assert len(after_seen) > 0


def test_streaming_seen_compaction_bounds_batch_inputs(spark):
    """Crossing a compaction boundary folds the seen deltas into one
    snapshot: the per-batch seen read touches at most
    1 snapshot + compact_every tail deltas (round 2 read ALL history
    every micro-batch), the seen SET is unchanged, and the replay guard
    still sees only strictly-earlier state."""
    import os as _os

    root = tempfile.mkdtemp(prefix="scomp_")
    sc = StreamingCrawl(spark, root, num_hosts=6, crawl_delay_ms=500,
                        compact_every=2)

    all_seeds = make_seeds(60, 6)
    for i, lo in enumerate((0, 20, 40)):  # three drains -> batch ids 0,1,2
        _write_candidates(
            spark, root, f"b{i}",
            [(s["url"], s["priority"], 10.0 * i) for s in all_seeds[lo:lo + 20]],
        )
        sc.run_available_now()

    # compaction fired at batch 1 (compact_every=2) and is committed
    assert sc._snapshots() == [1]
    assert _os.path.exists(
        _os.path.join(root, "seen_compacted", "upto=000001", "_COMMIT")
    )

    # the current seen() plan reads snapshot + tail only: 2 input dirs,
    # strictly fewer than the 3 on-disk batch deltas
    inputs = {_os.path.dirname(f) for f in sc.seen().inputFiles()}
    assert len(inputs) == 2
    batch_dirs = [d for d in _os.listdir(_os.path.join(root, "seen"))
                  if d.startswith("batch=")]
    assert len(batch_dirs) == 3

    # seen SET identical to the raw union of all deltas; still no dups
    raw = spark.read.parquet(
        *[_os.path.join(root, "seen", d) for d in sorted(batch_dirs)]
    )
    assert {r["url_hash"] for r in sc.seen().collect()} == {
        r["url_hash"] for r in raw.collect()
    }
    assert sc.seen().groupBy("url_hash").count().filter(F.col("count") > 1).count() == 0

    # replay guard: batch 2's view must NOT include batch 2's own delta,
    # and must come from the snapshot (upto=1) + nothing else
    view2 = sc.seen(before_batch=2)
    inputs2 = {_os.path.dirname(f) for f in view2.inputFiles()}
    assert len(inputs2) == 1 and "upto=000001" in next(iter(inputs2))
    b2 = {r["url_hash"] for r in spark.read.parquet(
        _os.path.join(root, "seen", "batch=000002")).collect()}
    assert not ({r["url_hash"] for r in view2.collect()} & b2)

    # replay guard vs the snapshot itself: a re-run of batch 1 must not
    # see snapshot upto=1 (which folded batch 1 in) — only batch 0
    view1 = sc.seen(before_batch=1)
    inputs1 = {_os.path.dirname(f) for f in view1.inputFiles()}
    assert len(inputs1) == 1 and "batch=000000" in next(iter(inputs1))

    # GC with a SINGLE committed snapshot is a no-op: snapshot upto=1 was
    # written inside batch 1's _process_batch, BEFORE the checkpoint
    # committed batch 1 — a crash in that window replays batch 1, whose
    # view needs delta batch=000000. (ADVICE r3: GC'ing up to the newest
    # snapshot deleted exactly that delta.)
    assert sc.gc_seen_deltas() == []
    assert sorted(
        d for d in _os.listdir(_os.path.join(root, "seen")) if d.startswith("batch=")
    ) == ["batch=000000", "batch=000001", "batch=000002"]

    # a fourth drain -> batch 3 -> second snapshot upto=3; the in-loop GC
    # (wired into _process_batch) now removes only deltas covered by the
    # SECOND-newest snapshot (<=1) and retains the newest snapshot's tail
    before = {r["url_hash"] for r in sc.seen().collect()}
    _write_candidates(
        spark, root, "b3",
        [(s["url"], s["priority"], 30.0) for s in make_seeds(80, 6)[60:80]],
    )
    sc.run_available_now()
    assert sc._snapshots() == [1, 3]
    assert sorted(
        d for d in _os.listdir(_os.path.join(root, "seen")) if d.startswith("batch=")
    ) == ["batch=000002", "batch=000003"]

    # seen SET unchanged for the shared prefix; replay view of batch 3
    # (the crash-window case) still reconstructs: snapshot upto=1 + delta 2
    assert before <= {r["url_hash"] for r in sc.seen().collect()}
    view3 = sc.seen(before_batch=3)
    inputs3 = {
        _os.path.dirname(f).removeprefix("file://") for f in view3.inputFiles()
    }
    assert inputs3 == {
        _os.path.join(root, "seen_compacted", "upto=000001", "data"),
        _os.path.join(root, "seen", "batch=000002"),
    }
    # and the replayed batch-3 view equals all-history-before-3
    assert {r["url_hash"] for r in view3.collect()} == before


def test_streaming_dedup_matches_full_recompute(spark):
    """Streaming incremental dedup (streaming/dedup_stream.py): three
    document micro-batches through the persisted-signature store; the
    union of per-batch pair sets must equal a FULL minhash recompute
    over everything ingested, and a second drain with no new input adds
    nothing. Replay guard: each batch's pairs involve at least one doc
    from that batch (it computed against strictly-earlier signatures)."""
    import os as _os

    from nde_crawlers_spark.operators.dedup import minhash_lsh_candidates
    from nde_crawlers_spark.streaming.dedup_stream import StreamingDedup

    root = tempfile.mkdtemp(prefix="sdedup_")
    sd = StreamingDedup(spark, root)
    all_docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
        "doc_id", "text"
    )
    batches = [
        all_docs.filter(F.col("doc_id") % 3 == k).coalesce(1) for k in range(3)
    ]
    seen_pairs: set = set()
    for k, b in enumerate(batches):
        b.write.mode("append").parquet(_os.path.join(root, "incoming"))
        sd.run_available_now()
        got = {(r["id_a"], r["id_b"]) for r in sd.pairs().collect()}
        assert got >= seen_pairs  # append-only
        batch_ids = {r["doc_id"] for r in b.collect()}
        new = got - seen_pairs
        assert all(a in batch_ids or bb in batch_ids for a, bb in new)
        seen_pairs = got

    full = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(all_docs, shingle_n=3, bands=4, rows_per_band=2).collect()
    }
    assert seen_pairs == full

    # no new input -> drain is a no-op
    sd.run_available_now()
    assert {(r["id_a"], r["id_b"]) for r in sd.pairs().collect()} == full


def test_streaming_crawl_dedup_composed_equals_batch(spark):
    """The COMPOSED pipeline (crawl -> docs -> incremental minhash in
    one foreachBatch, streaming/crawl_stream.py::StreamingCrawlDedup)
    over three drains must produce exactly the pair set a BATCH
    pipeline produces (crawl everything, then one full minhash LSH
    recompute over all harvested docs), and a manual replay of the last
    micro-batch — which sits past a seen-compaction boundary
    (compact_every=2) — must reproduce identical docs, signatures and
    pairs (exactly-once end-to-end)."""
    import glob

    from nde_crawlers_spark.functions import urls as U2
    from nde_crawlers_spark.operators.dedup import minhash_lsh_candidates
    from nde_crawlers_spark.streaming.crawl_stream import StreamingCrawlDedup

    root = tempfile.mkdtemp(prefix="scd_")
    sc = StreamingCrawlDedup(spark, root, num_hosts=6, crawl_delay_ms=500,
                             compact_every=2)
    seeds = make_seeds(60, 6)
    waves = [seeds[0:20], seeds[20:40], seeds[40:60]]
    for k, wave in enumerate(waves):
        _write_candidates(
            spark, root, f"b{k}",
            [(s["url"], s["priority"], float(10 * k)) for s in wave],
        )
        sc.run_available_now()

    # the compaction boundary actually happened (batch 1 folded)
    assert glob.glob(os.path.join(root, "seen_compacted", "upto=*"))

    # composed pairs == one full recompute over ALL harvested docs
    text = F.array_join(
        F.transform(F.col("spans"), lambda s: s.getField("text")), " "
    ).alias("text")
    all_docs = sc.documents().select("doc_id", text)
    full = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(
            all_docs, id_col="doc_id", shingle_n=3, bands=4, rows_per_band=2
        ).collect()
    }
    got = {(r["id_a"], r["id_b"]) for r in sc.dedup_pairs().collect()}
    assert got == full and len(full) >= 0

    # ---- replay the last micro-batch by hand (crash-window case) ----
    batch_dirs = sorted(glob.glob(os.path.join(root, "seen", "batch=*")))
    last_id = int(batch_dirs[-1].split("=")[-1])
    def _snap(sub):
        p = os.path.join(root, sub, f"batch={last_id:06d}")
        return sorted(map(tuple, spark.read.parquet(p).collect()))
    before = {s: _snap(s) for s in ("documents", "dedup_pairs", "dedup_store", "seen")}
    deferred_last = {
        r["url"]
        for r in spark.read.parquet(
            os.path.join(root, "deferred", f"batch={last_id:06d}")
        ).collect()
    }
    cand = spark.createDataFrame(
        [(s["url"], s["priority"], 20.0) for s in waves[-1]],
        "url string, priority int, asof_s double",
    )
    keyed = (
        U2.with_url_columns(cand)
        .withColumn("seq", U2.hash_seq(F.col("canonical_url")))
        .withColumn(
            "decision",
            F.when(F.col("url").isin(list(deferred_last)), F.lit("defer")).otherwise(
                F.lit("fetch")
            ),
        )
        .withColumn("tokens_left", F.lit(0.0))
    )
    sc._process_batch(keyed, last_id)
    after = {s: _snap(s) for s in ("documents", "dedup_pairs", "dedup_store", "seen")}
    assert after == before
    assert len(before["seen"]) > 0


def test_streaming_autothrottle_throttles_slow_hosts(spark):
    """Streaming AutoThrottle (plans/oracle.py::at_fold + the feedback/
    directory): drain 1 fetches and re-emits its observed latencies as
    feedback rows; drain 2's scheduler folds them into per-host adapted
    delays, so a systematically SLOW host (synth_latency_ms host bias)
    fetches FEWER of its wave-2 candidates than a fast host with the
    same crawl delay, while the non-adaptive control run treats them
    identically. Seen-exactness is unaffected (pacing only)."""
    from nde_crawlers_spark.sources.synthetic import _frac
    from nde_crawlers_spark.streaming.crawl_stream import StreamingCrawl

    n_hosts = 12

    def _drive(root: str, autothrottle: bool) -> dict:
        sc = StreamingCrawl(spark, root, num_hosts=n_hosts, crawl_delay_ms=500,
                            autothrottle=autothrottle)
        w1 = make_seeds(4 * n_hosts, n_hosts)
        _write_candidates(spark, root, "w1", [(s["url"], s["priority"], 0.0) for s in w1])
        sc.run_available_now()
        # wave 2 arrives spread over ~5s of event time: refill = dt*rate
        # now matters (a single far-future tick would clamp every host
        # to the burst cap and hide rate differences entirely)
        w2 = make_seeds(16 * n_hosts, n_hosts)[4 * n_hosts:]
        _write_candidates(
            spark, root, "w2",
            [(s["url"], s["priority"], 100.0 + (i % 12) * 0.45) for i, s in enumerate(w2)],
        )
        sc.run_available_now()
        # wave-2 fetches per host: the last drain's seen delta joined to
        # the wave-2 url_hash -> host mapping
        import glob as _g

        from pyspark.sql import functions as FF

        from nde_crawlers_spark.functions import urls as U2

        seen_dirs = sorted(_g.glob(os.path.join(root, "seen", "batch=*")))
        last = spark.read.parquet(seen_dirs[-1])
        w2df = spark.createDataFrame(
            [(s["url"], s["priority"], 100.0) for s in w2],
            "url string, priority int, asof_s double",
        )
        hosts = U2.with_url_columns(w2df).select("url_hash", "host")
        got = (
            last.join(hosts, "url_hash")
            .groupBy("host").agg(FF.count("*").alias("fetched"))
        )
        return {r["host"]: r["fetched"] for r in got.collect()}

    at = _drive(tempfile.mkdtemp(prefix="sat_on_"), autothrottle=True)
    ctl = _drive(tempfile.mkdtemp(prefix="sat_off_"), autothrottle=False)

    slow = {h for h in ctl if _frac("lat-host:" + h) < 0.25}
    fast = set(ctl) - slow
    assert slow and fast, "fixture must produce both host classes"
    # control: throttling off -> both classes behave the same; with AT
    # on, slow hosts fetch strictly less of wave 2 than in the control,
    # fast hosts are untouched (their adapted delay clamps to base=500
    # = crawl delay)
    for h in fast:
        assert at.get(h, 0) == ctl.get(h, 0), (h, at.get(h), ctl.get(h))
    assert any(at.get(h, 0) < ctl.get(h, 0) for h in slow), (at, ctl)


def test_feedback_idempotent_layout_and_gc(spark):
    """Round-6 feedback hygiene: each batch writes its feedback rows to
    feedback/batch=NNNNNN (overwrite — a replayed batch rewrites the
    same rows instead of appending duplicates), and compaction GCs
    batches consumed before the previous boundary so the directory
    stops growing. Pacing-only data: seen/docs exactness is asserted
    untouched across the GC."""
    import glob as _g

    from nde_crawlers_spark.streaming.crawl_stream import StreamingCrawl

    root = tempfile.mkdtemp(prefix="fbgc_")
    n_hosts = 6
    sc = StreamingCrawl(spark, root, num_hosts=n_hosts, crawl_delay_ms=500,
                        autothrottle=True, compact_every=2)
    seeds = make_seeds(8 * n_hosts, n_hosts)
    for w, lo in (("w1", 0), ("w2", 16), ("w3", 32)):
        _write_candidates(
            spark, root, w,
            [(s["url"], s["priority"], float(lo)) for s in seeds[lo:lo + 16]])
        sc.run_available_now()
    fb_dirs = sorted(_g.glob(os.path.join(root, "feedback", "batch=*")))
    # per-batch layout, and GC removed batches older than the previous
    # compaction boundary (compact_every=2 -> only a bounded tail kept)
    assert fb_dirs, "feedback must be written under batch= dirs"
    ids = [int(os.path.basename(d).split("=")[1]) for d in fb_dirs]
    assert len(ids) <= 2 * 2 + 1, f"feedback dirs not GC'd: {ids}"
    # flat-append legacy files must not exist at the feedback root
    root_files = [f for f in os.listdir(os.path.join(root, "feedback"))
                  if not f.startswith("batch=")]
    assert not [f for f in root_files if f.endswith(".parquet")]
    # exactness untouched: every candidate URL is seen exactly once
    seen_dirs = sorted(_g.glob(os.path.join(root, "seen", "batch=*")))
    seen = spark.read.parquet(*seen_dirs)
    assert seen.count() == seen.select("url_hash").distinct().count()
    # round-7: GC is bounded by the checkpoint's COMMITTED source log.
    # A feedback file the source never listed (e.g. written mid-run in
    # a long availableNow drain — the source only lists files present
    # at query start) must survive GC regardless of age, or
    # AutoThrottle silently loses latency history; and a stray
    # non-numeric dir (batch=tmp) must be skipped, not crash the
    # compaction path.
    ingested = sc._ingested_feedback_files()
    assert ingested, "fixture must have consumed some feedback"
    unconsumed = os.path.join(root, "feedback", "batch=000099")
    os.makedirs(unconsumed, exist_ok=True)
    fake = os.path.join(unconsumed, "part-never-listed.parquet")
    open(fake, "wb").close()
    stray = os.path.join(root, "feedback", "batch=tmp")
    os.makedirs(stray, exist_ok=True)
    # round-8 (ADVICE r7): a parquet-less old batch dir (only _SUCCESS,
    # from an empty-batch overwrite) is trivially consumed — it must be
    # REMOVED, not retained forever
    empty_old = os.path.join(root, "feedback", "batch=000001")
    os.makedirs(empty_old, exist_ok=True)
    open(os.path.join(empty_old, "_SUCCESS"), "wb").close()
    sc._gc_feedback(upto=10_000)  # keep_from far beyond every batch id
    assert os.path.exists(fake), "unconsumed feedback was GC'd"
    assert os.path.isdir(stray), "stray dir must be skipped, not removed"
    assert not os.path.exists(empty_old), "parquet-less old batch dir kept"
    # every fully-CONSUMED batch is gone; survivors each carry at least
    # one file absent from the committed source log (e.g. the final
    # drain's own feedback — no later run ingested it yet)
    for d in [d for d in os.listdir(os.path.join(root, "feedback"))
              if d.startswith("batch=") and d[len("batch="):].isdigit()]:
        files = [f for f in os.listdir(os.path.join(root, "feedback", d))
                 if f.endswith(".parquet")]
        assert not files or any(f"{d}/{f}" not in ingested for f in files), d


def test_stale_v1_checkpoint_dir_is_retired_not_fatal(spark):
    """STATE_VERSION migration (r6): a run directory carrying a
    pre-versioning checkpoint at checkpoint/ root (whose state layout
    would fail Spark's state-store compatibility check) must not break
    a new run — the versioned query checkpoints under checkpoint/v{N}
    and simply never opens the stale files."""
    from nde_crawlers_spark.streaming.crawl_stream import StreamingCrawl
    from nde_crawlers_spark.streaming.politeness import STATE_VERSION

    root = tempfile.mkdtemp(prefix="ckv_")
    n_hosts = 4
    # plant a fake v1-era checkpoint: offsets/state files at the root
    legacy = os.path.join(root, "checkpoint")
    os.makedirs(os.path.join(legacy, "state", "0", "0"), exist_ok=True)
    os.makedirs(os.path.join(legacy, "offsets"), exist_ok=True)
    with open(os.path.join(legacy, "offsets", "0"), "w") as f:
        f.write("v1\n{}\n{}")
    with open(os.path.join(legacy, "metadata"), "w") as f:
        f.write('{"id":"00000000-dead-beef-0000-000000000000"}')

    sc = StreamingCrawl(spark, root, num_hosts=n_hosts, crawl_delay_ms=500)
    seeds = make_seeds(2 * n_hosts, n_hosts)
    _write_candidates(spark, root, "w1",
                      [(s["url"], s["priority"], 0.0) for s in seeds])
    sc.run_available_now()  # must not touch the legacy dir

    import glob as _g
    assert _g.glob(os.path.join(root, "seen", "batch=*")), "run produced no output"
    vdir = os.path.join(root, "checkpoint", f"v{STATE_VERSION}")
    assert os.path.isdir(os.path.join(vdir, "offsets")), "versioned checkpoint missing"
    # legacy files untouched
    with open(os.path.join(legacy, "offsets", "0")) as f:
        assert f.read().startswith("v1")
