"""Operator-level tests: bloom seen-filter equivalence, multimodal
plumbing, enrichment shapes, streaming incremental windows."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from nde_crawlers_spark.operators import enrich as EN
from nde_crawlers_spark.operators import seen as SN
from nde_crawlers_spark.operators.multimodal import decode_media, media_table_from_spans

from .conftest import SF001, SF01


def test_bloom_seen_filter_equals_exact(spark):
    cand = spark.range(0, 500).select(F.sha2(F.col("id").cast("string"), 256).alias("url_hash"))
    seen = spark.range(0, 500, 3).select(F.sha2(F.col("id").cast("string"), 256).alias("url_hash"))
    exact = {r["url_hash"] for r in SN.filter_unseen_exact(cand, seen).collect()}
    segs = SN.build_bloom_segments(seen, nseg=64, expected=1000)
    bloom = {
        r["url_hash"]
        for r in SN.filter_unseen_bloom_segmented(cand, seen, segs, nseg=64).collect()
    }
    assert bloom == exact
    assert len(exact) == 500 - len(range(0, 500, 3))


def test_bloom_segments_build_and_probe(spark):
    seen = spark.range(200).select(F.sha2(F.col("id").cast("string"), 256).alias("url_hash"))
    segs = SN.build_bloom_segments(seen, nseg=8, expected=200, fpp=0.01)
    # every seen key must hit (no false negatives)
    probed = SN.probe_bloom_segmented(seen, segs, nseg=8)
    assert probed.filter(~F.col("__maybe_seen")).count() == 0
    # unseen keys mostly miss (fpp bound with slack)
    fresh = spark.range(10_000, 11_000).select(
        F.sha2(F.col("id").cast("string"), 256).alias("url_hash")
    )
    fp = SN.probe_bloom_segmented(fresh, segs, nseg=8).filter(F.col("__maybe_seen")).count()
    assert fp < 50
    # empty seen -> empty segment table; every candidate definitely new
    empty = spark.createDataFrame([], "url_hash string")
    esegs = SN.build_bloom_segments(empty, nseg=8, expected=10)
    assert esegs.count() == 0
    assert SN.probe_bloom_segmented(fresh, esegs, nseg=8).filter(F.col("__maybe_seen")).count() == 0


def test_bloom_segments_self_describing_geometry(spark, tmp_path):
    """The persisted table records its own (nseg, nbits, nhashes) in
    every row; a probe routed by the recorded nseg has no false
    negatives. The crawl records the same geometry in the round meta and
    routes by it, so a caller whose configured segment count has drifted
    cannot produce bloom false negatives (the r4 resume bug class, which
    test_crawl_bloom_nseg_change_on_resume_rebuilds guards)."""
    seen = spark.range(300).select(F.sha2(F.col("id").cast("string"), 256).alias("url_hash"))
    path = str(tmp_path / "segs")
    SN.build_bloom_segments(seen, nseg=16, expected=300).write.parquet(path)
    segs = spark.read.parquet(path)
    (nseg,) = {r["nseg"] for r in segs.select("nseg").collect()}
    assert nseg == 16
    # routed by the recorded nseg -> zero false negatives
    probed = SN.probe_bloom_segmented(seen, segs, nseg)
    assert probed.filter(~F.col("__maybe_seen")).count() == 0
    # the full filter keeps exact semantics against a persisted table
    cand = spark.range(0, 600).select(F.sha2(F.col("id").cast("string"), 256).alias("url_hash"))
    exact = {r["url_hash"] for r in SN.filter_unseen_exact(cand, seen).collect()}
    got = {
        r["url_hash"]
        for r in SN.filter_unseen_bloom_segmented(cand, seen, segs, nseg).collect()
    }
    assert got == exact
    # OR-ing tables with mismatched geometry fails loudly, executor-side
    other = SN.build_bloom_segments(seen, nseg=8, expected=300)
    with pytest.raises(Exception):
        SN.or_bloom_segments(segs, other).collect()


def test_segmented_bloom_filter_equals_exact(spark):
    """The scale path (north rule: PARTITIONED URL-seen filter): per-
    bucket bloom segments built executor-side, probed via cogroup —
    exact output semantics, no driver-side combine anywhere."""
    seen = spark.range(0, 500).select(F.md5(F.col("id").cast("string")).alias("url_hash"))
    cand = spark.range(250, 900).select(
        F.md5(F.col("id").cast("string")).alias("url_hash"), F.col("id")
    )
    exact = {r["url_hash"] for r in SN.filter_unseen_exact(cand, seen).collect()}
    segs = SN.build_bloom_segments(seen, nseg=8, expected=1000)
    segd = {
        r["url_hash"]
        for r in SN.filter_unseen_bloom_segmented(cand, seen, segs, nseg=8).collect()
    }
    assert segd == exact and len(exact) == 400
    # empty seen: empty segment table -> everything definitely new
    empty = spark.createDataFrame([], "url_hash string")
    esegs = SN.build_bloom_segments(empty, nseg=8)
    assert SN.filter_unseen_bloom_segmented(cand, empty, esegs, nseg=8).count() == 650


def test_segmented_bloom_incremental_or_equals_full_build(spark):
    """Incremental maintenance (segments(r) = segments(r-1) OR delta)
    must be BYTE-identical to rebuilding from the full seen set — the
    invariant that lets the crawl commit one small delta per round."""
    seen = spark.range(0, 500).select(F.md5(F.col("id").cast("string")).alias("url_hash"))
    a = spark.range(0, 300).select(F.md5(F.col("id").cast("string")).alias("url_hash"))
    b = spark.range(300, 500).select(F.md5(F.col("id").cast("string")).alias("url_hash"))
    full = {
        r["seg"]: (r["bits"], r["nbits"], r["nhashes"])
        for r in SN.build_bloom_segments(seen, nseg=8, expected=1000).collect()
    }
    inc = SN.or_bloom_segments(
        SN.build_bloom_segments(a, nseg=8, expected=1000),
        SN.build_bloom_segments(b, nseg=8, expected=1000),
    )
    got = {r["seg"]: (r["bits"], r["nbits"], r["nhashes"]) for r in inc.collect()}
    assert got == full and len(full) == 8


def test_segmented_bloom_probe_is_segment_local(spark):
    """Each candidate is answered by ITS OWN segment only: zeroing the
    key's segment flips its probe to definitely-unseen; zeroing any
    OTHER segment changes nothing. (This is the structural guarantee
    that no task ever holds — and no driver ever assembles — the whole
    filter.)"""
    seen = spark.range(0, 500).select(F.md5(F.col("id").cast("string")).alias("url_hash"))
    segs = SN.build_bloom_segments(seen, nseg=8, expected=1000)
    one = seen.limit(1)
    myseg = one.select(SN.segment_of(F.col("url_hash"), 8).alias("s")).first()["s"]
    pdf = segs.toPandas()

    def probe_with(frame):
        t = spark.createDataFrame(frame, schema=SN.SEGMENT_SCHEMA)
        return SN.probe_bloom_segmented(one, t, nseg=8).first()["__maybe_seen"]

    assert probe_with(pdf) is True                      # present in its segment
    z_own = pdf.copy()
    z_own.loc[z_own.seg == myseg, "bits"] = bytes(len(pdf.bits.iloc[0]))
    assert probe_with(z_own) is False                   # own segment consulted
    z_other = pdf.copy()
    z_other.loc[z_other.seg == int((myseg + 1) % 8), "bits"] = bytes(len(pdf.bits.iloc[0]))
    assert probe_with(z_other) is True                  # other segments ignored


def _mini_docs(spark):
    from nde_crawlers_spark.plans.crawl import CrawlConfig, CrawlRun
    from nde_crawlers_spark.sources.synthetic import make_seeds

    run = CrawlRun(
        spark, tempfile.mkdtemp(prefix="mm_"),
        CrawlConfig(num_hosts=8, round_seconds=2, max_rounds=1),
    )
    seeds = make_seeds(60, 8)
    run.run(seeds=spark.createDataFrame([(s["url"], s["priority"]) for s in seeds], ["url", "priority"]))
    return run.documents()


def test_multimodal_stub_and_fake_decode(spark):
    docs = _mini_docs(spark)
    media = media_table_from_spans(docs)
    n = media.count()
    assert n > 0
    with pytest.raises(Exception, match="NotImplementedError|media decode"):
        decode_media(media, fake=False).collect()
    feats = decode_media(media, fake=True).collect()
    assert len(feats) == n
    for r in feats:
        assert r["media_kind"] in {"image", "audio", "video", "other"}
        if r["media_ref"].endswith(".wav"):
            # real WAV decode: (width, height) = (frames, sample_rate)
            assert (r["width"], r["height"]) == (400, 8000)
            assert len(r["feature"]) == 8
        elif r["media_ref"].endswith(".mp4"):
            # real container probe: true geometry, honestly-empty
            # feature (pixel features need a codec)
            assert 160 <= r["width"] <= 478 and len(r["feature"]) == 0
        else:
            assert 16 <= r["width"] < 80
            assert len(r["feature"]) == 8
    # determinism
    again = {r["media_ref"]: r["feature"] for r in decode_media(media, fake=True).collect()}
    assert all(again[r["media_ref"]] == r["feature"] for r in feats)


def test_explode_join_collect_shape(spark):
    docs = spark.createDataFrame(
        [("d1", ["p1", "p2"]), ("d2", ["p2"]), ("d3", [])],
        "doc_id string, pmids array<string>",
    )
    lookup = spark.createDataFrame(
        [("p1", "cit1"), ("p2", "cit2")], "pmid string, citation string"
    )
    out = EN.explode_join_collect(docs, "pmids", lookup, "pmid").collect()
    got = {r["doc_id"]: [(e["pmid"], e["citation"]) for e in r["enriched"]] for r in out}
    assert got["d1"] == [("p1", "cit1"), ("p2", "cit2")]
    assert got["d2"] == [("p2", "cit2")]
    assert got["d3"] == [(None, None)]


def test_streaming_windowed_counts_match_batch(spark):
    import os

    from nde_crawlers_spark.streaming.incremental import (
        run_available_now, stream_events, windowed_counts,
    )

    # file-stream sources require a directory — stage the single parquet
    import shutil

    src_dir = tempfile.mkdtemp(prefix="strm_src_")
    shutil.copy(f"{SF001}/events.parquet", os.path.join(src_dir, "part-0.parquet"))
    src = f"{SF001}/events.parquet"
    schema = spark.read.parquet(src).schema
    out = tempfile.mkdtemp(prefix="strm_out_")
    ckpt = tempfile.mkdtemp(prefix="strm_ck_")
    run_available_now(windowed_counts(stream_events(spark, src_dir, schema), watermark="0 seconds"),
                      os.path.join(out, "res"), ckpt)
    got = spark.read.parquet(os.path.join(out, "res"))
    batch = (
        spark.read.parquet(src)
        .groupBy(F.date_format(F.window("ts", "1 hour").start, "yyyy-MM-dd HH:mm:ss").alias("window_start"),
                 "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
    )
    g = {(r["window_start"], r["event_type"]): (r["n"], round(r["sum_value"], 6)) for r in got.collect()}
    b = {(r["window_start"], r["event_type"]): (r["n"], round(r["sum_value"], 6)) for r in batch.collect()}
    # watermark=0s + availableNow finalizes every window except possibly the last open one
    assert set(g) <= set(b)
    assert len(g) >= len(b) - 1
    for k, v in g.items():
        assert b[k] == v


def test_ngram_jaccard_df_cap_bounds_candidates(spark):
    """A boilerplate shingle shared by every doc must not generate the
    quadratic candidate blow-up: with the df cap, pairs that share ONLY
    the hot shingle disappear, pairs sharing rare shingles survive."""
    from nde_crawlers_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "terms of use apply here"  # 5 tokens -> one hot 4-gram window family
    rows = []
    for i in range(60):
        # every doc starts with the same boilerplate; only doc pairs
        # (2k, 2k+1) additionally share a rare payload
        payload = f"unique payload text number {i // 2} common tail words"
        rows.append((i, f"{boiler} {payload}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = ngram_jaccard_pairs(docs, shingle_n=4, threshold=0.3, max_shingle_df=10)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    expected = {(2 * k, 2 * k + 1) for k in range(30)}
    assert got == expected

    # uncapped: the hot shingles connect every doc to every other doc —
    # the candidate set is quadratic (what the cap exists to prevent)
    uncapped = ngram_jaccard_pairs(docs, shingle_n=4, threshold=0.0, max_shingle_df=None)
    assert uncapped.count() == 60 * 59 // 2


def test_oai_token_chain_walk_and_resume(spark):
    """S5: sequential resumptionToken chains per source, parallel across
    sources, BSP one-page-per-round; a kill mid-walk resumes from the
    last committed token state with no duplicate or missing records."""
    import pytest as _pytest

    from nde_crawlers_spark.plans.incremental import IncrementalHarvest

    sources = [("srcA", 60), ("srcB", 25), ("srcC", 0), ("srcD", 101)]
    expected = {(s, i) for s, n in sources for i in range(n)}

    # uninterrupted walk
    h1 = IncrementalHarvest(spark, tempfile.mkdtemp(prefix="oai1_"))
    rounds = h1.harvest_token_chains(sources, page_size=25)
    got = {(r["source_id"], r["rec_seq"]) for r in h1.oai_records().collect()}
    assert got == expected
    assert rounds == 5  # srcD needs ceil(101/25) = 5 pages
    # chains advanced together: round 0 carries a page from every
    # non-empty source, later rounds only the still-live ones
    per_round = {
        r["round"]: r["n"]
        for r in h1.oai_records().groupBy("round").agg(F.countDistinct("source_id").alias("n")).collect()
    }
    assert per_round[0] == 3 and per_round[4] == 1

    # killed at round 2, resumed: identical record set, no dupes
    h2 = IncrementalHarvest(spark, tempfile.mkdtemp(prefix="oai2_"))
    with _pytest.raises(RuntimeError):
        h2.harvest_token_chains(sources, page_size=25, fail_at_round=2)
    h2.harvest_token_chains(sources, page_size=25, resume=True)
    rows = h2.oai_records().collect()
    got2 = [(r["source_id"], r["rec_seq"]) for r in rows]
    assert set(got2) == expected
    assert len(got2) == len(expected)  # no duplicates across rounds


def test_single_flight_run_lock(spark):
    """The flock analog: a second run against a LIVE-held run_dir raises;
    a stale lock (dead pid) is silently reclaimed."""
    import json
    import os
    import subprocess

    import pytest as _pytest

    from nde_crawlers_spark.plans.crawl import ConcurrentRunError, CrawlConfig, CrawlRun
    from nde_crawlers_spark.sources.synthetic import make_seeds

    d = tempfile.mkdtemp(prefix="lock_")
    run = CrawlRun(spark, d, CrawlConfig(num_hosts=6, round_seconds=2, max_rounds=1))
    seeds = spark.createDataFrame(
        [(s["url"], s["priority"]) for s in make_seeds(20, 6)], ["url", "priority"]
    )

    # live holder (this very process) -> refused
    with open(os.path.join(d, "_LOCK"), "w") as f:
        json.dump({"pid": os.getpid(), "acquired_at": 0}, f)
    with _pytest.raises(ConcurrentRunError):
        run.run(seeds=seeds)

    # stale holder (a child that has already exited) -> reclaimed, run ok
    child = subprocess.run(["python", "-c", "import os; print(os.getpid())"],
                           capture_output=True, text=True)
    dead_pid = int(child.stdout.strip())
    with open(os.path.join(d, "_LOCK"), "w") as f:
        json.dump({"pid": dead_pid, "acquired_at": 0}, f)
    metas = run.run(seeds=seeds)
    assert len(metas) == 1
    assert not os.path.exists(os.path.join(d, "_LOCK"))  # released


def test_kmeans_codebook_and_ivf_recall(spark):
    """Deterministic Lloyd codebook: on three well-separated direction
    clusters the trained centroids separate the corpus (each cluster maps
    to one list), and IVF with the trained codebook recovers brute-force
    top-k for in-cluster queries."""
    from nde_crawlers_spark.operators.similarity import (
        brute_force_topk, ivf_topk, kmeans_codebook,
    )

    dim, per = 64, 40
    rows = []
    for c in range(3):
        base = [0.0] * dim
        base[c * 20] = 10.0  # three orthogonal cluster directions
        for i in range(per):
            v = list(base)
            for d in range(dim):
                v[d] += (((i * 31 + d * 7 + c * 13) % 11) - 5) / 10.0  # jitter
            rows.append((c * per + i, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    cb = kmeans_codebook(emb, k=3, iters=4)
    assert len(cb) == 3
    # determinism: retraining gives the identical codebook
    assert cb == kmeans_codebook(emb, k=3, iters=4)
    # each trained centroid is dominated by one cluster direction
    dom = sorted(max(range(64), key=lambda d: abs(v[d])) for _, v in cb)
    assert dom == [0, 20, 40]

    q = emb.filter(F.col("vec_id").isin([0, 45, 85]))
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in brute_force_topk(emb, q, k=5).collect()
    }
    approx = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_topk(emb, q, k=5, nprobe=1, codebook=cb).collect()
    }
    hits = sum(1 for k2 in exact if approx.get(k2) == exact[k2])
    assert hits / len(exact) >= 0.9  # in-cluster queries: near-total recall


def test_multimodal_resize_and_frame_sample(spark):
    """Resize (1->1, images only) and frame sampling (1->N fan-out,
    videos only): stubbed decode, REAL Spark plumbing — schema, filters,
    row multiplication, deterministic payload sizes."""
    import pytest as _pytest

    from nde_crawlers_spark.operators.multimodal import (
        media_table_from_spans, resize_images, sample_frames,
    )

    media = media_table_from_spans(_mini_docs(spark)).cache()
    kinds = {r["media_kind"] for r in media.select("media_kind").distinct().collect()}
    assert "image" in kinds and "video" in kinds

    rs = resize_images(media, width=8, height=4, fake=False).collect()
    assert len(rs) == media.filter(F.col("media_kind") == "image").count()
    # BOTH image formats resize FOR REAL now: png rows re-encode as 8x4
    # PNGs, jpg rows as 8x4 baseline JPEGs (functions/jpeg.py)
    from nde_crawlers_spark.functions.jpeg import decode_jpeg
    from nde_crawlers_spark.functions.png import decode_png

    png_refs = {
        r["media_ref"]
        for r in media.filter(F.col("media_ref").endswith(".png")).collect()
    }
    assert png_refs  # synthetic refs rotate through MEDIA_EXT, png included
    assert any(r["media_ref"].endswith(".jpg") for r in rs)
    for r in rs:
        if r["media_ref"] in png_refs:
            assert decode_png(bytes(r["payload"]))[:2] == (8, 4)
        else:
            assert decode_jpeg(bytes(r["payload"]))[:2] == (8, 4)

    fr = sample_frames(media, every_ms=500, max_frames=3, fake=True)
    rows = fr.collect()
    n_videos = media.filter(F.col("media_kind") == "video").count()
    assert len(rows) >= n_videos  # 1..3 frames per video
    per = {}
    for r in rows:
        per.setdefault(r["media_ref"], []).append((r["frame_idx"], r["ts_ms"]))
    for ref, frames in per.items():
        idxs = sorted(i for i, _ in frames)
        assert idxs == list(range(len(idxs)))          # dense frame indices
        assert all(ts == i * 500 for i, ts in frames)  # timestamps stride
    # determinism: same fan-out on a second run
    assert fr.count() == len(rows)
    media.unpersist()


def test_null_catalog_is_quarantined(spark):
    """ADVICE r2: a record whose includedInDataCatalog is NULL must be
    quarantined (check_schema utils/utils.py:117 asserts presence) —
    F.size(NULL)/F.exists(NULL, ..) are NULL, so the gate needs the
    explicit isNull() disjunct."""
    from nde_crawlers_spark.operators.nde_schema import schema_violation_nde

    df = spark.createDataFrame(
        [
            ("Dataset", "https://x.org/1", "Open", None),
            ("Dataset", "https://x.org/2", "Open", []),
            ("Dataset", "https://x.org/3", "Open", [("cat", "u", "u")]),
            ("Dataset", "https://x.org/4", "Open", [("cat", "u", None)]),
        ],
        "type string, url string, access string, "
        "includedInDataCatalog array<struct<name:string,url:string,archivedAt:string>>",
    )
    v = schema_violation_nde(
        F.col("type"), F.col("url"), F.col("access"), F.col("includedInDataCatalog")
    )
    got = [r[0] for r in df.select(v).collect()]
    miss = "missing_included_in_data_catalog_archived_at"
    assert got == [miss, miss, None, miss]


def test_merge_directives_null_keeper_catalog(spark):
    """ADVICE r2: a keeper with a NULL catalog array must still absorb
    the loser's entries (concat(NULL, gain) is NULL and would silently
    drop them)."""
    from nde_crawlers_spark.operators.merge import apply_merge_directives

    docs = spark.createDataFrame(
        [
            ("k", None),
            ("l", [("src1", "u1", "u1")]),
            ("x", [("src2", "u2", "u2")]),
        ],
        "doc_id string, includedInDataCatalog array<struct<name:string,url:string,archivedAt:string>>",
    )
    directives = spark.createDataFrame(
        [("k", "l", [("src1", "u1", "u1")])],
        "keep_id string, drop_id string, "
        "includedInDataCatalog array<struct<name:string,url:string,archivedAt:string>>",
    )
    out = {r["doc_id"]: r["includedInDataCatalog"]
           for r in apply_merge_directives(docs, directives).collect()}
    assert set(out) == {"k", "x"}                       # loser deleted
    assert [e["name"] for e in out["k"]] == ["src1"]    # gain kept, not NULLed


def test_key_dedup_1x1_edge_rows(spark):
    """The 1x1 guard and directive application on edge keys: a 1x1 key
    merges; a 2x1 key, a one-sided key and a NULL key (on both sides)
    are skipped; a NULL loser catalog leaves its keeper unchanged; a
    NULL keeper catalog absorbs its loser's entries. No id is both a
    keeper and a loser, or either twice, so one left join onto the docs
    cannot duplicate a row."""
    from nde_crawlers_spark.operators.merge import apply_merge_directives, key_dedup_1x1

    cat = lambda *names: [(n, "u", "u") for n in names]  # noqa: E731
    docs = spark.createDataFrame(
        [
            (2, "k1", cat("a2")), (3, "k1", cat("b3")),                      # 1x1
            (4, "k2", cat("a4")), (6, "k2", cat("a6")), (5, "k2", cat("b5")),  # 2x1
            (8, "k3", cat("a8")),                                            # a only
            (10, None, cat("a10")), (13, None, cat("b13")),                  # NULL key
            (12, "k5", cat("a12")), (15, "k5", None),                        # NULL loser catalog
            (14, "k6", None), (17, "k6", cat("b17")),                        # NULL keeper catalog
        ],
        "doc_id long, dup_key string, "
        "includedInDataCatalog array<struct<name:string,url:string,archivedAt:string>>",
    )
    directives = key_dedup_1x1(
        docs.filter(F.col("doc_id") % 2 == 0), docs.filter(F.col("doc_id") % 2 == 1), "dup_key"
    )
    pairs = [(r["dup_key"], r["keep_id"], r["drop_id"]) for r in directives.collect()]
    assert sorted(pairs) == [("k1", 2, 3), ("k5", 12, 15), ("k6", 14, 17)]
    ids = [i for _, k, d in pairs for i in (k, d)]
    assert len(ids) == len(set(ids))

    out = {r["doc_id"]: r["includedInDataCatalog"]
           for r in apply_merge_directives(docs, directives).collect()}
    names = {i: None if c is None else [e["name"] for e in c] for i, c in out.items()}
    assert names == {
        2: ["a2", "b3"],
        4: ["a4"], 5: ["b5"], 6: ["a6"],
        8: ["a8"],
        10: ["a10"], 13: ["b13"],
        12: ["a12"],
        14: ["b17"],
    }


def test_spread_non_file_input(spark):
    """ADVICE r2: spread() must also widen non-file inputs
    (createDataFrame has no inputFiles, but a single-partition frame is
    exactly the pathology the guard targets)."""
    from nde_crawlers_spark.operators.dedup import spread

    df = spark.createDataFrame([(i,) for i in range(10)], "x int").coalesce(1)
    assert df.rdd.getNumPartitions() == 1
    widened = spread(df)
    assert widened.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert widened.count() == 10


def test_taxonomy_closure_depth50_checkpointed(spark):
    """A 50-deep parent chain: the closure is complete."""
    from nde_crawlers_spark.operators.lineage import taxonomy_closure

    tax = [(1, None)] + [(i, i - 1) for i in range(2, 51)]
    rows = taxonomy_closure(tax)
    # taxon 50's lineage = itself + 49 ancestors
    fifty = [r for r in rows if r["taxon"] == 50]
    assert len(fifty) == 50
    assert {r["member"] for r in fifty} == set(range(1, 51))
    # total closure size for a single chain: sum_{d=1..50} d
    assert len(rows) == 50 * 51 // 2


def test_taxonomy_closure_edge_inputs():
    """The parent walk stops at a NULL parent, a self-parent and an
    already visited member; a parent missing from the input is still a
    member, with a NULL member_parent; chain depth is unbounded."""
    from nde_crawlers_spark.operators.lineage import taxonomy_closure

    closure = lambda edges: sorted(map(tuple, taxonomy_closure(edges)))  # noqa: E731
    # NCBI's root is its own parent (1|1)
    assert closure([(1, 1), (2, 1)]) == [(1, 1, 1), (2, 1, 1), (2, 2, 1)]
    # 9 is nobody's row: a member of 5's lineage with no parent
    assert closure([(5, 9)]) == [(5, 5, 9), (5, 9, None)]
    # a 3-cycle terminates, each taxon reaching all three
    assert closure([(1, 2), (2, 3), (3, 1)]) == [
        (1, 1, 2), (1, 2, 3), (1, 3, 1),
        (2, 1, 2), (2, 2, 3), (2, 3, 1),
        (3, 1, 2), (3, 2, 3), (3, 3, 1),
    ]
    # a 100-deep chain: taxon d has d members, 5050 rows in all
    rows = closure([(1, None)] + [(i, i - 1) for i in range(2, 101)])
    assert len(rows) == 100 * 101 // 2
    assert [m for t, m, _ in rows if t == 100] == list(range(1, 101))
    assert (100, 1, None) in rows and (100, 99, 98) in rows


def test_merge_directives_shuffle_fallback_same_output(spark):
    """apply_merge_directives with broadcast_directives=False must plan
    WITHOUT broadcasting the directive side (the 10^8-pair dedup-wave
    path, where a broadcast would exceed executor memory) and produce
    byte-identical output to the broadcast mode."""
    from nde_crawlers_spark.operators.dedup import content_key
    from nde_crawlers_spark.operators.merge import apply_merge_directives, key_dedup_1x1

    docs = (
        spark.read.parquet(f"{SF001}/documents.parquet")
        .withColumn("dup_key", F.md5((F.col("doc_id") % 17).cast("string")))
        .select(
            "doc_id", "dup_key",
            F.array(F.struct(
                F.col("source").alias("name"),
                F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"),
                F.lit("a").alias("archivedAt"),
            )).alias("includedInDataCatalog"),
        )
    )
    directives = key_dedup_1x1(
        docs.filter(F.col("doc_id") % 2 == 0), docs.filter(F.col("doc_id") % 2 == 1),
        "dup_key",
    )

    def rendered(df):
        return sorted(
            (r["doc_id"], ",".join(e["name"] + "@" + e["url"] for e in r["includedInDataCatalog"]))
            for r in df.collect()
        )

    bc = apply_merge_directives(docs, directives)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        sh = apply_merge_directives(docs, directives, broadcast_directives=False)
        sh_plan = sh._jdf.queryExecution().executedPlan().toString()
        out_sh = rendered(sh)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    bc_plan = bc._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in bc_plan          # default: broadcast the role table
    assert "SortMergeJoin" in sh_plan              # fallback: shuffle join
    assert rendered(bc) == out_sh                  # identical output either way
    assert content_key is not None  # (import kept for plan-audit symmetry)


def test_dedup_clusters_known_graph(spark):
    """Connected components on a hand-built graph: a 5-chain (diameter 4
    > one propagation hop — exercises multi-round convergence), a
    triangle, and a disjoint pair; representative = min member id."""
    from nde_crawlers_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),       # chain 1-2-3-4-5
         (10, 11), (11, 12), (10, 12),          # triangle
         (20, 21)],                              # pair
        "id_a long, id_b long",
    )
    stats: dict = {}
    got = {r["member"]: r["cluster"] for r in dedup_clusters(pairs, stats=stats).collect()}
    assert {m: c for m, c in got.items()} == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }
    assert stats["converged"]


def test_dedup_clusters_deep_chain_pointer_jumping(spark):
    """A depth-64 chain (the chain-shaped version-ladder worst case for
    plain min-label propagation, which needs O(diameter)=64 rounds):
    pointer jumping every other round gives O(log d) — the whole chain
    must collapse to one cluster in <= 12 iterations, converged."""
    from nde_crawlers_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a long, id_b long"
    )
    stats: dict = {}
    labels = dedup_clusters(pairs, stats=stats)
    got = {r["member"]: r["cluster"] for r in labels.collect()}
    assert got == {i: 0 for i in range(65)}
    assert stats["converged"], stats
    assert stats["iterations"] <= 12, stats
    labels.unpersist()


def test_dedup_clusters_unconverged_is_flagged(spark):
    """Exhausting max_iters on a too-deep component must be SIGNALLED
    (ADVICE r3: silent split clusters), not returned quietly."""
    from nde_crawlers_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a long, id_b long"
    )
    stats: dict = {}
    labels = dedup_clusters(pairs, max_iters=2, jump_every=0, stats=stats)
    assert not stats["converged"]
    assert stats["iterations"] == 2
    labels.unpersist()


def test_streaming_watermark_drops_late_rows(spark):
    """Late-data semantics (§2.10): a row arriving AFTER its window
    closed (event time older than the watermark) is DROPPED — the
    closed window's emitted row is final, never duplicated or amended —
    while on-time rows in open windows flow on (the
    commit-only-after-window-completes discipline,
    sql_database.py:465-467)."""
    import os

    from nde_crawlers_spark.streaming.incremental import (
        run_available_now, stream_events, windowed_counts,
    )

    src = tempfile.mkdtemp(prefix="late_src_")
    out = tempfile.mkdtemp(prefix="late_out_")
    ckpt = tempfile.mkdtemp(prefix="late_ck_")
    schema = "event_id long, ts timestamp, event_type string, value double"

    def emit(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        run_available_now(
            windowed_counts(stream_events(spark, src, schema), watermark="1 hour"),
            os.path.join(out, "res"), ckpt,
        )
        del name

    from datetime import datetime
    d = lambda h, m=0: datetime(2024, 3, 1, h, m)  # noqa: E731
    # batch 1: three rows in the 10:00 window; a 13:00 row advances the
    # watermark to 12:00, closing and emitting window 10:00
    emit([(1, d(10, 0), "click", 1.0), (2, d(10, 20), "click", 1.0),
          (3, d(10, 40), "click", 1.0), (4, d(13, 0), "click", 1.0)], "b1")
    got1 = {r["window_start"]: r["n"] for r in
            spark.read.parquet(os.path.join(out, "res")).collect()}
    assert got1.get("2024-03-01 10:00:00") == 3

    # batch 2: a LATE row for the closed 10:00 window (must be dropped)
    # plus a 15:30 row that pushes the watermark past 14:00, closing
    # window 13:00
    emit([(5, d(10, 45), "click", 1.0), (6, d(15, 30), "click", 1.0)], "b2")
    rows = spark.read.parquet(os.path.join(out, "res")).collect()
    per_window = {}
    for r in rows:
        per_window.setdefault(r["window_start"], []).append(r["n"])
    assert per_window["2024-03-01 10:00:00"] == [3]   # final: no dup, no +1
    assert per_window["2024-03-01 13:00:00"] == [1]


def test_incremental_minhash_matches_full_recompute(spark):
    """Incremental ingest dedup: pairs from (delta vs store) must equal
    the delta-involving subset of a FULL recompute over store ∪ delta,
    and appending the returned banded rows reproduces the full store —
    per-ingest cost stays O(delta), the corpus is never re-signed."""
    from nde_crawlers_spark.operators.dedup import (
        banded_signatures, incremental_minhash_pairs, minhash_lsh_candidates,
    )

    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    store = banded_signatures(old)

    pairs, new_banded = incremental_minhash_pairs(new, store)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}

    full = minhash_lsh_candidates(docs)
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    want = {
        (r["id_a"], r["id_b"])
        for r in full.collect()
        if r["id_a"] in new_ids or r["id_b"] in new_ids
    }
    assert got == want
    assert len(want) > 0  # non-vacuous: the fixture has cross-delta dups

    merged = store.unionByName(new_banded)
    assert merged.count() == banded_signatures(docs).count()


def test_segmented_bloom_or_rejects_mismatched_params(spark):
    """OR-ing segment tables built with different sizing parameters
    must fail loudly (silent OR of different bit geometries would
    corrupt the filter)."""
    seen = spark.range(0, 100).select(F.md5(F.col("id").cast("string")).alias("url_hash"))
    a = SN.build_bloom_segments(seen, nseg=4, expected=1000)
    b = SN.build_bloom_segments(seen, nseg=4, expected=100_000)  # different nbits
    with pytest.raises(Exception, match="different parameters|PythonException|assert"):
        SN.or_bloom_segments(a, b).collect()


def test_topk_per_host_hot_host_skew(spark):
    """North-rule skew case: ONE host holds 90% of a 20k-URL frontier
    (the single-large-repository shape). The two-phase salted top-k
    must (a) equal the plain single-window top-k exactly, and (b) shard
    the hot host's phase-1 sort across salt_factor partitions (the plan
    carries the (host, salt) window before the final (host) window)."""
    from pyspark.sql import Window

    from nde_crawlers_spark.operators.frontier import topk_per_host

    n = 20_000
    hot = F.lit("zenodo.example.org")
    cold = F.concat(F.lit("host-"), (F.col("id") % 50).cast("string"))
    fr = spark.range(n).select(
        F.when(F.col("id") % 10 != 0, hot).otherwise(cold).alias("host"),
        (F.col("id") % 7).cast("int").alias("priority"),
        F.xxhash64(F.col("id")).alias("seq"),
        F.md5(F.col("id").cast("string")).alias("url_hash"),
        F.lit(25).alias("host_budget"),
    )
    got = topk_per_host(fr, salt_factor=8)
    w = Window.partitionBy("host").orderBy(
        F.col("priority").asc(), F.col("seq").asc(), F.col("url_hash").asc()
    )
    want = (
        fr.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= F.col("host_budget"))
        .drop("__rn")
    )
    a = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in want.collect()}
    assert a == b
    # hot host contributes exactly its budget, not 90% of the output
    hot_n = got.filter(F.col("host") == "zenodo.example.org").count()
    assert hot_n == 25
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan  # phase-1 salted window present


def test_pq_adc_recall_and_compression(spark):
    """PQ-ADC sanity: on the clustered fixture, the m-subspace encoding
    preserves cluster geometry — every query's top-5 ADC neighbors come
    from the query's own cluster (the compression is ~dim*4/m bytes ->
    m ints per row), and a trained per-cluster codebook equals the
    corpus rows exactly at the cluster centers. Exact rank parity vs
    DuckDB is the catalog row (ann_pq_adc_topk); this test checks the
    semantic claim the oracle can't: quantized distances still separate
    real structure."""
    from nde_crawlers_spark.operators.similarity import pq_adc_topk

    dim, per = 64, 40
    rows = []
    for c in range(3):
        base = [0.0] * dim
        base[c * 20] = 10.0
        for i in range(per):
            v = list(base)
            for d in range(dim):
                v[d] += (((i * 31 + d * 7 + c * 13) % 11) - 5) / 10.0
            rows.append((c * per + i, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id").isin([5, 45, 85]))
    # representative codebook: rows drawn from every cluster (the
    # catalog row uses the first-ksub default, which the DuckDB oracle
    # mirrors; HERE the claim is geometric, so the codebook must span
    # the clusters — garbage centroids quantize everything onto one
    # cell, exactly as real PQ degrades with an untrained codebook)
    picks = [0, 13, 27, 40, 53, 67, 80, 93]
    cb = [(n, [float(x) for x in rows[i][1]]) for n, i in enumerate(picks)]
    got = pq_adc_topk(emb, q, k=5, m=4, ksub=8, codebook=cb).collect()
    assert len(got) == 15
    cluster = lambda i: i // per  # noqa: E731
    for r in got:
        assert cluster(r["neighbor_id"]) == cluster(r["query_id"]), (
            r["query_id"], r["neighbor_id"], "ADC ranked a cross-cluster neighbor into top-5")


def test_pq_train_codebook_separates_clusters(spark):
    """Trained per-subspace codebooks (pq_train = deterministic Lloyd
    per slice) give the same in-cluster top-k property as handpicked
    representatives, and training is deterministic."""
    from nde_crawlers_spark.operators.similarity import pq_adc_topk, pq_train

    dim, per = 64, 40
    rows = []
    for c in range(3):
        base = [0.0] * dim
        base[c * 20] = 10.0
        for i in range(per):
            v = list(base)
            for d in range(dim):
                v[d] += (((i * 31 + d * 7 + c * 13) % 11) - 5) / 10.0
            rows.append((c * per + i, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cb = pq_train(emb, m=4, ksub=8, iters=3)
    assert len(cb) == 4 and all(len(cj) == 8 and len(cj[0]) == 16 for cj in cb)
    assert cb == pq_train(emb, m=4, ksub=8, iters=3)  # deterministic
    q = emb.filter(F.col("vec_id").isin([5, 45, 85]))
    got = pq_adc_topk(emb, q, k=5, m=4, ksub=8, codebook=cb).collect()
    assert len(got) == 15
    for r in got:
        assert r["neighbor_id"] // per == r["query_id"] // per, (
            r["query_id"], r["neighbor_id"])


def test_ivfpq_composed_recall(spark):
    """IVF-PQ composition: trained coarse codebook (one list per
    cluster) + trained PQ codebooks — nprobe=1 candidates come only
    from the query's own list, and the ADC top-5 stays in-cluster;
    with garbage-free pruning the candidate count per query is bounded
    by the list size, the 10^9-scale property."""
    from nde_crawlers_spark.operators.similarity import (
        kmeans_codebook, pq_adc_topk, pq_train,
    )

    dim, per = 64, 40
    rows = []
    for c in range(3):
        base = [0.0] * dim
        base[c * 20] = 10.0
        for i in range(per):
            v = list(base)
            for d in range(dim):
                v[d] += (((i * 31 + d * 7 + c * 13) % 11) - 5) / 10.0
            rows.append((c * per + i, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    coarse = kmeans_codebook(emb, k=3, iters=3)
    pq = pq_train(emb, m=4, ksub=8, iters=3)
    q = emb.filter(F.col("vec_id").isin([5, 45, 85]))
    got = pq_adc_topk(emb, q, k=5, nlist=3, nprobe=1, m=4, ksub=8,
                      coarse_codebook=coarse, codebook=pq).collect()
    assert len(got) == 15
    for r in got:
        assert r["neighbor_id"] // per == r["query_id"] // per, (
            r["query_id"], r["neighbor_id"])


def test_ivfpq_full_probe_equals_pq_adc(spark):
    """Completeness invariant of the PQ family: with nprobe == nlist
    IVF-PQ scans every list, so it must equal flat PQ-ADC row-for-row
    (the coarse lists only PRUNE — they must never change a score)."""
    from nde_crawlers_spark.operators.similarity import pq_adc_topk

    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    got = sorted(
        tuple(r)
        for r in pq_adc_topk(emb, q, k=10, m=4, ksub=8, nlist=8, nprobe=8).collect()
    )
    want = sorted(tuple(r) for r in pq_adc_topk(emb, q, k=10, m=4, ksub=8).collect())
    assert got == want


def test_ann_recall_floors_clustered(spark):
    """Retrieval-quality floors in the regime ANN indexes are built for
    (clustered corpora): trained IVF-PQ at nprobe=2/nlist=8 must pull
    >=0.8 of the exact top-10, trained must not trail the default
    (first-rows) codebook, and trained IVF alone must be near-exact.
    This is the product metric of the approximate family — the
    reference buys the same recall-for-memory trade from ES int8_hnsw
    (hub/dataindex/embed.py:51-59). The isotropic-corpus counterpart
    (where recall ~= scan fraction is the theoretical floor) lives in
    test_ann_recall_floors_isotropic + BENCH/ann_recall.json."""
    from nde_crawlers_spark.operators.similarity import (
        brute_force_topk, clustered_rows, ivf_topk, kmeans_codebook,
        pq_adc_topk, pq_train, recall_at_k,
    )

    dim, per, ncl = 64, 30, 8
    rows = clustered_rows(dim=dim, per=per, ncl=ncl)
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") % per == 5)  # one query per cluster
    truth = brute_force_topk(emb, q, k=10).localCheckpoint(eager=True)

    coarse = kmeans_codebook(emb, k=8, iters=2)
    # m=8 -> one 8-dim subspace per cluster spike: with m=4 two cluster
    # axes share a subspace and 8 codes cannot separate in-cluster
    # neighbors finely enough (recall 0.76); m=8 is the setting a user
    # would pick for 8 known clusters
    pq = pq_train(emb, m=8, ksub=8, iters=2)

    r_ivf = recall_at_k(truth, ivf_topk(emb, q, k=10, nlist=8, nprobe=2, codebook=coarse))
    r_ivfpq_tr = recall_at_k(
        truth, pq_adc_topk(emb, q, k=10, nlist=8, nprobe=2, m=8, ksub=8,
                           coarse_codebook=coarse, codebook=pq))
    r_ivfpq_def = recall_at_k(
        truth, pq_adc_topk(emb, q, k=10, nlist=8, nprobe=2, m=8, ksub=8))
    assert r_ivf >= 0.9, f"trained IVF recall@10 {r_ivf}"
    assert r_ivfpq_tr >= 0.8, f"trained IVF-PQ recall@10 {r_ivfpq_tr}"
    assert r_ivfpq_tr >= r_ivfpq_def - 1e-9, (r_ivfpq_tr, r_ivfpq_def)

    # composed IVF+SQ8 (FAISS "IVF,SQ8"): in-list loss is quantization
    # rounding only, so with the trained coarse codebook recall must
    # track trained IVF's (>=0.9), strictly above the trained IVF-PQ
    # floor — the whole point of the composition
    from nde_crawlers_spark.operators.similarity import sq8_topk

    r_ivfsq8 = recall_at_k(
        truth, sq8_topk(emb, q, k=10, nlist=8, nprobe=2,
                        coarse_codebook=coarse))
    assert r_ivfsq8 >= 0.9, f"trained IVF+SQ8 recall@10 {r_ivfsq8}"
    assert r_ivfsq8 >= r_ivf - 0.05, (r_ivfsq8, r_ivf)

    # sq8 on the clustered corpus: the reconstructed-dot scoring keeps
    # both coarse structure (every retrieved neighbor in the query's
    # cluster) AND fine in-cluster ranking (raw recall 1.0 measured).
    # This is the regression test for the offset bug: naive code-space
    # cosine without the mn/s correction terms pulled cross-cluster
    # cosines to ~0.96 (all-offset dot) and scored 0.2 recall here.
    from nde_crawlers_spark.operators.similarity import sq8_topk

    sq8_raw = sq8_topk(emb, q, k=10).collect()
    assert all(r["neighbor_id"] // per == r["query_id"] // per for r in sq8_raw)
    r_sq8 = recall_at_k(truth, sq8_topk(emb, q, k=10))
    assert r_sq8 >= 0.95, f"sq8 raw recall@10 on clustered corpus {r_sq8}"


def test_sq8_encode_persist_and_serve_roundtrip(spark, tmp_path):
    """The encode-once/serve-many lifecycle: sq8_encode written to
    parquet, read back cold, and served against — identical top-k to
    serving from the live frame. This is the 100-TB shape (the float
    corpus is encoded once; every query scans the 4x-smaller code
    table from storage)."""
    from nde_crawlers_spark.operators.similarity import sq8_encode, sq8_stats

    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    st = sq8_stats(emb)
    live = sq8_encode(emb, st).orderBy("vec_id").collect()
    path = str(tmp_path / "sq8_codes.parquet")
    sq8_encode(emb, st).write.parquet(path)
    cold = spark.read.parquet(path).orderBy("vec_id").collect()
    assert [tuple(r) for r in cold] == [tuple(r) for r in live]
    # codes are genuinely narrow: ints in [0,255] + two bigint stats
    assert all(0 <= c <= 255 for c in cold[0]["codes"])


def test_sq8_outlier_clipping_and_clamp(spark):
    """The confidence-interval trim (clip_sigma, Lucene's motivation):
    ONE extreme component in the corpus inflates the untrimmed global
    step ~100x, washing out everyone else's resolution — recall
    collapses. clip_sigma=3 restores the interval to the data bulk
    (recall back to ~raw sq8); the outlier saturates to code 255
    instead of poisoning the stats. Also pins the clamp contract:
    frozen-stats encode of out-of-interval values stays in [0,255]."""
    from nde_crawlers_spark.operators.similarity import (
        brute_force_topk, recall_at_k, sq8_encode, sq8_stats, sq8_topk,
    )

    dim, per, ncl = 64, 30, 8
    rows = []
    for c in range(ncl):
        base = [0.0] * dim
        base[c * 8] = 10.0
        for i in range(per):
            v = list(base)
            for d in range(dim):
                v[d] += (((i * 31 + d * 7 + c * 13) % 11) - 5) / 10.0
            rows.append((c * per + i, v))
    # the poison pill: one vector with a 1000.0 component
    pill = [0.0] * dim
    pill[0] = 1000.0
    rows.append((ncl * per, pill))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter((F.col("vec_id") % per == 5) & (F.col("vec_id") < ncl * per))
    truth = brute_force_topk(emb, q, k=10).localCheckpoint(eager=True)

    r_raw = recall_at_k(truth, sq8_topk(emb, q, k=10))
    r_clip = recall_at_k(truth, sq8_topk(emb, q, k=10, clip_sigma=3.0))
    assert r_clip >= 0.9, f"clipped sq8 recall {r_clip}"
    assert r_clip > r_raw + 0.2, (r_raw, r_clip)

    # clamp contract: frozen trimmed stats leave the outlier's codes in
    # [0,255], with the spike saturated at 255
    st = sq8_stats(emb, clip_sigma=3.0)
    enc = {r["vec_id"]: r for r in sq8_encode(emb, st).collect()}
    pill_codes = enc[ncl * per]["codes"]
    assert all(0 <= c <= 255 for c in pill_codes)
    assert pill_codes[0] == 255


def test_ann_recall_floors_isotropic(spark):
    """Floors on the REAL (isotropic) sf0.01 corpus, where any pruning
    index degrades toward recall ~= scanned fraction: IVF at
    nprobe/nlist = 1/4 must still beat that floor ~2x (cosine to a
    centroid correlates with cosine to its members even without
    cluster structure), and recall must rise monotonically with
    nprobe. Measured 0.615 / 0.815 (nprobe 2 / 4); floors leave slack
    for corpus regeneration."""
    from nde_crawlers_spark.operators.similarity import (
        brute_force_topk, ivf_topk, lsh_topk, recall_at_k,
    )

    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    truth = brute_force_topk(emb, q, k=10).localCheckpoint(eager=True)
    r2 = recall_at_k(truth, ivf_topk(emb, q, k=10, nlist=8, nprobe=2))
    r4 = recall_at_k(truth, ivf_topk(emb, q, k=10, nlist=8, nprobe=4))
    rl = recall_at_k(truth, lsh_topk(emb, q, k=10, bucket_bits=4))
    assert r2 >= 0.45, f"ivf nprobe=2 recall {r2} vs ~0.25 scan-fraction floor"
    assert r4 >= 0.65 and r4 > r2, (r2, r4)
    assert rl >= 0.05, f"lsh bits=4 recall {rl}"
    # sq8 scans every candidate (it buys memory, not scan fraction), so
    # unlike the pruning variants its recall stays near-exact even on
    # this worst-case isotropic corpus: with the reconstructed-dot
    # scoring (offset correction) the only loss is per-component
    # rounding, measured 0.98. Oversampled exact rescoring (ES/Lucene
    # rescore: quantized scan keeps top k*4, float vectors fetched only
    # for those rows) recovers the remainder, measured 1.0.
    from nde_crawlers_spark.operators.similarity import sq8_topk

    rs = recall_at_k(truth, sq8_topk(emb, q, k=10))
    assert rs >= 0.9, f"sq8 recall@10 {rs} vs measured 0.98"
    rr = recall_at_k(truth, sq8_topk(emb, q, k=10, rescore=4))
    assert rr >= 0.95, f"sq8+rescore4 recall@10 {rr} — exact re-rank should recover"
    assert rr >= rs, (rs, rr)


def test_fake_mode_is_total_on_malformed_recognized_payloads(spark):
    """fake=True must keep its total-function contract even when a
    payload MATCHES a codec signature but is malformed (truncated JPEG)
    or unsupported (progressive SOF2): the real-decode attempt falls
    back to the deterministic hash stub instead of failing the stage
    (ADVICE r7)."""
    import hashlib

    from nde_crawlers_spark.functions.jpeg import encode_jpeg

    full = encode_jpeg(16, 16, bytes(range(256)) * 3, channels=3)
    truncated = full[: len(full) // 2]          # ValueError in decode_jpeg
    progressive = bytearray(full)
    at = progressive.find(b"\xff\xc0")
    progressive[at + 1] = 0xC2                  # SOF2 -> NotImplementedError
    media = spark.createDataFrame(
        [
            ("http://x/t.jpg", "image", bytearray(truncated)),
            ("http://x/p.jpg", "image", bytes(progressive)),
        ],
        "media_ref string, media_kind string, payload binary",
    )
    rows = {r["media_ref"]: r for r in decode_media(media, fake=True).collect()}
    assert len(rows) == 2
    for ref, raw in [("http://x/t.jpg", truncated),
                     ("http://x/p.jpg", bytes(progressive))]:
        d = hashlib.sha256(raw).digest()
        assert [round(float(x), 6) for x in rows[ref]["feature"]] == [
            round(b / 255.0, 6) for b in d[:8]
        ]
    # fake=False still surfaces the codec errors
    with pytest.raises(Exception, match="ValueError|NotImplementedError|truncated|progressive"):
        decode_media(media, fake=False).collect()
