"""Cuckoo filter: no false negatives, bounded false positives, delete
re-admits keys (the TTL-recrawl property blooms lack), serialization
round-trip, and Spark integration as a seen prefilter."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from nde_crawlers_spark.operators.cuckoo import CuckooFilter


def _hashes(lo: int, hi: int) -> np.ndarray:
    return (np.arange(lo, hi, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)) ^ np.uint64(42)


def test_cuckoo_basic_properties():
    cf = CuckooFilter(capacity=10_000)
    seen = _hashes(0, 10_000)
    assert cf.insert_hashes(seen) == 10_000
    assert cf.contains_hashes(seen).all()  # no false negatives
    fresh = _hashes(1_000_000, 1_020_000)
    fp = cf.contains_hashes(fresh).sum()
    assert fp < 100  # ~2^-16 * slots-probed per key, generous bound

    # delete -> key reads as unseen again (TTL recrawl)
    victim = seen[:500]
    assert cf.delete_hashes(victim) == 500
    assert not cf.contains_hashes(victim).any() or cf.contains_hashes(victim).sum() < 5
    assert cf.contains_hashes(seen[500:]).all()  # others unaffected

    # serialization round-trip
    cf2 = CuckooFilter.from_bytes(cf.to_bytes(), cf.nbuckets, cf.slots)
    assert (cf2.contains_hashes(seen[500:]) == cf.contains_hashes(seen[500:])).all()


def test_cuckoo_as_spark_seen_prefilter(spark):
    seen_df = spark.range(2000).select(F.xxhash64(F.sha2(F.col("id").cast("string"), 256)).alias("h"))
    cand_df = spark.range(1000, 4000).select(
        F.sha2(F.col("id").cast("string"), 256).alias("url_hash"),
        F.xxhash64(F.sha2(F.col("id").cast("string"), 256)).alias("h"),
    )
    cf = CuckooFilter(capacity=4000)
    hs = np.array([r["h"] for r in seen_df.collect()], dtype=np.int64).astype(np.uint64)
    cf.insert_hashes(hs)
    blob, nb, sl = cf.to_bytes(), cf.nbuckets, cf.slots

    import pandas as pd

    def probe(batches):
        local = CuckooFilter.from_bytes(blob, nb, sl)
        for pdf in batches:
            maybe = local.contains_hashes(pdf["h"].values.astype(np.uint64))
            out = pdf.copy()
            out["maybe_seen"] = maybe
            yield out

    schema = "url_hash string, h long, maybe_seen boolean"
    probed = cand_df.mapInPandas(probe, schema=schema)
    # every truly-seen candidate (1000..1999) must be flagged
    flagged = {r["url_hash"] for r in probed.filter("maybe_seen").collect()}
    truly_seen = {
        r["url_hash"]
        for r in spark.range(1000, 2000).select(
            F.sha2(F.col("id").cast("string"), 256).alias("url_hash")
        ).collect()
    }
    assert truly_seen <= flagged
    assert len(flagged) < 1000 + 50  # few false positives


def test_segmented_cuckoo_build_probe_delete(spark):
    """Partitioned cuckoo table (north rule: 'partitioned cuckoo/bloom
    URL-seen filter'): per-segment filters built executor-side, probed
    by cogroup with routing from the TABLE's recorded geometry, and —
    the capability blooms lack — per-segment DELETE that re-admits
    expired keys with no rebuild."""
    from nde_crawlers_spark.operators import cuckoo as CK
    from nde_crawlers_spark.operators.seen import filter_unseen_exact

    cand = spark.range(0, 600).select(F.sha2(F.col("id").cast("string"), 256).alias("url_hash"))
    seen = spark.range(0, 600, 2).select(F.sha2(F.col("id").cast("string"), 256).alias("url_hash"))
    segs = CK.build_cuckoo_segments(seen, nseg=8, capacity=1000)
    assert {r["nseg"] for r in segs.select("nseg").collect()} == {8}

    # no false negatives: every seen key reads maybe-seen
    probed = CK.probe_cuckoo_segmented(seen, segs, nseg=8)
    assert probed.filter(~F.col("__maybe_seen")).count() == 0

    # exact filter semantics vs the plain anti-join
    exact = {r["url_hash"] for r in filter_unseen_exact(cand, seen).collect()}
    got = {
        r["url_hash"]
        for r in CK.filter_unseen_cuckoo_segmented(cand, seen, segs, nseg=8).collect()
    }
    assert got == exact

    # TTL delete: evict a third of the seen keys -> they read unseen
    # again, the rest keep no-false-negative
    expired = spark.range(0, 600, 6).select(
        F.sha2(F.col("id").cast("string"), 256).alias("url_hash")
    )
    active = seen.join(expired, "url_hash", "left_anti")
    segs2 = CK.delete_from_cuckoo_segments(segs, expired, nseg=8)
    p2 = CK.probe_cuckoo_segmented(active, segs2, nseg=8)
    assert p2.filter(~F.col("__maybe_seen")).count() == 0
    got2 = {
        r["url_hash"]
        for r in CK.filter_unseen_cuckoo_segmented(cand, active, segs2, nseg=8).collect()
    }
    exact2 = {r["url_hash"] for r in filter_unseen_exact(cand, active).collect()}
    assert got2 == exact2
    # expired keys really flow through again (recrawl-eligible)
    assert {r["url_hash"] for r in expired.collect()} <= got2


def test_segmented_cuckoo_incremental_insert_and_persistence(spark, tmp_path):
    """Insert a delta into an EXISTING persisted segment table (the
    per-round maintenance step) and probe through a parquet round-trip,
    routed by the segment count every row records."""
    from nde_crawlers_spark.operators import cuckoo as CK

    s1 = spark.range(0, 300).select(F.sha2(F.col("id").cast("string"), 256).alias("url_hash"))
    delta = spark.range(300, 500).select(F.sha2(F.col("id").cast("string"), 256).alias("url_hash"))
    segs = CK.build_cuckoo_segments(s1, nseg=4, capacity=800)
    segs = CK.insert_into_cuckoo_segments(
        segs, delta, nseg=4, nbuckets=CK.cuckoo_nbuckets(200, 4), slots=4
    )
    path = str(tmp_path / "csegs")
    segs.write.parquet(path)
    back = spark.read.parquet(path)
    allk = s1.unionByName(delta)
    (nseg,) = {r["nseg"] for r in back.select("nseg").collect()}
    assert nseg == 4
    probed = CK.probe_cuckoo_segmented(allk, back, nseg)
    assert probed.filter(~F.col("__maybe_seen")).count() == 0
    fresh = spark.range(10_000, 11_000).select(
        F.sha2(F.col("id").cast("string"), 256).alias("url_hash")
    )
    fp = CK.probe_cuckoo_segmented(fresh, back, nseg).filter(F.col("__maybe_seen")).count()
    assert fp < 20  # ~2^-16 per slot probed, generous bound


def test_guarded_delete_repairs_forced_fp_bucket_collision(spark):
    """FORCE the deletion false-negative and observe the repair.

    With equal 16-bit fingerprints the bucket PAIR is fully determined
    (partner = b1 XOR H(fp)), so deleting an expired key whose copy is
    still present always leaves the live collider a copy — the silent
    false negative needs a delete for a fingerprint whose own copy is
    ALREADY ABSENT: a TTL sweep replayed after a crash, a duplicate row
    in the expired frame, or an expired key dropped earlier by an
    adaptive segment rebuild from the active set. Then the delete
    evicts the LIVE collider's copy and that URL silently re-fetches.
    This test builds a segment holding live key L, deletes a
    never-inserted key N that collides with L on (fingerprint, bucket):
    the unguarded delete makes L read unseen; the guarded delete
    (live= passed) detects the miss and rebuilds the segment from its
    live set, restoring L while N stays recrawl-eligible."""
    from nde_crawlers_spark.operators import cuckoo as CK

    # model the exact geometry build_cuckoo_segments(capacity=64,
    # nseg=1) creates, and search key space for a colliding pair using
    # the REAL jvm-side key hashes
    n = 60_000
    hs = (
        spark.range(n)
        .select(
            F.concat(F.lit("u"), F.col("id").cast("string")).alias("url_hash"),
            F.xxhash64(F.concat(F.lit("u"), F.col("id").cast("string")), F.lit("#cuckoo")).alias("h"),
        )
        .toPandas()
    )
    h = hs["h"].values.astype("int64").view("uint64")
    model = CuckooFilter(64)  # nbuckets matches the built segment
    fps = model._fingerprint(h)
    b1 = model._bucket1(h)
    import collections
    by_fp_b1 = collections.defaultdict(list)
    for i in range(n):
        by_fp_b1[(int(fps[i]), int(b1[i]))].append(i)
    pair = next(v for v in by_fp_b1.values() if len(v) >= 2)
    iL, iN = pair[0], pair[1]
    u = lambda i: hs["url_hash"].iloc[i]  # noqa: E731
    one = lambda *ids: spark.createDataFrame([(u(i),) for i in ids], ["url_hash"])  # noqa: E731

    segs = CK.build_cuckoo_segments(one(iL), nseg=1, capacity=64).cache()
    segs.count()
    live = one(iL)

    def probe_hits(segs_df, keys):
        p = CK.probe_cuckoo_segmented(keys, segs_df, nseg=1)
        return {r["url_hash"] for r in p.filter(F.col("__maybe_seen")).collect()}

    assert probe_hits(segs, one(iL)) == {u(iL)}
    # unguarded: deleting N (same fp, same bucket, own copy absent)
    # evicts L's copy -> L falsely unseen
    bad = CK.delete_from_cuckoo_segments(segs, one(iN), nseg=1).cache()
    assert u(iL) not in probe_hits(bad, one(iL)), (
        "fixture no longer forces the collision — re-derive iL/iN")
    # guarded: the segment verifies its live keys and rebuilds
    good = CK.delete_from_cuckoo_segments(segs, one(iN), nseg=1, live=live).cache()
    assert probe_hits(good, live) == {u(iL)}, "live key lost after guarded delete"
    # the expired key stays recrawl-eligible (it can only false-positive
    # into the exact confirm, never block)
    exact_new = CK.filter_unseen_cuckoo_segmented(one(iN, iL), live, good, nseg=1)
    assert {r["url_hash"] for r in exact_new.collect()} == {u(iN)}


def test_membership_filters_probe_once(spark):
    """Each prefiltered unseen filter runs its cogroup probe ONCE: the
    definite-new and might-contain rows leave through one conditional
    anti-join, not a union that references the probe twice (Spark does
    not share a subplan between two branches of one plan)."""
    from nde_crawlers_spark.operators import cuckoo as CK
    from nde_crawlers_spark.operators import seen as SN

    def key(df):
        return df.select(F.sha2(F.col("id").cast("string"), 256).alias("url_hash"))

    cand, seen = key(spark.range(0, 200)), key(spark.range(0, 200, 2))
    for df in (
        SN.filter_unseen_bloom_segmented(
            cand, seen, SN.build_bloom_segments(seen, nseg=8, expected=1000), nseg=8
        ),
        CK.filter_unseen_cuckoo_segmented(
            cand, seen, CK.build_cuckoo_segments(seen, nseg=8, capacity=1000), nseg=8
        ),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FlatMapCoGroupsInPandas") == 1, plan


def test_seen_filter_plans_issue_no_jobs(spark, tmp_path):
    """The seen filters' plans take the segment tables' geometry as
    arguments, so building them runs no Spark job: the next table (each
    branch of both filters), the guarded delete and both prefiltered
    unseen filters, over persisted tables."""
    from nde_crawlers_spark.operators import cuckoo as CK
    from nde_crawlers_spark.operators import seen as SN

    def key(df):
        return df.select(F.sha2(F.col("id").cast("string"), 256).alias("url_hash"))

    seen, delta = key(spark.range(0, 300)), key(spark.range(300, 400))
    cand, expired = key(spark.range(200, 500)), key(spark.range(0, 50))
    live = key(spark.range(50, 300))

    def persisted(name, table, schema):
        path = str(tmp_path / name)
        table.write.parquet(path)
        return spark.read.schema(schema).parquet(path)

    table, bloom_geo = SN.next_bloom_segments(None, seen, seen.limit(0), 0, 8, 1000)
    bloom = persisted("bloom", table, SN.SEGMENT_SCHEMA)
    table, cuckoo_geo = CK.next_cuckoo_segments(None, seen, seen.limit(0), 0, 8, 1000)
    cuckoo = persisted("cuckoo", table, CK.CUCKOO_SEGMENT_SCHEMA)

    tracker = spark.sparkContext.statusTracker()

    def last_job():
        return max(tracker.getJobIdsForGroup(None), default=-1)

    before = last_job()
    _, geo = SN.next_bloom_segments((bloom, bloom_geo), delta, seen, 400, 8, 1000)
    assert geo is bloom_geo  # OR branch
    _, geo = SN.next_bloom_segments((bloom, bloom_geo), delta, seen, 400, 4, 1000)
    assert geo["nseg"] == 4  # rebuild branch
    _, geo = CK.next_cuckoo_segments((cuckoo, cuckoo_geo), delta, seen, 400, 8, 1000)
    assert geo is cuckoo_geo  # insert branch
    _, geo = CK.next_cuckoo_segments((cuckoo, cuckoo_geo), delta, seen, 400, 4, 1000)
    assert geo["nseg"] == 4  # rebuild branch
    CK.delete_from_cuckoo_segments(cuckoo, expired, cuckoo_geo["nseg"], live=live)
    SN.filter_unseen_bloom_segmented(cand, seen, bloom, bloom_geo["nseg"])
    CK.filter_unseen_cuckoo_segmented(cand, live, cuckoo, cuckoo_geo["nseg"])
    assert last_job() == before
