"""Streaming vector ingest (streaming/vector_ingest.py): the frozen-
stats sq8 store fed by micro-batches must serve IDENTICAL results to
the batch incremental contract (ann_sq8_incremental_topk), and replay
must be a no-op."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from .conftest import SF01


@pytest.fixture(scope="module")
def ingested(spark, tmp_path_factory):
    """sf0.01 embeddings ingested in three micro-batches: the base
    cohort (vec_id < 80 — the SAME base the batch incremental row
    freezes on) then two appends splitting the rest."""
    from nde_crawlers_spark.streaming.vector_ingest import StreamingVectorIngest

    root = str(tmp_path_factory.mktemp("vec_ingest"))
    vi = StreamingVectorIngest(spark, root)
    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    mid = 250
    slices = [
        emb.filter(F.col("vec_id") < 80),
        emb.filter((F.col("vec_id") >= 80) & (F.col("vec_id") < mid)),
        emb.filter(F.col("vec_id") >= mid),
    ]
    for sl in slices:
        # part files at the TOP of incoming/ (the file source ignores
        # non-partition subdirectories), schema-exact columns only
        sl.select("vec_id", "embedding").coalesce(1).write.mode(
            "append").parquet(os.path.join(root, "incoming"))
        vi.run_available_now()
    return vi, emb


def test_stream_equals_batch_incremental(spark, ingested):
    """serve() over the streamed store == the batch frozen-stats query
    (sq8_topk(stats=trained-on-base)) row for row — the store is just
    the encode side of the same contract, split across micro-batches."""
    from nde_crawlers_spark.operators.similarity import sq8_stats, sq8_topk

    vi, emb = ingested
    q = emb.filter(F.col("vec_id") < 5)
    got = sorted(
        tuple(r) for r in vi.serve(q, k=10).collect()
    )
    frozen = sq8_stats(emb.filter(F.col("vec_id") < 80))
    want = sorted(
        tuple(r) for r in sq8_topk(emb, q, k=10, stats=frozen).collect()
    )
    assert got == want
    # the frozen interval is the base cohort's, bit-for-bit
    assert vi.stats() == frozen


def test_stream_store_shape_and_clamp(spark, ingested):
    """The store holds one delta per batch, codes stay in [0,255], and
    appended batches genuinely clamp (the corpus max sits outside the
    base cohort at sf0.01 — same property the batch row relies on)."""
    vi, emb = ingested
    batches = sorted(os.listdir(os.path.join(vi.root, "codes")))
    assert batches == ["batch=000000", "batch=000001", "batch=000002"]
    codes = vi.codes()
    assert codes.count() == emb.count()
    mx = codes.select(F.max(F.array_max("codes"))).collect()[0][0]
    mn = codes.select(F.min(F.array_min("codes"))).collect()[0][0]
    assert 0 <= mn and mx == 255  # saturation fired on appended rows


def test_stream_replay_is_noop(spark, ingested):
    """Re-draining with no new files changes nothing: same store rows,
    same frozen stats file, same serve() output."""
    vi, emb = ingested
    q = emb.filter(F.col("vec_id") < 5)
    before = sorted(tuple(r) for r in vi.serve(q, k=10).collect())
    st_before = json.load(open(os.path.join(vi.root, "stats.json")))
    n_before = vi.codes().count()
    vi.run_available_now()
    assert json.load(open(os.path.join(vi.root, "stats.json"))) == st_before
    assert vi.codes().count() == n_before
    assert sorted(tuple(r) for r in vi.serve(q, k=10).collect()) == before


def test_stream_serve_rescored(spark, ingested):
    """rescore reads the float corpus for candidates only and must
    equal the batch rescored query under the same frozen stats."""
    from nde_crawlers_spark.operators.similarity import sq8_stats, sq8_topk

    vi, emb = ingested
    q = emb.filter(F.col("vec_id") < 5)
    got = sorted(
        tuple(r) for r in vi.serve(q, k=10, rescore=4, emb=emb).collect()
    )
    frozen = sq8_stats(emb.filter(F.col("vec_id") < 80))
    want = sorted(
        tuple(r)
        for r in sq8_topk(emb, q, k=10, stats=frozen, rescore=4).collect()
    )
    assert got == want


def test_stream_ivfsq8_equals_batch(spark, tmp_path):
    """nlist mode: the streamed composed index (frozen Lloyd coarse
    codebook + frozen interval, both trained on batch 0) must serve
    identically to the batch sq8_topk(nlist=) under the same frozen
    components, and the stored deltas carry one coarse list id per
    row."""
    from nde_crawlers_spark.operators.similarity import (
        kmeans_codebook, sq8_stats, sq8_topk)
    from nde_crawlers_spark.streaming.vector_ingest import StreamingVectorIngest

    root = str(tmp_path / "ivf_ingest")
    vi = StreamingVectorIngest(spark, root, nlist=8)
    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    slices = [
        emb.filter(F.col("vec_id") < 80),
        emb.filter(F.col("vec_id") >= 80),
    ]
    for sl in slices:
        sl.select("vec_id", "embedding").coalesce(1).write.mode(
            "append").parquet(os.path.join(root, "incoming"))
        vi.run_available_now()

    q = emb.filter(F.col("vec_id") < 5)
    got = sorted(tuple(r) for r in vi.serve(q, k=10, nprobe=2).collect())

    base = emb.filter(F.col("vec_id") < 80)
    frozen_cb = kmeans_codebook(base, k=8, iters=2)
    frozen_st = sq8_stats(base)
    want = sorted(
        tuple(r)
        for r in sq8_topk(emb, q, k=10, nlist=8, nprobe=2,
                          coarse_codebook=frozen_cb,
                          stats=frozen_st).collect()
    )
    assert got == want
    assert vi.coarse() == frozen_cb
    # every stored row carries exactly one coarse list id
    codes = vi.codes()
    assert "cid" in codes.columns
    assert codes.count() == emb.count()
    ncid = codes.select("cid").distinct().count()
    assert 1 < ncid <= 8


def test_ivfsq8_full_probe_equals_sq8(spark):
    """Completeness invariant: with nprobe == nlist the composed index
    scans every list, so IVF+SQ8 must equal plain sq8 row-for-row (the
    coarse component only PRUNES — it must never change a score)."""
    from nde_crawlers_spark.operators.similarity import sq8_topk

    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    got = sorted(
        tuple(r) for r in sq8_topk(emb, q, k=10, nlist=8, nprobe=8).collect()
    )
    want = sorted(tuple(r) for r in sq8_topk(emb, q, k=10).collect())
    assert got == want


def test_serve_before_ingest_raises(spark, tmp_path):
    from nde_crawlers_spark.streaming.vector_ingest import StreamingVectorIngest

    vi = StreamingVectorIngest(spark, str(tmp_path / "empty"))
    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    with pytest.raises(ValueError, match="stats not frozen"):
        vi.serve(emb.filter(F.col("vec_id") < 5))


def test_empty_batch_zero_defers_freeze(spark, tmp_path):
    """An EMPTY first micro-batch (e.g. an empty parquet dropped into
    incoming/) must not freeze stats over zero rows — the freeze defers
    to the first non-empty batch and serving matches the batch contract
    trained on that cohort (r8 verdict, "what's wrong" #3)."""
    from nde_crawlers_spark.operators.similarity import sq8_stats, sq8_topk
    from nde_crawlers_spark.streaming.vector_ingest import StreamingVectorIngest

    root = str(tmp_path / "vec_ingest_empty")
    vi = StreamingVectorIngest(spark, root)
    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    empty = emb.filter(F.lit(False)).select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") < 80).select("vec_id", "embedding")
    rest = emb.filter(F.col("vec_id") >= 80).select("vec_id", "embedding")
    for sl in (empty, base, rest):
        sl.coalesce(1).write.mode("append").parquet(
            os.path.join(root, "incoming"))
        vi.run_available_now()
    # the empty batch wrote no delta and froze nothing; stats came from
    # the first NON-empty batch (the base cohort)
    frozen = sq8_stats(emb.filter(F.col("vec_id") < 80))
    assert vi.stats() == frozen
    q = emb.filter(F.col("vec_id") < 5)
    got = sorted(tuple(r) for r in vi.serve(q, k=10).collect())
    want = sorted(
        tuple(r) for r in sq8_topk(emb, q, k=10, stats=frozen).collect()
    )
    assert got == want


def test_uncommitted_delta_not_served(spark, ingested):
    """A delta dir written by a batch that never reached its checkpoint
    commit (crash between the parquet write and the commit) must NOT
    surface in codes()/serve(); after the simulated crash is cleaned
    up, serving is unchanged (r8 ADVICE)."""
    import shutil

    vi, emb = ingested
    q = emb.filter(F.col("vec_id") < 5)
    want = sorted(tuple(r) for r in vi.serve(q, k=10).collect())
    n_committed = vi.codes().count()
    # simulate: a future batch id's delta lands on disk, no commit
    fake = os.path.join(vi.root, "codes", "batch=000099")
    emb.limit(7).selectExpr(
        "vec_id + 100000 as vec_id",
        "transform(embedding, x -> x) as codes_src",
    ).selectExpr(
        "vec_id",
        "transform(sequence(1, 64), i -> 1) as codes",
        "cast(64 as long) as cs", "cast(64 as long) as nsq",
    ).write.mode("overwrite").parquet(fake)
    try:
        assert vi.last_committed_batch() == 2
        assert vi.codes().count() == n_committed  # phantom rows excluded
        got = sorted(tuple(r) for r in vi.serve(q, k=10).collect())
        assert got == want
    finally:
        shutil.rmtree(fake, ignore_errors=True)


def test_pre_first_commit_delta_not_served(spark, tmp_path):
    """A crash after batch 0 wrote its delta but before the checkpoint's
    first commit leaves an empty commits log: codes() and serve() must
    see no rows (the replayed batch 0 rewrites the delta and commits)."""
    from nde_crawlers_spark.operators.similarity import sq8_encode, sq8_stats
    from nde_crawlers_spark.streaming.vector_ingest import StreamingVectorIngest

    vi = StreamingVectorIngest(spark, str(tmp_path))
    emb = spark.read.parquet(f"{SF01}/embeddings.parquet").filter(F.col("vec_id") < 80)
    st = sq8_stats(emb)
    with open(os.path.join(vi.root, "stats.json"), "w") as f:
        json.dump({"mn": st[0], "s": st[1], "base_batch": 0}, f)
    sq8_encode(emb, st).write.parquet(os.path.join(vi.root, "codes", "batch=000000"))
    os.makedirs(os.path.join(vi.root, "checkpoint", "commits"))
    assert vi.last_committed_batch() is None
    assert vi.codes().count() == 0
    assert vi.serve(emb.limit(3), k=5).count() == 0
