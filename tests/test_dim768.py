"""Reference-scale embedding dimension (dim=768) viability.

The reference serves 768-d dense vectors (its embedding pass indexes
into ES int8_hnsw, hub/dataindex/embed.py:51-59,124-131); every catalog
ANN row here runs dim=64 because the synthetic embeddings table is
64-d. These tests prove the ANN family serves reference-shaped vectors:
above ``vectors.UNROLL_MAX_DIM`` the fixed-dim folds switch to HOF
aggregate folds (constant-size plan — the unrolled 768-term tree costs
seconds of Catalyst analyze per use site and its generated consume()
lands near Janino's 64 KB method limit where Spark silently drops
whole-stage codegen), and the switch is bit-invisible: integer code
arithmetic is exact, and the double HOF fold runs the identical
left-fold order as the unrolled expression.

Correctness oracle is numpy float64 brute force (same left-fold
discipline), not DuckDB — these are dim-shape tests, not catalog rows;
the catalog's DuckDB parity already pins the shared scoring math at
dim=64.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from nde_crawlers_spark.operators import similarity as S
from nde_crawlers_spark.functions import vectors as V

DIM = 768
N = 96
NQ = 3
K = 5


def _vec(i: int) -> list[float]:
    """Deterministic pseudo-random float32 vector — md5-derived like
    every other fixture (no RNG state)."""
    out = []
    for d in range(0, DIM, 2):
        h = hashlib.md5(f"v768:{i}:{d}".encode()).digest()
        out.append(float(np.float32(int.from_bytes(h[:8], "big") / 2**64 * 2.0 - 1.0)))
        out.append(float(np.float32(int.from_bytes(h[8:16], "big") / 2**64 * 2.0 - 1.0)))
    return out


@pytest.fixture(scope="module")
def emb768(spark):
    rows = [(i, _vec(i)) for i in range(N)]
    return spark.createDataFrame(
        rows, "vec_id int, embedding array<float>"
    ).cache()


def _np_corpus() -> np.ndarray:
    return np.array([_vec(i) for i in range(N)], dtype=np.float64)


def _np_exact_topk(k: int) -> dict[int, list[int]]:
    """Exact cosine top-k in float64 with the engines' strict left-fold
    order (one dimension at a time, multiply-then-add) and the
    (round(cos,6) desc, id asc) ranking key."""
    m = _np_corpus()
    dots = np.zeros((NQ, N))
    nrm = np.zeros(N)
    for d in range(DIM):
        x = m[:, d]
        dots += m[:NQ, d][:, None] * x[None, :]
        nrm += x * x
    nrm = np.sqrt(nrm)
    out: dict[int, list[int]] = {}
    for q in range(NQ):
        scored = []
        for j in range(N):
            if j == q:
                continue
            denom = nrm[q] * nrm[j]
            c = dots[q, j] / denom if denom > 0 else 0.0
            scored.append((-round(c, 6), j))
        scored.sort()
        out[q] = [j for _, j in scored[:k]]
    return out


def test_sq8_768_rescored_matches_exact(emb768):
    """sq8 at dim=768 with rescore: int8 scan over HOF integer folds,
    exact float re-rank — neighbor ids must equal numpy brute force."""
    q = emb768.filter(F.col("vec_id") < NQ)
    got = (
        S.sq8_topk(emb768, q, k=K, dim=DIM, rescore=4)
        .orderBy("query_id", "rank")
        .collect()
    )
    truth = _np_exact_topk(K)
    by_q: dict[int, list[int]] = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert by_q == truth


def test_sq8_768_raw_recall_floor(emb768):
    """Unrescored sq8 is a full scan — its only loss is per-component
    rounding noise, which at dim=768 should stay tiny."""
    q = emb768.filter(F.col("vec_id") < NQ)
    got = S.sq8_topk(emb768, q, k=K, dim=DIM).collect()
    truth = _np_exact_topk(K)
    hits = sum(
        1 for r in got if r["neighbor_id"] in truth[r["query_id"]]
    )
    assert hits / (NQ * K) >= 0.8


def test_pq_rescore_768_recall_floor(emb768):
    """PQ-ADC at dim=768 (m=16 subspaces of 48 dims) with rescore: the
    quantized scan's recall is a property of the corpus (isotropic
    random = worst case — the ADC candidate window can miss a true
    neighbor), so assert a recall floor, NOT set equality; sq8's full
    scan above is the exactness witness. What IS exact here: every
    returned pair's cosine must bit-match the numpy float64 left-fold
    (the rescore stage reads true floats)."""
    q = emb768.filter(F.col("vec_id") < NQ)
    got = (
        S.pq_adc_topk(emb768, q, k=K, m=16, ksub=8, dim=DIM, rescore=8)
        .orderBy("query_id", "rank")
        .collect()
    )
    truth = _np_exact_topk(K)
    hits = sum(1 for r in got if r["neighbor_id"] in truth[r["query_id"]])
    assert hits / (NQ * K) >= 0.8
    # exact-cosine check on the returned pairs
    m = _np_corpus()
    for r in got:
        a, b = m[r["query_id"]], m[r["neighbor_id"]]
        dq = dc = dd = 0.0
        for d in range(DIM):
            dd += a[d] * b[d]
            dq += a[d] * a[d]
            dc += b[d] * b[d]
        want = round(dd / math.sqrt(dq * dc), 6) if dq * dc > 0 else 0.0
        assert r["cosine"] == pytest.approx(want, abs=1e-9)


def test_brute_force_768(emb768):
    """brute_force_topk (float path: norm_pd + dot_fixed→HOF dot) at
    dim=768 equals numpy brute force."""
    q = emb768.filter(F.col("vec_id") < NQ)
    got = (
        S.brute_force_topk(emb768, q, k=K, dim=DIM)
        .orderBy("query_id", "rank")
        .collect()
    )
    truth = _np_exact_topk(K)
    by_q: dict[int, list[int]] = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert by_q == truth


def test_ivfsq8_768_full_probe_equals_sq8(emb768):
    """The composed IVF+SQ8 index serves at the reference dimension:
    with nprobe == nlist it scans every list, so it must equal plain
    sq8 row-for-row at dim=768 — coarse assignment (dim-generic Arrow
    kernel), HOF integer folds, and the broadcast cid join all
    compose."""
    q = emb768.filter(F.col("vec_id") < NQ)
    got = sorted(
        tuple(r)
        for r in S.sq8_topk(emb768, q, k=K, nlist=4, nprobe=4,
                            dim=DIM).collect()
    )
    want = sorted(
        tuple(r) for r in S.sq8_topk(emb768, q, k=K, dim=DIM).collect()
    )
    assert got == want


def test_ivf_768_full_probe_equals_brute_force(emb768):
    """The float IVF path serves at the reference dimension: with
    nprobe == nlist every list is scanned, so ivf_topk must equal
    brute_force_topk row-for-row at dim=768 — the coarse assignment,
    the Arrow norms and the pair cosine all read every component, not
    the first 64."""
    q = emb768.filter(F.col("vec_id") < NQ)
    got = sorted(
        tuple(r)
        for r in S.ivf_topk(emb768, q, k=K, nlist=4, nprobe=4,
                            dim=DIM).collect()
    )
    want = sorted(
        tuple(r) for r in S.brute_force_topk(emb768, q, k=K, dim=DIM).collect()
    )
    assert got == want


def test_hof_fold_bit_equals_unrolled(spark):
    """The fold switch itself: HOF aggregate and the unrolled expression
    produce bit-identical doubles and identical bigints on the same
    rows (left-fold order is the same; integers are exact anyway)."""
    rows = [(i, _vec(i)[:64], [((i * 7 + d) % 256) for d in range(64)])
            for i in range(8)]
    df = spark.createDataFrame(
        rows, "vec_id int, v array<float>, c array<int>"
    )
    a, b = F.col("v"), F.col("v")
    out = df.select(
        V.dot(a, b).alias("hof"),
        # dim=64 <= UNROLL_MAX_DIM so this is the unrolled tree
        V.dot_fixed(a, b, 64).alias("unrolled"),
        F.aggregate(
            F.zip_with(F.col("c"), F.col("c"),
                       lambda x, y: x.cast("bigint") * y.cast("bigint")),
            F.lit(0).cast("bigint"), lambda acc, v: acc + v,
        ).alias("ihof"),
    ).collect()
    for r in out:
        # bitwise double equality, not approx
        assert math.isclose(r["hof"], r["unrolled"], rel_tol=0.0, abs_tol=0.0)
    m = np.array([r[2] for r in rows], dtype=np.int64)
    for r, row in zip(out, m):
        assert r["ihof"] == int((row * row).sum())
