"""Similarity search over an embedding column (``array<float>``).

Reference analog: the post-index dense-vector pass (768-d, int8_hnsw ES
index — hub/dataindex/embed.py:51-59) delegates ANN to Elasticsearch.
Here ANN is a first-class DataFrame operator:

- ``brute_force_topk``: exact cosine top-k — broadcast the (small) query
  set against the full corpus; one shuffle for the per-query top-k.
- ``lsh_topk``: sign-LSH bucketed approximate top-k — queries only score
  candidates in their own bucket (recall < 1, cost /2^bits). The
  bucket is a pure column expression, so the candidate join is a plain
  equi-join Catalyst can plan (broadcast or shuffle by bucket).

Scale: brute force is O(Q*N) dot products but embarrassingly parallel —
with Q broadcast it is a map-only stage plus a top-k aggregation
(partial per partition, merged at the end: Spark's TakeOrdered). The IVF
upgrade path keeps the same plan shape with bucket = nearest-centroid id
(a broadcast k-means codebook inside a pandas UDF).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vectors as V
from .dedup import spread


def _topk_per_query(scored: DataFrame, k: int, score: str = "cosine") -> DataFrame:
    """Per-query top ``k`` by ``score``, ties broken by neighbor id:
    ``cosine`` is a similarity and ranks high-first, PQ's ``adc`` is a
    distance and ranks low-first."""
    key = F.col(score).asc() if score == "adc" else F.col(score).desc()
    w = Window.partitionBy("query_id").orderBy(key, F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", score, "rank")
    )


def _codebook(emb: DataFrame, n: int | None, codebook, id_col: str, vec_col: str):
    """``codebook`` when given, else the default: the corpus rows with
    id < ``n`` as sorted [(id, vector)] — a pure function of the data,
    so the DuckDB oracles rebuild it relationally (n rows, a bounded
    driver-side codebook by design). With neither, there is no coarse
    quantizer: a flat index, every row in one list."""
    if codebook is not None or not n:
        return codebook
    return sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in emb.filter(F.col(id_col) < n).select(id_col, vec_col).collect()
    )


def _list_ids(coarse, n: int, vec_col: str, dim: int) -> list:
    """The coarse list-id column of a quantized index: none for a flat
    index; else ``cid`` exploded over the row's ``n`` nearest coarse
    centroids — an index row sits in its nearest list (n=1), a query
    probes ``nprobe`` lists (one row each). The assignment is a
    map-only Arrow batch against the broadcast codebook."""
    if coarse is None:
        return []
    assign = V.nearest_centroids_pd(coarse, n, dim)
    return [F.explode(assign(F.col(vec_col))).alias("cid")]


def _probe_join(corpus: DataFrame, q: DataFrame, coarse) -> DataFrame:
    """Candidate pairs of a quantized scan, self-matches excluded: the
    broadcast queries meet every corpus row of a flat index, or — with
    a coarse codebook — only the rows of their probed lists (an
    equi-join on ``cid``: each index row carries exactly one list id,
    so no pair appears twice)."""
    q = F.broadcast(q)
    pairs = corpus.crossJoin(q) if coarse is None else corpus.join(q, "cid")
    return pairs.filter(F.col("neighbor_id") != F.col("query_id"))


def _quantized_topk(
    scored: DataFrame,
    k: int,
    rescore: int,
    emb: DataFrame | None,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    score: str = "cosine",
) -> DataFrame:
    """Top-k of a quantized scan, or with ``rescore=r > 0`` its top
    ``k*r`` re-ranked by exact cosine — the production rescoring step
    every quantized index ships with (FAISS re-ranking, ES/Lucene
    rescore; the reference's ES int8_hnsw quantized search re-scores
    the same way, hub/dataindex/embed.py:51-59). The candidate set is
    small, so it broadcasts; the float corpus ``emb`` is equi-joined
    against it, meaning the float column is read for Q*k*r rows only
    while the full scan stays on the compressed representation. Scoring
    and ranking reuse brute_force_topk's exact discipline (prenormed
    cosine, round-6, neighbor-id tie-break), so the output is
    engine-stable."""
    if rescore <= 0:
        return _topk_per_query(scored, k, score)
    if emb is None:
        raise ValueError("rescore needs the float corpus: pass emb=")
    cand = F.broadcast(
        _topk_per_query(scored, k * rescore, score).select("query_id", "neighbor_id")
    )
    qv = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
            V.norm_pd(dim)(F.col(vec_col)).alias("qn"),
        )
    )
    cv = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
    )
    rescored = (
        # candidate join FIRST, norms after (r9): the corpus norm is
        # needed for the Q*k*r surviving rows only — computing it
        # before the join ran the Arrow norm kernel over the ENTIRE
        # corpus (a full-corpus Python pass per rescored query at 10^9
        # vectors, and a separate single-task Arrow stage at sandbox
        # SFs). Bit-identical: the same kernel on the same vectors,
        # just after the filter-by-join.
        cv.join(cand, "neighbor_id")
        .withColumn("cn", V.norm_pd(dim)(F.col("cv")))
        .join(qv, "query_id")
        .withColumn(
            "cosine",
            F.round(
                V.cosine_prenormed("qv", "cv", F.col("qn"), F.col("cn"), dim),
                6,
            ),
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    return _topk_per_query(rescored, k)


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Exact cosine top-k for each query vector against the corpus
    (self-matches excluded). ``queries`` has the same (id_col, vec_col)
    schema and is broadcast. Norms are per-row (computed before the
    join); the per-pair work is one codegen'd dot product."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
            V.norm_pd(dim)(F.col(vec_col)).alias("qn"),
        )
    )
    c = spread(emb).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        V.norm_pd(dim)(F.col(vec_col)).alias("cn"),
    )
    scored = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(V.cosine_prenormed("qv", "cv", F.col("qn"), F.col("cn"), dim), 6),
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    return _topk_per_query(scored, k)


def kmeans_codebook(
    emb: DataFrame,
    k: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> list[tuple[int, list[float]]]:
    """Deterministic Lloyd k-means codebook for IVF: init = the first k
    vectors by id, fixed iteration count, cosine assignment with stable
    cid-ascending tie-break, and MICRO-UNIT centroid means — each
    component update is round(x*1e6) -> exact int64 sum -> round(sum/n)
    -> /1e6. A parallel double mean is partition-order nondeterministic
    (same discipline as queries.dsum), and a decimal mean, while exact,
    hits engine-specific decimal-division precision/rounding rules; the
    micro-unit form is integer arithmetic plus IEEE ops on identical
    doubles, so ANY engine (Spark, DuckDB, numpy) reproduces the trained
    centroids bit-for-bit. The 1e-6 component quantization is far below
    k-means' own convergence noise. Everything distributed: assignment
    is the same map-only Arrow batch ``nearest_centroids_pd`` the
    serving path uses; the centroid update is one posexplode +
    groupBy((cid, dim)) — k*dim result rows, trivially collectible.

    Returns the [(cid, centroid)] list ``ivf_topk`` accepts as
    ``codebook``."""
    cent = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in emb.orderBy(id_col).limit(k).select(id_col, vec_col).collect()
    )
    cent = [(i, v) for i, (_, v) in enumerate(cent)]
    base = emb.select(F.col(vec_col).alias("v"))
    for _ in range(iters):
        assign = V.nearest_centroids_pd(cent, 1, dim)
        assigned = base.select(
            F.element_at(assign(F.col("v")), 1).alias("cid"), "v"
        )
        # A/B'd this round (r9): a fused 64-wide single-groupBy mean and
        # a spread() of the tiny per-iteration frame were BOTH measured
        # slower on the sf0.1 corpus (3.2 s vs 1.0 s for init + 2
        # iterations; the 64-sum hash aggregate loses to the simple
        # exploded aggregate, and the repartition costs more than the
        # one-task scan it parallelizes at this row count), so the r8
        # exploded-mean shape stays.
        # ONE shuffle per iteration: the k*dim (cid, d, m) rows are
        # collected directly and the centroid arrays assembled
        # driver-side — the r8 second groupBy(cid) + collect_list
        # existed only to do that assembly distributed, costing an
        # extra Exchange per iteration for k*dim rows that are
        # driver-bounded by construction (the same "m" values, so the
        # trained centroids are bit-equal; determinism test + training
        # oracle pin it).
        means = (
            assigned.select("cid", F.posexplode("v").alias("d", "x"))
            .groupBy("cid", "d")
            .agg(
                (F.round(
                    F.sum(F.round(F.col("x").cast("double") * 1e6).cast("bigint"))
                    .cast("double") / F.count(F.lit(1))
                ).cast("bigint").cast("double") / F.lit(1e6)).alias("m")
            )
            .collect()
        )
        acc: dict[int, dict[int, float]] = {}
        for r in means:
            acc.setdefault(int(r["cid"]), {})[int(r["d"])] = float(r["m"])
        new = {c: [ds[d] for d in sorted(ds)] for c, ds in acc.items()}
        # empty lists keep their previous centroid (standard practice)
        cent = [(cid, new.get(cid, vec)) for cid, vec in cent]
    return cent


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nlist: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: list[tuple[int, list[float]]] | None = None,
    dim: int = 64,
) -> DataFrame:
    """IVF-style approximate top-k: vectors are assigned to their nearest
    centroid (inverted lists); a query scores only the lists of its
    ``nprobe`` nearest centroids.

    The default codebook is deterministic (the first ``nlist`` vectors)
    so the DuckDB oracle reproduces it; pass ``codebook`` (e.g. from
    ``kmeans_codebook``) for trained centroids — the plan shape
    (broadcast numpy codebook -> batch argmax assignment -> equi-join on
    list id -> per-query top-k) is identical either way, which is the
    point: at 10^9 vectors the candidate join touches ~nprobe/nlist of
    the corpus instead of all of it, and the assignment itself is a
    map-only Arrow batch (no codebook crossJoin row blowup, no per-row
    window shuffle)."""
    cent_rows = _codebook(emb, nlist, codebook, id_col, vec_col)

    def _assign(df: DataFrame, n: int) -> DataFrame:
        assign = V.nearest_centroids_pd(cent_rows, n, dim)
        # norms computed ONCE per row and carried through, so the final
        # candidate join never recomputes them per pair
        return df.select(
            "vid", "v", V.norm_pd(dim)(F.col("v")).alias("vn"),
            F.explode(assign(F.col("v"))).alias("cid"),
        )

    inv = _assign(spread(emb).select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v")), 1)
    probes = _assign(
        queries.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v")), nprobe
    ).select(F.col("vid").alias("query_id"), F.col("v").alias("qv"), F.col("vn").alias("qn"), "cid")
    scored = (
        inv.join(probes, "cid")
        .filter(F.col("vid") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(V.cosine_prenormed("qv", "v", F.col("qn"), F.col("vn"), dim), 6),
        )
        .select("query_id", F.col("vid").alias("neighbor_id"), "cosine")
        .distinct()  # a candidate may appear via both probes
    )
    return _topk_per_query(scored, k)


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bucket_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: only candidates sharing the query's random-
    hyperplane LSH bucket are scored (recall < 1, cost /2^bits; balance
    holds on anisotropic embeddings because the planes are random, not
    axis-aligned). Same output schema as brute_force_topk."""
    bucket = V.hyperplane_bucket_pd(bucket_bits, dim)
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            V.norm_pd(dim)(F.col(vec_col)).alias("qn"),
            bucket(F.col(vec_col)).alias("bucket"),
        )
    )
    c = spread(emb).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        V.norm_pd(dim)(F.col(vec_col)).alias("cn"),
        bucket(F.col(vec_col)).alias("bucket"),
    )
    scored = (
        c.join(q, "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(V.cosine_prenormed("qv", "cv", F.col("qn"), F.col("cn"), dim), 6),
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    return _topk_per_query(scored, k)


# ------------------------- product quantization ---------------------------

def _fmt(x: float) -> str:
    """Double literal that parses identically in Spark SQL and DuckDB."""
    return format(float(x), ".17e")


def _pq_cents(emb, codebook, m, ksub, dsub, id_col, vec_col):
    """Resolve the PQ codebook to m x ksub x dsub centroid values."""
    codebook = _codebook(emb, ksub, codebook, id_col, vec_col)
    if isinstance(codebook[0], tuple):
        # [(cid, full-dim vector)] rows, sliced per subspace
        return [[codebook[c][1][j * dsub:(j + 1) * dsub] for c in range(ksub)]
                for j in range(m)]
    return codebook  # pq_train output: m x ksub x dsub


def _pq_darr_builder(cents, dsub: int):
    """SQL-string builder for the per-subspace distance array: a
    SEQUENTIAL left-fold (matches DuckDB list_reduce — the 0-init term
    is an exact IEEE no-op) over centroid double literals."""
    def carr(j: int, c: int) -> str:
        return "array(" + ",".join(_fmt(x) for x in cents[j][c]) + ")"

    def dist(j: int, c: int, vec: str) -> str:
        return (
            f"aggregate(sequence(1,{dsub}), cast(0 as double), (acc, i) -> "
            f"acc + (element_at({vec}, i + {j * dsub}) - element_at({carr(j, c)}, i))"
            f" * (element_at({vec}, i + {j * dsub}) - element_at({carr(j, c)}, i)))"
        )

    def darr(j: int, vec: str) -> str:
        return "array(" + ",".join(dist(j, c, vec) for c in range(len(cents[j]))) + ")"
    return darr


def pq_adc_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 4,
    ksub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    codebook: list[tuple[int, list[float]]] | None = None,
    rescore: int = 0,
    nlist: int | None = None,
    nprobe: int = 2,
    coarse_codebook: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Product-quantization ADC top-k — the memory-bounded ANN scale
    path (IVF-PQ's compression half): each vector is encoded as ``m``
    subspace codes (argmin L2 to ``ksub`` centroids per subspace, so a
    64-dim float corpus compresses to ``m`` small ints per row ≈ 64x),
    and a query scores candidates via asymmetric distance — one
    ``m x ksub`` lookup table per query, score = sum of ``m`` table
    lookups per candidate, never touching the original vectors.

    At 10^9 vectors the encoded corpus fits where floats cannot
    (m bytes/vector), encode is one codegen'd projection, and scoring
    is a broadcast of Q luts against the code table — a map-only stage
    plus the per-query top-k. The default codebook mirrors ``ivf_topk``:
    the first ``ksub`` corpus vectors per subspace (a pure function of
    the data, so the DuckDB oracle reproduces it relationally); pass a
    trained one (``kmeans_codebook`` per subspace slice) for real
    centroids — identical plan shape.

    Cross-engine exactness discipline: distances are SEQUENTIAL
    left-folds over the subspace elements (Spark ``aggregate`` with 0.0
    init == DuckDB ``list_reduce``: the 0-init term is an exact IEEE
    no-op), centroid values are double literals of the same float32
    corpus values, and ranking keys on (round(adc, 6), neighbor_id) —
    so Spark and the SQL oracle rank identically bit-for-bit.

    ``rescore=r > 0`` adds the exact re-ranking step PQ is unusable
    without in practice (raw ADC recall on an isotropic corpus is
    0.06-0.24, BENCH/ann_recall.json; FAISS serves PQ with exact
    re-ranking for exactly this reason): the ADC scan keeps top ``k*r``
    per query and ONLY those rows' float vectors are fetched for exact
    cosine re-ranking — the float column is read for Q*k*r rows, not N.
    Output columns switch from (adc) to (cosine), matching sq8_topk's
    rescored contract.

    ``nlist``/``coarse_codebook`` compose coarse inverted-list pruning
    with the codes — IVF-PQ, the production big-ANN index shape (FAISS
    IVFPQ): every code row carries its nearest coarse list id
    (``ivf_topk``'s cosine assignment) and a query scores only the rows
    of its ``nprobe`` nearest lists, an equi-join on the list id that
    touches ~nprobe/nlist of the CODES table. The coarse codebook
    defaults to the first ``nlist`` corpus rows; without either the
    index is flat — one list holding every row.

    Reference analog: the dense-vector index the reference delegates to
    ES int8_hnsw (hub/dataindex/embed.py:51-59) — int8 scalar
    quantization there, product quantization here; both trade recall
    for a memory-bounded index, and both re-score."""
    dsub = dim // m
    cents = _pq_cents(emb, codebook, m, ksub, dsub, id_col, vec_col)
    coarse = _codebook(emb, nlist, coarse_codebook, id_col, vec_col)
    darr = _pq_darr_builder(cents, dsub)

    corpus = pq_encode(spread(emb), m=m, ksub=ksub, id_col=id_col, vec_col=vec_col,
                       dim=dim, codebook=cents, coarse=coarse).withColumnRenamed(
                           id_col, "neighbor_id")

    dbl = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    qf = queries.select(
        F.col(id_col).alias("query_id"), *_list_ids(coarse, nprobe, vec_col, dim),
        dbl.alias("qv"),
    )
    for j in range(m):
        qf = qf.withColumn(f"lut{j}", F.expr(darr(j, "qv")))

    score = F.expr(" + ".join(f"element_at(lut{j}, code{j})" for j in range(m)))
    scored = (
        _probe_join(corpus, qf.drop("qv"), coarse)
        .withColumn("adc", F.round(score, 6))
        .select("query_id", "neighbor_id", "adc")
    )
    return _quantized_topk(scored, k, rescore, emb, queries, id_col, vec_col, dim,
                           score="adc")


def pq_encode(
    emb: DataFrame,
    m: int = 4,
    ksub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    codebook=None,
    coarse: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Materialize the PQ code table: (id, code0..code{m-1}) — the
    encode-once half of the PQ lifecycle. In production this frame is
    WRITTEN (bucketed by id) and every subsequent ADC query scans codes
    instead of floats (~dim*4/m compression); ``pq_adc_topk`` builds
    exactly this projection inline when not given one. Encode is a pure
    codegen'd projection — sequential-fold subspace distances against
    centroid literals, no Python, no shuffle. With a ``coarse``
    codebook each row also carries its nearest list id ``cid`` (the
    IVF-PQ index table)."""
    dsub = dim // m
    cents = _pq_cents(emb, codebook, m, ksub, dsub, id_col, vec_col)
    darr = _pq_darr_builder(cents, dsub)
    dbl = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    out = emb.select(F.col(id_col), *_list_ids(coarse, 1, vec_col, dim), dbl.alias("v"))
    for j in range(m):
        out = out.withColumn(
            f"code{j}",
            F.expr(f"cast(array_position({darr(j, 'v')},"
                   f" array_min({darr(j, 'v')})) as int)"),
        )
    return out.drop("v")


def pq_train(
    emb: DataFrame,
    m: int = 4,
    ksub: int = 8,
    iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> list[list[list[float]]]:
    """Train per-subspace PQ codebooks: deterministic Lloyd k-means
    (``kmeans_codebook``'s exact discipline) run independently on each
    of the ``m`` subspace slices — the standard PQ training loop, fully
    distributed (the per-subspace corpus is a projected slice column,
    assignment is the same Arrow batch kernel, centroid means are exact
    decimals). Returns ``m x ksub x dsub`` centroids for
    ``pq_adc_topk(codebook=...)``.

    All ``m`` independent Lloyd chains advance in ONE Spark job per
    iteration (r9): the init is one collect of the first ``ksub``
    vectors (sliced driver-side — the same float32 values the sliced
    frames carried), each iteration assigns every subspace in one
    projection (the m Arrow kernels fuse into a single ArrowEvalPython
    pass) and aggregates all m subspaces' micro-unit component sums
    through one explode + one groupBy((j, cid)). The r8 form ran
    m * (iters + 1) separate driver actions — m full Lloyd loops —
    for identical centroids; sums/rounds are the same SQL expressions,
    so the training oracle and the determinism test pin bit-equality."""
    dsub = dim // m
    if dsub > V.UNROLL_MAX_DIM:
        # constant-size-plan fallback (same discipline as vectors.py):
        # per-subspace loops with the exploded means path
        out = []
        for j in range(m):
            sliced = emb.select(
                F.col(id_col),
                F.slice(F.col(vec_col), j * dsub + 1, dsub).alias(vec_col),
            )
            cb = kmeans_codebook(sliced, k=ksub, iters=iters,
                                 id_col=id_col, vec_col=vec_col, dim=dsub)
            out.append([vec for _cid, vec in cb])
        return out
    init = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in emb.orderBy(id_col).limit(ksub).select(id_col, vec_col).collect()
    )
    # m x ksub x dsub: subspace j's init = slices of the first ksub rows
    cents = [[v[j * dsub:(j + 1) * dsub] for _, v in init] for j in range(m)]
    base = emb.select(F.col(vec_col).alias("v"))
    for _ in range(iters):
        assigns = [
            V.nearest_centroids_pd([(c, cents[j][c]) for c in range(ksub)], 1, dsub)
            for j in range(m)
        ]
        sliced = base.select(
            *[F.slice(F.col("v"), j * dsub + 1, dsub).alias(f"v{j}") for j in range(m)]
        )
        parts = F.array(*[
            F.struct(
                F.lit(j).alias("j"),
                F.element_at(assigns[j](F.col(f"v{j}")), 1).alias("cid"),
                F.col(f"v{j}").alias("sv"),
            )
            for j in range(m)
        ])
        rows = (
            sliced.select(F.explode(parts).alias("p"))
            .select("p.j", "p.cid", "p.sv")
            .groupBy("j", "cid")
            .agg(*[
                (F.round(
                    F.sum(F.round(F.element_at(F.col("sv"), d + 1).cast("double")
                                  * 1e6).cast("bigint"))
                    .cast("double") / F.count(F.lit(1))
                ).cast("bigint").cast("double") / F.lit(1e6)).alias(f"m{d}")
                for d in range(dsub)
            ])
            .collect()
        )
        new = {(int(r["j"]), int(r["cid"])): [float(r[f"m{d}"]) for d in range(dsub)]
               for r in rows}
        cents = [
            [new.get((j, c), cents[j][c]) for c in range(ksub)]
            for j in range(m)
        ]
    return cents


# ------------------------- int8 scalar quantization -----------------------

def sq8_stats(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    clip_sigma: float | None = None,
) -> tuple[float, float]:
    """Global (min, step) quantization interval over every vector
    component in the corpus — ONE aggregate, a single row collected. A
    SINGLE interval (Lucene's int8 scalar-quantization shape) rather
    than per-dim intervals: with one (mn, s) the true dot product is
    exactly reconstructable from integer code statistics alone (see
    ``sq8_topk``); per-dim offsets would need per-dim float weights in
    the cross term, losing the exact-integer scoring. The step is
    computed as Python-float ``(mx - mn) / 255.0`` — the same IEEE ops
    the DuckDB mirror performs on identical doubles, so both engines
    quantize with bit-identical constants.

    ``clip_sigma=c`` is the confidence-interval trim (Lucene clips its
    interval to quantiles for the same reason): the interval becomes
    [max(mn, mean - c*std), min(mx, mean + c*std)], so one extreme
    component can no longer inflate the step and wash out everyone
    else's resolution. mean/std are computed on MICRO-UNIT integers
    (round(x*1e6) -> exact decimal sums of u and u*u — the same
    engine-reproducible discipline as kmeans_codebook; doubles only in
    the final mean/sqrt), so the clipped interval is deterministic in
    any engine too. Out-of-interval components CLAMP to code 0/255 at
    encode (``_sq8_codes_expr``) — the clamp also makes frozen-stats
    incremental encode safe for drifted data."""
    comp = emb.select(
        F.explode(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("x")
    )
    if clip_sigma is None:
        r = comp.agg(F.min("x").alias("mn"), F.max("x").alias("mx")).collect()[0]
        mn = float(r["mn"])
        return mn, (float(r["mx"]) - mn) / 255.0
    u = F.round(F.col("x") * F.lit(1e6)).cast("decimal(38,0)")
    r = comp.agg(
        F.min("x").alias("mn"), F.max("x").alias("mx"),
        F.count("x").alias("n"),
        F.sum(u).alias("s1"), F.sum(u * u).alias("s2"),
    ).collect()[0]
    n = float(r["n"])
    s1, s2 = float(r["s1"]), float(r["s2"])
    mean_u = s1 / n
    var_u = (s2 / n) - (mean_u * mean_u)
    std_u = math.sqrt(var_u) if var_u > 0 else 0.0
    lo = max(float(r["mn"]), (mean_u - (clip_sigma * std_u)) / 1e6)
    hi = min(float(r["mx"]), (mean_u + (clip_sigma * std_u)) / 1e6)
    return lo, (hi - lo) / 255.0


def _sq8_codes_expr(mn: float, s: float, dim: int) -> str:
    """SQL string projecting the double-cast vector column ``v`` to its
    uint8 code array: code_i = round((v_i - mn) / s) CLAMPED to
    [0,255]. The clamp is a no-op for in-interval values (everything,
    when the stats are untrimmed and from this corpus) and the defined
    behavior for the two cases that produce out-of-interval components:
    a clip_sigma-trimmed interval, and frozen-stats incremental encode
    of drifted data. Pure codegen'd projection — mn/s are double
    literals in the same ``.17e`` form the PQ path uses, so Spark and
    DuckDB round the same doubles. Degenerate constant corpus (s = 0)
    encodes to all-zero."""
    if s == 0.0:
        return f"transform(sequence(1,{dim}), i -> 0)"
    return (
        f"transform(v, x -> least(255, greatest(0, "
        f"cast(round((x - {_fmt(mn)}) / {_fmt(s)}) as int))))"
    )


def _int_dot_fixed(a: str, b: str, dim: int):
    """Codegen'd fixed-dimension INTEGER dot product over two NAMED code
    array columns — exact (bigint) arithmetic, so the score is engine-
    independent by construction, with no float-fold discipline needed.
    Built as ONE SQL string parsed JVM-side (r9): the py4j-composed
    unrolled tree cost ~5 driver round trips per term — about a second
    of plan-BUILD time per use site at dim=64, dominating the serve
    queries (build 1.9 s vs execute 0.8 s measured on ann_sq8_topk).
    The parsed tree is the identical left fold, and the arithmetic is
    exact integers, so the form switch cannot change a bit. Above
    ``vectors.UNROLL_MAX_DIM`` (reference-shaped vectors are dim=768,
    hub/dataindex/embed.py:51-59) the unrolled tree stops codegen-ing
    and costs seconds of plan time, so this switches to the HOF
    aggregate fold — same exact integers."""
    if dim > V.UNROLL_MAX_DIM:
        return F.aggregate(
            F.zip_with(F.col(a), F.col(b),
                       lambda x, y: x.cast("bigint") * y.cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )
    terms = " + ".join(
        f"(cast(element_at({a}, {i + 1}) as bigint) * element_at({b}, {i + 1}))"
        for i in range(dim)
    )
    return F.expr(f"cast(0 as bigint) + {terms}")


def _int_sum_fixed(a: str, dim: int):
    """Codegen'd fixed-dimension INTEGER component sum of a NAMED code
    array column (bigint) — the per-vector statistic the offset-
    correction term of the reconstructed dot product needs. Same SQL-
    string build and HOF switch as ``_int_dot_fixed``."""
    if dim > V.UNROLL_MAX_DIM:
        return F.aggregate(
            F.col(a), F.lit(0).cast("bigint"), lambda acc, v: acc + v.cast("bigint")
        )
    terms = " + ".join(
        f"cast(element_at({a}, {i + 1}) as bigint)" for i in range(dim)
    )
    return F.expr(f"cast(0 as bigint) + {terms}")


def _sq8_rows(df: DataFrame, cols: list, stats: tuple[float, float],
              vec_col: str, dim: int) -> DataFrame:
    """``cols`` of ``df`` plus each row's sq8 codes (array<int> in
    [0,255]), their exact integer sum ``cs`` and squared norm ``nsq``
    — one codegen'd projection."""
    mn, s = stats
    dbl = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return (
        df.select(*cols, dbl.alias("v"))
        .withColumn("codes", F.expr(_sq8_codes_expr(mn, s, dim)))
        .withColumn("cs", _int_sum_fixed("codes", dim))
        .withColumn("nsq", _int_dot_fixed("codes", "codes", dim))
        .drop("v")
    )


def sq8_encode(
    emb: DataFrame,
    stats: tuple[float, float] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    coarse: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Materialize the int8-scalar-quantized corpus: (id, codes
    array<int> in [0,255], cs = exact integer code sum, nsq = exact
    integer code squared-norm) — the encode-once half of the SQ
    lifecycle, a pure codegen'd projection (4x compression vs float32
    when the codes are written byte-narrow; cs/nsq are 16 bytes/row).
    This is the reference's OWN index shape: its dense-vector pass
    delegates to an ES ``int8_hnsw`` index (hub/dataindex/embed.py:
    51-59), whose int8 half is exactly this single-interval linear
    quantization with per-vector correction stats (Lucene
    ScalarQuantizer).

    With a ``coarse`` codebook each row also carries its nearest list
    id — the composed IVF+SQ8 table (id, cid, codes, cs, nsq), the
    FAISS "IVF,SQ8" shape and the closest relational analog of the ES
    index (coarse graph pruning there, coarse inverted lists here; int8
    codes both). Appending a batch costs only that batch's projection
    when both components are frozen (see the incremental contracts on
    ``sq8_topk(stats=)`` and ``ivf_topk(codebook=)``)."""
    if stats is None:
        stats = sq8_stats(emb, id_col=id_col, vec_col=vec_col, dim=dim)
    cols = [F.col(id_col), *_list_ids(coarse, 1, vec_col, dim)]
    return _sq8_rows(emb, cols, stats, vec_col, dim)


def sq8_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    rescore: int = 0,
    clip_sigma: float | None = None,
    stats: tuple[float, float] | None = None,
    nlist: int | None = None,
    nprobe: int = 2,
    coarse_codebook: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """int8 scalar-quantized cosine top-k — the direct analog of the
    reference's ES ``int8_hnsw`` quantization half
    (hub/dataindex/embed.py:51-59): the corpus is scanned as uint8
    codes (4x memory), scores are EXACT integer dot products over the
    codes (bigint — no float-fold discipline needed cross-engine), and
    only the final normalize/round touches doubles. Unlike the pruning
    variants (LSH/IVF/PQ) this scans every candidate, so its recall
    loss is quantization noise, not scan fraction: with the
    reconstructed-dot scoring below the only error is per-component
    rounding (≤ s/2), measured recall@10 = 0.98 on the worst-case
    isotropic sf0.01 corpus and 1.0 on a clustered one
    (BENCH/ann_recall.json, tests/test_operators.py). The correction
    terms are load-bearing: naive cosine over raw codes lets the
    shared (mn) offset dominate every dot product — cross-cluster
    cosines collapse to ~0.96 and recall to 0.2.

    ``rescore=r > 0`` adds the belt-and-braces production step
    (ES/Lucene rescoring): the quantized scan keeps the top ``k*r``
    candidates per query, and ONLY those rows' float vectors are
    fetched (corpus equi-join against the broadcast candidate set) for
    exact cosine re-ranking — recall measured 1.0 everywhere while the
    full-corpus scan stays int8; at 100 TB the float column is read
    for Q*k*r rows, not N.

    ``clip_sigma=c`` trims the quantization interval to mean ± c*std
    (see ``sq8_stats``): without it one extreme component anywhere in
    the corpus inflates the step 100x and washes out everyone else's
    resolution; with it outliers saturate to code 0/255 and the bulk
    keeps full resolution. Clamped components reconstruct to their
    clipped value (standard SQ saturation) — the integer-dot identity
    is exact for the stored representation.

    ``stats=(mn, s)`` serves with a FROZEN interval instead of
    recomputing it — the incremental-ingest contract: stats are
    trained once on the base corpus and appended batches encode with
    the same constants (else every historical code would change);
    components outside the frozen interval clamp. With ``stats`` set,
    ``clip_sigma`` is ignored (the freeze already happened).

    ``nlist``/``coarse_codebook`` compose coarse inverted-list pruning
    with the codes — IVF+SQ8 (FAISS "IVF,SQ8"; the reference's ES
    int8_hnsw trades recall for memory the same two ways): a query
    scans ~nprobe/nlist of the codes instead of all of them, with the
    same exact-integer scoring (quantization noise only, no PQ
    subspace-argmin loss). The coarse codebook defaults to the first
    ``nlist`` corpus rows and the stats to the corpus-wide interval —
    both pure functions of the data, so the DuckDB oracle reproduces
    them relationally; pass trained/frozen components for the
    production variants with the identical plan. Without either the
    index is flat: one list holding every row.

    Plan shape = brute_force_topk: broadcast encoded queries, map-only
    integer scoring over the encoded corpus (an equi-join on the coarse
    list id when pruning), one shuffle for the per-query top-k (+ one
    broadcast join and a Q*k*r-row re-rank when rescoring).
    Quantization stats are one 64-row aggregate."""
    coarse = _codebook(emb, nlist, coarse_codebook, id_col, vec_col)
    st = stats if stats is not None else sq8_stats(
        emb, id_col=id_col, vec_col=vec_col, dim=dim, clip_sigma=clip_sigma
    )
    codes = sq8_encode(spread(emb), st, id_col=id_col, vec_col=vec_col, dim=dim,
                       coarse=coarse)
    return sq8_serve_codes(codes, queries, st, k=k, id_col=id_col, vec_col=vec_col,
                           dim=dim, rescore=rescore, emb=emb, coarse=coarse,
                           nprobe=nprobe)


def sq8_serve_codes(
    codes: DataFrame,
    queries: DataFrame,
    stats: tuple[float, float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    rescore: int = 0,
    emb: DataFrame | None = None,
    coarse: list[tuple[int, list[float]]] | None = None,
    nprobe: int = 2,
) -> DataFrame:
    """Serve sq8 top-k from a PRE-ENCODED code table — the
    encode-once/serve-many half of the lifecycle split out of
    ``sq8_topk`` so a persisted codes store (parquet written by
    ``sq8_encode``, e.g. the streaming ingest's per-batch deltas in
    streaming/vector_ingest.py) can be scanned directly: at 10^9
    vectors the float corpus is read ZERO times per query — only the
    4x-narrower (codes, cs, nsq) table. ``codes`` carries
    (id_col, codes, cs, nsq); ``stats`` must be the SAME frozen (mn, s)
    the table was encoded with (the constants are baked into the
    reconstruction weights below — serving with different stats than
    encode is meaningless). ``rescore=r`` needs the float corpus for
    the exact re-rank — pass ``emb``; floats are then read for Q*k*r
    rows only (broadcast candidate equi-join). ``coarse`` serves an
    IVF+SQ8 table (``sq8_encode(coarse=)``, one ``cid`` per row) under
    the same codebook: a query touches only the rows of its ``nprobe``
    nearest lists."""
    # Exact reconstruction of the float dot product from integer code
    # stats: with v_d = mn + s*c_d,  dot(a,b) = dim*mn^2
    # + mn*s*(sum(a)+sum(b)) + s^2*dot(codes) — the per-vector sums and
    # the code dot are EXACT bigints; the four scalar constants below
    # are the only doubles, computed with the same IEEE op shapes the
    # DuckDB mirror uses, so the score is engine-identical. This is why
    # the interval is global (Lucene's shape): per-dim offsets would
    # force per-dim float weights into the cross term.
    mn, s = stats
    c0 = (float(dim) * mn) * mn  # dim * mn^2
    a1 = mn * s                  # offset-correction weight
    a2 = s * s                   # code-dot weight
    b2 = (2.0 * mn) * s          # norm-correction weight

    def _rn2(cs, nsq):
        return F.lit(c0) + (
            (F.lit(b2) * cs.cast("double")) + (F.lit(a2) * nsq.cast("double"))
        )

    cid = [] if coarse is None else ["cid"]
    corpus = codes.select(
        F.col(id_col).alias("neighbor_id"), *cid, F.col("codes").alias("cc"),
        F.col("cs").alias("ccs"),
        F.sqrt(_rn2(F.col("cs"), F.col("nsq"))).alias("cn"),
    )
    qcols = [F.col(id_col).alias("query_id"), *_list_ids(coarse, nprobe, vec_col, dim)]
    q = _sq8_rows(queries, qcols, stats, vec_col, dim).select(
        "query_id", *cid, F.col("codes").alias("qc"), F.col("cs").alias("qcs"),
        F.sqrt(_rn2(F.col("cs"), F.col("nsq"))).alias("qn"),
    )
    denom = F.col("qn") * F.col("cn")
    # per-pair integer dot: codegen'd unrolled expression at catalog
    # dims, HOF fold above UNROLL_MAX_DIM. A vectorized Arrow pandas-UDF
    # pair kernel was built and MEASURED as the alternative (r8): 4.06 s
    # vs the HOF fold's 2.71 s on the dim-768 sf0.1 corpus — shipping
    # two 768-int arrays per pair through Arrow costs more than
    # interpreting the fold JVM-side, and both scale linearly with pair
    # count, so the JVM fold wins at every scale for this shape
    # (PLANS.md r8). Per-ROW kernels (norms, bucket assignment) stay
    # Arrow — there the array crosses once per row, not once per pair.
    rdot = F.lit(c0) + (
        (F.lit(a1) * (F.col("qcs") + F.col("ccs")).cast("double"))
        + (F.lit(a2) * _int_dot_fixed("qc", "cc", dim).cast("double"))
    )
    scored = (
        _probe_join(corpus, q, coarse)
        .withColumn(
            "cosine",
            F.round(F.when(denom > 0, rdot / denom).otherwise(F.lit(0.0)), 6),
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    return _quantized_topk(scored, k, rescore, emb, queries, id_col, vec_col, dim)


# 12 affine blocks lifting the 64-d embeddings table to the reference's
# served dimension (768, hub/dataindex/embed.py:51-59): block j is
# (x * w_j) + b_j with DYADIC constants (exact binary doubles, so the
# literals parse to identical bits in Spark and DuckDB and the products
# with float32 components round identically). A plain 12x repeat would
# leave every cosine equal to its 64-d value (dot and norm^2 both scale
# by 12) and test nothing; distinct affine blocks change the
# quantization interval, the codes, and the scores — genuinely new
# 768-d math, still a pure function of the shared parquet corpus.
DIM768_BLOCKS: list[tuple[float, float]] = [
    (0.25 + j * 0.125, (j % 3) * 0.25 - 0.25) for j in range(12)
]


def lift_768(vec_col):
    """Lift a 64-d ``array<float>`` column to the 768-d double corpus
    defined by ``DIM768_BLOCKS`` (see note above) — the Spark half; the
    DuckDB mirror is ``oracles._v768_sql``."""
    def _block(w: float, b: float):
        # closure factory, NOT lambda default-args: pandas_udf-style
        # signature inspection in F.transform counts parameters, so a
        # (x, w=w, b=b) lambda reads as a 3-arg HOF lambda and fails
        # analysis with INVALID_LAMBDA_FUNCTION_CALL
        return F.transform(
            vec_col, lambda x: (x.cast("double") * F.lit(w)) + F.lit(b)
        )

    return F.flatten(F.array(*[_block(w, b) for w, b in DIM768_BLOCKS]))


def clustered_rows(
    dim: int = 64, per: int = 30, ncl: int = 8
) -> list[tuple[int, list[float]]]:
    """Deterministic clustered embedding corpus — the regime ANN
    indexes are built for (one spike axis per cluster + small bounded
    jitter). Shared by the recall floor tests
    (tests/test_operators.py::test_ann_recall_floors_clustered) and the
    BENCH/ann_recall.json clustered table so the published numbers and
    the asserted floors are measured on the identical corpus. Pure
    function of (dim, per, ncl) — no RNG, engine-independent."""
    rows = []
    for c in range(ncl):
        base = [0.0] * dim
        base[(c * 8) % dim] = 10.0
        for i in range(per):
            v = list(base)
            for d in range(dim):
                v[d] += (((i * 31 + d * 7 + c * 13) % 11) - 5) / 10.0
            rows.append((c * per + i, v))
    return rows


def recall_at_k(truth: DataFrame, approx: DataFrame, k: int = 10) -> float:
    """recall@k of an approximate top-k result against the exact one:
    mean over queries of |approx ∩ truth| / k. Both frames carry
    (query_id, neighbor_id); queries with no approximate hits count 0
    (an empty LSH bucket is a recall failure, not a skipped query).
    Distributed: one equi-join + one tiny aggregate — usable at full
    corpus scale, the collect is a single scalar.

    This is the number a user of the index actually buys: the
    reference's ES int8_hnsw delegates the same recall-for-memory trade
    to Elasticsearch (hub/dataindex/embed.py:51-59); here the trade is
    measured per variant in BENCH/ann_recall.json and floor-asserted in
    tests."""
    hits = (
        truth.select("query_id", "neighbor_id")
        .join(approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id").agg(F.count(F.lit(1)).alias("h"))
    )
    per_q = (
        truth.select("query_id").distinct()
        .join(hits, "query_id", "left")
        .select(F.coalesce(F.col("h"), F.lit(0)).alias("h"))
    )
    return float(per_q.agg(F.avg(F.col("h") / F.lit(float(k)))).collect()[0][0])

