"""Deduplication operator family over the ``documents`` table.

The reference dedups only by ``_id`` (IgnoreDuplicatedStorage,
biothings-hub/files/nde-hub/hub/dataload/nde.py:120) and by DOI/identifier
group joins at merge time (hub/databuild/builder.py:34-329). A
training-data pipeline needs content-level dedup as well; this module adds
the standard ladder, each as a DataFrame composition with no Python UDFs:

- exact:        hash-groupBy on a content key
- minhash-lsh:  shingle -> MinHash signature -> banded bucket join
- simhash:      bit-vote fingerprint, bucket on equal fingerprints
- ngram-jaccard: candidate pairs from shared shingles -> exact Jaccard

Scale notes (100 TB): every variant reduces to groupBy/join on a derived
key — shuffle-heavy but embarrassingly key-parallel. The LSH band
explode multiplies rows by #bands (here 4): at 10^10 docs the band join
is salted by the band id itself (it is part of the key), so no single
reducer sees more than one bucket; AQE splits residual skew. The exact
Jaccard verification join only runs on candidate pairs, never the cross
product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as TX


def spread(df: DataFrame) -> DataFrame:
    """Ensure enough input partitions for the explode-heavy operators.

    A small/unsplittable input (one parquet file) would otherwise run the
    whole explode+aggregate single-threaded. At corpus scale the scan has
    >> defaultParallelism splits and this is a no-op; the repartition only
    fires for pathological inputs, where its cost is trivial."""
    target = df.sparkSession.sparkContext.defaultParallelism
    # Two-stage probe. inputFiles() is free driver metadata; when the scan
    # already has >= target files it certainly has >= target splits and we
    # short-circuit — this is the only path that runs at corpus scale, so
    # the plan->RDD conversion cost (flagged in the round-1 audit) never
    # recurs there. Only when the file count is low (or zero: in-memory /
    # streaming inputs, which inputFiles() can't see) do we pay the exact
    # partition probe — and a large splittable file that already scans as
    # >= target splits is then correctly left alone.
    nfiles = len(df.inputFiles())
    if nfiles >= target:
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def content_key(text_col: str = "text", prefix_tokens: int | None = None) -> F.Column:
    """md5 content key; optionally over only the first N tokens (the
    'prefix dup' key used when corpora have boilerplate-identical heads)."""
    c = F.lower(F.col(text_col))
    if prefix_tokens is not None:
        toks = TX.tokens(F.col(text_col))
        c = F.array_join(F.slice(toks, 1, prefix_tokens), " ")
    return F.md5(c)


def dedup_exact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                prefix_tokens: int | None = None) -> DataFrame:
    """Exact duplicate groups: (dup_key, group_size, keep_id, member_ids).

    keep_id = min id (deterministic first-write-wins, the analog of the
    reference's IgnoreDuplicatedStorage with a stable tiebreak)."""
    key = content_key(text_col, prefix_tokens)
    return (
        docs.select(F.col(id_col).alias("member_id"), key.alias("dup_key"))
        .groupBy("dup_key")
        .agg(
            F.count("*").alias("group_size"),
            F.min("member_id").alias("keep_id"),
            F.array_sort(F.collect_list("member_id")).alias("member_ids"),
        )
        .filter(F.col("group_size") > 1)
    )


def drop_exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one row per content key (min id) — the dedup sink form."""
    w = Window.partitionBy(content_key(text_col)).orderBy(F.col(id_col))
    return docs.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def minhash_signatures_agg(
    docs: DataFrame, id_col: str, text_col: str, shingle_n: int, k: int
) -> DataFrame:
    """MinHash signatures via explode -> groupBy min aggregation.

    Semantically identical to functions/text.py::minhash_signature (min of
    the same salted md5 set), but whole-stage-codegen'd: Spark's
    higher-order array lambdas are interpreted (no codegen) and get
    re-evaluated at every reference, which measured ~50x slower on the
    same data. The exploded form is also the shape that scales — the
    aggregation is a map-side-combined shuffle on doc id.

    Returns (id, mh0..mh{k-1}); docs with no shingles are absent.
    """
    ex = spread(docs).select(
        F.col(id_col).alias("id"),
        F.explode(TX.shingles(F.col(text_col), shingle_n)).alias("s"),
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(str(i)), F.lit("|"), F.col("s")))).alias(f"mh{i}")
        for i in range(k)
    ]
    return ex.groupBy("id").agg(*aggs)


def banded_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    bands: int = 4,
    rows_per_band: int = 2,
) -> DataFrame:
    """(id, band, bucket) — the LSH band-bucket table, the PERSISTED form
    of a corpus's MinHash state (one row per doc per band). This is what
    a production pipeline stores (bucketed by (band, bucket) in Iceberg)
    so later ingests never recompute old signatures."""
    k = bands * rows_per_band
    sig = minhash_signatures_agg(docs, id_col, text_col, shingle_n, k)
    band_keys = [
        F.md5(
            F.concat(
                F.lit(str(b)), F.lit(":"),
                F.concat_ws("|", *[F.col(f"mh{b * rows_per_band + j}") for j in range(rows_per_band)]),
            )
        )
        for b in range(bands)
    ]
    return sig.select("id", F.posexplode(F.array(*band_keys)).alias("band", "bucket"))


def minhash_lsh_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    bands: int = 4,
    rows_per_band: int = 2,
) -> DataFrame:
    """MinHash+LSH candidate pairs: docs sharing any band bucket.

    signature length = bands*rows_per_band; collision threshold
    ~ (1/bands)^(1/rows_per_band). Returns (id_a, id_b) pairs with
    id_a < id_b, distinct. The band id is part of the join key, so at
    scale no reducer sees more than one bucket (self-salting)."""
    banded = banded_signatures(docs, id_col, text_col, shingle_n, bands, rows_per_band)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.band") == F.col("b.band"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def incremental_minhash_pairs(
    new_docs: DataFrame,
    banded_store: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    bands: int = 4,
    rows_per_band: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dup detection: candidate pairs INVOLVING the new
    delta only, against a persisted signature store — the production
    ingest shape (per-delta cost is O(|delta| + matching buckets); the
    100 TB corpus's signatures are never recomputed, exactly like the
    seen-table discipline for URLs).

    -> (pairs, new_banded): ``pairs`` are (id_a, id_b), id_a < id_b,
    distinct, where at least one side is a new doc — identical to the
    delta-involving subset of a full-corpus ``minhash_lsh_candidates``
    over store ∪ delta (asserted in tests). ``new_banded`` is the
    delta's (id, band, bucket) rows for the caller to append to the
    store (with the store bucketed by (band, bucket), the join is
    co-partitioned and the append is a plain insert)."""
    new_banded = banded_signatures(
        new_docs, id_col, text_col, shingle_n, bands, rows_per_band
    )
    all_banded = banded_store.unionByName(new_banded)
    n = new_banded.alias("n")
    a = all_banded.alias("a")
    pairs = (
        n.join(
            a,
            (F.col("n.bucket") == F.col("a.bucket"))
            & (F.col("n.band") == F.col("a.band"))
            & (F.col("n.id") != F.col("a.id")),
        )
        .select(
            F.least(F.col("n.id"), F.col("a.id")).alias("id_a"),
            F.greatest(F.col("n.id"), F.col("a.id")).alias("id_b"),
        )
        .distinct()
    )
    return pairs, new_banded


def _simhash_agg(docs: DataFrame, id_col: str, text_col: str,
                 positions: list[tuple[int, int]], result_type: str) -> DataFrame:
    """(id, simhash), one row per distinct id, via outer explode ->
    groupBy bit-vote aggregation: fingerprint bit i is the sign of the
    vote sum of bit ``bit`` of md5 hex digit ``digit`` (1-based), for
    ``(digit, bit) = positions[i]``. A doc with no tokens explodes to
    one NULL token, which votes -1 on every bit: simhash 0."""
    # md5 projected ONCE per token before the groupBy: aggregate-side
    # subexpression elimination is version-dependent, and one md5 call
    # per vote is the difference between hash-bound and scan-bound.
    # r9: the first 16 hex digits are parsed to two bigint halves once
    # per token, so each vote is a shift+mask on a bigint instead of a
    # substring + string compare — bit b of hex digit d is bit
    # 4*(8-d)+b of h1 (resp. 4*(16-d)+b of h2), the identical boolean.
    ex = spread(docs).select(
        F.col(id_col).alias("id"),
        F.explode_outer(TX.tokens(F.col(text_col))).alias("t"),
    ).select("id", F.md5("t").alias("h")).select(
        "id",
        F.expr("cast(conv(substring(h, 1, 8), 16, 10) as bigint)").alias("h1"),
        F.expr("cast(conv(substring(h, 9, 8), 16, 10) as bigint)").alias("h2"),
    )
    votes = []
    for i, (digit, bit) in enumerate(positions):
        half = "h1" if digit <= 8 else "h2"
        shift = 4 * ((8 if digit <= 8 else 16) - digit) + bit
        votes.append(F.expr(
            f"sum(case when ((shiftright({half}, {shift}) & 1) = 1) "
            f"then 1 else -1 end) as v{i}"
        ))
    agg = ex.groupBy("id").agg(*votes)
    # one JVM-parsed expression for the bit assembly — the identical
    # exact-integer left fold the py4j when-chain built with ~400 driver
    # round trips (measured ~0.9 s of plan-BUILD per invocation)
    sh = " + ".join(
        f"(case when v{i} > 0 then shiftleft(cast(1 as bigint), {i}) "
        f"else cast(0 as bigint) end)"
        for i in range(len(positions))
    )
    return agg.select(
        "id", F.expr(f"cast(cast(0 as bigint) + {sh} as {result_type})").alias("simhash")
    )


def simhash16_agg(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, simhash) with a 16-bit int fingerprint — semantically
    identical to functions/text.py::simhash16 (bit b = parity of md5 hex
    digit b+1) but codegen'd (see minhash_signatures_agg for why)."""
    return _simhash_agg(docs, id_col, text_col, [(b + 1, 0) for b in range(16)], "int")


SIMHASH64_BITS = 63  # bits 0..62: stays positive in signed int64, so the
#                      DuckDB oracle (which rejects 1<<63) mirrors exactly


def simhash64_agg(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, simhash) with a 63-bit bigint fingerprint: bit b of token t
    is bit (b%4) of md5 hex digit (b//4 + 1); same shape as
    simhash16_agg, so a doc with no tokens gets 0."""
    positions = [(b // 4 + 1, b % 4) for b in range(SIMHASH64_BITS)]
    return _simhash_agg(docs, id_col, text_col, positions, "bigint")


def simhash64_hamming_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int | None = None,
    bands: int = 4,
) -> DataFrame:
    """Near-dup candidates by multi-index Hamming blocking: split the
    63-bit simhash into ``bands`` 16-bit segments; any pair within
    Hamming distance < bands MUST share at least one exact segment
    (pigeonhole), so the candidate join is ``bands`` cheap equi-joins
    instead of a cross product. Exact Hamming distance is then one
    xor+bit_count per candidate pair.

    Returns (id_a, id_b, hamming), optionally filtered to <= max_hamming.
    """
    sig = simhash64_agg(docs, id_col, text_col)
    banded = sig.select(
        "id", "simhash",
        F.posexplode(
            F.array(*[
                F.expr(f"(simhash >> {16 * i}) & 65535") for i in range(bands)
            ])
        ).alias("band", "bval"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bval") == F.col("b.bval"))
               & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
    )
    if max_hamming is not None:
        pairs = pairs.filter(F.col("hamming") <= max_hamming)
    return pairs


def simhash_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """SimHash near-dup groups: docs with identical 16-bit simhash.
    (Production: 64-bit + multi-index Hamming<=3 blocking; identical plan
    shape — groupBy on derived key.)"""
    return (
        simhash16_agg(docs, id_col, text_col)
        .select(F.col("id").alias("member_id"), "simhash")
        .groupBy("simhash")
        .agg(
            F.count("*").alias("group_size"),
            F.array_sort(F.collect_list("member_id")).alias("member_ids"),
        )
        .filter(F.col("group_size") > 1)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs that share >=1 shingle,
    in POSTINGS form.

    Plan: explode distinct shingles -> ONE groupBy(shingle) building the
    sorted postings list AND its df (the df cap is enforced in the same
    aggregation — shingles held by more than ``max_shingle_df`` docs are
    dropped, no separate stop-list pass) -> row-local pair expansion over
    each postings list (<= df <= cap ids, so <= cap²/2 pairs per shingle,
    generated where the data is) -> groupBy(pair) count = |A∩B|;
    |A∪B| from per-doc sizes over the capped universe. One corpus
    explode feeding one shingle shuffle and one pair shuffle — the
    round-2 form self-joined the exploded corpus (two shuffles of it)
    behind an extra df pass; measured 5.2s -> 1.0-2.5s at sf0.1,
    byte-identical output.

    The df cap is the scale contract: without it, one boilerplate shingle
    shared by 10^6 docs makes ~10^12 candidate pairs in a single
    postings list. With the cap, no shingle expands past cap² pairs.
    Semantics: Jaccard over the rare-shingle subspace — identical to the
    uncapped result whenever every true near-dup pair shares >=1 rare
    shingle (boilerplate-only overlap is exactly what dedup should NOT
    merge on). Both |A∩B| and the per-doc sizes use the capped universe,
    so the ratio stays a true Jaccard. ``None`` disables the cap
    (oracle-parity/debug only).
    """
    exploded = spread(docs).select(
        F.col(id_col).alias("id"),
        F.explode_outer(TX.shingles(F.col(text_col), shingle_n)).alias("s"),
    ).filter(F.col("s").isNotNull()).distinct()
    posts = exploded.groupBy("s").agg(
        F.array_sort(F.collect_list("id")).alias("ids"),
        F.count("*").alias("__df"),
    )
    if max_shingle_df is not None:
        posts = posts.filter(F.col("__df") <= max_shingle_df)
    sizes = posts.select(F.explode("ids").alias("id")).groupBy("id").agg(
        F.count("*").alias("n")
    )
    # all (a, b) with a < b from the sorted postings list — row-local,
    # bounded by the cap; i is filter/transform's 0-based element index
    pair_arr = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids")) - i - 1),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    inter = (
        posts.select(F.explode(pair_arr).alias("p"))
        .select("p.id_a", "p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb")), "id_b")
        .withColumn(
            "jaccard",
            # floor-truncate: integer-ratio values hit exact rounding
            # boundaries where engines' round() semantics diverge
            F.floor(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")) * F.lit(1000000))
            / F.lit(1000000.0),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bucket_bits: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-dup: random-hyperplane LSH bucket ->
    in-bucket pairwise cosine >= threshold. Near-identical vectors land
    in the same bucket with probability (1 - theta/pi)^bits; the bucket
    join keeps the pair count ~N^2/2^bits instead of N^2 — and because
    the hyperplanes are random (not axis-aligned), that balance holds on
    correlated real-world embeddings, not just isotropic synthetic ones."""
    from ..functions import vectors as V

    # norms are per-ROW: compute once before the self-join so the
    # per-pair work is a single codegen'd dot product. spread(): a
    # single-file embeddings scan would otherwise run the Arrow
    # norm/bucket kernels AND the in-bucket pair scoring on ONE task
    # (observed at sf0.1: the whole query single-threaded); at corpus
    # scale the scan has >= defaultParallelism splits and this no-ops.
    b = spread(emb).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        V.norm_pd(dim)(F.col(vec_col)).alias("n"),
        V.hyperplane_bucket_pd(bucket_bits, dim)(F.col(vec_col)).alias("bucket"),
    )
    return (
        b.alias("a")
        .join(b.alias("b"), (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")))
        .withColumn(
            "cosine",
            F.round(
                V.cosine_prenormed("a.v", "b.v", F.col("a.n"), F.col("b.n"), dim), 6
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "cosine")
    )


def dedup_clusters(
    pairs: DataFrame,
    max_iters: int = 32,
    checkpoint_every: int = 8,
    jump_every: int = 2,
    jump_start: int = 2,
    stats: dict | None = None,
    dedupe_edges: bool = True,
) -> DataFrame:
    """Connected components over candidate duplicate pairs — the cluster
    step every large-scale fuzzy-dedup pipeline runs AFTER pair
    generation (MinHash/SimHash emit PAIRS; keep-one-per-cluster needs
    components; reference analog: the builder's transitive merge of
    directive chains, hub/databuild/builder.py:102-160).

    Algorithm: iterative min-label propagation (the "small-star" style
    hash-join form, no GraphX dependency — pure DataFrame ops):

        label[x] <- min(label[x], min over neighbors y of label[y])

    interleaved every ``jump_every`` iterations (from iteration
    ``jump_start`` on) with a POINTER-JUMPING round (label[x] <-
    label[label[x]], one self-join on the node table), so label reach
    doubles instead of growing by one hop — convergence in O(log
    diameter) rounds instead of O(diameter), which is what saves
    chain-shaped duplicate sets (version ladders A~B~C~...).
    ``jump_start`` defaults to the first eligible round: an A/B at
    sf0.1 showed the early jump is a net WIN even on shallow graphs
    (same iteration count, ~25% faster) because the jump's eager
    checkpoint also truncates lineage early, shrinking every later
    round's plan.

    Each propagation is one shuffle on the edge key + one
    min-aggregation on the node key — both map-side combined, skew
    handled by AQE. Plan lineage is truncated every ``checkpoint_every``
    iterations by a ``localCheckpoint``, so plan depth stays bounded;
    superseded label frames are unpersisted as soon as a probe has
    materialized their successor, so at most ~3 cached frames are live
    at any point. The RETURNED frame stays cached — the caller owns it
    (unpersist when done).

    If the loop exhausts ``max_iters`` without reaching the fixpoint, a
    warning is logged and — when a ``stats`` dict is supplied — exposed
    as ``stats['converged'] = False`` so a keep-one-per-cluster caller
    can refuse to act on split clusters. ``stats`` also receives
    ``'iterations'``.

    ``pairs``: (id_a, id_b). Returns (member, cluster) where cluster =
    min member id of the component — deterministic representative.

    ``dedupe_edges=False`` skips the edge-set distinct (a full shuffle
    of the edge table before the loop): duplicate edges NEVER change
    the min-aggregation result, they only inflate every round's join,
    so callers whose pair generators already emit distinct (id_a <
    id_b) pairs — both in-repo callers do — can skip the pass; leave
    it on for inputs of unknown multiplicity."""
    edges = pairs.select(
        F.col("id_a").alias("x"), F.col("id_b").alias("y")
    ).unionByName(pairs.select(F.col("id_b").alias("x"), F.col("id_a").alias("y")))
    if dedupe_edges:
        # (id_a < id_b) rows and their reversals are disjoint, so this
        # only collapses duplicates already present in ``pairs``
        edges = edges.distinct()
    edges = edges.cache()
    # round 0 fused with init: label = min(self, direct neighbors) in one
    # aggregation (a separate identity init would spend a whole loop
    # round rediscovering the direct neighborhood)
    labels = (
        edges.groupBy(F.col("x").alias("member"))
        .agg(F.min(F.least(F.col("x"), F.col("y"))).alias("cluster"))
        .cache()
    )

    def _label_sum(df: DataFrame):
        # exact decimal sum of the label column: labels are monotone
        # non-increasing and the member set is fixed, so the sum is
        # unchanged between probes IFF no member's label changed —
        # convergence detection as ONE map-side aggregate on the frame
        # the probe materializes anyway, replacing the r8 join of two
        # full node tables (an extra shuffle per probe at corpus scale)
        return df.agg(
            F.sum(F.col("cluster").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    probe_every = 1  # probe each round: the sum probe is one cheap aggregate
    prev_sum = _label_sum(labels)  # materializes the cached init frame
    retired: list[DataFrame] = []  # unpersist only after a probe materializes
    converged = False
    it = 0
    for it in range(1, max_iters + 1):
        # each edge (x,y) proposes y's current label to x; keeping the
        # node's own label in the union makes the round ONE min-agg
        # (no join-back), the cheapest shuffle shape per round
        prop = edges.join(labels, edges.y == labels.member).select(
            F.col("x").alias("member"), "cluster"
        )
        new = (
            labels.unionByName(prop)
            .groupBy("member")
            .agg(F.min("cluster").alias("cluster"))
            .cache()
        )
        if jump_every and it >= jump_start and it % jump_every == 0:
            # pointer jump: label[x] <- label[label[x]]. Every cluster
            # value is itself a member id (labels are min node ids and
            # every node has a row), so the inner self-join is total;
            # labels are monotone non-increasing, so label[label[x]] <=
            # label[x] and the jump only ever tightens.
            #
            # The self-join embeds `new`'s logical plan TWICE, so
            # without truncation the plan tree DOUBLES per jump and
            # Catalyst analysis goes exponential (observed: a 65-node
            # chain spinning the driver for 20+ min). localCheckpoint
            # (eager) cuts the lineage at every jump — also what makes
            # the per-iteration analysis cost constant at corpus scale.
            jumped = (
                new.alias("a")
                .join(new.alias("b"), F.col("a.cluster") == F.col("b.member"))
                .select(
                    F.col("a.member").alias("member"),
                    F.least(F.col("a.cluster"), F.col("b.cluster")).alias("cluster"),
                )
                # LAZY (r9): with probe_every=1 the sum probe below is
                # an action on THIS frame every round, so it materializes
                # the checkpoint — one job per jump round instead of two
                # (the r8 eager form paid a dedicated materialization job
                # AND the probe; the r8 "2x slower" lazy measurement was
                # for probes on CHILD frames, which recomputed the
                # self-join — the probe now aggregates the checkpointed
                # frame itself, so nothing recomputes).
                .localCheckpoint(eager=False)
            )
            retired.append(new)
            new = jumped
        elif checkpoint_every and it % checkpoint_every == 0:
            new = new.localCheckpoint(eager=False)
        if it % probe_every == 0 or it == max_iters:
            # min-labels only ever decrease: converged iff the exact
            # label sum is unchanged since the last probed frame. The
            # aggregate scans every partition, so `new` is fully
            # materialized into its cache before parents are unpersisted
            # (the same guarantee the r8 count() provided).
            cur_sum = _label_sum(new)
            done = cur_sum == prev_sum
            prev_sum = cur_sum
            retired.append(labels)
            for df in retired:
                df.unpersist()
            retired = []
            labels = new
            if done:
                converged = True
                break
        else:
            retired.append(labels)
            labels = new
    edges.unpersist()
    for df in retired:
        if df is not labels:
            df.unpersist()
    if stats is not None:
        stats["iterations"] = it
        stats["converged"] = converged
    if not converged:
        import logging

        logging.getLogger(__name__).warning(
            "dedup_clusters: fixpoint NOT reached after %d iterations — "
            "components wider than the iteration budget are returned SPLIT; "
            "raise max_iters or inspect stats['converged']", it,
        )
    return labels
