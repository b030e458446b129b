"""Query catalog — one entry per operator family from SURVEY.md §2.

Every query is a callable ``(spark, sf_dir) -> DataFrame`` over the
driver's parquet tables; ``nde_crawlers_spark.oracles`` carries the
equivalent DuckDB SQL for the driver's correctness gate. Column names and
types are aligned 1:1 with the oracle (aggregates rounded, sums cast,
arrays rendered as sorted CSV strings) so the order-insensitive
value-hash comparison is meaningful.

The crawl-family queries derive a synthetic frontier deterministically
FROM the ``documents`` table (pure SQL in both engines), so even the
crawl operators — canonicalization, seen-filter, robots, politeness
top-k — are oracle-checked, not just rows-only.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import text as TX
from .functions import urls as U
from .functions import vectors as V
from .operators import dedup as DD
from .operators import enrich as EN
from .operators import frontier as FR
from .operators import merge as MG
from .operators import seen as SN
from .operators import similarity as SIM
from .operators import textops as TO


# declared table schemas: a declared read skips parquet's schema-
# inference job (every scale factor and every hub dump shares these)
_SCHEMAS = {"documents": "doc_id long, text string, lang string, source string, n_chars long"}


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    reader = spark.read.schema(_SCHEMAS[name]) if name in _SCHEMAS else spark.read
    return reader.parquet(f"{sf_dir}/{name}.parquet")


def dsum(col: F.Column, scale: int = 2) -> F.Column:
    """Order-independent money sum: per-row cast to DECIMAL(20,8)
    (deterministic), exact decimal addition (no float summation-order
    noise across partitionings/engines), round, back to double.

    Parallel double sums differ in the last ulp between engines and
    partitionings; near a .005 grid point that flips the rounded cent —
    a real mismatch class caught by the sf0.1 parity sweep."""
    return F.round(F.sum(col.cast("decimal(20,8)")), scale).cast("double")


def davg(col: F.Column, scale: int = 4) -> F.Column:
    """Cross-engine-deterministic average: exact decimal sum -> one double
    division -> floor-truncation. round() diverges between engines on
    terminating decimals (Spark rounds the shortest decimal repr HALF_UP,
    DuckDB rounds the binary double), which integer-ratio averages hit
    constantly; floor of an identical double is deterministic."""
    m = 10 ** scale
    exact = F.sum(col.cast("decimal(20,8)")).cast("double") / F.count(F.lit(1))
    return F.floor(exact * F.lit(m)) / F.lit(float(m))


def ftrunc(col: F.Column, scale: int) -> F.Column:
    """floor-truncate to ``scale`` decimals (see davg for why not round)."""
    m = 10 ** scale
    return F.floor(col * F.lit(m)) / F.lit(float(m))


# ---------------------------------------------------------------- crawl --
def _raw_url() -> F.Column:
    """Messy raw URL derived from (source, doc_id) — identical expression
    lives in the oracle SQL. Exercises every canonicalization rule."""
    sid = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 4
    return (
        F.when(m == 0, F.concat(F.lit("HTTPS://"), F.col("source"), F.lit(".Example.org:443/Doc/"), sid, F.lit("/?b=2&a=1#x")))
        .when(m == 1, F.concat(F.lit("https://"), F.col("source"), F.lit(".example.org/Doc/"), sid, F.lit("/")))
        .when(m == 2, F.concat(F.lit("https://"), F.col("source"), F.lit(".example.org/private/"), sid))
        .otherwise(F.concat(F.lit("https://"), F.col("source"), F.lit(".example.org/Doc/"), sid, F.lit("?z=9&y=8")))
    )


def _frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 10).cast("int").alias("priority"), _raw_url().alias("url")
    )
    df = U.with_url_columns(docs)
    return df.withColumn("seq", U.hash_seq(F.col("canonical_url")))


def _derived_robots(frontier: DataFrame) -> DataFrame:
    """Robots rules as pure column expressions of the host (mirrored in
    the oracle): ~25% of hosts disallow /private/; crawl delay 0 / 500 /
    2000 ms by the first hex digit of md5('delay:'||host)."""
    hosts = frontier.select("host").distinct()
    rb = U.hex_digit(F.md5(F.concat(F.lit("robots:"), F.col("host"))), 1)
    dl = U.hex_digit(F.md5(F.concat(F.lit("delay:"), F.col("host"))), 1)
    return hosts.select(
        "host",
        F.when(rb < 4, F.array(F.lit("/private/"))).otherwise(F.array().cast("array<string>")).alias("disallow_prefixes"),
        F.array().cast("array<string>").alias("allow_prefixes"),
        F.when(dl < 2, F.lit(0)).when(dl >= 14, F.lit(2000)).otherwise(F.lit(500)).cast("int").alias("crawl_delay_ms"),
    )


def crawl_url_canonicalize(spark, sf_dir):
    return _frontier(spark, sf_dir).select(
        "doc_id", "canonical_url", "url_hash", "host", "host_bucket", "path", "seq", "priority"
    )


def crawl_autothrottle_budget(spark, sf_dir):
    """Scrapy AutoThrottle analog — every reference crawler ships
    AUTOTHROTTLE_ENABLED=True with TARGET_CONCURRENCY=1.0 over
    DOWNLOAD_DELAY=0.5s (e.g. bei_crawler/files/settings.py:2-5): the
    per-host delay adapts to observed latency by the recurrence

        target = latency / C
        next = clamp(max(target, (delay + target) / 2), base_delay, max_delay)
        (non-200 responses may only RAISE the delay, never lower it)

    — including Scrapy's max(target, mean) step, so a single very slow
    response raises the delay all the way to its target, not halfway.

    folded over each host's round-ordered latency history as ONE
    row-local higher-order aggregate (no shuffle beyond the per-host
    regroup); the resulting delay yields the next round's fetch budget.
    Deterministic synthetic latencies keep the oracle bit-exact. The
    step is ``FR.autothrottle_step``, the same one the crawl plan folds
    over each round's fetches into ``host_state``."""
    round_ms = 10000
    docs = t(spark, sf_dir, "documents")
    h = F.regexp_replace("source", "src", "").cast("int")
    g = (
        docs.select("source", h.alias("h")).distinct()
        .select("source", "h", F.explode(F.sequence(F.lit(0), F.lit(7))).alias("r"))
    )
    lat = (F.lit(80) + ((F.col("h") * 13 + F.col("r") * 7) % 12) * F.lit(140)).cast("double")
    ok = (F.col("h") + F.col("r")) % 5 != 0
    signed = F.when(ok, lat).otherwise(-lat)
    per = g.select("source", "r", signed.alias("x")).groupBy("source").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("r", "x"))), lambda s: s.getField("x")
        ).alias("xs")
    )
    delay = F.aggregate("xs", F.lit(FR.AT_BASE_DELAY_MS), FR.autothrottle_step)
    return per.select(
        "source",
        F.size("xs").cast("int").alias("n_rounds"),
        ftrunc(delay, 3).alias("delay_ms"),
        F.greatest(F.floor(F.lit(round_ms) / delay), F.lit(1)).cast("int").alias("budget"),
    )


# the reference's SitemapSpider rules shape: (url-substring, callback)
_SITEMAP_RULES = [("/dataset/", "jsonld"), ("/record/", "api")]


def crawl_sitemap_seed(spark, sf_dir):
    """Sitemap-seeded URL discovery — the reference's third seeding mode
    beside pagination and OAI (dryad_crawler spider.py:26-27 and
    omicsdi_crawler spider.py:23-26 use Scrapy's SitemapSpider;
    clinepidb pipeline.py:163-166 walks the urlset manually): one
    synthetic <urlset> per source, <url> blocks split and <loc>/<lastmod>
    extracted JVM-side (regexp_extract_all — no Python, no lxml), each
    URL routed by the FIRST matching sitemap rule and non-matching URLs
    dropped (the SitemapSpider contract). Scan-bound: the only shuffle
    is the per-source blob assembly, which a real run replaces with a
    directory of fetched sitemap files."""
    docs = t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    path = (
        F.when(did % 2 == 0, F.concat(F.lit("/dataset/"), did.cast("string")))
        .when(did % 3 == 0, F.concat(F.lit("/record/"), did.cast("string")))
        .otherwise(F.concat(F.lit("/private/"), did.cast("string")))
    )
    loc = F.concat(F.lit("https://"), F.col("source"), F.lit(".example.org"), path)
    lastmod = F.when(
        did % 3 == 0,
        F.concat(F.lit("<lastmod>2024-01-"),
                 F.lpad((did % 28 + 1).cast("string"), 2, "0"), F.lit("</lastmod>")),
    ).otherwise(F.lit(""))
    entry = F.concat(F.lit("<url><loc>"), loc, F.lit("</loc>"), lastmod, F.lit("</url>"))
    sm = (
        docs.select("source", F.struct("doc_id", entry.alias("e")).alias("s"))
        .groupBy("source")
        .agg(
            F.concat(
                F.lit("<urlset>"),
                F.array_join(
                    F.transform(F.array_sort(F.collect_list("s")), lambda x: x.getField("e")), ""
                ),
                F.lit("</urlset>"),
            ).alias("body")
        )
    )
    blocks = F.regexp_extract_all(F.col("body"), F.lit("<url>(.*?)</url>"), F.lit(1))
    ex = sm.select("source", F.explode(blocks).alias("b"))
    url = F.regexp_extract("b", "<loc>([^<]*)</loc>", 1)
    lm = F.regexp_extract("b", "<lastmod>([^<]*)</lastmod>", 1)
    route = F.lit(None).cast("string")
    for pat, cb in reversed(_SITEMAP_RULES):
        route = F.when(url.contains(pat), F.lit(cb)).otherwise(route)
    return (
        ex.select(
            "source",
            url.alias("url"),
            F.when(lm != "", lm).otherwise(F.lit(None)).alias("lastmod"),
            route.alias("route"),
        )
        .filter(F.col("route").isNotNull())
    )


_URL_BLOCKLIST = ["src4.example.org", "src11.example.org", "src17.example.org"]


def crawl_url_filter(spark, sf_dir):
    """URL-quality prefiltering BEFORE fetch (the CCNet/FineWeb URL
    filter stage; reference analog: the invalid-id regex family,
    P10, plus per-source allow rules): flag blocklisted hosts
    (broadcast dim — the real shape of a maintained blocklist),
    disallowed path keywords, excessive query parameters, and overlong
    URLs; keep = no flag. All row-local except the broadcast blocklist
    join — scan-bound at frontier scale."""
    fr = _frontier(spark, sf_dir)
    bl = spark.createDataFrame(
        [(h,) for h in _URL_BLOCKLIST], "host string"
    ).withColumn("__blocked", F.lit(True))
    out = fr.join(F.broadcast(bl), "host", "left")
    has_q = F.col("canonical_url").contains("?")
    # query string = everything after the FIRST '?' (a second '?' is
    # part of the query value, not a new query string) — instr-based so
    # Spark and the DuckDB oracle (strpos) agree on multi-'?' URLs
    qs = F.expr("substring(canonical_url, instr(canonical_url, '?') + 1)")
    n_params = F.when(has_q, F.size(F.split(qs, "&"))).otherwise(F.lit(0))
    blocked = F.coalesce(F.col("__blocked"), F.lit(False))
    kw = F.col("path").contains("private")
    many = n_params >= 2
    overlong = F.length("canonical_url") > 38
    return out.select(
        "doc_id", "host",
        blocked.alias("blocked"),
        kw.alias("disallowed_kw"),
        many.alias("excessive_params"),
        overlong.alias("overlong"),
        (~(blocked | kw | many | overlong)).alias("keep"),
    )


def crawl_seen_filter(spark, sf_dir):
    fr = _frontier(spark, sf_dir)
    seen = fr.filter(F.col("doc_id") % 2 == 0).select("url_hash")
    return SN.filter_unseen_exact(fr, seen).select("doc_id", "url_hash", "host")


def crawl_recrawl_ttl(spark, sf_dir):
    """TTL recrawl through the SEGMENTED CUCKOO seen-filter — the
    deletable half of the north rule's "partitioned cuckoo/bloom
    URL-seen filter" (cache EXPIRE semantics, figshare_oai-pmh/files/
    sql_database.py:75): seen entries carry first_seen_round; at
    current_round=8 with a 3-round TTL, entries first seen before round
    5 have EXPIRED — their fingerprints are DELETED from their own
    cuckoo segment (no rebuild, executor-side cogroup) and those URLs
    become fetchable again. Output = candidates passing the TTL-aware
    filter; exactness: might-contain rows are confirmed against the
    ACTIVE seen set by the anti-join (a stale positive costs a lookup,
    never a wrong row). Deletion false negatives — an expired key
    colliding with a live key on (16-bit fingerprint, bucket) can evict
    the live copy — are GUARDED: the delete verifies every surviving
    live key still probes present per segment and rebuilds that segment
    from its live set on a collision (delete_from_cuckoo_segments,
    forced-collision property test in tests/test_cuckoo.py)."""
    from .operators import cuckoo as CK

    fr = _frontier(spark, sf_dir)
    seen = fr.filter(F.col("doc_id") % 2 == 0).select(
        "url_hash", (F.col("doc_id") % 8).alias("first_seen_round")
    )
    expired = seen.filter(F.col("first_seen_round") < 5).select("url_hash")
    active = seen.filter(F.col("first_seen_round") >= 5).select("url_hash")
    segs = CK.build_cuckoo_segments(seen.select("url_hash"), nseg=16, capacity=4096)
    segs = CK.delete_from_cuckoo_segments(segs, expired, nseg=16, live=active)
    return CK.filter_unseen_cuckoo_segmented(fr, active, segs, nseg=16).select(
        "doc_id", "url_hash", "host"
    )


def crawl_robots_filter(spark, sf_dir):
    fr = _frontier(spark, sf_dir)
    robots = _derived_robots(fr)
    return FR.robots_filter(fr, robots).select("doc_id", "url_hash", "host", "path")


def crawl_frontier_topk(spark, sf_dir):
    fr = _frontier(spark, sf_dir)
    robots = _derived_robots(fr)
    allowed = FR.robots_filter(fr, robots)
    budgeted = FR.with_host_budget(allowed, robots, round_seconds=2)
    return FR.topk_per_host(budgeted).select("host", "doc_id", "priority", "seq", "url_hash")


def crawl_politeness_budget(spark, sf_dir):
    fr = _frontier(spark, sf_dir)
    robots = _derived_robots(fr)
    budgeted = FR.with_host_budget(fr, robots, round_seconds=2)
    return (
        budgeted.groupBy("host", "host_budget")
        .agg(F.count("*").alias("queued"))
        .select(
            "host",
            F.col("host_budget").cast("int").alias("budget"),
            F.col("queued"),
            F.least(F.col("host_budget").cast("long"), F.col("queued")).alias("selected"),
        )
    )


def crawl_retry_after_budget(spark, sf_dir):
    """The Retry-After feedback loop as an oracle-checked query
    (dataverse/files/dataverse.py:20-52 -> plans/crawl.py host_state):
    hosts flagged in cooldown (derived purely from the host hash, ~25%)
    carry next_allowed_round=1 in host_state; at current_round=0 their
    budget collapses to 0 while everyone else keeps the politeness
    budget — their queued URLs stay in the frontier."""
    fr = _frontier(spark, sf_dir)
    robots = _derived_robots(fr)
    rad = U.hex_digit(F.md5(F.concat(F.lit("ra:"), F.col("host"))), 1)
    host_state = fr.select("host").distinct().select(
        "host",
        F.when(rad < 4, F.lit(1)).otherwise(F.lit(0)).cast("int").alias("next_allowed_round"),
    )
    budgeted = FR.with_host_budget(
        fr, robots, round_seconds=2, host_state=host_state, current_round=0
    )
    return (
        budgeted.groupBy("host", "host_budget")
        .agg(F.count("*").alias("queued"))
        .select(
            "host",
            F.col("host_budget").cast("int").alias("budget"),
            "queued",
            F.least(F.col("host_budget").cast("long"), F.col("queued")).alias("selected"),
        )
    )


def crawl_host_lineage(spark, sf_dir):
    fr = _frontier(spark, sf_dir)
    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return (
        fr.join(docs, "doc_id")
        .groupBy("host_bucket")
        .agg(
            F.count("*").alias("urls"),
            F.countDistinct("host").alias("hosts"),
            F.sum("n_chars").alias("bytes"),
            F.min("url_hash").alias("min_hash"),
        )
    )


# ---------------------------------------------------------------- dedup --
def dedup_exact_prefix(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    g = DD.dedup_exact(docs, prefix_tokens=4)
    return g.select(
        "dup_key", "group_size", "keep_id",
        F.array_join(F.transform("member_ids", lambda x: x.cast("string")), ",").alias("members_csv"),
    )


def dedup_minhash_lsh(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return DD.minhash_lsh_candidates(docs, shingle_n=3, bands=4, rows_per_band=2)


def dedup_simhash(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    g = DD.simhash_groups(docs)
    return g.select(
        F.col("simhash").cast("int").alias("simhash"), "group_size",
        F.array_join(F.transform("member_ids", lambda x: x.cast("string")), ",").alias("members_csv"),
    )


def dedup_simhash64_hamming(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return DD.simhash64_hamming_pairs(docs, bands=4)


def dedup_ngram_jaccard(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return DD.ngram_jaccard_pairs(docs, shingle_n=4, threshold=0.4, max_shingle_df=400)


def dedup_embedding_cosine(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    return DD.embedding_near_dup_pairs(emb, threshold=0.2, bucket_bits=8)


# ----------------------------------------------------------- similarity --
def ann_bruteforce_topk(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return SIM.brute_force_topk(emb, q, k=10)


def ann_lsh_topk(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return SIM.lsh_topk(emb, q, k=10, bucket_bits=8)


def ann_ivf_topk(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return SIM.ivf_topk(emb, q, k=10, nlist=8, nprobe=2)


def ann_ivfpq_topk(spark, sf_dir):
    """IVF-PQ composed (similarity.py::pq_adc_topk(nlist=)): coarse inverted
    lists prune the candidate set to ~nprobe/nlist of the corpus AND
    PQ codes replace the float vectors in scoring — the FAISS-IVFPQ
    production shape as one equi-join plan."""
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return SIM.pq_adc_topk(emb, q, k=10, m=4, ksub=8, nlist=8, nprobe=2)


def ann_ivfpq_rescore_topk(spark, sf_dir):
    """IVF-PQ with the production exact-rescore step (similarity.py::
    pq_adc_topk(nlist=8, rescore=4)): the quantized equi-join scan keeps top
    k*4 per query, then ONLY those rows' float vectors are fetched
    (broadcast candidate join) for exact cosine re-ranking — the step
    FAISS IVFPQ ships with and the reference's ES int8_hnsw serving
    applies (hub/dataindex/embed.py:51-59), without which raw PQ
    recall is 0.06-0.24 on an isotropic corpus. Float column read for
    Q*k*r rows, not N."""
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return SIM.pq_adc_topk(emb, q, k=10, m=4, ksub=8, nlist=8, nprobe=2,
                           rescore=4)


def ann_ivf_trained_topk(spark, sf_dir):
    """IVF serving over a TRAINED codebook (similarity.kmeans_codebook:
    deterministic Lloyd, micro-unit means) — the approximate family's
    first row where the TRAINING loop itself is under the oracle: the
    DuckDB mirror unrolls the same two Lloyd iterations relationally
    and must land on bit-identical centroids before the serving
    comparison even starts."""
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    cb = SIM.kmeans_codebook(emb, k=8, iters=2)
    return SIM.ivf_topk(emb, q, k=10, nlist=8, nprobe=2, codebook=cb)


def ann_pq_trained_topk(spark, sf_dir):
    """PQ-ADC serving over TRAINED per-subspace codebooks
    (similarity.pq_train: the kmeans_codebook Lloyd discipline run
    independently on each subspace slice) — the trained counterpart of
    ann_pq_adc_topk, closing the trained-codebook story for the
    compressed family: the DuckDB mirror unrolls all m independent
    Lloyd chains relationally and must land on bit-identical subspace
    centroids before encode/ADC comparison starts."""
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    cb = SIM.pq_train(emb, m=4, ksub=8, iters=2)
    return SIM.pq_adc_topk(emb, q, k=10, m=4, ksub=8, codebook=cb)


def ann_pq_adc_topk(spark, sf_dir):
    """PQ compression + asymmetric-distance top-k (similarity.py::
    pq_adc_topk): 64-dim float vectors -> 4 subspace codes; queries
    score candidates via m table lookups over the encoded table only —
    the memory-bounded ANN path (~64x corpus compression) next to the
    ivf/lsh recall paths."""
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return SIM.pq_adc_topk(emb, q, k=10, m=4, ksub=8)


def ann_sq8_topk(spark, sf_dir):
    """int8 scalar-quantized top-k (similarity.py::sq8_topk) — the
    reference's OWN dense-vector index shape (ES int8_hnsw,
    hub/dataindex/embed.py:51-59): per-dimension linear quantization to
    [0,255] over a single global interval (the Lucene ScalarQuantizer
    shape), EXACT integer code-sum/code-dot stats (4x memory vs
    float32), and the true dot reconstructed as dim*mn^2 +
    mn*s*(cs_a+cs_b) + s^2*dot(codes). Scans all candidates —
    memory-bounded, not scan-bounded; recall loss is per-component
    rounding only (0.98 isotropic / 1.0 clustered measured; rescore=
    recovers 1.0, see BENCH/ann_recall.json)."""
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return SIM.sq8_topk(emb, q, k=10)


def ann_sq8_incremental_topk(spark, sf_dir):
    """Frozen-stats incremental SQ serving (similarity.py::sq8_topk
    with stats=): the quantization interval is trained ONCE on the
    base partition (vec_id < 80) and the full corpus — base plus
    every later-appended row — encodes and serves with those frozen
    constants, clamping out-of-interval components to code 0/255. This
    is the only contract that works for incremental ingest at scale
    (retraining the interval would invalidate every historical code);
    the clamp is exercised FOR REAL here (the corpus-wide max
    component lives OUTSIDE the base partition at both gate SFs, so
    appended rows saturate) and mirrored in the DuckDB oracle."""
    emb = t(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") < 80)
    frozen = SIM.sq8_stats(base)
    q = emb.filter(F.col("vec_id") < 5)
    return SIM.sq8_topk(emb, q, k=10, stats=frozen)


def ann_ivf_incremental_topk(spark, sf_dir):
    """Frozen-codebook incremental IVF serving — the pruning family's
    counterpart of ann_sq8_incremental_topk's contract: the coarse
    codebook is TRAINED ONCE on the base partition (vec_id < 80,
    similarity.kmeans_codebook — deterministic micro-unit Lloyd) and
    the full corpus, base plus every later-appended row, is assigned
    and served against those frozen centroids. This is the only
    index-maintenance shape that works for incremental ingest at
    scale: retraining the coarse quantizer would reassign every
    historical vector (a full-corpus rewrite); with frozen centroids,
    adding a batch costs only the NEW rows' assignments — O(delta) —
    which is how FAISS IVF add() and the reference's ES index serve
    growing corpora (hub/dataindex/embed.py:51-59). The DuckDB mirror
    runs the identical Lloyd chain over the base-partition CTE and
    must land on bit-identical frozen centroids before serving."""
    emb = t(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") < 80)
    cb = SIM.kmeans_codebook(base, k=8, iters=2)
    q = emb.filter(F.col("vec_id") < 5)
    return SIM.ivf_topk(emb, q, k=10, nlist=8, nprobe=2, codebook=cb)


def ann_ivfsq8_topk(spark, sf_dir):
    """Composed IVF+SQ8 index (similarity.py::sq8_topk(nlist=) — the FAISS
    "IVF,SQ8" shape): coarse inverted lists prune the candidate set to
    ~nprobe/nlist of the CODE table, and scoring is sq8's exact-integer
    reconstructed dot over int8 codes — the float corpus appears
    nowhere after encode. vs IVF-PQ: no subspace-argmin loss, only
    quantization rounding; vs plain sq8: a fraction of the scan. The
    DuckDB mirror composes the ivf assignment CTEs with the sq8
    long-form code pipeline and must rank identically bit-for-bit."""
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return SIM.sq8_topk(emb, q, k=10, nlist=8, nprobe=2)


def ann_ivfsq8_incremental_topk(spark, sf_dir):
    """The fully-frozen composed index — BOTH components trained once
    on the base partition (vec_id < 80: Lloyd coarse codebook AND
    quantization interval) and the full corpus served against them.
    This is exactly the state streaming/vector_ingest.py maintains
    (nlist mode: batch 0 trains and freezes both, every delta encodes
    O(delta)), so this row puts the streaming-maintained index's exact
    serving math under the driver oracle — appended rows exercise both
    frozen-component behaviors for real (assignment to centroids they
    never influenced; interval clamp on out-of-range components)."""
    emb = t(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") < 80)
    cb = SIM.kmeans_codebook(base, k=8, iters=2)
    st = SIM.sq8_stats(base)
    q = emb.filter(F.col("vec_id") < 5)
    return SIM.sq8_topk(emb, q, k=10, nlist=8, nprobe=2,
                        coarse_codebook=cb, stats=st)


def ann_sq8_dim768_topk(spark, sf_dir):
    """sq8 serving at the REFERENCE's embedding dimension (768 — its
    dense-vector pass indexes 768-d vectors into ES int8_hnsw,
    hub/dataindex/embed.py:51-59,124-131), under the full DuckDB
    oracle: the 64-d embeddings table is lifted to a genuine 768-d
    corpus by 12 distinct affine blocks (similarity.DIM768_BLOCKS —
    dyadic constants, engine-exact; a plain repeat would leave cosines
    unchanged), then quantized/scored by the identical sq8 pipeline at
    dim=768. Above vectors.UNROLL_MAX_DIM the integer folds run as HOF
    aggregates (constant-size plan — the unrolled 768-term tree costs
    seconds of Catalyst analyze and falls out of whole-stage codegen
    via hugeMethodLimit); exact bigint arithmetic means the fold form
    cannot change a bit, which this row proves against the oracle."""
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", SIM.lift_768(F.col("embedding")).alias("embedding")
    )
    q = emb.filter(F.col("vec_id") < 5)
    return SIM.sq8_topk(emb, q, k=10, dim=768)


# ------------------------------------------------------------------ text --
def text_analyze(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    out = TO.analyze(docs)
    return out.select(
        "doc_id", "n_tokens", "lang_pred", "quality", "fingerprint",
        F.col("simhash").cast("int").alias("simhash"),
    )


def text_lang_agreement(spark, sf_dir):
    return TO.lang_agreement(t(spark, sf_dir, "documents"))


def text_quality_filter(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return TO.quality_filter(docs, min_tokens=10, min_quality=0.4).select("doc_id", "n_chars")


def text_bpe_tokens(spark, sf_dir):
    """BPE-ish token counting next to whitespace counting: letter runs,
    digit runs, and single punctuation marks each count as one token (the
    GPT-2-pretokenizer shape) — the fertility ratio (bpe/ws) is the
    standard corpus-quality diagnostic for tokenizer budgeting."""
    docs = t(spark, sf_dir, "documents")
    pat = r"([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])"
    # r9: counts projected once — the inline form re-ran the HOF token
    # split and the regex extraction per reference (3x and 2x per row)
    counts = docs.select(
        "doc_id",
        F.size(TX.tokens(F.col("text"))).alias("n_ws"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(1))).alias("n_bpe"),
    )
    ws, bpe = F.col("n_ws"), F.col("n_bpe")
    return counts.select(
        "doc_id",
        "n_ws",
        "n_bpe",
        F.when(ws > 0, ftrunc(bpe.cast("double") / ws.cast("double"), 4))
        .otherwise(F.lit(0.0)).alias("fertility"),
    )


def dedup_incremental_minhash(spark, sf_dir):
    """Incremental ingest dedup (the production shape): a new delta
    (every 5th doc) is checked against the PERSISTED banded-signature
    store of the existing corpus — pairs involving the delta come back,
    the corpus is never re-signed. Oracle: the delta-involving subset of
    a full-corpus LSH pass."""
    docs = t(spark, sf_dir, "documents")
    store = DD.banded_signatures(docs.filter(F.col("doc_id") % 5 != 0))
    pairs, _ = DD.incremental_minhash_pairs(docs.filter(F.col("doc_id") % 5 == 0), store)
    return pairs


def dedup_cluster_components(spark, sf_dir):
    """Duplicate-CLUSTER formation — the step after pair generation that
    every production fuzzy-dedup needs (keep-one-per-cluster requires
    components, not pairs; builder.py:102-160's transitive directive
    chains are the reference analog): MinHash+LSH candidate pairs ->
    connected components by iterative min-label propagation (pure
    DataFrame joins, O(cluster diameter) rounds) -> per-cluster roster.
    Oracle: DuckDB recursive CTE computing min-reachable-id."""
    docs = t(spark, sf_dir, "documents")
    pairs = DD.minhash_lsh_candidates(docs, shingle_n=3, bands=4, rows_per_band=2)
    # the LSH candidate generator already emits distinct (id_a < id_b)
    # pairs — skip the edge-dedup shuffle (see dedup_clusters)
    comp = DD.dedup_clusters(pairs, dedupe_edges=False)
    return comp.groupBy("cluster").agg(
        F.count("*").cast("int").alias("n_members"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list("member")), lambda x: x.cast("string")),
            ",",
        ).alias("members_csv"),
    )


def dedup_semantic_keepone(spark, sf_dir):
    """The COMPOSED semantic-dedup production op (SemDeDup shape):
    embedding near-dup pairs (random-hyperplane LSH buckets, codegen'd
    cosine) -> connected components (pointer-jumping min-label
    propagation) -> KEEP-ONE-PER-CLUSTER: survivors = everything except
    non-representative members; each survivor carries its cluster size
    and the absorbed member roster. Singletons (no near-dup) survive
    with cluster_size 1. Every stage is oracle-checked in isolation
    elsewhere (dedup_embedding_cosine, dedup_cluster_components); this
    row verifies the composition end to end against a recursive-CTE
    oracle."""
    emb = t(spark, sf_dir, "embeddings")
    pairs = DD.embedding_near_dup_pairs(emb, threshold=0.2, bucket_bits=8).select(
        "id_a", "id_b"
    )
    # near-dup pair generation emits each unordered pair once — skip
    # the edge-dedup shuffle (see dedup_clusters)
    comp = DD.dedup_clusters(pairs, dedupe_edges=False)
    # r9 restructure (identical rows): every comp member is either
    # dropped (member != cluster) or IS its cluster's representative —
    # so the roster aggregate, keyed by the representative id, already
    # IS the non-singleton survivor set. Survivors = rosters UNION the
    # ids that appear in no pair (anti-join, cluster_size 1). The r8
    # form materialized a dropped set, anti-joined, then LEFT-joined
    # the rosters back onto the survivor ids — one extra full join of
    # two node tables for the same rows.
    rosters = comp.groupBy("cluster").agg(
        F.count("*").cast("int").alias("cluster_size"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("member") != F.col("cluster"), F.col("member"))
                    )
                ),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("absorbed_csv"),
    ).select(
        F.col("cluster").alias("keep_id"), "cluster_size", "absorbed_csv"
    )
    singletons = (
        emb.select(F.col("vec_id").alias("keep_id"))
        .join(comp.select(F.col("member").alias("keep_id")), "keep_id", "left_anti")
        .select(
            "keep_id",
            F.lit(1).cast("int").alias("cluster_size"),
            F.lit("").alias("absorbed_csv"),
        )
    )
    return rosters.unionByName(singletons)


def text_gopher_quality(spark, sf_dir):
    """Gopher-style document quality rules (Rae et al. 2021 §A1.1 — the
    standard pretraining-corpus gate): word-count bounds, mean word
    length band, symbol-to-word ratio, bullet-line fraction, minimum
    stopword hits. All row-local column expressions — scan-bound at
    100 TB, no shuffle."""
    from .oracles import LANGS

    docs = t(spark, sf_dir, "documents")
    # r9: staged projections so every interpreted/expensive expression
    # (the HOF token split/filter, line split, regex extracts) is
    # evaluated ONCE per row — the r8 inline form re-evaluated tokens()
    # for each of its ~6 references (size, concat_ws, stopword filter,
    # the keep predicate's repeats); multi-reference inline exprs
    # re-evaluate, and only an explicit projection boundary stops it.
    # Bit-identical columns (oracle parity).
    stops = F.array(*[F.lit(w) for w in LANGS["en"]])
    arrays = docs.select(
        "doc_id",
        TX.tokens(F.col("text")).alias("__t"),
        F.split(F.col("text"), "\n").alias("__lines"),
        (
            F.size(F.regexp_extract_all(F.col("text"), F.lit(r"(#)"), F.lit(1)))
            + F.size(F.regexp_extract_all(F.col("text"), F.lit(r"(\.\.\.)"), F.lit(1)))
        ).alias("__symbols"),
    )
    toks = F.col("__t")
    lines = F.col("__lines")
    stats = arrays.select(
        "doc_id",
        F.size(toks).alias("__nw"),
        F.length(F.concat_ws("", toks)).alias("__clen"),
        F.col("__symbols"),
        F.size(lines).alias("__nl"),
        F.size(
            F.filter(lines, lambda l: l.startswith("-") | l.startswith("*") | l.startswith("•"))
        ).alias("__bullets"),
        F.size(F.filter(toks, lambda x: F.array_contains(stops, x))).alias("__stop_hits"),
    )
    nw = F.col("__nw")
    nwd = F.when(nw > 0, nw.cast("double")).otherwise(F.lit(1.0))
    mean_wl = F.col("__clen") / nwd
    sym_ratio = F.col("__symbols").cast("double") / nwd
    bullet_frac = F.when(
        F.col("__nl") > 0, F.col("__bullets").cast("double") / F.col("__nl").cast("double")
    ).otherwise(F.lit(0.0))
    stop_hits = F.col("__stop_hits")
    keep = (
        (nw >= 10) & (nw <= 10000)
        & (mean_wl >= 3.0) & (mean_wl <= 12.0)
        & (sym_ratio <= 0.1)
        & (bullet_frac <= 0.9)
        & (stop_hits >= 2)
    )
    return stats.select(
        "doc_id",
        nw.cast("int").alias("n_words"),
        ftrunc(mean_wl, 4).alias("mean_word_len"),
        ftrunc(sym_ratio, 6).alias("symbol_ratio"),
        ftrunc(bullet_frac, 6).alias("bullet_frac"),
        stop_hits.cast("int").alias("stop_hits"),
        keep.cast("int").alias("keep"),
    )


def text_repetition(spark, sf_dir):
    """Within-document repetition diagnostics (the Gopher repetition
    filters): duplicate word / 2-gram / 3-gram fractions per document.
    Row-local (size vs array_distinct size over the shingle arrays) —
    no shuffle; the standard pre-dedup quality signal for boilerplate-
    heavy crawls."""
    docs = t(spark, sf_dir, "documents")

    def dup_frac(arr):
        n = F.size(arr)
        return F.when(
            n > 0,
            ftrunc(F.lit(1.0) - F.size(F.array_distinct(arr)).cast("double") / n.cast("double"), 6),
        ).otherwise(F.lit(0.0))

    # r9: build each shingle array ONCE in a lower projection — the
    # inline form referenced every interpreted HOF array (tokens,
    # 2-gram, 3-gram builds) twice per row (size + array_distinct; HOF
    # transforms are CodegenFallback, and Spark does not collapse
    # projections that would duplicate non-cheap exprs but happily
    # evaluates multi-reference inline exprs repeatedly) — and spread()
    # the single-file scan. 20.4 s -> ~1 s at sf0.1, identical rows.
    arrays = DD.spread(docs).select(
        "doc_id",
        TX.tokens(F.col("text")).alias("__t"),
        TX.shingles(F.col("text"), 2).alias("__g2"),
        TX.shingles(F.col("text"), 3).alias("__g3"),
    )
    return arrays.select(
        "doc_id",
        F.size("__t").cast("int").alias("n_words"),
        dup_frac(F.col("__t")).alias("dup_word_frac"),
        dup_frac(F.col("__g2")).alias("dup_2gram_frac"),
        dup_frac(F.col("__g3")).alias("dup_3gram_frac"),
    )


def text_decontaminate(spark, sf_dir):
    """Benchmark decontamination — the test-set overlap removal every
    LLM training pipeline runs before training: flag any document
    sharing an n-gram with the benchmark corpus (the GPT-3/Llama
    recipe; production uses 8-13-grams, the short synthetic docs here
    use 4-grams so the fixture is non-vacuous). Benchmark = docs with
    doc_id % 37 == 0; output = every NON-benchmark doc with its
    distinct-overlap count and the contaminated flag.

    Plan: one corpus explode of distinct n-grams; the benchmark's gram
    set (test sets are small by nature) broadcast-joined; one regroup.
    At 100 TB the corpus side never shuffles — the only movement is the
    broadcast of the benchmark grams and the per-doc count regroup."""
    docs = t(spark, sf_dir, "documents")
    grams = F.array_distinct(TX.word_ngrams(TX.tokens(F.col("text")), 4))
    # spread(): the corpus-side n-gram explode is the expensive stage
    # and a single-file sf scan would run it on one task (no-op at
    # corpus scale — see dedup.spread). The benchmark side re-derives
    # from the raw scan: it explodes only the 1/37 benchmark slice, so
    # sharing the spread frame would only add a shuffle to it.
    with_g = DD.spread(docs).select("doc_id", F.explode(grams).alias("g"))
    bench = docs.select("doc_id", F.explode(grams).alias("g")).filter(
        F.col("doc_id") % 37 == 0).select("g").distinct()
    hits = (
        with_g.filter(F.col("doc_id") % 37 != 0)
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count_distinct("g").alias("n_hits"))
    )
    return (
        docs.filter(F.col("doc_id") % 37 != 0)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).cast("int").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def sample_stratified(spark, sf_dir):
    """Deterministic per-source quota sampling (training-data curation:
    cap each domain/source/language at k docs): keep each source's k
    docs with the smallest md5(salt || doc_id) — a fixed, seedable,
    parallelism-independent sample, unlike rand(). One shuffle on the
    stratum key; skewed strata are AQE's problem, or pre-salt."""
    docs = t(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("strat1|"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy("h")
    return (
        docs.select("source", "doc_id", h.alias("h"))
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= 25)
        .select("source", "doc_id", F.col("sample_rank").cast("int").alias("sample_rank"))
    )


def pack_greedy_bins(spark, sf_dir):
    """Context-window packing: chunk each source's docs (in doc_id
    order) into ~512-token bins by cumulative token count — the
    sequence-packing shard assignment step of LLM data prep, expressed
    as ONE running-sum window (bin = floor(tokens_before / budget));
    no iterative bin-packing loop, no driver state."""
    docs = t(spark, sf_dir, "documents")
    n_tok = F.size(TX.tokens(F.col("text")))
    w = (
        Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    return (
        docs.select("source", "doc_id", n_tok.cast("int").alias("n_tok"))
        .select(
            "source", "doc_id", "n_tok",
            F.floor(cum_before / F.lit(512)).cast("int").alias("bin"),
        )
    )


def text_pii_scrub(spark, sf_dir):
    """PII scrubbing: count and redact e-mail addresses and IPv4
    literals (row-local regex — the standard pre-release scrub pass).
    The fixture plants PII deterministically (every 7th doc an e-mail,
    every 11th an IP) so both the count and the replacement paths are
    exercised; the scrubbed text is emitted as an md5 so the oracle
    hash-checks full content equality."""
    docs = t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    planted = F.concat(
        F.col("text"),
        F.when(did % 7 == 0,
               F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.org")))
        .otherwise(F.lit("")),
        F.when(did % 11 == 0,
               F.concat(F.lit(" from 10."), (did % 200).cast("string"), F.lit(".0."), (did % 250).cast("string")))
        .otherwise(F.lit("")),
    )
    email_re = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
    ip_re = r"\d+\.\d+\.\d+\.\d+"
    # r9: the planted text is projected once — the inline form rebuilt
    # the concat for each of its four references (two counts, two
    # replaces); the regex passes themselves are the intended work
    base = docs.select("doc_id", planted.alias("__planted"))
    pl = F.col("__planted")
    scrubbed = F.regexp_replace(F.regexp_replace(pl, email_re, "<EMAIL>"), ip_re, "<IP>")
    return base.select(
        "doc_id",
        F.regexp_count(pl, F.lit(email_re)).cast("int").alias("n_emails"),
        F.regexp_count(pl, F.lit(ip_re)).cast("int").alias("n_ips"),
        F.md5(scrubbed).alias("scrub_key"),
    )


def dedup_exact_substring(spark, sf_dir):
    """Exact-substring repetition marking (the ExactSubstr dedup of
    'Deduplicating Training Data Makes Language Models Better'): every
    k-token window repeated across >1 document is marked for removal;
    per doc we emit the window count, how many of its windows are
    cross-doc repeats, and the first repeated position (1-based).
    Production uses k~50; the short synthetic docs use k=10 so the
    fixture carries ~2000 repeated occurrences.

    Plan (r9): windows are generated ROW-LOCALLY (posexplode of a
    transform — no joins to build them) EXACTLY ONCE over a spread()
    scan, hashed, and the cross-doc-repeat flag is an unordered
    min/max window over the hash partition (one Exchange on h) feeding
    ONE per-doc regroup. The r8 form built the window table twice (a
    separate groupBy(h) aggregate was broadcast-joined back into a
    second posexplode subtree — Spark has no operator-level CSE, so
    the whole interpreted n-gram build ran twice), and the
    single-file sf0.1 scan ran each build on ONE task; spread() gives
    the explode defaultParallelism and no-ops at corpus scale. The
    corpus still shuffles only (doc_id, pos, hash) triples, never the
    text; 8.2 s -> ~1.1 s at sf0.1, identical rows."""
    docs = t(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))
    wnds = TX.word_ngrams(toks, 10)
    w = (
        DD.spread(docs).select("doc_id", F.posexplode(wnds).alias("pos", "g"))
        .select("doc_id", (F.col("pos") + 1).alias("pos"), F.md5("g").alias("h"))
    )
    # cross-doc <=> min(doc_id) != max(doc_id) over the hash group:
    # unordered analytic window (no sort key needed beyond the hash
    # partition), so the repeat flag costs one Exchange and ZERO extra
    # passes over the window build
    hw = Window.partitionBy("h")
    hit = F.min("doc_id").over(hw) != F.max("doc_id").over(hw)
    per = (
        w.withColumn("__rep", hit)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(F.when(F.col("__rep"), 1).otherwise(0)).alias("n_repeated"),
            F.min(F.when(F.col("__rep"), F.col("pos"))).alias("first_repeat_pos"),
        )
    )
    return docs.select("doc_id").join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_windows", F.lit(0)).cast("int").alias("n_windows"),
        F.coalesce("n_repeated", F.lit(0)).cast("int").alias("n_repeated"),
        F.col("first_repeat_pos").cast("int").alias("first_repeat_pos"),
    )


def text_importance_weights(spark, sf_dir):
    """DSIR-style importance weighting for data selection: score every
    document by how much its unigrams look like the TARGET domain
    (lang='en' here) relative to the full corpus — weight =
    (target token mass + n) / (corpus token mass + n), add-n smoothed.
    Kept in exact integer sums with ONE final double division so the
    value is bit-reproducible across engines and partitionings (a
    sum-of-logs would be non-associative float addition).

    Plan: one corpus token explode feeding BOTH count tables and the
    per-doc regroup; the two vocab tables are broadcast (bounded by
    vocabulary size, not corpus size)."""
    docs = t(spark, sf_dir, "documents")
    tk = DD.spread(docs).select(
        "doc_id", "lang", F.explode(TX.tokens(F.col("text"))).alias("tok")
    )
    # ONE vocab aggregation (r9): target and corpus token masses come
    # from the same groupBy via a conditional count — the r8 form ran
    # TWO independent corpus explodes (ct and cs), a third for the
    # regroup; now the corpus is exploded twice total, and the vocab
    # table carries both columns (c_t = 0 for tokens with no target
    # occurrences, exactly what the old left join + coalesce produced).
    vocab = tk.groupBy("tok").agg(
        F.count("*").alias("c_s"),
        F.count(F.when(F.col("lang") == "en", F.lit(1))).alias("c_t"),
    )
    per = (
        tk.join(F.broadcast(vocab), "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_toks"),
            F.sum("c_t").alias("sum_ct"),
            F.sum("c_s").alias("sum_cs"),
        )
    )
    return per.select(
        "doc_id",
        F.col("n_toks").cast("int").alias("n_toks"),
        F.col("sum_ct").cast("long").alias("sum_ct"),
        F.col("sum_cs").cast("long").alias("sum_cs"),
        ftrunc(
            (F.col("sum_ct") + F.col("n_toks")).cast("double")
            / (F.col("sum_cs") + F.col("n_toks")).cast("double"),
            6,
        ).alias("weight"),
    )


# ----------------------------------------------------------------- merge --
def merge_priority_lastwriter(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    key = DD.content_key(prefix_tokens=4)
    rank = F.substring(F.col("source"), 4, 10).cast("int")
    kept = MG.priority_merge(docs.withColumn("dup_key", key), F.col("dup_key"), rank)
    return kept.select("dup_key", "doc_id", "source")


def merge_version_groups(spark, sf_dir):
    """Version self-merge INCLUDING the array-union payload: the keeper
    absorbs the distinct sameAs values of every group member
    (zenodo/uploader.py:53-64)."""
    docs = t(spark, sf_dir, "documents").withColumn(
        "sameas",
        F.array(
            F.concat(F.lit("doi:"), (F.col("doc_id") % 13).cast("string")),
            F.concat(F.lit("alt:"), ((F.col("doc_id") * 3) % 7).cast("string")),
        ),
    )
    g = MG.version_group_merge(
        docs, ["source", "lang"], F.col("n_chars"), union_array_cols=["sameas"]
    )
    return g.select(
        "source", "lang", "keep_id",
        F.col("keep_date").cast("long").alias("keep_n_chars"),
        F.array_join(F.transform("member_ids", lambda x: x.cast("string")), ",").alias("members_csv"),
        "group_size",
        F.array_join("merged_sameas", ",").alias("merged_sameas_csv"),
    )


def merge_identifier_dedup(spark, sf_dir):
    """J12 (identifier -> _id dedup, hub/databuild/builder.py:162-329):
    normalize each doc's identifier array with lower(), equi-join the
    exploded identifiers against the OTHER sources' primary _ids, and
    emit (loser_id, winner_id) merge directives — the Mongo $lookup
    pipeline as an explode + equi-join.

    The fixture exercises all three paths of builder.py:226-272: a
    same-source identifier (filtered by the cross-source guard), a
    dangling identifier (no _id match), and — for every third doc — a
    PLANTED cross-source collision: doc d carries the _id of doc
    (d+21) % 500, which lives in source src_{(d+1)%20} != src_{d%20},
    so the match path emits a real directive (the round-2 fixture
    never matched and passed vacuously on zero rows)."""
    did = F.col("doc_id")
    planted = F.concat(
        F.lit("SRC"), ((did + 1) % 20).cast("string"),
        F.lit(":"), ((did + 21) % 500).cast("string"),
    )
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.concat(F.col("source"), F.lit(":"), did.cast("string")).alias("_id"),
        F.concat(
            F.array(
                F.concat(F.upper("source"), F.lit(":"), did.cast("string")),
                F.concat(F.lit("SRC"), ((did + 1) % 20).cast("string"),
                         F.lit(":"), ((did * 7) % 500).cast("string")),
            ),
            F.when(did % 3 == 0, F.array(planted)).otherwise(F.array().cast("array<string>")),
        ).alias("identifiers"),
    )
    exploded = docs.select(
        F.col("doc_id").alias("loser_id"), F.col("source").alias("loser_source"),
        F.explode("identifiers").alias("raw_ident"),
    ).select("loser_id", "loser_source", F.lower("raw_ident").alias("ident"))
    targets = docs.select(F.col("_id").alias("ident"), F.col("doc_id").alias("winner_id"),
                          F.col("source").alias("winner_source"))
    return (
        exploded.join(targets, "ident")
        .filter(F.col("loser_source") != F.col("winner_source"))
        .select("ident", "loser_id", "winner_id")
    )


def merge_key_dedup_1x1(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id", DD.content_key(prefix_tokens=4).alias("dup_key"))
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    return MG.key_dedup_1x1(a, b, "dup_key")


def merge_apply_1x1(spark, sf_dir):
    """End-to-end merge APPLICATION (builder.py:102-160,308-329): the
    1x1 directives from merge_key_dedup_1x1 are applied to the documents
    table — winners' includedInDataCatalog arrays absorb the losers'
    entries, losers are deleted. Output = the post-merge documents."""
    did = F.col("doc_id")
    url = F.concat(F.lit("https://"), F.col("source"), F.lit(".example.org/rec/"), did.cast("string"))
    docs = (
        t(spark, sf_dir, "documents")
        .withColumn("dup_key", DD.content_key(prefix_tokens=4))
        .select(
            "doc_id", "source", "dup_key",
            F.array(F.struct(
                F.col("source").alias("name"), url.alias("url"), url.alias("archivedAt"),
            )).alias("includedInDataCatalog"),
        )
    )
    sides = docs.select("doc_id", "dup_key", "includedInDataCatalog")
    directives = MG.key_dedup_1x1(sides.filter(did % 2 == 0), sides.filter(did % 2 == 1), "dup_key")
    out = MG.apply_merge_directives(docs, directives)
    return out.select(
        "doc_id", "source",
        F.size("includedInDataCatalog").alias("n_catalog"),
        F.array_join(
            F.array_sort(F.transform(
                "includedInDataCatalog",
                lambda x: F.concat(x.getField("name"), F.lit("@"), x.getField("url")),
            )),
            ",",
        ).alias("catalog_csv"),
    )


# ---------------------------------------------------------------- enrich --
def enrich_broadcast_lookup(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    dim = nation.join(region, nation.n_regionkey == region.r_regionkey).select(
        F.col("n_nationkey").alias("c_nationkey"), F.col("r_name").alias("region_name")
    )
    return (
        EN.broadcast_enrich(cust, dim, on="c_nationkey")
        .groupBy("region_name")
        .agg(F.count("*").alias("customers"), davg(F.col("c_acctbal"), 2).alias("avg_acctbal"))
    )


def enrich_cache_miss(spark, sf_dir):
    """The memo-cache miss set (utils/pmid_helper.py:770-771): keys this
    batch needs that the cache does not yet hold. The cache is the
    supplier table minus every third key, so the anti-join's MATCH path
    (cached keys dropped) and MISS path (uncached keys emitted) are both
    genuinely exercised — a full cache would make the query pass
    vacuously on zero rows."""
    li = t(spark, sf_dir, "lineitem").select(F.col("l_suppkey").alias("suppkey"))
    sup = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 3 != 0)
        .select(F.col("s_suppkey").alias("suppkey"))
    )
    return EN.cache_misses(li, sup, "suppkey")


def enrich_explode_collect(spark, sf_dir):
    """The PMID-enrichment join shape (J1, utils/pmid_helper.py:799-964):
    per-doc key array -> explode -> broadcast lookup join -> regroup with
    collect_list -> one enriched row per doc."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.array(
            (F.col("doc_id") % 25).cast("int"), ((F.col("doc_id") * 3) % 25).cast("int")
        ).alias("keys"),
    )
    nation = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("key"), F.col("n_name")
    )
    exploded = docs.select("doc_id", F.explode("keys").alias("key"))
    joined = exploded.join(F.broadcast(nation), "key", "left")
    return joined.groupBy("doc_id").agg(
        F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias("enriched_csv"),
        F.count("n_name").alias("hits"),
    )


def _hub_taxonomy() -> list[tuple]:
    """The hub fixtures' deterministic taxonomy as (taxon, parent_taxon)
    pairs: taxa 1..200 with parent(t) = max(t // 7, 1), root 1 (no
    parent)."""
    return [(t, None if t == 1 else max(t // 7, 1)) for t in range(1, 201)]


def _species_lookup() -> dict:
    """The PubTator species lookup, name_lc -> (std_name,
    std_identifier, classification): organism-0..23 standardize to
    taxon-N, every third one classified as an infectious agent."""
    return {
        f"organism-{i}": (f"taxon-{i}", f"tax:{2000 + i}", "host" if i % 3 else "infectiousAgent")
        for i in range(24)
    }


def _species_columns(did):
    """(species, infectiousAgent) entity arrays derived from the doc id:
    lookup hits and misses, an agent-named raw species entry on every
    fourth doc, and identifier collisions."""
    n1, n2, n3 = did % 30, (did * 7) % 30, (did * 11) % 30

    def ent(n, base):
        return F.struct(
            F.concat(F.lit("organism-"), n.cast("string")).alias("name"),
            F.concat(F.lit("tax:"), (base + n).cast("string")).alias("identifier"),
        )

    s3 = F.struct(
        F.concat(F.lit("taxon-"), n3.cast("string")).alias("name"),
        F.concat(F.lit("tax:"), (3000 + n3).cast("string")).alias("identifier"),
    )
    empty = "array<struct<name:string,identifier:string>>"
    species = F.concat(
        F.array(ent(n1, 1000), ent(n2, 1000)),
        F.when(did % 4 == 0, F.array(s3)).otherwise(F.array().cast(empty)),
    )
    return species, F.array(ent(n3, 1000))


def _ner_entities(did) -> list[tuple]:
    """Three (name, taxid) NER entities per doc: taxids over the hub
    taxonomy, named ent-<taxid> except 'china' in position 1 of every
    ninth doc."""
    tids = [(1 + did % 200), (1 + (did * 3) % 200), (1 + (did * 11) % 200)]
    return [
        (
            F.when((did % 9 == 0) & (F.lit(pos) == 1), F.lit("china"))
            .otherwise(F.concat(F.lit("ent-"), tid.cast("string"))),
            tid.cast("int"),
        )
        for pos, tid in enumerate(tids)
    ]


# the NER drop rules (utils/extract.py:23-59 ADVANCED_DROP_RULES shape)
_NER_RULES = [
    {"name": "china", "id": 3034371, "ignore_children": False},
    {"name": "clade-3", "id": 3, "ignore_children": True},
    {"name": "ent-50", "id": 50, "ignore_children": False},
]


def enrich_lineage_expand(spark, sf_dir):
    """J7's real payload (utils/lineage.py:140-307 + extract.py:332-360):
    a deterministic taxonomy tree (parent(t) = max(t // 7, 1), root
    1), its closure walked on the driver (no Spark job), then one
    literal-map lookup per taxid expands each doc's taxids into
    sorted-distinct ``_meta.lineage`` entries;
    ancestor-removal drops taxids that are proper ancestors of another
    taxid in the same doc."""
    from .operators import lineage as LN

    closure = LN.taxonomy_closure(_hub_taxonomy())
    did = F.col("doc_id")
    taxids = F.array_distinct(
        F.array((1 + did % 200).cast("int"), (1 + (did * 3) % 200).cast("int"))
    )
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        LN.expand_lineage(taxids, closure).alias("_meta_lineage"),
        LN.ancestor_removal(taxids, closure).alias("kept_taxids"),
    ).select(
        "doc_id",
        F.size("_meta_lineage").alias("n_lineage"),
        F.array_join(
            F.transform(
                "_meta_lineage",
                lambda e: F.concat(
                    e.getField("taxon").cast("string"), F.lit(">"),
                    F.coalesce(e.getField("parent_taxon"), F.lit(0)).cast("string"),
                ),
            ),
            ",",
        ).alias("lineage_csv"),
        F.size("kept_taxids").alias("n_kept"),
        F.array_join(
            F.transform("kept_taxids", lambda x: x.cast("string")), ","
        ).alias("kept_csv"),
    )


def enrich_reclassify(spark, sf_dir):
    """J4's real payload (utils/pubtator.py:839-927): species +
    infectiousAgent entries standardized through a literal lookup map,
    re-split by classification (moving misclassified entries between the
    two fields), converted-name species filtered out, keep-first
    identifier dedup. The fixture exercises every branch: matched host,
    matched agent (moves out of species), unmatched pass-through, a raw
    species entry named like an agent's standardized name (dropped by
    the converted-name filter), and identifier collisions (deduped)."""
    from .operators import standardize as SD

    species, agents = _species_columns(F.col("doc_id"))
    out = t(spark, sf_dir, "documents").select(
        "doc_id", SD.reclassify_species(species, agents, _species_lookup()).alias("r")
    ).select("doc_id", "r.*")
    render = lambda c: F.array_join(  # noqa: E731
        F.transform(c, lambda x: F.concat(x.getField("name"), F.lit("|"), x.getField("identifier"))),
        ",",
    )
    return out.select(
        "doc_id",
        F.size("species").alias("n_species"),
        render("species").alias("species_csv"),
        F.size("infectiousAgent").alias("n_agents"),
        render("infectiousAgent").alias("agents_csv"),
    )


def enrich_drop_rules(spark, sf_dir):
    """J17's heuristic layer (utils/extract.py:23-59 ADVANCED_DROP_RULES):
    NER entities dropped by name match ('china' is a place), by taxid
    match, and — with ignore_children — by membership in a rule taxid's
    subtree, read off the lineage closure. Same deterministic
    taxonomy as enrich_lineage_expand."""
    from .operators import lineage as LN
    from .operators import standardize as SD

    ner = F.array(*[
        F.struct(name.alias("name"), taxid.alias("taxid"))
        for name, taxid in _ner_entities(F.col("doc_id"))
    ])
    kept = SD.apply_drop_rules(ner, _NER_RULES, LN.taxonomy_closure(_hub_taxonomy()))
    # a doc whose entities all drop has no row
    return t(spark, sf_dir, "documents").select("doc_id", kept.alias("kept")).filter(
        F.size("kept") > 0
    ).select(
        "doc_id",
        F.size("kept").alias("n_kept"),
        F.array_join(
            F.transform(
                "kept",
                lambda s: F.concat(
                    s.getField("name"), F.lit("|"), s.getField("taxid").cast("string")
                ),
            ),
            ",",
        ).alias("kept_csv"),
    )


def enrich_theta_contains(spark, sf_dir):
    part = t(spark, sf_dir, "part")
    patterns = part.select(F.lower(F.col("p_type")).alias("pattern")).distinct()
    return EN.theta_contains_join(
        part.select("p_partkey", F.lower(F.col("p_name")).alias("name_lc")), patterns, "name_lc"
    ).select("p_partkey", "pattern")


# ----------------------------------------------------------------- tpch --
def tpch_q1(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        # spread(): the per-row decimal casts + partial aggregation run
        # inside the SCAN stage, and the sandbox lineitem is 3 splits —
        # 3 of 32 cores did all the work (A/B: 1.13 -> 0.73 s, rows
        # equal; the exact decimal sums are order-independent by
        # design). No-op at corpus scale (see dedup.spread).
        DD.spread(li.filter(F.col("l_shipdate") <= F.lit("1998-09-01")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))).alias("sum_charge"),
            davg(F.col("l_quantity")).alias("avg_qty"),
            davg(F.col("l_extendedprice")).alias("avg_price"),
            davg(F.col("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def tpch_q3_top10(spark, sf_dir):
    cust = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-03-15"))
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-03-15"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def tpch_q5ish(spark, sf_dir):
    region = t(spark, sf_dir, "region")
    nation = t(spark, sf_dir, "nation")
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    # spread(): with orders under the broadcast threshold the heavy
    # probe + partial-agg stage runs inside the 3-split lineitem scan
    # (A/B: ~12% here, ~45% on the rollup; exact decimal sums are
    # order-independent; no-op at corpus scale)
    li = DD.spread(t(spark, sf_dir, "lineitem"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
             F.count("*").alias("lineitems"))
    )


def tpch_rollup(spark, sf_dir):
    """Hierarchical rollup (region -> nation -> grand total) of revenue —
    the lineage-dashboard aggregation shape."""
    region = t(spark, sf_dir, "region")
    nation = t(spark, sf_dir, "nation")
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    # spread(): see tpch_q5ish — the broadcast-join probe and the
    # rollup's expand + partial aggregate ran on the 3-split scan
    # (A/B 2.1-2.7 s -> 1.2-1.7 s, rows equal)
    li = DD.spread(t(spark, sf_dir, "lineitem"))
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        j.rollup("r_name", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
             F.count("*").alias("lineitems"))
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
            "revenue", "lineitems",
        )
    )


def semi_anti_parts(spark, sf_dir):
    """Semi vs anti join coverage: parts referenced by lineitems and
    parts never ordered."""
    part = t(spark, sf_dir, "part")
    li = t(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("p_partkey"))
    semi = part.join(li, "p_partkey", "left_semi").select(
        F.lit("ordered").alias("side"), "p_partkey"
    )
    anti = part.join(li, "p_partkey", "left_anti").select(
        F.lit("never_ordered").alias("side"), "p_partkey"
    )
    return semi.unionByName(anti).groupBy("side").agg(
        F.count("*").alias("n"), F.min("p_partkey").alias("min_key")
    )


def events_running_total(spark, sf_dir):
    """Per-user running sum (ordered cumulative window)."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # decimal discipline (see dsum): windowed double sums are NOT
    # bit-identical across engines (DuckDB's window aggregation trees add
    # in a different order), so the running sum is an exact DECIMAL
    # addition — associative, engine-independent — rounded once at the end.
    return ev.select(
        "event_id", "user_id",
        F.round(F.sum(F.col("value").cast("decimal(20,8)")).over(w), 6)
        .cast("double").alias("running_value"),
    )


def window_topk_orders(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("totalprice"), "rank")
    )


# ---------------------------------------------------------------- events --
def events_sessionize(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    starts = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        ev.withColumn("session_start", starts)
        .groupBy("user_id")
        .agg(
            F.sum("session_start").cast("long").alias("sessions"),
            F.count("*").alias("events"),
            dsum(F.col("value")).alias("total_value"),
        )
    )


def events_hourly(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), dsum(F.col("value")).alias("sum_value"))
    )


def events_props_extract(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    k = F.regexp_extract(F.col("props"), r"([0-9]+)", 1).cast("int")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(davg(F.col("k")).alias("avg_k"), F.max("k").alias("max_k"))
    )


def events_pivot(spark, sf_dir):
    """Pivot event types into per-user columns (groupBy().pivot());
    oracle mirrors with conditional aggregation."""
    ev = t(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    out = ev.groupBy("user_id").pivot("event_type", types).count()
    return out.select(
        "user_id",
        *[F.coalesce(F.col(c), F.lit(0)).alias(f"n_{c}") for c in types],
    )


def scalar_showcase(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("yr"),
            F.quarter("o_orderdate").alias("qtr"),
            F.col("o_orderpriority"),
        )
        .agg(
            F.count("*").alias("n"),
            dsum(F.col("o_totalprice")).alias("sum_price"),
            ftrunc(F.stddev_pop("o_totalprice"), 4).alias("sd_price"),
            F.min(F.concat(F.col("o_orderstatus"), F.lit("-"), F.upper(F.col("o_orderpriority")))).alias("tag"),
        )
    )


# -------------------------------------------------------- NDE wrapper --
_NDE_TYPES = ["Dataset", "ComputationalTool", "ResourceCatalog", "Sample"]
_NDE_ACCESS = ["Open", "Restricted", "Closed", "Embargoed", "Invalid-Value"]


def _nde_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive an NDE-record-shaped table from `documents` (same derivation
    in the oracle SQL): mixed-case _id, sometimes-missing @type/url,
    one invalid access enum value, HTML-wrapped description, scattered
    date fields — the F9 fixture cases from FIXTURES.md."""
    from .operators import wrapper as W  # noqa: F401 (documented pairing)

    d = t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    base = F.lit("2020-01-01").cast("date")
    typ = F.when(did % 17 == 0, F.lit(None).cast("string")).otherwise(
        F.element_at(F.array(*[F.lit(x) for x in _NDE_TYPES]), (did % 4).cast("int") + 1)
    )
    return d.select(
        F.when(
            did % 3 == 0, F.concat(F.upper("source"), F.lit(":DOC:"), did.cast("string"))
        ).otherwise(F.concat(F.col("source"), F.lit(":doc:"), did.cast("string"))).alias("_id"),
        typ.alias("type"),
        F.when(did % 23 == 0, F.lit(None).cast("string")).otherwise(
            F.concat(F.lit("https://"), F.col("source"), F.lit(".example.org/doc/"), did.cast("string"))
        ).alias("url"),
        F.element_at(F.array(*[F.lit(x) for x in _NDE_ACCESS]), (did % 5).cast("int") + 1).alias("access"),
        F.when(did % 7 == 0, F.lit(None).cast("date")).otherwise(
            F.date_add(base, (did % 300).cast("int"))
        ).alias("date_created"),
        F.when(did % 11 == 0, F.lit(None).cast("date")).otherwise(
            F.date_add(base, (F.col("n_chars") % 400).cast("int"))
        ).alias("date_modified"),
        F.date_add(base, ((did * 7) % 350).cast("int")).alias("date_published"),
        F.concat(F.lit("<p>"), F.col("text"), F.lit("<br/>more</p>")).alias("description"),
        F.col("n_chars"),
    )


def nde_wrapper_pass(spark, sf_dir):
    """The full upload-wrapper pass over derived NDE records: casefold ->
    add_date -> HTML strip -> completeness score -> schema gate (valid
    side)."""
    from .operators import nde_schema as NS
    from .operators import textops as TO2
    from .operators import wrapper as W

    nde = _nde_docs(spark, sf_dir)
    latest = W.add_date(F.col("date_created"), F.col("date_modified"), F.col("date_published"))
    score = W.completeness_score(
        required=[F.col("type"), F.col("url"), F.col("date_published")],
        recommended=[F.col("description"), F.col("access")],
    )
    out = nde.select(
        W.casefold_id(F.col("_id")).alias("_id"),
        F.col("type"),
        F.date_format(latest, "yyyy-MM-dd").alias("latest_date"),
        score.alias("score"),
        F.length(TO2.html_strip(F.col("description"))).alias("stripped_len"),
        NS.schema_violation_nde(F.col("type"), F.col("url"), F.col("access")).alias("violation"),
    )
    return out.filter(F.col("violation").isNull()).drop("violation")


def nde_quarantine_counts(spark, sf_dir):
    """Quarantine side-output: count of rejected records per violation."""
    from .operators import nde_schema as NS

    nde = _nde_docs(spark, sf_dir)
    v = NS.schema_violation_nde(F.col("type"), F.col("url"), F.col("access"))
    return (
        nde.select(v.alias("violation"))
        .filter(F.col("violation").isNotNull())
        .groupBy("violation")
        .agg(F.count("*").alias("n"))
    )


def nde_record_normalize(spark, sf_dir):
    """The wide-NDE-record pass (operators/nde_schema.py): a messy
    source-shaped derivation of `documents` (scalar-or-missing author,
    optional funding, per-row-sized distribution, catalog entries with
    sometimes-missing archivedAt, Sample creativeWorkStatus with one
    invalid value) is canonicalized into the nested NDE StructType —
    always-array coercion, entity wrapping — then gated by the full
    check_schema analog. Arrays/structs are rendered to CSV for the
    order-insensitive value-hash compare."""
    from .operators import nde_schema as NS

    d = t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    typ = F.element_at(
        F.array(F.lit("Dataset"), F.lit("Sample"), F.lit("ComputationalTool"), F.lit("Dataset")),
        (did % 4).cast("int") + 1,
    )
    url = F.when(did % 23 == 0, F.lit(None).cast("string")).otherwise(
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example.org/rec/"), did.cast("string"))
    )
    a1 = F.when(did % 3 == 0, F.lit(None).cast("string")).otherwise(
        F.concat(F.lit("author-"), (did % 40).cast("string"))
    )
    a2 = F.when(did % 4 == 1, F.concat(F.lit("author-"), ((did + 7) % 40).cast("string"))).otherwise(
        F.lit(None).cast("string")
    )
    author_names = F.concat(NS.ensure_array(a1), NS.ensure_array(a2))
    authors = F.transform(
        author_names,
        lambda n: F.struct(
            n.alias("name"),
            F.lit(None).cast("string").alias("givenName"),
            F.lit(None).cast("string").alias("familyName"),
            F.lit(None).cast("string").alias("sameAs"),
        ),
    )
    fid = F.when(did % 5 == 0, F.lit(None).cast("string")).otherwise(
        F.concat(F.lit("grant:"), ((did * 3) % 89).cast("string"))
    )
    funding = F.when(fid.isNull(), F.array().cast(
        "array<struct<identifier:string,funder:struct<name:string>>>"
    )).otherwise(F.array(F.struct(
        fid.alias("identifier"),
        F.struct(F.concat(F.lit("funder-"), (did % 7).cast("string")).alias("name")).alias("funder"),
    )))
    exts = F.array(F.lit("csv"), F.lit("json"), F.lit("zip"))
    distribution = F.transform(
        F.sequence(F.lit(0).cast("bigint"), did % 3),
        lambda k: F.struct(
            F.concat(
                F.lit("https://files.example.org/"), did.cast("string"),
                F.lit("/"), k.cast("string"),
                F.lit("."), F.element_at(exts, ((did + k) % 3).cast("int") + 1),
            ).alias("contentUrl"),
            F.element_at(exts, ((did + k) % 3).cast("int") + 1).alias("encodingFormat"),
            F.lit(None).cast("date").alias("dateModified"),
        ),
    )
    archived = F.when(did % 11 == 0, F.lit(None).cast("string")).otherwise(url)
    catalog = F.array(F.struct(
        F.col("source").alias("name"), url.alias("url"), archived.alias("archivedAt"),
    ))
    access = F.element_at(
        F.array(*[F.lit(x) for x in _NDE_ACCESS]), (did % 5).cast("int") + 1
    )
    cws = F.element_at(
        F.array(F.lit("Bespoke"), F.lit("Available"), F.lit("Backordered"),
                F.lit("Retired"), F.lit("Obsolete")),
        (did % 5).cast("int") + 1,
    )
    sameas = NS.ensure_array(
        F.when(did % 2 == 0, F.concat(F.lit("doi:10/"), (did % 50).cast("string"))).otherwise(
            F.lit(None).cast("string")
        )
    )
    rec = d.select(
        F.concat(F.col("source"), F.lit(":rec:"), did.cast("string")).alias("_id"),
        typ.alias("type"), url.alias("url"),
        authors.alias("author"), funding.alias("funding"),
        distribution.alias("distribution"), catalog.alias("includedInDataCatalog"),
        access.alias("conditionsOfAccess"), cws.alias("creativeWorkStatus"),
        sameas.alias("sameAs"),
    )
    viol = NS.schema_violation_nde(
        F.col("type"), F.col("url"), F.col("conditionsOfAccess"),
        F.col("includedInDataCatalog"), F.col("creativeWorkStatus"),
    )
    return rec.select(
        "_id", "type",
        viol.alias("violation"),
        F.size("author").alias("n_authors"),
        F.array_join(F.transform("author", lambda x: x.getField("name")), ",").alias("authors_csv"),
        F.size("funding").alias("n_funding"),
        F.array_join(
            F.transform("funding", lambda x: F.concat(
                x.getField("identifier"), F.lit("|"), x.getField("funder").getField("name"))),
            ",",
        ).alias("funding_csv"),
        F.size("distribution").alias("n_distribution"),
        F.array_join(
            F.transform("distribution", lambda x: F.concat(
                x.getField("contentUrl"), F.lit("#"), x.getField("encodingFormat"))),
            ",",
        ).alias("dist_csv"),
        F.array_join(
            F.transform("includedInDataCatalog", lambda x: F.concat(
                x.getField("name"), F.lit("@"), F.coalesce(x.getField("archivedAt"), F.lit("NULL")))),
            ",",
        ).alias("catalog_csv"),
        F.array_join("sameAs", ",").alias("sameas_csv"),
        F.col("creativeWorkStatus").alias("cws"),
    )


def nde_doi_promote(spark, sf_dir):
    """merge_duplicates (utils/utils.py:189-204): single-doi records take
    the doi as their _id; 'none' dois are dropped; multi-doi records keep
    their original _id. The fixture cycles through all branches."""
    from .operators import nde_schema as NS

    did = F.col("doc_id")
    doi_one = F.concat(F.lit("10.5281/zen."), (did % 997).cast("string"))
    doi = (
        F.when(did % 7 == 0, F.array().cast("array<string>"))
        .when(did % 7 == 1, F.array(F.lit("none")))
        .when(did % 7 == 6, F.array(F.lit("NONE")))
        .when(did % 7 == 5, F.array(doi_one, F.concat(F.lit("10.999/alt."), did.cast("string"))))
        .otherwise(F.array(doi_one))
    )
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.col("source"), F.lit(":doc:"), did.cast("string")).alias("_id"),
        doi.alias("doi"),
    )
    new_id, new_doi = NS.promote_doi_id(F.col("_id"), F.col("doi"))
    return d.select(
        "doc_id",
        new_id.alias("_id"),
        F.size(new_doi).alias("n_doi"),
        F.array_join(new_doi, ",").alias("doi_csv"),
    )


def _uploader_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-shaped records carrying every registry stage's input
    columns, derived deterministically from ``documents`` (the identical
    derivation lives in the oracle SQL): doi arrays (zenodo), author
    entities with placeholder candidates (wrapper scrub),
    species/infectiousAgent entries (PubTator reclassification), taxids
    (wrapper lineage), NER entities (drop rules), PMID arrays (citation
    enrichment), technique/topic keys (measurement-technique and
    topic-category lookups), and a sometimes-NULL funding id (funder
    lookup). The synthetic ``source`` column (src0..src19) is mapped
    1:1 onto 20 REAL uploader names (uploaders.FIXTURE_SOURCES) so the
    registry queries dispatch on the real 59-entry registry."""
    from .uploaders import FIXTURE_SOURCES

    did = F.col("doc_id")
    real_source = F.element_at(
        F.array(*[F.lit(s) for s in FIXTURE_SOURCES]),
        (F.regexp_replace("source", "src", "").cast("int") % 20) + 1,
    )
    doi_one = F.concat(F.lit("10.5281/zen."), (did % 997).cast("string"))
    doi = (
        F.when(did % 7 == 0, F.array().cast("array<string>"))
        .when(did % 7 == 1, F.array(F.lit("none")))
        .when(did % 7 == 6, F.array(F.lit("NONE")))
        .when(did % 7 == 5, F.array(doi_one, F.concat(F.lit("10.999/alt."), did.cast("string"))))
        .otherwise(F.array(doi_one))
    )
    a2name = F.element_at(
        F.array(F.lit("n/a"), F.lit("unknown"), F.lit("co-1"),
                F.lit("co-2"), F.lit("none"), F.lit("co-3")),
        (did % 6).cast("int") + 1,
    )
    aent = lambda n: F.struct(n.alias("name"), F.lit(None).cast("string").alias("identifier"))  # noqa: E731
    species, agents = _species_columns(did)
    ner = _ner_entities(did)
    url = F.when(did % 23 == 0, F.lit(None).cast("string")).otherwise(
        F.concat(F.lit("https://"), real_source, F.lit(".example.org/rec/"), did.cast("string"))
    )
    archived = F.when(did % 11 == 0, F.lit(None).cast("string")).otherwise(url)
    typ = F.when(did % 17 == 0, F.lit(None).cast("string")).otherwise(
        F.element_at(
            F.array(F.lit("Dataset"), F.lit("ComputationalTool"),
                    F.lit("ResourceCatalog"), F.lit("Dataset")),
            (did % 4).cast("int") + 1,
        )
    )
    return t(spark, sf_dir, "documents").select(
        "doc_id", real_source.alias("source"), "text",
        F.concat(F.upper(real_source), F.lit(":REC:"), did.cast("string")).alias("_id"),
        typ.alias("type"),
        url.alias("url"),
        F.element_at(
            F.array(*[F.lit(x) for x in _NDE_ACCESS]), (did % 5).cast("int") + 1
        ).alias("conditionsOfAccess"),
        F.array(F.struct(
            real_source.alias("name"), url.alias("url"), archived.alias("archivedAt"),
        )).alias("includedInDataCatalog"),
        doi.alias("doi"),
        F.array(aent(F.concat(F.lit("Author-"), (did % 40).cast("string"))), aent(a2name)).alias("author"),
        species.alias("species"),
        agents.alias("infectiousAgent"),
        F.array_distinct(F.array(ner[0][1], ner[1][1])).alias("taxids"),
        F.array(*[F.struct(name.alias("name"), taxid.alias("taxid")) for name, taxid in ner])
        .alias("ner"),
        F.when(did % 5 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("grant:"), ((did * 3) % 89).cast("string"))).alias("funding_id"),
        # (did*13+1) flips parity vs did%500, so EVERY pmid-family source
        # exercises both the lookup-hit and lookup-miss paths (the even-
        # only lookup would otherwise be all-hit or all-miss per source,
        # since documents.source = src{doc_id % 20})
        F.array_distinct(F.array(
            F.concat(F.lit("pmid:"), (did % 500).cast("string")),
            F.concat(F.lit("pmid:"), ((did * 13 + 1) % 500).cast("string")),
        )).alias("pmids"),
        F.concat(F.lit("tech-"), (did % 37).cast("string")).alias("technique"),
        (did % 12).cast("int").alias("topic_key"),
    )


def _uploader_lookups(spark: SparkSession) -> dict:
    """The registry's shared enrichment inputs as Python data, the
    reference's in-memory memo dicts: the PubTator species lookup, the
    taxonomy closure rows, the NER drop rules, and the funder, PMID
    citation, measurement-technique and topic memos. Each is a pure
    formula computed on the driver, the closure included, so building
    them runs no Spark job. The disambiguation CSV is the one DataFrame
    (a lazy plan)."""
    from .operators import lineage as LN
    from .uploaders import fixture_family

    # add_disambiguating_description CSV analog (utils/
    # disambiguating_description.py:14-39): per-source rows keyed by
    # LOWERCASE _id. Every 4th record of each disamb-family source has
    # a curated summary; ids cover doc_id < 20000 (any sandbox SF).
    disamb_lookup = (
        spark.range(0, 20000, 4)
        .select(
            F.explode(F.array(*[F.lit(n) for n in fixture_family("disamb")])).alias("source"),
            F.col("id"),
        )
        .select(
            "source",
            F.concat(F.col("source"), F.lit(":rec:"), F.col("id").cast("string")).alias("_id_lc"),
            F.concat(F.lit("disamb-"), (F.col("id") % 13).cast("string")).alias("disambiguatingDescription"),
        )
    )
    # PMID citations: even PMIDs resolve, odd ones miss (the pmid_helper
    # cache-hit/miss split); every 5th technique is unmapped; the topic
    # classifier is modeled as a keyed lookup
    return {
        "species_lookup": _species_lookup(),
        "closure": LN.taxonomy_closure(_hub_taxonomy()),
        "ner_rules": _NER_RULES,
        "funding_lookup": {f"grant:{i}": f"funder-{i % 7}" for i in range(89)},
        "pmid_lookup": {f"pmid:{i}": f"cite-{i % 50}" for i in range(0, 500, 2)},
        "mt_lookup": {f"tech-{i}": f"MT-{i % 9}" for i in range(37) if i % 5 != 4},
        "topic_lookup": {i: f"topic-{i % 5}" for i in range(12)},
        "disamb_lookup": disamb_lookup,
    }


def uploader_registry(spark, sf_dir):
    """The REAL 59-entry uploader registry (uploaders.py::_CHAINS — the
    verbatim extraction of every reference uploader's load_data chain)
    dispatched over 20 fixture sources mapped onto real uploader names:
    zenodo promotes DOIs into _id, every wrapped source scrubs
    placeholder authors + lineage-annotates + casefolds (the
    nde_upload_wrapper tail, utils/utils.py:352-403), standardize_data
    sources run PubTator reclassification, process_descriptions sources
    run the NER drop rules, load_pmid_ctfd sources get citation
    enrichment, and the funding / measurement-technique / topic-category
    lookups hit their families. Every stage is a when()-dispatched
    column over literal lookups: one scan and one projection for all
    sources, plus the disambiguation broadcast join."""
    from .uploaders import run_uploader

    docs = _uploader_fixture(spark, sf_dir)
    out = run_uploader(docs, **_uploader_lookups(spark))
    rend = lambda c: F.array_join(  # noqa: E731
        F.transform(c, lambda x: F.concat(x.getField("name"), F.lit("|"), x.getField("identifier"))),
        ",",
    )
    return out.select(
        "doc_id", "source", "_id",
        F.size("doi").alias("n_doi"),
        F.array_join("doi", ",").alias("doi_csv"),
        F.array_join(
            F.transform("author", lambda x: x.getField("name")), ","
        ).alias("authors_csv"),
        rend("species").alias("species_csv"),
        rend("infectiousAgent").alias("agents_csv"),
        F.array_join(
            F.transform(
                "_meta_lineage",
                lambda e: F.concat(
                    e.getField("taxon").cast("string"), F.lit(">"),
                    F.coalesce(e.getField("parent_taxon"), F.lit(0)).cast("string"),
                ),
            ),
            ",",
        ).alias("lineage_csv"),
        F.array_join(
            F.transform(
                "ner",
                lambda x: F.concat(x.getField("name"), F.lit("|"), x.getField("taxid").cast("string")),
            ),
            ",",
        ).alias("ner_csv"),
        F.coalesce(F.col("funder_name"), F.lit("")).alias("funder"),
        F.array_join("citations", ",").alias("citations_csv"),
        F.coalesce(F.col("technique_std"), F.lit("")).alias("technique_std"),
        F.coalesce(F.col("topic"), F.lit("")).alias("topic"),
        F.coalesce(F.col("disambiguatingDescription"), F.lit("")).alias("disamb"),
    )


def nde_pipeline_e2e(spark, sf_dir):
    """The FULL hub lifecycle (SURVEY §3.3) as ONE composed lazy plan —
    the reference's load_data chain -> builder merge -> upload wrapper
    (utils/utils.py:352-403 -> hub/databuild/builder.py):

        source records -> uploader-registry dispatch (doi promote,
        placeholder scrub, PubTator reclassify, lineage, NER drop rules,
        funder lookup, casefold) -> cross-source 1x1 key dedup ->
        merge-directive APPLICATION (winners absorb losers' catalogs,
        losers deleted) -> check_schema gate (valid side) ->
        completeness score.

    Every stage is the SAME operator the per-stage oracle queries check
    in isolation; this row verifies their composition. The DuckDB oracle
    composes the identical stages over the identical fixture."""
    from .operators import nde_schema as NS
    from .uploaders import run_uploader

    docs = _uploader_fixture(spark, sf_dir)
    up = run_uploader(docs, **_uploader_lookups(spark))

    # dup_key (a row-local hash of `text`) and includedInDataCatalog are
    # FIXTURE columns no registry stage touches, so the dedup sides (and
    # the loser catalogs riding on the directives) read the cheap
    # pre-registry frame — the composed dispatch is embedded ONCE
    # (builder.py reads the same source store for both sides)
    did = F.col("doc_id")
    keyed = docs.select("doc_id", DD.content_key(prefix_tokens=4).alias("dup_key"), "includedInDataCatalog")
    directives = MG.key_dedup_1x1(keyed.filter(did % 2 == 0), keyed.filter(did % 2 == 1), "dup_key")
    merged = MG.apply_merge_directives(up, directives)

    viol = NS.schema_violation_nde(
        F.col("type"), F.col("url"), F.col("conditionsOfAccess"),
        F.col("includedInDataCatalog"),
    )
    from .operators import wrapper as W

    score = W.completeness_score(
        required=[F.col("type"), F.col("url")],
        recommended=[F.col("funder_name"), F.col("funding_id")],
    )
    rend = lambda c: F.array_join(  # noqa: E731
        F.transform(c, lambda x: F.concat(x.getField("name"), F.lit("|"), x.getField("identifier"))),
        ",",
    )
    return (
        merged.withColumn("violation", viol)
        .filter(F.col("violation").isNull())
        .select(
            "doc_id", "source", "_id", "type",
            F.size("includedInDataCatalog").alias("n_catalog"),
            F.array_join(
                F.array_sort(F.transform(
                    "includedInDataCatalog",
                    lambda x: F.concat(
                        x.getField("name"), F.lit("@"),
                        F.coalesce(x.getField("archivedAt"), F.lit("NULL")),
                    ),
                )),
                ",",
            ).alias("catalog_csv"),
            rend("species").alias("species_csv"),
            F.array_join(
                F.transform(
                    "_meta_lineage",
                    lambda e: F.concat(
                        e.getField("taxon").cast("string"), F.lit(">"),
                        F.coalesce(e.getField("parent_taxon"), F.lit(0)).cast("string"),
                    ),
                ),
                ",",
            ).alias("lineage_csv"),
            F.coalesce(F.col("funder_name"), F.lit("")).alias("funder"),
            score.alias("score"),
        )
    )


def scalar_ref_kernels(spark, sf_dir):
    """The reference's remaining string kernels as one oracle-checked
    row-local pass (SURVEY §2.9): name recompose from "Last, First, Mid"
    (ncbi_geo/parser.py:19-27), grant-pattern extraction
    \\b[A-Za-z]{2}\\d{6}\\b (figshare.py:190), trailing-abbreviation
    strip (acd_niaid.py:16-25), and m/f sex normalization
    (utils/sex.py:6-47). Fixture strings derived from documents; every
    expression is codegen'd — scan-bound at 100 TB."""
    d = t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    author_raw = F.concat(
        F.lit("last-"), (did % 40).cast("string"),
        F.lit(", first-"), (did % 7).cast("string"),
        F.lit(", "), F.element_at(F.array(F.lit("M"), F.lit("J"), F.lit("K")), (did % 3).cast("int") + 1),
    )
    parts = F.split(author_raw, ", ")
    recomposed = F.concat_ws(
        " ", F.element_at(parts, 2), F.element_at(parts, 3), F.element_at(parts, 1)
    )
    grant_txt = F.concat(
        F.lit("funded by "),
        F.element_at(F.array(F.lit("AB"), F.lit("Ai"), F.lit("xy")), (did % 3).cast("int") + 1),
        (100000 + did % 899999).cast("string"),
        F.lit(" and others"),
    )
    grant = F.regexp_extract(grant_txt, r"\b([A-Za-z]{2}\d{6})\b", 1)
    label = F.concat(F.lit("study-"), did.cast("string"), F.lit(" ("), F.upper("source"), F.lit(")"))
    stripped = F.regexp_replace(label, r"\s*\([A-Z0-9]+\)$", "")
    sex_raw = F.element_at(
        F.array(F.lit("M"), F.lit("f"), F.lit("Female"), F.lit("male"),
                F.lit(" MALE "), F.lit("unknown"), F.lit("F ")),
        (did % 7).cast("int") + 1,
    )
    sexn = F.lower(F.trim(sex_raw))
    sex = (
        F.when(sexn.isin("m", "male"), F.lit("male"))
        .when(sexn.isin("f", "female"), F.lit("female"))
        .otherwise(F.lit(None).cast("string"))
    )
    return d.select(
        "doc_id",
        recomposed.alias("author_recomposed"),
        grant.alias("grant_id"),
        stripped.alias("label_stripped"),
        sex.alias("sex"),
    )


def setops_union_by_name(spark, sf_dir):
    """Per-source stream union with missing columns (builder merge shape:
    unionByName(allowMissingColumns=True), SURVEY §2.8)."""
    d = t(spark, sf_dir, "documents")
    a = d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "source", "n_chars")
    b = d.filter(F.col("doc_id") % 2 == 1).select("doc_id", "lang", "n_chars")
    u = a.unionByName(b, allowMissingColumns=True)
    return u.groupBy().agg(
        F.count("*").alias("rows"),
        F.sum(F.when(F.col("source").isNull(), 1).otherwise(0)).cast("long").alias("null_source"),
        F.sum(F.when(F.col("lang").isNull(), 1).otherwise(0)).cast("long").alias("null_lang"),
        F.sum("n_chars").alias("total_chars"),
    )




def embed_memo_cache(spark, sf_dir):
    """The sha256-memo batched-inference pass (hub/dataindex/embed.py:
    39-42,63-71,168-177) as an oracle-checkable catalog row: texts are
    keyed by sha256(lower(text)); a fixture cache already holds every
    doc whose doc_id % 3 != 0 (keys held back = every third id — BUT
    membership is at the HASH level, so a held-back doc whose text
    duplicates a cached doc's is still a HIT, exactly the memo
    economics the reference's cache gives duplicate texts); only misses
    run the batched stub inference. Cache-hit rows carry a per-key
    SENTINEL embedding (byte_i/255) distinguishable from the stub's
    normalized values, so the output proves which path produced each
    row. Embeddings are rendered as micro-unit ints (round(x*1e6)) —
    exact across float32/double engines at 6-decimal rounding."""
    from .operators import embed as EM

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    # fixture cache: the ALREADY-EMBEDDED corpus slice, sentinel values
    # derived from the same digest bytes the stub uses (byte_i/255)
    cached_keys = EM.text_keys(docs.filter(F.col("doc_id") % 3 != 0)).select(
        "text_hash"
    ).distinct()
    sentinel = F.transform(
        F.sequence(F.lit(0), F.lit(15)),
        lambda i: F.round(
            F.conv(F.substring(F.col("text_hash"), i * 2 + 1, 2), 16, 10).cast("double")
            / F.lit(255.0),
            6,
        ).cast("float"),
    )
    cache = cached_keys.select("text_hash", sentinel.alias("embedding"))
    enriched, _cache2 = EM.embed_with_cache(docs, cache)
    cached_flag = enriched.join(
        cache.select("text_hash", F.lit(True).alias("hit")), "text_hash", "left"
    )
    return cached_flag.select(
        "doc_id",
        "text_hash",
        F.coalesce(F.col("hit"), F.lit(False)).alias("hit"),
        F.array_join(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * 1e6).cast("long").cast("string"),
            ),
            ",",
        ).alias("emb_csv"),
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "crawl_url_canonicalize": crawl_url_canonicalize,
    "crawl_url_filter": crawl_url_filter,
    "crawl_sitemap_seed": crawl_sitemap_seed,
    "crawl_autothrottle_budget": crawl_autothrottle_budget,
    "crawl_seen_filter": crawl_seen_filter,
    "crawl_recrawl_ttl": crawl_recrawl_ttl,
    "embed_memo_cache": embed_memo_cache,
    "crawl_robots_filter": crawl_robots_filter,
    "crawl_frontier_topk": crawl_frontier_topk,
    "crawl_politeness_budget": crawl_politeness_budget,
    "crawl_retry_after_budget": crawl_retry_after_budget,
    "crawl_host_lineage": crawl_host_lineage,
    "dedup_exact_prefix": dedup_exact_prefix,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_simhash64_hamming": dedup_simhash64_hamming,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_cluster_components": dedup_cluster_components,
    "dedup_semantic_keepone": dedup_semantic_keepone,
    "dedup_incremental_minhash": dedup_incremental_minhash,
    "text_gopher_quality": text_gopher_quality,
    "text_repetition": text_repetition,
    "text_decontaminate": text_decontaminate,
    "sample_stratified": sample_stratified,
    "pack_greedy_bins": pack_greedy_bins,
    "text_pii_scrub": text_pii_scrub,
    "dedup_exact_substring": dedup_exact_substring,
    "text_importance_weights": text_importance_weights,
    "ann_bruteforce_topk": ann_bruteforce_topk,
    "ann_lsh_topk": ann_lsh_topk,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_ivf_trained_topk": ann_ivf_trained_topk,
    "ann_pq_trained_topk": ann_pq_trained_topk,
    "ann_pq_adc_topk": ann_pq_adc_topk,
    "ann_ivfpq_topk": ann_ivfpq_topk,
    "ann_ivfpq_rescore_topk": ann_ivfpq_rescore_topk,
    "ann_sq8_topk": ann_sq8_topk,
    "ann_sq8_incremental_topk": ann_sq8_incremental_topk,
    "ann_sq8_dim768_topk": ann_sq8_dim768_topk,
    "ann_ivf_incremental_topk": ann_ivf_incremental_topk,
    "ann_ivfsq8_topk": ann_ivfsq8_topk,
    "ann_ivfsq8_incremental_topk": ann_ivfsq8_incremental_topk,
    "text_analyze": text_analyze,
    "text_lang_agreement": text_lang_agreement,
    "text_quality_filter": text_quality_filter,
    "text_bpe_tokens": text_bpe_tokens,
    "merge_priority_lastwriter": merge_priority_lastwriter,
    "merge_version_groups": merge_version_groups,
    "merge_key_dedup_1x1": merge_key_dedup_1x1,
    "merge_apply_1x1": merge_apply_1x1,
    "merge_identifier_dedup": merge_identifier_dedup,
    "enrich_broadcast_lookup": enrich_broadcast_lookup,
    "enrich_cache_miss": enrich_cache_miss,
    "enrich_explode_collect": enrich_explode_collect,
    "enrich_theta_contains": enrich_theta_contains,
    "enrich_lineage_expand": enrich_lineage_expand,
    "enrich_reclassify": enrich_reclassify,
    "enrich_drop_rules": enrich_drop_rules,
    "tpch_q1": tpch_q1,
    "tpch_q3_top10": tpch_q3_top10,
    "tpch_q5ish": tpch_q5ish,
    "tpch_rollup": tpch_rollup,
    "semi_anti_parts": semi_anti_parts,
    "events_running_total": events_running_total,
    "window_topk_orders": window_topk_orders,
    "events_sessionize": events_sessionize,
    "events_hourly": events_hourly,
    "events_props_extract": events_props_extract,
    "events_pivot": events_pivot,
    "scalar_showcase": scalar_showcase,
    "scalar_ref_kernels": scalar_ref_kernels,
    "nde_wrapper_pass": nde_wrapper_pass,
    "nde_quarantine_counts": nde_quarantine_counts,
    "nde_record_normalize": nde_record_normalize,
    "nde_doi_promote": nde_doi_promote,
    "uploader_registry": uploader_registry,
    "nde_pipeline_e2e": nde_pipeline_e2e,
    "setops_union_by_name": setops_union_by_name,
}
