"""DuckDB oracle SQL — one statement per catalog query.

Each statement is the ANSI/DuckDB equivalent of the Spark query of the
same name in ``nde_crawlers_spark.queries``, over the driver's
pre-registered views (region nation customer supplier part orders
lineitem events documents embeddings). Column names/types are aligned;
hash primitives (md5/sha256) match Spark's bit-for-bit, which is why the
engine's derived keys use them.
"""

from __future__ import annotations

HEXPOS = "strpos('0123456789abcdef', substr({h}, {i}, 1)) - 1"

# messy raw URL derived from documents — mirror of queries._raw_url()
RAW_URL = """CASE CAST(doc_id % 4 AS INTEGER)
      WHEN 0 THEN 'HTTPS://' || source || '.Example.org:443/Doc/' || CAST(doc_id AS VARCHAR) || '/?b=2&a=1#x'
      WHEN 1 THEN 'https://' || source || '.example.org/Doc/' || CAST(doc_id AS VARCHAR) || '/'
      WHEN 2 THEN 'https://' || source || '.example.org/private/' || CAST(doc_id AS VARCHAR)
      ELSE 'https://' || source || '.example.org/Doc/' || CAST(doc_id AS VARCHAR) || '?z=9&y=8'
    END"""

# canonicalization + url_hash + host_bucket + seq, as a reusable CTE chain
FRONTIER_CTE = f"""
raw AS (
  SELECT doc_id, CAST(doc_id % 10 AS INTEGER) AS priority, {RAW_URL} AS url
  FROM documents
),
p1 AS (SELECT *, split_part(url, '#', 1) AS nf FROM raw),
p2 AS (SELECT *, lower(split_part(nf, '://', 1)) AS scheme,
               substr(nf, strpos(nf, '://') + 3) AS rest FROM p1),
p3 AS (SELECT *, regexp_extract(rest, '^[^/?]*') AS hostport,
               substr(rest, length(regexp_extract(rest, '^[^/?]*')) + 1) AS pathq FROM p2),
p4 AS (SELECT *, lower(split_part(hostport, ':', 1)) AS host,
               CASE WHEN contains(hostport, ':') THEN split_part(hostport, ':', 2) ELSE '' END AS port,
               split_part(pathq, '?', 1) AS rawpath,
               CASE WHEN contains(pathq, '?') THEN substr(pathq, strpos(pathq, '?') + 1) ELSE '' END AS query
       FROM p3),
p5 AS (SELECT *,
               CASE WHEN regexp_replace(rawpath, '/+$', '') = '' THEN '/'
                    ELSE regexp_replace(rawpath, '/+$', '') END AS path,
               CASE WHEN query = '' THEN ''
                    ELSE '?' || array_to_string(list_sort(string_split(query, '&')), '&') END AS qpart,
               CASE WHEN port != '' AND NOT ((scheme = 'https' AND port = '443') OR (scheme = 'http' AND port = '80'))
                    THEN ':' || port ELSE '' END AS portpart
       FROM p4),
frontier AS (
  SELECT doc_id, priority, host, path,
         scheme || '://' || host || portpart || path || qpart AS canonical_url,
         sha256(scheme || '://' || host || portpart || path || qpart) AS url_hash,
         CAST((({HEXPOS.format(h='md5(host)', i=1)}) * 16 + ({HEXPOS.format(h='md5(host)', i=2)})) % 64 AS INTEGER) AS host_bucket,
         CAST(list_sum(list_transform(range(1, 13),
              i -> ({HEXPOS.format(h="md5(scheme || '://' || host || portpart || path || qpart)", i='i')})
                   * (CAST(1 AS BIGINT) << (4 * (12 - i))))) AS BIGINT) AS seq
  FROM p5
)"""

ROBOTS_CTE = f"""
robots AS (
  SELECT host,
         CASE WHEN ({HEXPOS.format(h="md5('robots:' || host)", i=1)}) < 4 THEN ['/private/'] ELSE [] END AS disallow_prefixes,
         CAST(CASE WHEN ({HEXPOS.format(h="md5('delay:' || host)", i=1)}) < 2 THEN 0
                   WHEN ({HEXPOS.format(h="md5('delay:' || host)", i=1)}) >= 14 THEN 2000
                   ELSE 500 END AS INTEGER) AS crawl_delay_ms
  FROM (SELECT DISTINCT host FROM frontier)
)"""

ALLOWED_CTE = """
allowed AS (
  SELECT f.* FROM frontier f JOIN robots r USING (host)
  WHERE len(list_filter(r.disallow_prefixes, p -> starts_with(f.path, p))) = 0
)"""

BUDGET_EXPR = """CASE WHEN r.crawl_delay_ms <= 0 THEN 2000
                      ELSE greatest(CAST(floor(2000.0 / r.crawl_delay_ms) AS BIGINT), 1) END"""

# ---- text kernel fragments (mirror functions/text.py) ----
TOKENS = "list_filter(string_split_regex(lower({c}), '\\s+'), x -> x != '')"


def _ngrams(toks: str, n: int) -> str:
    join = " || ' ' || ".join(f"{toks}[i + {j}]" for j in range(n))
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_transform(range(1, len({toks}) - {n - 2}), i -> {join}) "
        f"ELSE [] END"
    )


def _minhash(sh: str, k: int) -> str:
    return (
        f"list_transform(range(0, {k}), mk -> "
        f"list_min(list_transform({sh}, s -> md5(CAST(mk AS VARCHAR) || '|' || s))))"
    )


SIMHASH16 = """CAST(list_sum(list_transform(range(0, 16), b ->
    CASE WHEN list_sum(list_transform({toks}, t ->
        CASE WHEN substr(md5(t), CAST(b + 1 AS INTEGER), 1) IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END)) > 0
    THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) ELSE 0 END)) AS INTEGER)"""

LANGS = {
    "en": ["the", "and", "of", "to", "in", "is", "a"],
    "es": ["el", "la", "de", "que", "y", "los", "en"],
    "de": ["der", "die", "und", "das", "ist", "von", "ein"],
    "fr": ["le", "la", "les", "et", "des", "un", "est"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2", "you3", "wo3"],
}
LANG_ORDER = ["en", "es", "de", "fr", "zh"]
EN_STOP = LANGS["en"] + ["that", "it", "for", "on", "with"]


def _lang_score(toks: str, lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in LANGS[lang])
    return f"len(list_filter({toks}, t -> list_contains([{lst}], t)))"


def _lang_id(toks: str) -> str:
    scores = {lg: _lang_score(toks, lg) for lg in LANG_ORDER}
    best = "greatest(" + ", ".join(scores.values()) + ")"
    cases = " ".join(
        f"WHEN ({best}) > 0 AND ({scores[lg]}) = ({best}) THEN '{lg}'" for lg in LANG_ORDER
    )
    return f"CASE {cases} ELSE 'und' END"


def _stop_ratio(toks: str) -> str:
    lst = ", ".join(f"'{w}'" for w in EN_STOP)
    return (
        f"CASE WHEN len({toks}) > 0 THEN "
        f"CAST(len(list_filter({toks}, t -> list_contains([{lst}], t))) AS DOUBLE) / len({toks}) "
        f"ELSE 0.0 END"
    )


def _punct_ratio(c: str) -> str:
    return (
        f"CASE WHEN length({c}) > 0 THEN "
        f"CAST(len(regexp_extract_all({c}, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length({c}) "
        f"ELSE 0.0 END"
    )


def _quality(c: str, toks: str) -> str:
    # floor-truncate, mirroring functions/text.py::quality_score
    return (
        f"floor((0.4 * least(CAST(len({toks}) AS DOUBLE) / 50.0, 1.0)"
        f" + 0.3 * (1.0 - ({_punct_ratio(c)}))"
        f" + 0.3 * ({_stop_ratio(toks)})) * 10000) / 10000.0"
    )


def _fingerprint(c: str, toks: str) -> str:
    g4 = _ngrams(toks, 4)
    return f"coalesce(list_min(list_transform({g4}, gg -> md5(gg))), md5(lower({c})))"


PREFIX4_KEY = (
    "md5(array_to_string(list_slice(" + TOKENS.format(c="text") + ", 1, 4), ' '))"
)

COSINE = """round(
  CASE WHEN sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})) > 0
       THEN list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))
       ELSE 0.0 END, 6)"""

# raw (unrounded) form — used where cosines ORDER a computation (IVF
# centroid assignment): raw doubles are bit-identical across engines, so
# ordering on them is deterministic; rounding before ordering would
# re-introduce engine round() divergence at tie boundaries
COSINE_RAW = """CASE WHEN sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})) > 0
       THEN list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))
       ELSE 0.0 END"""


def _hyperplane_bucket_sql(vexpr: str, bits: int = 8, dim: int = 64, seed: int = 42) -> str:
    """Mirror of functions/vectors.py::hyperplane_bucket: the SAME seeded
    plane doubles (full-precision repr round-trips to the identical
    binary double) summed in the SAME left-fold order, so the sign
    decisions — and therefore the buckets — are bit-identical."""
    from .functions.vectors import hyperplane_matrix

    planes = hyperplane_matrix(bits, dim, seed)
    parts = []
    for p in range(bits):
        dot = " + ".join(f"({planes[p][d]!r} * {vexpr}[{d + 1}])" for d in range(dim))
        parts.append(f"CASE WHEN ({dot}) > 0 THEN {1 << p} ELSE 0 END")
    return "(" + " + ".join(parts) + ")"

_TOKS_TEXT = TOKENS.format(c="text")

ORACLES: dict[str, str] = {}

ORACLES["crawl_url_canonicalize"] = f"""
WITH {FRONTIER_CTE}
SELECT doc_id, canonical_url, url_hash, host, host_bucket, path, seq, priority FROM frontier
"""

# mirror of queries.crawl_autothrottle_budget: the Scrapy AutoThrottle
# recurrence folded over each host's round-ordered latencies via
# list_reduce (init prepended; non-200 encoded as negative latency)
_AT_ND = "least(greatest(abs(b) / 1.0, (a + abs(b) / 1.0) / 2, 500.0), 60000.0)"
ORACLES["crawl_autothrottle_budget"] = f"""
WITH hosts AS (SELECT DISTINCT source, CAST(replace(source, 'src', '') AS INTEGER) AS h FROM documents),
g AS (
  SELECT source, h, r,
         CASE WHEN (h + r) % 5 != 0
              THEN CAST(80 + ((h * 13 + r * 7) % 12) * 140 AS DOUBLE)
              ELSE -CAST(80 + ((h * 13 + r * 7) % 12) * 140 AS DOUBLE) END AS x
  FROM hosts CROSS JOIN (SELECT unnest(range(0, 8)) AS r) rr
),
per AS (
  SELECT source, list_transform(list_sort(list_zip(list(r ORDER BY r), list(x ORDER BY r))), z -> z[2]) AS xs
  FROM g GROUP BY source
),
folded AS (
  SELECT source, CAST(len(xs) AS INTEGER) AS n_rounds,
         list_reduce([CAST(500.0 AS DOUBLE)] || xs,
           (a, b) -> CASE WHEN b >= 0 THEN {_AT_ND} ELSE greatest(a, {_AT_ND}) END
         ) AS delay
  FROM per
)
SELECT source, n_rounds,
       floor(delay * 1000) / 1000 AS delay_ms,
       CAST(greatest(floor(10000 / delay), 1) AS INTEGER) AS budget
FROM folded
"""

# mirror of queries.crawl_sitemap_seed: per-source urlset blob ->
# <url> blocks -> loc/lastmod extraction -> rule routing
ORACLES["crawl_sitemap_seed"] = """
WITH e AS (
  SELECT source, doc_id,
         '<url><loc>https://' || source || '.example.org'
         || CASE WHEN doc_id % 2 = 0 THEN '/dataset/' || CAST(doc_id AS VARCHAR)
                 WHEN doc_id % 3 = 0 THEN '/record/' || CAST(doc_id AS VARCHAR)
                 ELSE '/private/' || CAST(doc_id AS VARCHAR) END
         || '</loc>'
         || CASE WHEN doc_id % 3 = 0
                 THEN '<lastmod>2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || '</lastmod>'
                 ELSE '' END
         || '</url>' AS entry
  FROM documents
),
sm AS (
  SELECT source, '<urlset>' || string_agg(entry, '' ORDER BY doc_id) || '</urlset>' AS body
  FROM e GROUP BY source
),
blocks AS (SELECT source, unnest(regexp_extract_all(body, '<url>(.*?)</url>', 1)) AS b FROM sm),
parsed AS (
  SELECT source,
         regexp_extract(b, '<loc>([^<]*)</loc>', 1) AS url,
         nullif(regexp_extract(b, '<lastmod>([^<]*)</lastmod>', 1), '') AS lastmod
  FROM blocks
)
SELECT source, url, lastmod,
       CASE WHEN contains(url, '/dataset/') THEN 'jsonld'
            WHEN contains(url, '/record/') THEN 'api'
            ELSE NULL END AS route
FROM parsed
WHERE contains(url, '/dataset/') OR contains(url, '/record/')
"""

# mirror of queries.crawl_url_filter: blocklist + keyword + query-param
# + length URL-quality flags over the canonical frontier
ORACLES["crawl_url_filter"] = f"""
WITH {{FRONTIER}}
SELECT doc_id, host,
       host IN ('src4.example.org', 'src11.example.org', 'src17.example.org') AS blocked,
       contains(path, 'private') AS disallowed_kw,
       (CASE WHEN contains(canonical_url, '?')
             THEN len(string_split(substring(canonical_url, strpos(canonical_url, '?') + 1), '&'))
             ELSE 0 END) >= 2 AS excessive_params,
       length(canonical_url) > 38 AS overlong,
       NOT (host IN ('src4.example.org', 'src11.example.org', 'src17.example.org')
            OR contains(path, 'private')
            OR (CASE WHEN contains(canonical_url, '?')
                     THEN len(string_split(substring(canonical_url, strpos(canonical_url, '?') + 1), '&'))
                     ELSE 0 END) >= 2
            OR length(canonical_url) > 38) AS keep
FROM frontier
""".format(FRONTIER=FRONTIER_CTE)

ORACLES["crawl_seen_filter"] = f"""
WITH {FRONTIER_CTE}
SELECT doc_id, url_hash, host FROM frontier
WHERE url_hash NOT IN (SELECT url_hash FROM frontier WHERE doc_id % 2 = 0)
"""

ORACLES["crawl_recrawl_ttl"] = f"""
WITH {FRONTIER_CTE}
SELECT doc_id, url_hash, host FROM frontier
WHERE url_hash NOT IN (
  SELECT url_hash FROM frontier
  WHERE doc_id % 2 = 0 AND doc_id % 8 >= 5  -- ACTIVE seen: TTL not expired
)
"""

ORACLES["crawl_robots_filter"] = f"""
WITH {FRONTIER_CTE}, {ROBOTS_CTE}, {ALLOWED_CTE}
SELECT doc_id, url_hash, host, path FROM allowed
"""

ORACLES["crawl_frontier_topk"] = f"""
WITH {FRONTIER_CTE}, {ROBOTS_CTE}, {ALLOWED_CTE},
ranked AS (
  SELECT a.host, a.doc_id, a.priority, a.seq, a.url_hash,
         row_number() OVER (PARTITION BY a.host ORDER BY a.priority, a.seq, a.url_hash) AS rn,
         {BUDGET_EXPR} AS budget
  FROM allowed a JOIN robots r USING (host)
)
SELECT host, doc_id, priority, seq, url_hash FROM ranked WHERE rn <= budget
"""

ORACLES["crawl_politeness_budget"] = f"""
WITH {FRONTIER_CTE}, {ROBOTS_CTE}
SELECT f.host, CAST({BUDGET_EXPR} AS INTEGER) AS budget, count(*) AS queued,
       least(CAST({BUDGET_EXPR} AS BIGINT), count(*)) AS selected
FROM frontier f JOIN robots r USING (host)
GROUP BY f.host, r.crawl_delay_ms
"""

_RA_COOLDOWN = "(" + HEXPOS.format(h="md5('ra:' || host)", i=1) + ") < 4"
ORACLES["crawl_retry_after_budget"] = f"""
WITH {FRONTIER_CTE}, {ROBOTS_CTE}
SELECT f.host,
       CAST(CASE WHEN {_RA_COOLDOWN.replace('host', 'f.host')} THEN 0 ELSE {BUDGET_EXPR} END AS INTEGER) AS budget,
       count(*) AS queued,
       least(CAST(CASE WHEN {_RA_COOLDOWN.replace('host', 'f.host')} THEN 0 ELSE {BUDGET_EXPR} END AS BIGINT), count(*)) AS selected
FROM frontier f JOIN robots r USING (host)
GROUP BY f.host, r.crawl_delay_ms
"""

ORACLES["crawl_host_lineage"] = f"""
WITH {FRONTIER_CTE}
SELECT f.host_bucket, count(*) AS urls, count(DISTINCT f.host) AS hosts,
       CAST(sum(d.n_chars) AS BIGINT) AS bytes, min(f.url_hash) AS min_hash
FROM frontier f JOIN documents d USING (doc_id)
GROUP BY f.host_bucket
"""

ORACLES["dedup_exact_prefix"] = f"""
WITH keyed AS (SELECT doc_id AS member_id, {PREFIX4_KEY} AS dup_key FROM documents)
SELECT dup_key, count(*) AS group_size, min(member_id) AS keep_id,
       string_agg(CAST(member_id AS VARCHAR), ',' ORDER BY member_id) AS members_csv
FROM keyed GROUP BY dup_key HAVING count(*) > 1
"""

_SH3 = _ngrams(_TOKS_TEXT, 3)
_SIG8 = _minhash("sh", 8)
ORACLES["dedup_minhash_lsh"] = f"""
WITH sh AS (SELECT doc_id AS id, {_SH3} AS sh FROM documents),
sig AS (SELECT id, {_SIG8} AS sig FROM sh WHERE len(sh) > 0),
banded AS (
  SELECT id, b AS band,
         md5(CAST(b AS VARCHAR) || ':' || array_to_string(list_slice(sig, b * 2 + 1, b * 2 + 2), '|')) AS bucket
  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b) bb
)
SELECT DISTINCT a.id AS id_a, b.id AS id_b
FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.band = b.band AND a.id < b.id
"""

# mirror of queries.dedup_incremental_minhash: the delta-involving subset
# of the full-corpus LSH candidate pass (the Spark side computes it
# incrementally against a persisted signature store)
ORACLES["dedup_incremental_minhash"] = f"""
WITH sh AS (SELECT doc_id AS id, {_SH3} AS sh FROM documents),
sig AS (SELECT id, {_SIG8} AS sig FROM sh WHERE len(sh) > 0),
banded AS (
  SELECT id, b AS band,
         md5(CAST(b AS VARCHAR) || ':' || array_to_string(list_slice(sig, b * 2 + 1, b * 2 + 2), '|')) AS bucket
  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b) bb
)
SELECT DISTINCT a.id AS id_a, b.id AS id_b
FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.band = b.band AND a.id < b.id
WHERE a.id % 5 = 0 OR b.id % 5 = 0
"""

# mirror of queries.dedup_cluster_components: the same MinHash pair CTEs,
# then connected components via a recursive reachability CTE (min
# reachable id = the deterministic cluster representative)
ORACLES["dedup_cluster_components"] = f"""
WITH RECURSIVE sh AS (SELECT doc_id AS id, {_SH3} AS sh FROM documents),
sig AS (SELECT id, {_SIG8} AS sig FROM sh WHERE len(sh) > 0),
banded AS (
  SELECT id, b AS band,
         md5(CAST(b AS VARCHAR) || ':' || array_to_string(list_slice(sig, b * 2 + 1, b * 2 + 2), '|')) AS bucket
  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b) bb
),
pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.band = b.band AND a.id < b.id
),
edges AS (SELECT id_a AS x, id_b AS y FROM pairs UNION SELECT id_b, id_a FROM pairs),
nodes AS (SELECT DISTINCT x AS member FROM edges),
reach AS (
  SELECT member, member AS r FROM nodes
  UNION
  SELECT rr.member, e.y AS r FROM reach rr JOIN edges e ON rr.r = e.x
),
comp AS (SELECT member, min(r) AS cluster FROM reach GROUP BY member)
SELECT cluster, CAST(count(*) AS INTEGER) AS n_members,
       string_agg(CAST(member AS VARCHAR), ',' ORDER BY member) AS members_csv
FROM comp GROUP BY cluster
"""

_EN7 = ", ".join(f"'{w}'" for w in LANGS["en"])
ORACLES["text_gopher_quality"] = f"""
WITH base AS (
  SELECT doc_id, text, {_TOKS_TEXT} AS toks,
         string_split(text, chr(10)) AS lines
  FROM documents
),
m AS (
  SELECT doc_id,
    len(toks) AS nw,
    CASE WHEN len(toks) > 0 THEN CAST(len(toks) AS DOUBLE) ELSE 1.0 END AS nwd,
    CAST(length(array_to_string(toks, '')) AS DOUBLE) AS tchars,
    CAST(len(regexp_extract_all(text, '(#)', 1))
         + len(regexp_extract_all(text, '(\\.\\.\\.)', 1)) AS DOUBLE) AS symbols,
    len(lines) AS nl,
    CAST(len(list_filter(lines, l -> starts_with(l, '-') OR starts_with(l, '*')
                                     OR starts_with(l, '•'))) AS DOUBLE) AS bullets,
    len(list_filter(toks, t -> list_contains([{_EN7}], t))) AS stop_hits
  FROM base
)
SELECT doc_id,
  CAST(nw AS INTEGER) AS n_words,
  floor((tchars / nwd) * 10000) / 10000.0 AS mean_word_len,
  floor((symbols / nwd) * 1000000) / 1000000.0 AS symbol_ratio,
  CASE WHEN nl > 0 THEN floor((bullets / nl) * 1000000) / 1000000.0 ELSE 0.0 END AS bullet_frac,
  CAST(stop_hits AS INTEGER) AS stop_hits,
  CAST(CASE WHEN nw >= 10 AND nw <= 10000
            AND (tchars / nwd) >= 3.0 AND (tchars / nwd) <= 12.0
            AND (symbols / nwd) <= 0.1
            AND (CASE WHEN nl > 0 THEN bullets / nl ELSE 0.0 END) <= 0.9
            AND stop_hits >= 2
       THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM m
"""

_G2 = _ngrams(_TOKS_TEXT, 2)
_G3 = _ngrams(_TOKS_TEXT, 3)


def _dupfrac(arr: str) -> str:
    return (
        f"CASE WHEN len({arr}) > 0 THEN "
        f"floor((1.0 - CAST(len(list_distinct({arr})) AS DOUBLE) / len({arr})) * 1000000) / 1000000.0 "
        f"ELSE 0.0 END"
    )


ORACLES["text_repetition"] = f"""
SELECT doc_id,
       CAST(len({_TOKS_TEXT}) AS INTEGER) AS n_words,
       {_dupfrac(_TOKS_TEXT)} AS dup_word_frac,
       {_dupfrac(_G2)} AS dup_2gram_frac,
       {_dupfrac(_G3)} AS dup_3gram_frac
FROM documents
"""

# mirror of queries.text_decontaminate: benchmark = docs with
# doc_id % 37 == 0; distinct 4-gram overlap counts for everyone else
_G4D = f"list_distinct({_ngrams(_TOKS_TEXT, 4)})"
ORACLES["text_decontaminate"] = f"""
WITH g AS (SELECT doc_id, unnest({_G4D}) AS g FROM documents),
bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 37 = 0),
hits AS (
  SELECT doc_id, count(DISTINCT g.g) AS n FROM g JOIN bench USING (g)
  WHERE doc_id % 37 != 0 GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(h.n, 0) AS INTEGER) AS n_hits,
       coalesce(h.n, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.doc_id % 37 != 0
"""

# mirror of queries.sample_stratified: per-source k smallest salted md5
ORACLES["sample_stratified"] = """
SELECT source, doc_id, CAST(sample_rank AS INTEGER) AS sample_rank FROM (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5('strat1|' || CAST(doc_id AS VARCHAR))
         ) AS sample_rank
  FROM documents
) WHERE sample_rank <= 25
"""

# mirror of queries.pack_greedy_bins: running-sum shard assignment
ORACLES["pack_greedy_bins"] = f"""
WITH n AS (
  SELECT source, doc_id, CAST(len({_TOKS_TEXT}) AS INTEGER) AS n_tok FROM documents
)
SELECT source, doc_id, n_tok,
       CAST(floor(coalesce(sum(n_tok) OVER (
         PARTITION BY source ORDER BY doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
       ), 0) / 512) AS INTEGER) AS bin
FROM n
"""

# mirror of queries.text_pii_scrub: planted e-mail/IP, count + redact
_PII_PLANTED = """(text
  || CASE WHEN doc_id % 7 = 0
          THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.org'
          ELSE '' END
  || CASE WHEN doc_id % 11 = 0
          THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST(doc_id % 250 AS VARCHAR)
          ELSE '' END)"""
_PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_IP = r"\d+\.\d+\.\d+\.\d+"
ORACLES["text_pii_scrub"] = f"""
WITH p AS (SELECT doc_id, {_PII_PLANTED} AS planted FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(planted, '{_PII_EMAIL}')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(planted, '{_PII_IP}')) AS INTEGER) AS n_ips,
       md5(regexp_replace(regexp_replace(planted, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                          '{_PII_IP}', '<IP>', 'g')) AS scrub_key
FROM p
"""

# mirror of queries.dedup_exact_substring: k=10 token windows with
# 1-based positions, cross-doc repeated hashes, per-doc rollup
def _pos_windows(toks: str, k: int) -> str:
    gram = " || ' ' || ".join(f"{toks}[i + {j}]" for j in range(k))
    return (
        f"CASE WHEN len({toks}) >= {k} THEN "
        f"list_transform(range(1, len({toks}) - {k - 2}), "
        f"i -> struct_pack(pos := i, h := md5({gram}))) "
        f"ELSE [] END"
    )


ORACLES["dedup_exact_substring"] = f"""
WITH w0 AS (SELECT doc_id, unnest({_pos_windows(_TOKS_TEXT, 10)}) AS u FROM documents),
w AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM w0),
rep AS (SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) > 1),
per AS (
  SELECT doc_id, count(*) AS n_repeated, min(pos) AS first_repeat_pos
  FROM w JOIN rep USING (h) GROUP BY doc_id
),
base AS (
  SELECT doc_id, CAST(greatest(len({_TOKS_TEXT}) - 9, 0) AS INTEGER) AS n_windows
  FROM documents
)
SELECT b.doc_id, b.n_windows,
       CAST(coalesce(p.n_repeated, 0) AS INTEGER) AS n_repeated,
       CAST(p.first_repeat_pos AS INTEGER) AS first_repeat_pos
FROM base b LEFT JOIN per p USING (doc_id)
"""

# mirror of queries.text_importance_weights: integer token-mass sums,
# one final double division (bit-reproducible; no sum-of-logs)
ORACLES["text_importance_weights"] = f"""
WITH tk AS (SELECT doc_id, lang, unnest({_TOKS_TEXT}) AS tok FROM documents),
ct AS (SELECT tok, count(*) AS c_t FROM tk WHERE lang = 'en' GROUP BY tok),
cs AS (SELECT tok, count(*) AS c_s FROM tk GROUP BY tok)
SELECT tk.doc_id,
       CAST(count(*) AS INTEGER) AS n_toks,
       CAST(sum(coalesce(ct.c_t, 0)) AS BIGINT) AS sum_ct,
       CAST(sum(cs.c_s) AS BIGINT) AS sum_cs,
       floor((CAST(sum(coalesce(ct.c_t, 0)) + count(*) AS DOUBLE)
              / CAST(sum(cs.c_s) + count(*) AS DOUBLE)) * 1e6) / 1e6 AS weight
FROM tk LEFT JOIN ct USING (tok) JOIN cs USING (tok)
GROUP BY tk.doc_id
"""

ORACLES["dedup_simhash"] = f"""
WITH s AS (SELECT doc_id AS member_id, {SIMHASH16.format(toks=_TOKS_TEXT)} AS simhash FROM documents)
SELECT simhash, count(*) AS group_size,
       string_agg(CAST(member_id AS VARCHAR), ',' ORDER BY member_id) AS members_csv
FROM s GROUP BY simhash HAVING count(*) > 1
"""

def _simhash64_sql(toks: str) -> str:
    """63-bit simhash as one scalar expression over a token list (mirror
    of operators/dedup.py::simhash64_agg)."""
    terms = []
    for b in range(63):
        digit, bit = b // 4 + 1, b % 4
        dv = f"(strpos('0123456789abcdef', substr(md5(t), {digit}, 1)) - 1)"
        vote = f"list_sum(list_transform({toks}, t -> CASE WHEN (({dv} >> {bit}) & 1) = 1 THEN 1 ELSE -1 END))"
        terms.append(f"CASE WHEN {vote} > 0 THEN (CAST(1 AS BIGINT) << {b}) ELSE 0 END")
    return "CAST(coalesce(" + " + ".join(terms) + ", 0) AS BIGINT)"


ORACLES["dedup_simhash64_hamming"] = f"""
WITH s AS (SELECT doc_id AS id, {_simhash64_sql(_TOKS_TEXT)} AS simhash FROM documents),
banded AS (
  SELECT id, simhash, b AS band, (simhash >> (16 * b)) & 65535 AS bval
  FROM s CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b) bb
)
SELECT DISTINCT a.id AS id_a, b2.id AS id_b,
       CAST(bit_count(xor(a.simhash, b2.simhash)) AS INTEGER) AS hamming
FROM banded a JOIN banded b2
  ON a.band = b2.band AND a.bval = b2.bval AND a.id < b2.id
"""

_SH4D = f"list_distinct({_ngrams(_TOKS_TEXT, 4)})"
# mirror of operators/dedup.py::ngram_jaccard_pairs with max_shingle_df=400:
# the shingle universe is capped BEFORE candidate generation, and both
# |A∩B| and the per-doc sizes use the capped universe.
ORACLES["dedup_ngram_jaccard"] = f"""
WITH base AS (SELECT doc_id AS id, {_SH4D} AS sh FROM documents),
nz AS (SELECT * FROM base WHERE len(sh) > 0),
ex0 AS (SELECT id, unnest(sh) AS s FROM nz),
ex AS (
  SELECT id, s FROM (SELECT id, s, count(*) OVER (PARTITION BY s) AS df FROM ex0)
  WHERE df <= 400
),
sizes AS (SELECT id, count(*) AS n FROM ex GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
  FROM ex a JOIN ex b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2
),
j AS (
  SELECT t.id_a, t.id_b,
         floor((CAST(t.i AS DOUBLE) / (x.n + y.n - t.i)) * 1000000) / 1000000.0 AS jaccard
  FROM inter t JOIN sizes x ON t.id_a = x.id JOIN sizes y ON t.id_b = y.id
)
SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.4
"""

_BK = _hyperplane_bucket_sql("v")
ORACLES["dedup_embedding_cosine"] = f"""
WITH v0 AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT id, v, {_BK} AS bucket FROM v0)
SELECT a.id AS id_a, b2.id AS id_b, {COSINE.format(a='a.v', b='b2.v')} AS cosine
FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.id < b2.id
WHERE {COSINE.format(a='a.v', b='b2.v')} >= 0.2
"""

# mirror of queries.dedup_semantic_keepone: embedding near-dup pairs ->
# recursive-CTE connected components -> keep-one-per-cluster rosters
ORACLES["dedup_semantic_keepone"] = f"""
WITH RECURSIVE v0 AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT id, v, {_BK} AS bucket FROM v0),
pairs AS (
  SELECT a.id AS id_a, b2.id AS id_b
  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.id < b2.id
  WHERE {COSINE.format(a='a.v', b='b2.v')} >= 0.2
),
edges AS (SELECT id_a AS x, id_b AS y FROM pairs UNION SELECT id_b, id_a FROM pairs),
nodes AS (SELECT DISTINCT x AS member FROM edges),
reach AS (
  SELECT member, member AS r FROM nodes
  UNION
  SELECT rr.member, e.y AS r FROM reach rr JOIN edges e ON rr.r = e.x
),
comp AS (SELECT member, min(r) AS cluster FROM reach GROUP BY member),
rosters AS (
  SELECT cluster,
         CAST(count(*) AS INTEGER) AS cluster_size,
         coalesce(string_agg(CAST(member AS VARCHAR), ',' ORDER BY member)
                    FILTER (WHERE member != cluster), '') AS absorbed_csv
  FROM comp GROUP BY cluster
)
SELECT e.vec_id AS keep_id,
       coalesce(r.cluster_size, 1) AS cluster_size,
       coalesce(r.absorbed_csv, '') AS absorbed_csv
FROM embeddings e LEFT JOIN rosters r ON e.vec_id = r.cluster
WHERE e.vec_id NOT IN (SELECT member FROM comp WHERE member != cluster)
"""

ORACLES["ann_bruteforce_topk"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, {COSINE.format(a='q.qv', b='e.v')} AS cosine
  FROM e CROSS JOIN q WHERE e.vec_id != q.query_id
),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM scored)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM ranked WHERE rank <= 10
"""

ORACLES["ann_lsh_topk"] = f"""
WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
e AS (SELECT vec_id, v, {_BK} AS bucket FROM e0),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM e WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, {COSINE.format(a='q.qv', b='e.v')} AS cosine
  FROM e JOIN q USING (bucket) WHERE e.vec_id != q.query_id
),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM scored)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM ranked WHERE rank <= 10
"""

ORACLES["ann_ivf_topk"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (SELECT vec_id AS cid, v AS centroid FROM e WHERE vec_id < 8),
ascore AS (
  SELECT e.vec_id AS vid, e.v, c.cid, {COSINE_RAW.format(a='e.v', b='c.centroid')} AS ccos
  FROM e CROSS JOIN cent c
),
aranked AS (SELECT *, row_number() OVER (PARTITION BY vid ORDER BY ccos DESC, cid ASC) AS crn FROM ascore),
inv AS (SELECT vid, v, cid FROM aranked WHERE crn = 1),
probes AS (SELECT vid AS query_id, v AS qv, cid FROM aranked WHERE crn <= 2 AND vid < 5),
cand AS (
  SELECT DISTINCT p.query_id, i.vid AS neighbor_id, p.qv, i.v
  FROM inv i JOIN probes p USING (cid) WHERE i.vid != p.query_id
),
scored AS (SELECT query_id, neighbor_id, {COSINE.format(a='qv', b='v')} AS cosine FROM cand),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM scored)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM ranked WHERE rank <= 10
"""

# mirror of similarity.sq8_topk (Lucene-style single-interval int8
# scalar quantization): global (mn, s) over all components -> codes
# round((x-mn)/s) in [0,255] (long form: one row per (vec, dim) —
# DuckDB lambdas cannot capture correlated outer refs) -> per-vector
# EXACT integer code-sum/code-norm -> the float dot reconstructed as
# dim*mn^2 + mn*s*(cs_a+cs_b) + s^2*dot(codes). All heavy stats are
# bigints; every double op below keeps the exact association shape of
# the Spark side (c0=(64.0*mn)*mn, a1=mn*s, a2=s*s, b2=(2.0*mn)*s;
# x + ((y) + (z))), so the match is arithmetic identity.
ORACLES["ann_sq8_topk"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
st AS (
  SELECT min(x) AS mn, (max(x) - min(x)) / 255.0 AS s
  FROM (SELECT unnest(v) AS x FROM e)
),
dims AS (SELECT unnest(range(1, 65)) AS d),
codes AS (
  SELECT e.vec_id, d.d,
         CASE WHEN st.s = 0 THEN 0
              ELSE least(255, greatest(0, CAST(round((e.v[d.d] - st.mn) / st.s) AS BIGINT))) END AS c
  FROM e CROSS JOIN dims d CROSS JOIN st
),
vstats AS (SELECT vec_id, sum(c) AS cs, sum(c * c) AS nsq FROM codes GROUP BY vec_id),
norms AS (
  SELECT v.vec_id, v.cs,
         sqrt(((64.0 * st.mn) * st.mn)
              + ((((2.0 * st.mn) * st.s) * CAST(v.cs AS DOUBLE))
                 + ((st.s * st.s) * CAST(v.nsq AS DOUBLE)))) AS rn
  FROM vstats v CROSS JOIN st
),
dots AS (
  SELECT qc.vec_id AS query_id, cc.vec_id AS neighbor_id, sum(qc.c * cc.c) AS dp
  FROM codes qc JOIN codes cc ON qc.d = cc.d
  WHERE qc.vec_id < 5 AND cc.vec_id != qc.vec_id
  GROUP BY 1, 2
),
scored AS (
  SELECT t.query_id, t.neighbor_id,
         round(CASE WHEN nq.rn * nc.rn > 0
                    THEN (((64.0 * st.mn) * st.mn)
                          + (((st.mn * st.s) * CAST(nq.cs + nc.cs AS DOUBLE))
                             + ((st.s * st.s) * CAST(t.dp AS DOUBLE))))
                         / (nq.rn * nc.rn)
                    ELSE 0.0 END, 6) AS cosine
  FROM dots t JOIN norms nq ON t.query_id = nq.vec_id
              JOIN norms nc ON t.neighbor_id = nc.vec_id
              CROSS JOIN st
),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM scored)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM ranked WHERE rank <= 10
"""

# mirror of queries.ann_sq8_incremental_topk: identical pipeline to
# ann_sq8_topk EXCEPT the (mn, s) stats come from the BASE partition
# only (vec_id < 80) — the frozen-interval incremental-ingest
# contract — so appended rows genuinely exercise the 0/255 clamp in
# both engines (the corpus-wide max component sits outside the base).
ORACLES["ann_sq8_incremental_topk"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
st AS (
  SELECT min(x) AS mn, (max(x) - min(x)) / 255.0 AS s
  FROM (SELECT unnest(v) AS x FROM e WHERE vec_id < 80)
),
dims AS (SELECT unnest(range(1, 65)) AS d),
codes AS (
  SELECT e.vec_id, d.d,
         CASE WHEN st.s = 0 THEN 0
              ELSE least(255, greatest(0, CAST(round((e.v[d.d] - st.mn) / st.s) AS BIGINT))) END AS c
  FROM e CROSS JOIN dims d CROSS JOIN st
),
vstats AS (SELECT vec_id, sum(c) AS cs, sum(c * c) AS nsq FROM codes GROUP BY vec_id),
norms AS (
  SELECT v.vec_id, v.cs,
         sqrt(((64.0 * st.mn) * st.mn)
              + ((((2.0 * st.mn) * st.s) * CAST(v.cs AS DOUBLE))
                 + ((st.s * st.s) * CAST(v.nsq AS DOUBLE)))) AS rn
  FROM vstats v CROSS JOIN st
),
dots AS (
  SELECT qc.vec_id AS query_id, cc.vec_id AS neighbor_id, sum(qc.c * cc.c) AS dp
  FROM codes qc JOIN codes cc ON qc.d = cc.d
  WHERE qc.vec_id < 5 AND cc.vec_id != qc.vec_id
  GROUP BY 1, 2
),
scored AS (
  SELECT t.query_id, t.neighbor_id,
         round(CASE WHEN nq.rn * nc.rn > 0
                    THEN (((64.0 * st.mn) * st.mn)
                          + (((st.mn * st.s) * CAST(nq.cs + nc.cs AS DOUBLE))
                             + ((st.s * st.s) * CAST(t.dp AS DOUBLE))))
                         / (nq.rn * nc.rn)
                    ELSE 0.0 END, 6) AS cosine
  FROM dots t JOIN norms nq ON t.query_id = nq.vec_id
              JOIN norms nc ON t.neighbor_id = nc.vec_id
              CROSS JOIN st
),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM scored)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM ranked WHERE rank <= 10
"""

# mirror of queries.ann_sq8_dim768_topk: the identical sq8 long-form
# pipeline at the reference's served dimension (768), over the corpus
# lifted from the 64-d embeddings by similarity.DIM768_BLOCKS — the
# SAME dyadic (w, b) literals in the SAME op shape ((x * w) + b), so
# the 768-d doubles are bit-equal across engines before quantization
# even starts. Proves the >UNROLL_MAX_DIM HOF fold path serves
# reference-shaped vectors with zero drift.
def _v768_sql() -> str:
    from .operators.similarity import DIM768_BLOCKS

    blocks = ",\n    ".join(
        f"list_transform(CAST(embedding AS DOUBLE[]), x -> (x * {w!r}) + {b!r})"
        for w, b in DIM768_BLOCKS
    )
    return f"flatten([\n    {blocks}\n  ])"


ORACLES["ann_sq8_dim768_topk"] = f"""
WITH e AS (SELECT vec_id, {_v768_sql()} AS v FROM embeddings),
st AS (
  SELECT min(x) AS mn, (max(x) - min(x)) / 255.0 AS s
  FROM (SELECT unnest(v) AS x FROM e)
),
dims AS (SELECT unnest(range(1, 769)) AS d),
codes AS (
  SELECT e.vec_id, d.d,
         CASE WHEN st.s = 0 THEN 0
              ELSE least(255, greatest(0, CAST(round((e.v[d.d] - st.mn) / st.s) AS BIGINT))) END AS c
  FROM e CROSS JOIN dims d CROSS JOIN st
),
vstats AS (SELECT vec_id, sum(c) AS cs, sum(c * c) AS nsq FROM codes GROUP BY vec_id),
norms AS (
  SELECT v.vec_id, v.cs,
         sqrt(((768.0 * st.mn) * st.mn)
              + ((((2.0 * st.mn) * st.s) * CAST(v.cs AS DOUBLE))
                 + ((st.s * st.s) * CAST(v.nsq AS DOUBLE)))) AS rn
  FROM vstats v CROSS JOIN st
),
dots AS (
  SELECT qc.vec_id AS query_id, cc.vec_id AS neighbor_id, sum(qc.c * cc.c) AS dp
  FROM codes qc JOIN codes cc ON qc.d = cc.d
  WHERE qc.vec_id < 5 AND cc.vec_id != qc.vec_id
  GROUP BY 1, 2
),
scored AS (
  SELECT t.query_id, t.neighbor_id,
         round(CASE WHEN nq.rn * nc.rn > 0
                    THEN (((768.0 * st.mn) * st.mn)
                          + (((st.mn * st.s) * CAST(nq.cs + nc.cs AS DOUBLE))
                             + ((st.s * st.s) * CAST(t.dp AS DOUBLE))))
                         / (nq.rn * nc.rn)
                    ELSE 0.0 END, 6) AS cosine
  FROM dots t JOIN norms nq ON t.query_id = nq.vec_id
              JOIN norms nc ON t.neighbor_id = nc.vec_id
              CROSS JOIN st
),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM scored)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM ranked WHERE rank <= 10
"""

ORACLES["tpch_rollup"] = """
SELECT coalesce(r.r_name, 'ALL') AS region, coalesce(n.n_name, 'ALL') AS nation,
       CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(20,8))), 2) AS DOUBLE) AS revenue,
       count(*) AS lineitems
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (r.r_name, n.n_name)
"""

ORACLES["semi_anti_parts"] = """
WITH s1 AS (
  SELECT 'ordered' AS side, p_partkey FROM part
  WHERE p_partkey IN (SELECT l_partkey FROM lineitem)
),
s2 AS (
  SELECT 'never_ordered' AS side, p_partkey FROM part
  WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem)
)
SELECT side, count(*) AS n, min(p_partkey) AS min_key
FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2) u GROUP BY side
"""

ORACLES["events_running_total"] = """
SELECT event_id, user_id,
       CAST(round(sum(CAST(value AS DECIMAL(20,8))) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS DOUBLE) AS running_value
FROM events
"""

ORACLES["text_analyze"] = f"""
SELECT doc_id,
       CAST(len({_TOKS_TEXT}) AS INTEGER) AS n_tokens,
       {_lang_id(_TOKS_TEXT)} AS lang_pred,
       {_quality('text', _TOKS_TEXT)} AS quality,
       {_fingerprint('text', _TOKS_TEXT)} AS fingerprint,
       {SIMHASH16.format(toks=_TOKS_TEXT)} AS simhash
FROM documents
"""

ORACLES["text_lang_agreement"] = f"""
SELECT lang AS lang_label, {_lang_id(_TOKS_TEXT)} AS lang_pred, count(*) AS n
FROM documents GROUP BY 1, 2
"""

ORACLES["text_quality_filter"] = f"""
SELECT doc_id, n_chars FROM documents
WHERE len({_TOKS_TEXT}) >= 10 AND {_quality('text', _TOKS_TEXT)} >= 0.4
"""

ORACLES["text_bpe_tokens"] = f"""
SELECT doc_id,
       CAST(len({_TOKS_TEXT}) AS INTEGER) AS n_ws,
       CAST(len(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s])', 1)) AS INTEGER) AS n_bpe,
       CASE WHEN len({_TOKS_TEXT}) > 0
            THEN floor((CAST(len(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s])', 1)) AS DOUBLE)
                        / len({_TOKS_TEXT})) * 10000) / 10000.0
            ELSE 0.0 END AS fertility
FROM documents
"""

ORACLES["merge_priority_lastwriter"] = f"""
WITH keyed AS (
  SELECT doc_id, source, {PREFIX4_KEY} AS dup_key,
         CAST(substr(source, 4) AS INTEGER) AS rank
  FROM documents
),
r AS (SELECT *, row_number() OVER (PARTITION BY dup_key ORDER BY rank DESC, doc_id ASC) AS rn FROM keyed)
SELECT dup_key, doc_id, source FROM r WHERE rn = 1
"""

ORACLES["merge_version_groups"] = """
WITH r AS (
  SELECT *, row_number() OVER (PARTITION BY source, lang ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM documents
),
sx AS (
  SELECT source, lang,
         unnest(['doi:' || CAST(doc_id % 13 AS VARCHAR),
                 'alt:' || CAST((doc_id * 3) % 7 AS VARCHAR)]) AS v
  FROM documents
),
su AS (
  SELECT source, lang, string_agg(DISTINCT v, ',' ORDER BY v) AS merged_sameas_csv
  FROM sx GROUP BY source, lang
),
g AS (
  SELECT source, lang,
         min(CASE WHEN rn = 1 THEN doc_id END) AS keep_id,
         min(CASE WHEN rn = 1 THEN n_chars END) AS keep_n_chars,
         string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS members_csv,
         count(*) AS group_size
  FROM r GROUP BY source, lang
)
SELECT g.*, su.merged_sameas_csv FROM g JOIN su USING (source, lang)
"""

ORACLES["merge_apply_1x1"] = f"""
WITH keyed AS (
  SELECT doc_id, source, {PREFIX4_KEY} AS dup_key,
         source || '@' || 'https://' || source || '.example.org/rec/' || CAST(doc_id AS VARCHAR) AS cat
  FROM documents
),
a1 AS (SELECT dup_key, min(doc_id) AS keep_id FROM keyed WHERE doc_id % 2 = 0 GROUP BY dup_key HAVING count(*) = 1),
b1 AS (SELECT dup_key, min(doc_id) AS drop_id FROM keyed WHERE doc_id % 2 = 1 GROUP BY dup_key HAVING count(*) = 1),
dir AS (SELECT keep_id, drop_id FROM a1 JOIN b1 USING (dup_key)),
g AS (SELECT d.keep_id, k.cat AS loser_cat FROM dir d JOIN keyed k ON k.doc_id = d.drop_id),
merged AS (
  SELECT k.doc_id, k.source,
         CASE WHEN g.loser_cat IS NOT NULL
              THEN CAST(len(list_distinct([k.cat, g.loser_cat])) AS INTEGER) ELSE 1 END AS n_catalog,
         CASE WHEN g.loser_cat IS NOT NULL
              THEN array_to_string(list_sort(list_distinct([k.cat, g.loser_cat])), ',')
              ELSE k.cat END AS catalog_csv
  FROM keyed k LEFT JOIN g ON k.doc_id = g.keep_id
)
SELECT doc_id, source, n_catalog, catalog_csv FROM merged
WHERE doc_id NOT IN (SELECT drop_id FROM dir)
"""

ORACLES["merge_identifier_dedup"] = """
WITH d AS (
  SELECT doc_id, source,
         source || ':' || CAST(doc_id AS VARCHAR) AS _id,
         [upper(source) || ':' || CAST(doc_id AS VARCHAR),
          'SRC' || CAST((doc_id + 1) % 20 AS VARCHAR) || ':' || CAST((doc_id * 7) % 500 AS VARCHAR)]
         || CASE WHEN doc_id % 3 = 0
                 THEN ['SRC' || CAST((doc_id + 1) % 20 AS VARCHAR) || ':' || CAST((doc_id + 21) % 500 AS VARCHAR)]
                 ELSE [] END AS identifiers
  FROM documents
),
ex AS (
  SELECT doc_id AS loser_id, source AS loser_source, lower(unnest(identifiers)) AS ident FROM d
),
tg AS (SELECT _id AS ident, doc_id AS winner_id, source AS winner_source FROM d)
SELECT ex.ident, ex.loser_id, tg.winner_id
FROM ex JOIN tg USING (ident)
WHERE ex.loser_source != tg.winner_source
"""

ORACLES["merge_key_dedup_1x1"] = f"""
WITH keyed AS (SELECT doc_id, {PREFIX4_KEY} AS dup_key FROM documents),
a1 AS (SELECT dup_key, min(doc_id) AS keep_id FROM keyed WHERE doc_id % 2 = 0 GROUP BY dup_key HAVING count(*) = 1),
b1 AS (SELECT dup_key, min(doc_id) AS drop_id FROM keyed WHERE doc_id % 2 = 1 GROUP BY dup_key HAVING count(*) = 1)
SELECT dup_key, keep_id, drop_id FROM a1 JOIN b1 USING (dup_key)
"""

ORACLES["enrich_broadcast_lookup"] = """
SELECT r.r_name AS region_name, count(*) AS customers, floor((CAST(sum(CAST(c.c_acctbal AS DECIMAL(20,8))) AS DOUBLE) / count(*)) * 100) / 100.0 AS avg_acctbal
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
"""

ORACLES["enrich_cache_miss"] = """
SELECT DISTINCT l_suppkey AS suppkey FROM lineitem
WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_suppkey % 3 != 0)
"""

ORACLES["enrich_explode_collect"] = """
WITH ex AS (
  SELECT doc_id, unnest([CAST(doc_id % 25 AS INTEGER), CAST((doc_id * 3) % 25 AS INTEGER)]) AS key
  FROM documents
),
j AS (SELECT ex.doc_id, n.n_name FROM ex LEFT JOIN nation n ON ex.key = n.n_nationkey)
SELECT doc_id,
       coalesce(string_agg(n_name, ',' ORDER BY n_name), '') AS enriched_csv,
       count(n_name) AS hits
FROM j GROUP BY doc_id
"""

# mirror of queries.enrich_reclassify: per-entry standardization computed
# inline (the Spark side does the real broadcast lookup join; the lookup
# is itself a pure function of n, so the oracle folds it)
ORACLES["enrich_reclassify"] = """
WITH entries AS (
  SELECT doc_id, 0 AS pos, CAST(doc_id % 30 AS INTEGER) AS n, 'o' AS kind FROM documents
  UNION ALL
  SELECT doc_id, 1, CAST((doc_id * 7) % 30 AS INTEGER), 'o' FROM documents
  UNION ALL
  SELECT doc_id, 2, CAST((doc_id * 11) % 30 AS INTEGER), 't' FROM documents WHERE doc_id % 4 = 0
  UNION ALL
  SELECT doc_id, 100000, CAST((doc_id * 11) % 30 AS INTEGER), 'o' FROM documents
),
std AS (
  SELECT doc_id, pos,
    CASE WHEN kind = 'o' THEN 'organism-' || CAST(n AS VARCHAR)
         ELSE 'taxon-' || CAST(n AS VARCHAR) END AS orig_name,
    CASE WHEN kind = 'o' AND n < 24 THEN 'taxon-' || CAST(n AS VARCHAR)
         WHEN kind = 'o' THEN 'organism-' || CAST(n AS VARCHAR)
         ELSE 'taxon-' || CAST(n AS VARCHAR) END AS name,
    CASE WHEN kind = 'o' AND n < 24 THEN 'tax:' || CAST(2000 + n AS VARCHAR)
         WHEN kind = 'o' THEN 'tax:' || CAST(1000 + n AS VARCHAR)
         ELSE 'tax:' || CAST(3000 + n AS VARCHAR) END AS identifier,
    CASE WHEN kind = 'o' AND n < 24 AND n % 3 = 0 THEN 'infectiousAgent'
         WHEN kind = 'o' AND n < 24 THEN 'host'
         WHEN pos >= 100000 THEN 'infectiousAgent'
         ELSE 'host' END AS classification
  FROM entries
),
conv AS (
  SELECT DISTINCT doc_id, unnest([orig_name, name]) AS cname
  FROM std WHERE classification = 'infectiousAgent'
),
sp AS (
  SELECT s.* FROM std s
  WHERE s.classification != 'infectiousAgent'
    AND NOT EXISTS (SELECT 1 FROM conv c WHERE c.doc_id = s.doc_id AND c.cname = s.name)
),
ag AS (SELECT * FROM std WHERE classification = 'infectiousAgent'),
spd AS (SELECT * FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id, identifier ORDER BY pos) AS rn FROM sp
) WHERE rn = 1),
agd AS (SELECT * FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id, identifier ORDER BY pos) AS rn FROM ag
) WHERE rn = 1),
spg AS (
  SELECT doc_id, CAST(count(*) AS INTEGER) AS n_species,
         string_agg(name || '|' || identifier, ',' ORDER BY pos) AS species_csv
  FROM spd GROUP BY doc_id
),
agg_ AS (
  SELECT doc_id, CAST(count(*) AS INTEGER) AS n_agents,
         string_agg(name || '|' || identifier, ',' ORDER BY pos) AS agents_csv
  FROM agd GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(spg.n_species, 0) AS n_species,
       coalesce(spg.species_csv, '') AS species_csv,
       coalesce(agg_.n_agents, 0) AS n_agents,
       coalesce(agg_.agents_csv, '') AS agents_csv
FROM documents d LEFT JOIN spg ON d.doc_id = spg.doc_id
LEFT JOIN agg_ ON d.doc_id = agg_.doc_id
"""

# mirror of queries.enrich_drop_rules: same taxonomy closure; drops by
# name, by taxid, and by descendant-of-rule-taxid (ignore_children)
ORACLES["enrich_drop_rules"] = """
WITH RECURSIVE tax AS (
  SELECT CAST(t AS INTEGER) AS taxon,
         CASE WHEN t = 1 THEN NULL ELSE CAST(greatest(t // 7, 1) AS INTEGER) END AS parent
  FROM range(1, 201) r(t)
),
anc AS (
  SELECT taxon, taxon AS member FROM tax
  UNION
  SELECT a.taxon, x.parent AS member
  FROM anc a JOIN tax x ON a.member = x.taxon
  WHERE x.parent IS NOT NULL AND x.parent != a.member
),
e AS (
  SELECT doc_id, 0 AS pos,
         'ent-' || CAST(1 + doc_id % 200 AS VARCHAR) AS name,
         CAST(1 + doc_id % 200 AS INTEGER) AS taxid FROM documents
  UNION ALL
  SELECT doc_id, 1,
         CASE WHEN doc_id % 9 = 0 THEN 'china'
              ELSE 'ent-' || CAST(1 + (doc_id * 3) % 200 AS VARCHAR) END,
         CAST(1 + (doc_id * 3) % 200 AS INTEGER) FROM documents
  UNION ALL
  SELECT doc_id, 2,
         'ent-' || CAST(1 + (doc_id * 11) % 200 AS VARCHAR),
         CAST(1 + (doc_id * 11) % 200 AS INTEGER) FROM documents
),
desc3 AS (SELECT DISTINCT taxon AS taxid FROM anc WHERE member = 3 AND taxon != 3),
kept AS (
  SELECT * FROM e
  WHERE NOT (lower(trim(name)) IN ('china', 'clade-3', 'ent-50')
             OR taxid IN (3034371, 3, 50))
    AND taxid NOT IN (SELECT taxid FROM desc3)
)
SELECT doc_id, CAST(count(*) AS INTEGER) AS n_kept,
       string_agg(name || '|' || CAST(taxid AS VARCHAR), ',' ORDER BY pos) AS kept_csv
FROM kept GROUP BY doc_id
"""

# mirror of queries.enrich_lineage_expand: recursive-CTE ancestor closure
# over the same deterministic taxonomy (parent(t) = max(t/7, 1), root 1)
ORACLES["enrich_lineage_expand"] = """
WITH RECURSIVE tax AS (
  SELECT CAST(t AS INTEGER) AS taxon,
         CASE WHEN t = 1 THEN NULL ELSE CAST(greatest(t // 7, 1) AS INTEGER) END AS parent
  FROM range(1, 201) r(t)
),
anc AS (
  SELECT taxon, taxon AS member FROM tax
  UNION
  SELECT a.taxon, x.parent AS member
  FROM anc a JOIN tax x ON a.member = x.taxon
  WHERE x.parent IS NOT NULL AND x.parent != a.member
),
d AS (
  SELECT doc_id,
         list_distinct([CAST(1 + doc_id % 200 AS INTEGER),
                        CAST(1 + (doc_id * 3) % 200 AS INTEGER)]) AS tids
  FROM documents
),
ex AS (SELECT doc_id, unnest(tids) AS taxon FROM d),
hits AS (SELECT DISTINCT e.doc_id, a.member FROM ex e JOIN anc a USING (taxon)),
entries AS (SELECT h.doc_id, h.member, t2.parent FROM hits h JOIN tax t2 ON h.member = t2.taxon),
lin AS (
  SELECT doc_id, CAST(count(*) AS INTEGER) AS n_lineage,
         string_agg(CAST(member AS VARCHAR) || '>' || CAST(coalesce(parent, 0) AS VARCHAR),
                    ',' ORDER BY member) AS lineage_csv
  FROM entries GROUP BY doc_id
),
implied AS (
  SELECT DISTINCT e.doc_id, a.member AS tid
  FROM ex e JOIN anc a USING (taxon) WHERE a.member != a.taxon
),
kept AS (
  SELECT e.doc_id, e.taxon AS tid FROM ex e
  WHERE NOT EXISTS (SELECT 1 FROM implied i WHERE i.doc_id = e.doc_id AND i.tid = e.taxon)
),
k AS (
  SELECT doc_id, CAST(count(*) AS INTEGER) AS n_kept,
         string_agg(CAST(tid AS VARCHAR), ',' ORDER BY tid) AS kept_csv
  FROM kept GROUP BY doc_id
)
SELECT l.doc_id, l.n_lineage, l.lineage_csv, k.n_kept, k.kept_csv
FROM lin l JOIN k USING (doc_id)
"""

ORACLES["enrich_theta_contains"] = """
WITH pats AS (SELECT DISTINCT lower(p_type) AS pattern FROM part)
SELECT p.p_partkey, pats.pattern
FROM part p JOIN pats ON contains(lower(p.p_name), pats.pattern)
"""

ORACLES["tpch_q1"] = """
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(20,8))), 2) AS DOUBLE) AS sum_qty,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(20,8))), 2) AS DOUBLE) AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,8))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(20,8))), 2) AS DOUBLE) AS sum_charge,
       floor((CAST(sum(CAST(l_quantity AS DECIMAL(20,8))) AS DOUBLE) / count(*)) * 10000) / 10000.0 AS avg_qty,
       floor((CAST(sum(CAST(l_extendedprice AS DECIMAL(20,8))) AS DOUBLE) / count(*)) * 10000) / 10000.0 AS avg_price,
       floor((CAST(sum(CAST(l_discount AS DECIMAL(20,8))) AS DOUBLE) / count(*)) * 10000) / 10000.0 AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

ORACLES["tpch_q3_top10"] = """
SELECT l.l_orderkey, strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       o.o_orderpriority, CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(20,8))), 2) AS DOUBLE) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey ASC
LIMIT 10
"""

ORACLES["tpch_q5ish"] = """
SELECT r.r_name, n.n_name,
       CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(20,8))), 2) AS DOUBLE) AS revenue,
       count(*) AS lineitems
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
"""

ORACLES["window_topk_orders"] = """
WITH r AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders
)
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, CAST(rank AS INTEGER) AS rank
FROM r WHERE rank <= 3
"""

ORACLES["events_sessionize"] = """
WITH g AS (
  SELECT user_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS session_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, CAST(sum(session_start) AS BIGINT) AS sessions, count(*) AS events,
       CAST(round(sum(CAST(value AS DECIMAL(20,8))), 2) AS DOUBLE) AS total_value
FROM g GROUP BY user_id
"""

ORACLES["events_hourly"] = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
       count(*) AS n, CAST(round(sum(CAST(value AS DECIMAL(20,8))), 2) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""

ORACLES["events_props_extract"] = """
SELECT event_type,
       floor((CAST(sum(CAST(CAST(regexp_extract(props, '([0-9]+)', 1) AS INTEGER) AS DECIMAL(20,8))) AS DOUBLE) / count(*)) * 10000) / 10000.0 AS avg_k,
       CAST(max(CAST(regexp_extract(props, '([0-9]+)', 1) AS INTEGER)) AS INTEGER) AS max_k
FROM events GROUP BY event_type
"""

NDE_CTE = """
nde AS (
  SELECT
    CASE WHEN doc_id % 3 = 0 THEN upper(source) || ':DOC:' || CAST(doc_id AS VARCHAR)
         ELSE source || ':doc:' || CAST(doc_id AS VARCHAR) END AS _id,
    CASE WHEN doc_id % 17 = 0 THEN NULL
         ELSE (['Dataset','ComputationalTool','ResourceCatalog','Sample'])[CAST(doc_id % 4 AS INTEGER) + 1] END AS type,
    CASE WHEN doc_id % 23 = 0 THEN NULL
         ELSE 'https://' || source || '.example.org/doc/' || CAST(doc_id AS VARCHAR) END AS url,
    (['Open','Restricted','Closed','Embargoed','Invalid-Value'])[CAST(doc_id % 5 AS INTEGER) + 1] AS access,
    CASE WHEN doc_id % 7 = 0 THEN NULL ELSE DATE '2020-01-01' + CAST(doc_id % 300 AS INTEGER) END AS date_created,
    CASE WHEN doc_id % 11 = 0 THEN NULL ELSE DATE '2020-01-01' + CAST(n_chars % 400 AS INTEGER) END AS date_modified,
    DATE '2020-01-01' + CAST((doc_id * 7) % 350 AS INTEGER) AS date_published,
    '<p>' || text || '<br/>more</p>' AS description,
    n_chars
  FROM documents
),
gated AS (
  SELECT *,
    CASE WHEN type IS NULL OR type = '' THEN 'missing_type'
         WHEN url IS NULL OR url = '' THEN 'missing_url'
         WHEN access IS NOT NULL AND access NOT IN ('Open','Restricted','Closed','Embargoed')
              THEN 'invalid_conditions_of_access'
         ELSE NULL END AS violation
  FROM nde
)"""

ORACLES["nde_wrapper_pass"] = f"""
WITH {NDE_CTE}
SELECT lower(_id) AS _id, type,
  strftime(greatest(date_created, date_modified, date_published), '%Y-%m-%d') AS latest_date,
  round(0.6 * ((CASE WHEN type IS NOT NULL AND type != '' THEN 1 ELSE 0 END
              + CASE WHEN url IS NOT NULL AND url != '' THEN 1 ELSE 0 END
              + CASE WHEN date_published IS NOT NULL AND CAST(date_published AS VARCHAR) != '' THEN 1 ELSE 0 END) / 3.0)
      + 0.4 * ((CASE WHEN description IS NOT NULL AND description != '' THEN 1 ELSE 0 END
              + CASE WHEN access IS NOT NULL AND access != '' THEN 1 ELSE 0 END) / 2.0), 2) AS score,
  length(trim(regexp_replace(regexp_replace(description, '(?i)<br\\s*/?>', chr(10), 'g'), '<[^>]+>', '', 'g'))) AS stripped_len
FROM gated WHERE violation IS NULL
"""

ORACLES["nde_quarantine_counts"] = f"""
WITH {NDE_CTE}
SELECT violation, count(*) AS n FROM gated WHERE violation IS NOT NULL GROUP BY violation
"""

# mirror of queries.nde_record_normalize: the same messy derivation,
# always-array coercion, and check_schema gate, with arrays rendered to
# the same CSV forms
ORACLES["nde_record_normalize"] = """
WITH src AS (
  SELECT
    source || ':rec:' || CAST(doc_id AS VARCHAR) AS _id,
    (['Dataset','Sample','ComputationalTool','Dataset'])[CAST(doc_id % 4 AS INTEGER) + 1] AS type,
    CASE WHEN doc_id % 23 = 0 THEN NULL
         ELSE 'https://' || source || '.example.org/rec/' || CAST(doc_id AS VARCHAR) END AS url,
    CASE WHEN doc_id % 3 = 0 THEN NULL ELSE 'author-' || CAST(doc_id % 40 AS VARCHAR) END AS a1,
    CASE WHEN doc_id % 4 = 1 THEN 'author-' || CAST((doc_id + 7) % 40 AS VARCHAR) ELSE NULL END AS a2,
    CASE WHEN doc_id % 5 = 0 THEN NULL ELSE 'grant:' || CAST((doc_id * 3) % 89 AS VARCHAR) END AS fid,
    'funder-' || CAST(doc_id % 7 AS VARCHAR) AS fname,
    CAST(doc_id % 3 AS INTEGER) AS ndist_m1,
    (['Open','Restricted','Closed','Embargoed','Invalid-Value'])[CAST(doc_id % 5 AS INTEGER) + 1] AS access,
    (['Bespoke','Available','Backordered','Retired','Obsolete'])[CAST(doc_id % 5 AS INTEGER) + 1] AS cws,
    CASE WHEN doc_id % 2 = 0 THEN 'doi:10/' || CAST(doc_id % 50 AS VARCHAR) ELSE NULL END AS sameas1,
    source, doc_id
  FROM documents
),
rec AS (
  SELECT *,
    list_filter([a1, a2], x -> x IS NOT NULL) AS authors,
    CASE WHEN doc_id % 11 = 0 THEN NULL ELSE url END AS archived,
    list_transform(range(0, ndist_m1 + 1), k ->
      'https://files.example.org/' || CAST(doc_id AS VARCHAR) || '/' || CAST(k AS VARCHAR) || '.'
      || (['csv','json','zip'])[CAST((doc_id + k) % 3 AS INTEGER) + 1]
      || '#' || (['csv','json','zip'])[CAST((doc_id + k) % 3 AS INTEGER) + 1]) AS dists
  FROM src
)
SELECT _id, type,
  CASE WHEN type IS NULL OR type = '' THEN 'missing_type'
       WHEN url IS NULL OR url = '' THEN 'missing_url'
       WHEN archived IS NULL OR archived = '' THEN 'missing_included_in_data_catalog_archived_at'
       WHEN access IS NOT NULL AND access NOT IN ('Open','Restricted','Closed','Embargoed')
            THEN 'invalid_conditions_of_access'
       WHEN type = 'Sample' AND cws IS NOT NULL
            AND cws NOT IN ('Bespoke','Available','Backordered','Retired')
            THEN 'invalid_creative_work_status'
       ELSE NULL END AS violation,
  CAST(len(authors) AS INTEGER) AS n_authors,
  coalesce(array_to_string(authors, ','), '') AS authors_csv,
  CAST(CASE WHEN fid IS NULL THEN 0 ELSE 1 END AS INTEGER) AS n_funding,
  CASE WHEN fid IS NULL THEN '' ELSE fid || '|' || fname END AS funding_csv,
  CAST(len(dists) AS INTEGER) AS n_distribution,
  array_to_string(dists, ',') AS dist_csv,
  source || '@' || coalesce(archived, 'NULL') AS catalog_csv,
  coalesce(sameas1, '') AS sameas_csv,
  cws
FROM rec
"""

ORACLES["nde_doi_promote"] = """
WITH d AS (
  SELECT doc_id,
         source || ':doc:' || CAST(doc_id AS VARCHAR) AS _id,
         CASE CAST(doc_id % 7 AS INTEGER)
           WHEN 0 THEN CAST([] AS VARCHAR[])
           WHEN 1 THEN ['none']
           WHEN 6 THEN ['NONE']
           WHEN 5 THEN ['10.5281/zen.' || CAST(doc_id % 997 AS VARCHAR),
                        '10.999/alt.' || CAST(doc_id AS VARCHAR)]
           ELSE ['10.5281/zen.' || CAST(doc_id % 997 AS VARCHAR)]
         END AS doi
  FROM documents
),
p AS (
  SELECT doc_id,
    CASE WHEN len(doi) = 1 AND lower(doi[1]) != 'none' THEN doi[1] ELSE _id END AS _id,
    CASE WHEN len(doi) = 1 AND lower(doi[1]) = 'none' THEN CAST([] AS VARCHAR[]) ELSE doi END AS doi
  FROM d
)
SELECT doc_id, _id, CAST(len(doi) AS INTEGER) AS n_doi,
       coalesce(array_to_string(doi, ','), '') AS doi_csv
FROM p
"""

# mirror of queries.uploader_registry: the full registry dispatch — doi
# promote (zenodo), wrapper placeholder scrub + lineage + casefold
# (every registered source), PubTator reclassification, funder /
# citation / measurement-technique / topic lookups, NER drop rules —
# with family CTEs restricted to their sources and the same renderings.
# The family IN-lists are GENERATED from the real registry's stage
# tokens (uploaders.fixture_family), and the CTE chain is shared with
# nde_pipeline_e2e, so the Spark dispatch, the registry data, and both
# oracles cannot drift. Every fixture source is registered, so the
# wrapper tail's test is just "the row has a source".
from .uploaders import FIXTURE_SOURCES  # noqa: E402
from .uploaders import fixture_family  # noqa: E402


def _IN(stage: str) -> str:
    return "'" + "','".join(fixture_family(stage)) + "'"


_SRC_ARR = "[" + ",".join(f"'{s}'" for s in FIXTURE_SOURCES) + "]"
_MAPPED_SRC = (
    "(" + _SRC_ARR + ")[CAST(replace(source, 'src', '') AS INTEGER) % 20 + 1]"
)

_UPLOADER_CTES = f"""
tax AS (
  SELECT CAST(t AS INTEGER) AS taxon,
         CASE WHEN t = 1 THEN NULL ELSE CAST(greatest(t // 7, 1) AS INTEGER) END AS parent
  FROM range(1, 201) r(t)
),
anc AS (
  SELECT taxon, taxon AS member FROM tax
  UNION
  SELECT a.taxon, x.parent AS member
  FROM anc a JOIN tax x ON a.member = x.taxon
  WHERE x.parent IS NOT NULL AND x.parent != a.member
),
d AS (
  SELECT doc_id, {_MAPPED_SRC} AS source,
         upper({_MAPPED_SRC}) || ':REC:' || CAST(doc_id AS VARCHAR) AS _id,
         CASE WHEN doc_id % 17 = 0 THEN NULL
              ELSE (['Dataset','ComputationalTool','ResourceCatalog','Dataset'])[CAST(doc_id % 4 AS INTEGER) + 1]
         END AS type,
         CASE WHEN doc_id % 23 = 0 THEN NULL
              ELSE 'https://' || {_MAPPED_SRC} || '.example.org/rec/' || CAST(doc_id AS VARCHAR)
         END AS url,
         (['Open','Restricted','Closed','Embargoed','Invalid-Value'])[CAST(doc_id % 5 AS INTEGER) + 1] AS access,
         {{prefix4}} AS dup_key,
         CASE CAST(doc_id % 7 AS INTEGER)
           WHEN 0 THEN CAST([] AS VARCHAR[])
           WHEN 1 THEN ['none']
           WHEN 6 THEN ['NONE']
           WHEN 5 THEN ['10.5281/zen.' || CAST(doc_id % 997 AS VARCHAR),
                        '10.999/alt.' || CAST(doc_id AS VARCHAR)]
           ELSE ['10.5281/zen.' || CAST(doc_id % 997 AS VARCHAR)]
         END AS doi,
         ['Author-' || CAST(doc_id % 40 AS VARCHAR),
          (['n/a','unknown','co-1','co-2','none','co-3'])[CAST(doc_id % 6 AS INTEGER) + 1]
         ] AS authors,
         CASE WHEN doc_id % 5 = 0 THEN NULL
              ELSE 'grant:' || CAST((doc_id * 3) % 89 AS VARCHAR) END AS funding_id,
         CAST(doc_id % 30 AS INTEGER) AS n1,
         CAST((doc_id * 7) % 30 AS INTEGER) AS n2,
         CAST((doc_id * 11) % 30 AS INTEGER) AS n3
  FROM documents
),
darch AS (
  SELECT *, CASE WHEN doc_id % 11 = 0 THEN NULL ELSE url END AS archived FROM d
),
-- standardize_data sources: PubTator reclassification
entries AS (
  SELECT doc_id, 0 AS pos, n1 AS n, 'o' AS kind FROM d WHERE source IN ({_IN("recl")})
  UNION ALL
  SELECT doc_id, 1, n2, 'o' FROM d WHERE source IN ({_IN("recl")})
  UNION ALL
  SELECT doc_id, 2, n3, 't' FROM d WHERE source IN ({_IN("recl")}) AND doc_id % 4 = 0
  UNION ALL
  SELECT doc_id, 100000, n3, 'o' FROM d WHERE source IN ({_IN("recl")})
),
std AS (
  SELECT doc_id, pos,
    CASE WHEN kind = 'o' THEN 'organism-' || CAST(n AS VARCHAR)
         ELSE 'taxon-' || CAST(n AS VARCHAR) END AS orig_name,
    CASE WHEN kind = 'o' AND n < 24 THEN 'taxon-' || CAST(n AS VARCHAR)
         WHEN kind = 'o' THEN 'organism-' || CAST(n AS VARCHAR)
         ELSE 'taxon-' || CAST(n AS VARCHAR) END AS name,
    CASE WHEN kind = 'o' AND n < 24 THEN 'tax:' || CAST(2000 + n AS VARCHAR)
         WHEN kind = 'o' THEN 'tax:' || CAST(1000 + n AS VARCHAR)
         ELSE 'tax:' || CAST(3000 + n AS VARCHAR) END AS identifier,
    CASE WHEN kind = 'o' AND n < 24 AND n % 3 = 0 THEN 'infectiousAgent'
         WHEN kind = 'o' AND n < 24 THEN 'host'
         WHEN pos >= 100000 THEN 'infectiousAgent'
         ELSE 'host' END AS classification
  FROM entries
),
conv AS (
  SELECT DISTINCT doc_id, unnest([orig_name, name]) AS cname
  FROM std WHERE classification = 'infectiousAgent'
),
sp AS (
  SELECT s.* FROM std s
  WHERE s.classification != 'infectiousAgent'
    AND NOT EXISTS (SELECT 1 FROM conv c WHERE c.doc_id = s.doc_id AND c.cname = s.name)
),
ag AS (SELECT * FROM std WHERE classification = 'infectiousAgent'),
spd AS (SELECT * FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id, identifier ORDER BY pos) AS rn FROM sp
) WHERE rn = 1),
agd AS (SELECT * FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id, identifier ORDER BY pos) AS rn FROM ag
) WHERE rn = 1),
spg AS (
  SELECT doc_id, string_agg(name || '|' || identifier, ',' ORDER BY pos) AS species_csv
  FROM spd GROUP BY doc_id
),
agg_ AS (
  SELECT doc_id, string_agg(name || '|' || identifier, ',' ORDER BY pos) AS agents_csv
  FROM agd GROUP BY doc_id
),
-- wrapper lineage annotation (every registered source, utils.py:356)
lex AS (
  SELECT doc_id,
         unnest(list_distinct([CAST(1 + doc_id % 200 AS INTEGER),
                               CAST(1 + (doc_id * 3) % 200 AS INTEGER)])) AS taxon
  FROM d WHERE source IS NOT NULL
),
lhits AS (SELECT DISTINCT e.doc_id, a.member FROM lex e JOIN anc a USING (taxon)),
lentries AS (SELECT h.doc_id, h.member, t2.parent FROM lhits h JOIN tax t2 ON h.member = t2.taxon),
lin AS (
  SELECT doc_id,
         string_agg(CAST(member AS VARCHAR) || '>' || CAST(coalesce(parent, 0) AS VARCHAR),
                    ',' ORDER BY member) AS lineage_csv
  FROM lentries GROUP BY doc_id
),
-- process_descriptions sources: heuristic NER drop rules
ne AS (
  SELECT doc_id, 0 AS pos,
         'ent-' || CAST(1 + doc_id % 200 AS VARCHAR) AS name,
         CAST(1 + doc_id % 200 AS INTEGER) AS taxid FROM d WHERE source IN ({_IN("ner")})
  UNION ALL
  SELECT doc_id, 1,
         CASE WHEN doc_id % 9 = 0 THEN 'china'
              ELSE 'ent-' || CAST(1 + (doc_id * 3) % 200 AS VARCHAR) END,
         CAST(1 + (doc_id * 3) % 200 AS INTEGER) FROM d WHERE source IN ({_IN("ner")})
  UNION ALL
  SELECT doc_id, 2,
         'ent-' || CAST(1 + (doc_id * 11) % 200 AS VARCHAR),
         CAST(1 + (doc_id * 11) % 200 AS INTEGER) FROM d WHERE source IN ({_IN("ner")})
),
desc3 AS (SELECT DISTINCT taxon AS taxid FROM anc WHERE member = 3 AND taxon != 3),
nkept AS (
  SELECT * FROM ne
  WHERE NOT (lower(trim(name)) IN ('china', 'clade-3', 'ent-50')
             OR taxid IN (3034371, 3, 50))
    AND taxid NOT IN (SELECT taxid FROM desc3)
),
keptg AS (
  SELECT doc_id, string_agg(name || '|' || CAST(taxid AS VARCHAR), ',' ORDER BY pos) AS ner_csv
  FROM nkept GROUP BY doc_id
),
-- row-local stages (doi promote, placeholder scrub) + original renderings
p AS (
  SELECT d.doc_id, d.source, d.funding_id, d.n1, d.n2, d.n3,
    d.type, d.url, d.access, d.archived, d.dup_key,
    CASE WHEN d.source IN ({_IN("fund")}) AND d.funding_id IS NOT NULL
         THEN 'funder-' || CAST(((d.doc_id * 3) % 89) % 7 AS VARCHAR)
         ELSE NULL END AS funder_name,
    CASE WHEN d.source IN ({_IN("doi")}) AND len(doi) = 1 AND lower(doi[1]) != 'none'
         THEN doi[1] ELSE _id END AS _id,
    CASE WHEN d.source IN ({_IN("doi")}) AND len(doi) = 1 AND lower(doi[1]) = 'none'
         THEN CAST([] AS VARCHAR[]) ELSE doi END AS doi,
    CASE WHEN d.source IS NOT NULL
         THEN list_filter(authors, a -> NOT list_contains(
              ['n/a','na','unknown','not applicable','none','null','other'],
              trim(lower(a))))
         ELSE authors END AS authors
  FROM darch d
)"""

ORACLES["uploader_registry"] = """
WITH RECURSIVE """ + _UPLOADER_CTES.format(prefix4=PREFIX4_KEY) + f"""
SELECT p.doc_id, p.source,
       CASE WHEN p.source IS NOT NULL THEN lower(p._id) ELSE p._id END AS _id,
       CAST(len(p.doi) AS INTEGER) AS n_doi,
       coalesce(array_to_string(p.doi, ','), '') AS doi_csv,
       coalesce(array_to_string(p.authors, ','), '') AS authors_csv,
       CASE WHEN p.source IN ({_IN("recl")}) THEN coalesce(spg.species_csv, '')
            ELSE 'organism-' || CAST(p.n1 AS VARCHAR) || '|tax:' || CAST(1000 + p.n1 AS VARCHAR)
                 || ',organism-' || CAST(p.n2 AS VARCHAR) || '|tax:' || CAST(1000 + p.n2 AS VARCHAR)
                 || CASE WHEN p.doc_id % 4 = 0
                         THEN ',taxon-' || CAST(p.n3 AS VARCHAR) || '|tax:' || CAST(3000 + p.n3 AS VARCHAR)
                         ELSE '' END
       END AS species_csv,
       CASE WHEN p.source IN ({_IN("recl")}) THEN coalesce(agg_.agents_csv, '')
            ELSE 'organism-' || CAST(p.n3 AS VARCHAR) || '|tax:' || CAST(1000 + p.n3 AS VARCHAR)
       END AS agents_csv,
       CASE WHEN p.source IS NOT NULL THEN coalesce(lin.lineage_csv, '')
            ELSE '' END AS lineage_csv,
       CASE WHEN p.source IN ({_IN("ner")}) THEN coalesce(keptg.ner_csv, '')
            ELSE 'ent-' || CAST(1 + p.doc_id % 200 AS VARCHAR) || '|' || CAST(1 + p.doc_id % 200 AS VARCHAR)
                 || ',' || (CASE WHEN p.doc_id % 9 = 0 THEN 'china'
                                 ELSE 'ent-' || CAST(1 + (p.doc_id * 3) % 200 AS VARCHAR) END)
                 || '|' || CAST(1 + (p.doc_id * 3) % 200 AS VARCHAR)
                 || ',ent-' || CAST(1 + (p.doc_id * 11) % 200 AS VARCHAR)
                 || '|' || CAST(1 + (p.doc_id * 11) % 200 AS VARCHAR)
       END AS ner_csv,
       CASE WHEN p.source IN ({_IN("fund")}) AND p.funding_id IS NOT NULL
            THEN 'funder-' || CAST(((p.doc_id * 3) % 89) % 7 AS VARCHAR)
            ELSE '' END AS funder,
       CASE WHEN p.source IN ({_IN("pmid")})
            THEN coalesce(array_to_string(list_sort(list_transform(
                   list_filter(list_distinct([CAST(p.doc_id % 500 AS INTEGER),
                                              CAST((p.doc_id * 13 + 1) % 500 AS INTEGER)]),
                               x -> x % 2 = 0),
                   x -> 'cite-' || CAST(x % 50 AS VARCHAR))), ','), '')
            ELSE '' END AS citations_csv,
       CASE WHEN p.source IN ({_IN("mt")}) AND (p.doc_id % 37) % 5 != 4
            THEN 'MT-' || CAST((p.doc_id % 37) % 9 AS VARCHAR)
            ELSE '' END AS technique_std,
       CASE WHEN p.source IN ({_IN("topic")})
            THEN 'topic-' || CAST((p.doc_id % 12) % 5 AS VARCHAR)
            ELSE '' END AS topic,
       CASE WHEN p.source IN ({_IN("disamb")}) AND p.doc_id % 4 = 0 AND p.doc_id < 20000
            THEN 'disamb-' || CAST(p.doc_id % 13 AS VARCHAR)
            ELSE '' END AS disamb
FROM p
LEFT JOIN spg ON p.doc_id = spg.doc_id
LEFT JOIN agg_ ON p.doc_id = agg_.doc_id
LEFT JOIN lin ON p.doc_id = lin.doc_id
LEFT JOIN keptg ON p.doc_id = keptg.doc_id
"""

# mirror of queries.nde_pipeline_e2e: the registry CTE chain composed
# with the builder merge (1x1 key dedup -> directive application) and the
# wrapper gate + completeness score — the reference's full §3.3 hub
# lifecycle as one statement over the same fixture.
ORACLES["nde_pipeline_e2e"] = """
WITH RECURSIVE """ + _UPLOADER_CTES.format(prefix4=PREFIX4_KEY) + """,
a1 AS (SELECT dup_key, min(doc_id) AS keep_id FROM p WHERE doc_id % 2 = 0 GROUP BY dup_key HAVING count(*) = 1),
b1 AS (SELECT dup_key, min(doc_id) AS drop_id FROM p WHERE doc_id % 2 = 1 GROUP BY dup_key HAVING count(*) = 1),
dir AS (SELECT keep_id, drop_id FROM a1 JOIN b1 USING (dup_key)),
g AS (SELECT dir.keep_id, k2.source AS lname, k2.url AS lurl, k2.archived AS larch
      FROM dir JOIN p k2 ON k2.doc_id = dir.drop_id),
m AS (
  SELECT k.*, g.lname, g.lurl, g.larch,
         (g.keep_id IS NOT NULL) AS gained,
         (g.keep_id IS NOT NULL AND k.source = g.lname
          AND k.url IS NOT DISTINCT FROM g.lurl
          AND k.archived IS NOT DISTINCT FROM g.larch) AS same_entry
  FROM p k LEFT JOIN g ON k.doc_id = g.keep_id
  WHERE k.doc_id NOT IN (SELECT drop_id FROM dir)
),
v AS (
  SELECT *,
    CASE WHEN type IS NULL OR type = '' THEN 'missing_type'
         WHEN url IS NULL OR url = '' THEN 'missing_url'
         WHEN archived IS NULL OR archived = ''
              OR (gained AND NOT same_entry AND (larch IS NULL OR larch = ''))
              THEN 'missing_included_in_data_catalog_archived_at'
         WHEN access IS NOT NULL AND access NOT IN ('Open','Restricted','Closed','Embargoed')
              THEN 'invalid_conditions_of_access'
         ELSE NULL END AS violation
  FROM m
)
SELECT v.doc_id, v.source,
       CASE WHEN v.source IS NOT NULL THEN lower(v._id) ELSE v._id END AS _id, v.type,
       CAST(CASE WHEN gained AND NOT same_entry THEN 2 ELSE 1 END AS INTEGER) AS n_catalog,
       CASE WHEN gained AND NOT same_entry
            THEN array_to_string(list_sort([v.source || '@' || coalesce(v.archived, 'NULL'),
                                            v.lname || '@' || coalesce(v.larch, 'NULL')]), ',')
            ELSE v.source || '@' || coalesce(v.archived, 'NULL') END AS catalog_csv,
       CASE WHEN v.source IN ({recl}) THEN coalesce(spg.species_csv, '')
            ELSE 'organism-' || CAST(v.n1 AS VARCHAR) || '|tax:' || CAST(1000 + v.n1 AS VARCHAR)
                 || ',organism-' || CAST(v.n2 AS VARCHAR) || '|tax:' || CAST(1000 + v.n2 AS VARCHAR)
                 || CASE WHEN v.doc_id % 4 = 0
                         THEN ',taxon-' || CAST(v.n3 AS VARCHAR) || '|tax:' || CAST(3000 + v.n3 AS VARCHAR)
                         ELSE '' END
       END AS species_csv,
       CASE WHEN v.source IS NOT NULL THEN coalesce(lin.lineage_csv, '')
            ELSE '' END AS lineage_csv,
       coalesce(v.funder_name, '') AS funder,
       round(0.6 * ((CASE WHEN v.type IS NOT NULL AND v.type != '' THEN 1 ELSE 0 END
                   + CASE WHEN v.url IS NOT NULL AND v.url != '' THEN 1 ELSE 0 END) / 2.0)
           + 0.4 * ((CASE WHEN v.funder_name IS NOT NULL AND v.funder_name != '' THEN 1 ELSE 0 END
                   + CASE WHEN v.funding_id IS NOT NULL AND v.funding_id != '' THEN 1 ELSE 0 END) / 2.0),
             2) AS score
FROM v
LEFT JOIN spg ON v.doc_id = spg.doc_id
LEFT JOIN lin ON v.doc_id = lin.doc_id
WHERE v.violation IS NULL
""".format(recl=_IN("recl"))

ORACLES["setops_union_by_name"] = """
WITH u AS (
  (SELECT doc_id, source, n_chars FROM documents WHERE doc_id % 2 = 0)
  UNION ALL BY NAME
  (SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 1)
)
SELECT count(*) AS rows,
       CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_source,
       CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_lang,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM u
"""

ORACLES["events_pivot"] = """
SELECT user_id,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
FROM events GROUP BY user_id
"""

# mirror of queries.scalar_ref_kernels (SURVEY §2.9 string kernels)
ORACLES["scalar_ref_kernels"] = """
WITH d AS (
  SELECT doc_id, source,
    'last-' || CAST(doc_id % 40 AS VARCHAR) || ', first-' || CAST(doc_id % 7 AS VARCHAR)
      || ', ' || (['M','J','K'])[CAST(doc_id % 3 AS INTEGER) + 1] AS author_raw,
    'funded by ' || (['AB','Ai','xy'])[CAST(doc_id % 3 AS INTEGER) + 1]
      || CAST(100000 + doc_id % 899999 AS VARCHAR) || ' and others' AS grant_txt,
    'study-' || CAST(doc_id AS VARCHAR) || ' (' || upper(source) || ')' AS label,
    (['M','f','Female','male',' MALE ','unknown','F '])[CAST(doc_id % 7 AS INTEGER) + 1] AS sex_raw
  FROM documents
)
SELECT doc_id,
  string_split(author_raw, ', ')[2] || ' ' || string_split(author_raw, ', ')[3]
    || ' ' || string_split(author_raw, ', ')[1] AS author_recomposed,
  regexp_extract(grant_txt, '\\b([A-Za-z]{2}\\d{6})\\b', 1) AS grant_id,
  regexp_replace(label, '\\s*\\([A-Z0-9]+\\)$', '') AS label_stripped,
  CASE WHEN lower(trim(sex_raw)) IN ('m', 'male') THEN 'male'
       WHEN lower(trim(sex_raw)) IN ('f', 'female') THEN 'female'
       ELSE NULL END AS sex
FROM d
"""

ORACLES["scalar_showcase"] = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
       CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
       o_orderpriority,
       count(*) AS n,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(20,8))), 2) AS DOUBLE) AS sum_price,
       floor(stddev_pop(o_totalprice) * 10000) / 10000.0 AS sd_price,
       min(o_orderstatus || '-' || upper(o_orderpriority)) AS tag
FROM orders GROUP BY 1, 2, 3
"""


# mirror of queries.embed_memo_cache: sha256 memo keys, hash-level cache
# membership (doc_id % 3 != 0 slice), sentinel byte_i/255 for hits, the
# stub's normalized-digest arithmetic for misses, micro-unit rendering
ORACLES["embed_memo_cache"] = """
WITH k AS (
  SELECT doc_id, sha256(lower(text)) AS text_hash FROM documents
),
ch AS (SELECT DISTINCT text_hash FROM k WHERE doc_id % 3 != 0),
b AS (
  SELECT doc_id, text_hash,
         EXISTS (SELECT 1 FROM ch WHERE ch.text_hash = k.text_hash) AS hit,
         list_transform(range(16),
           i -> CAST('0x' || substr(text_hash, CAST(2*i+1 AS INTEGER), 2) AS INTEGER)) AS bytes
  FROM k
),
r AS (
  SELECT *, list_transform(bytes, x -> (x - 127.5) / 127.5) AS raw FROM b
),
n AS (
  SELECT *, sqrt(list_reduce(list_transform(raw, x -> x * x), (a, x) -> a + x)) AS nrm FROM r
)
SELECT doc_id, text_hash, hit,
       CASE WHEN hit
            THEN array_to_string(list_transform(bytes,
                   x -> CAST(CAST(round(round(x / 255.0, 6) * 1e6) AS BIGINT) AS VARCHAR)), ',')
            ELSE array_to_string(list_transform(raw,
                   x -> CAST(CAST(round(round(x / nrm, 6) * 1e6) AS BIGINT) AS VARCHAR)), ',')
       END AS emb_csv
FROM n
"""


# mirror of queries.ann_pq_adc_topk: PQ encode (argmin L2 per subspace
# vs the first-8-corpus-rows codebook, computed RELATIONALLY from the
# same table Spark collects its codebook literals from) + ADC scoring.
# Distances are sequential left-folds (list_reduce == Spark aggregate
# with exact-no-op 0-init), so ranks match bit-for-bit. Formulated as
# CROSS JOIN + GROUP BY (DuckDB lambdas cannot capture correlated
# subquery outer refs).
_PQ_M, _PQ_KSUB, _PQ_DSUB = 4, 8, 16


def _pq_dist(j: int) -> str:
    off = j * _PQ_DSUB
    return (f"list_reduce(list_transform(range(1, {_PQ_DSUB + 1}), i -> "
            f"(x.v[CAST(i + {off} AS INTEGER)] - c.v[CAST(i + {off} AS INTEGER)])"
            f" * (x.v[CAST(i + {off} AS INTEGER)] - c.v[CAST(i + {off} AS INTEGER)])),"
            f" (a, b) -> a + b)")


ORACLES["ann_pq_adc_topk"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (SELECT vec_id, v FROM e WHERE vec_id < {_PQ_KSUB}),
cdists AS (
  SELECT x.vec_id, c.vec_id AS cid,
         {", ".join(f"{_pq_dist(j)} AS d{j}" for j in range(_PQ_M))}
  FROM e x CROSS JOIN cent c
),
cagg AS (
  SELECT vec_id,
         {", ".join(f"list(d{j} ORDER BY cid) AS darr{j}" for j in range(_PQ_M))}
  FROM cdists GROUP BY vec_id
),
codes AS (
  SELECT vec_id AS neighbor_id,
         {", ".join(f"CAST(list_position(darr{j}, list_min(darr{j})) AS INTEGER) AS code{j}" for j in range(_PQ_M))}
  FROM cagg
),
luts AS (
  SELECT vec_id AS query_id,
         {", ".join(f"darr{j} AS lut{j}" for j in range(_PQ_M))}
  FROM cagg WHERE vec_id < 5
),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         round({" + ".join(f"q.lut{j}[c.code{j}]" for j in range(_PQ_M))}, 6) AS adc
  FROM codes c CROSS JOIN luts q
  WHERE c.neighbor_id != q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, adc, CAST(rank AS INTEGER) AS rank FROM ranked WHERE rank <= 10
"""


# mirror of queries.ann_ivfpq_topk: the ivf oracle's coarse assignment
# (cosine to the first-8 rows, stable cid tie-break) composed with the
# PQ oracle's codes/luts; candidates = equi-join on the coarse list id.
ORACLES["ann_ivfpq_topk"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ccent AS (SELECT vec_id AS ccid, v AS centroid FROM e WHERE vec_id < 8),
ascore AS (
  SELECT e.vec_id AS vid, e.v, c.ccid, {COSINE_RAW.format(a='e.v', b='c.centroid')} AS ccos
  FROM e CROSS JOIN ccent c
),
aranked AS (SELECT *, row_number() OVER (PARTITION BY vid ORDER BY ccos DESC, ccid ASC) AS crn FROM ascore),
coarse AS (SELECT vid, ccid AS cid FROM aranked WHERE crn = 1),
probes AS (SELECT vid AS query_id, ccid AS cid FROM aranked WHERE crn <= 2 AND vid < 5),
cent AS (SELECT vec_id, v FROM e WHERE vec_id < {_PQ_KSUB}),
cdists AS (
  SELECT x.vec_id, c.vec_id AS ccid2,
         {", ".join(f"{_pq_dist(j)} AS d{j}" for j in range(_PQ_M))}
  FROM e x CROSS JOIN cent c
),
cagg AS (
  SELECT vec_id,
         {", ".join(f"list(d{j} ORDER BY ccid2) AS darr{j}" for j in range(_PQ_M))}
  FROM cdists GROUP BY vec_id
),
codes AS (
  SELECT g.vec_id AS neighbor_id, co.cid,
         {", ".join(f"CAST(list_position(darr{j}, list_min(darr{j})) AS INTEGER) AS code{j}" for j in range(_PQ_M))}
  FROM cagg g JOIN coarse co ON co.vid = g.vec_id
),
luts AS (
  SELECT vec_id AS query_id,
         {", ".join(f"darr{j} AS lut{j}" for j in range(_PQ_M))}
  FROM cagg WHERE vec_id < 5
),
scored AS (
  SELECT p.query_id, c.neighbor_id,
         round({" + ".join(f"q.lut{j}[c.code{j}]" for j in range(_PQ_M))}, 6) AS adc
  FROM codes c
  JOIN probes p ON p.cid = c.cid
  JOIN luts q ON q.query_id = p.query_id
  WHERE c.neighbor_id != p.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, adc, CAST(rank AS INTEGER) AS rank FROM ranked WHERE rank <= 10
"""


# mirror of queries.ann_ivfpq_rescore_topk: the ivfpq oracle's quantized
# scan keeps top k*r=40 per query, then ONLY those candidate rows join
# back to the float table for exact cosine re-ranking (COSINE == the
# bruteforce oracle's exact fold, round-6, neighbor-id tie-break) —
# derived from the ivfpq oracle body so the two stay in lockstep.
_IVFPQ_TAIL = ("SELECT query_id, neighbor_id, adc, "
               "CAST(rank AS INTEGER) AS rank FROM ranked WHERE rank <= 10")
assert ORACLES["ann_ivfpq_topk"].rstrip().endswith(_IVFPQ_TAIL)
ORACLES["ann_ivfpq_rescore_topk"] = (
    ORACLES["ann_ivfpq_topk"].rstrip()[: -len(_IVFPQ_TAIL)]
    + f"""
, cand AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 40),
resc AS (
  SELECT c.query_id, c.neighbor_id, {COSINE.format(a='qe.v', b='ne.v')} AS cosine
  FROM cand c
  JOIN e qe ON qe.vec_id = c.query_id
  JOIN e ne ON ne.vec_id = c.neighbor_id
),
rranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM resc
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM rranked WHERE rank <= 10
"""
)


# mirror of queries.ann_ivf_trained_topk: the Lloyd TRAINING loop itself,
# unrolled relationally (iters is a fixed hyperparameter), then the ivf
# serving oracle over the trained centroids. Bit-exactness comes from the
# micro-unit mean discipline in similarity.kmeans_codebook: component
# update = round(x*1e6) -> exact int64 sum -> round(sum/n) -> /1e6 —
# integer arithmetic plus IEEE ops on identical doubles, no
# engine-specific decimal division anywhere. Assignment parity (cosine
# left-fold, cosine-desc/cid-asc tie-break) is the same contract the
# ann_ivf_topk oracle already witnesses.
def _lloyd_ctes(k: int, iters: int, prefix: str = "", src: str | None = None) -> str:
    """CTE chain cent{prefix}0..cent{prefix}{iters}: cent0 = first-k
    rows by vec_id, cent{i} = one Lloyd step (cosine argmax assignment,
    micro-unit per-dimension means, empty clusters keep their previous
    centroid). With ``prefix``/``src`` the same chain runs over a
    DERIVED vector table (e.g. a PQ subspace slice) under disambiguated
    CTE names — the per-subspace training mirror pq_train needs."""
    p = prefix
    ctes = []
    if src is None:
        ctes.append("e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)")
        src = "e"
    ctes.append(
        f"cent{p}0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS centroid "
        f"FROM (SELECT vec_id, v FROM {src} ORDER BY vec_id LIMIT {k}))"
    )
    for i in range(1, iters + 1):
        cos = COSINE_RAW.format(a=f"{src}.v", b="c.centroid")
        ctes.append(
            f"a{p}{i} AS (SELECT {src}.vec_id, {src}.v, c.cid, row_number() OVER "
            f"(PARTITION BY {src}.vec_id ORDER BY {cos} DESC, c.cid ASC) AS rn "
            f"FROM {src} CROSS JOIN cent{p}{i - 1} c)"
        )
        ctes.append(
            f"x{p}{i} AS (SELECT cid, generate_subscripts(v, 1) AS d, unnest(v) AS x "
            f"FROM a{p}{i} WHERE rn = 1)"
        )
        ctes.append(
            f"m{p}{i} AS (SELECT cid, d, CAST(round(CAST(sum(CAST(round(x * 1000000.0) AS BIGINT)) AS DOUBLE) "
            f"/ count(*)) AS BIGINT) / 1000000.0 AS m FROM x{p}{i} GROUP BY cid, d)"
        )
        ctes.append(
            f"cent{p}{i} AS (SELECT c0.cid, coalesce(n.centroid, c0.centroid) AS centroid "
            f"FROM cent{p}{i - 1} c0 LEFT JOIN (SELECT cid, list(m ORDER BY d) AS centroid "
            f"FROM m{p}{i} GROUP BY cid) n USING (cid))"
        )
    return ",\n".join(ctes)


_KM_K, _KM_ITERS = 8, 2
ORACLES["ann_ivf_trained_topk"] = f"""
WITH {_lloyd_ctes(_KM_K, _KM_ITERS)},
tascore AS (
  SELECT e.vec_id AS vid, e.v, c.cid, {COSINE_RAW.format(a='e.v', b='c.centroid')} AS ccos
  FROM e CROSS JOIN cent{_KM_ITERS} c
),
taranked AS (SELECT *, row_number() OVER (PARTITION BY vid ORDER BY ccos DESC, cid ASC) AS crn FROM tascore),
inv AS (SELECT vid, v, cid FROM taranked WHERE crn = 1),
probes AS (SELECT vid AS query_id, v AS qv, cid FROM taranked WHERE crn <= 2 AND vid < 5),
cand AS (
  SELECT DISTINCT p.query_id, i.vid AS neighbor_id, p.qv, i.v
  FROM inv i JOIN probes p USING (cid) WHERE i.vid != p.query_id
),
scored AS (SELECT query_id, neighbor_id, {COSINE.format(a='qv', b='v')} AS cosine FROM cand),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM scored)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM ranked WHERE rank <= 10
"""


# mirror of queries.ann_ivfsq8_topk: the composed IVF+SQ8 index — the
# ivf assignment CTEs (default codebook = first-nlist corpus rows,
# cosine argmax with (ccos DESC, cid ASC) ties — identical to
# ann_ivf_topk's) feed candidate pairs into the sq8 long-form code
# pipeline (global interval, exact bigint stats, reconstructed dot) —
# identical constants and op shapes to both parents, so ranks match
# bit-for-bit.
ORACLES["ann_ivfsq8_topk"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (SELECT vec_id AS cid, v AS centroid FROM e WHERE vec_id < 8),
ascore AS (
  SELECT e.vec_id AS vid, e.v, c.cid, {COSINE_RAW.format(a='e.v', b='c.centroid')} AS ccos
  FROM e CROSS JOIN cent c
),
aranked AS (SELECT *, row_number() OVER (PARTITION BY vid ORDER BY ccos DESC, cid ASC) AS crn FROM ascore),
inv AS (SELECT vid, cid FROM aranked WHERE crn = 1),
probes AS (SELECT vid AS query_id, cid FROM aranked WHERE crn <= 2 AND vid < 5),
cand AS (
  SELECT p.query_id, i.vid AS neighbor_id
  FROM inv i JOIN probes p USING (cid) WHERE i.vid != p.query_id
),
st AS (
  SELECT min(x) AS mn, (max(x) - min(x)) / 255.0 AS s
  FROM (SELECT unnest(v) AS x FROM e)
),
dims AS (SELECT unnest(range(1, 65)) AS d),
codes AS (
  SELECT e.vec_id, d.d,
         CASE WHEN st.s = 0 THEN 0
              ELSE least(255, greatest(0, CAST(round((e.v[d.d] - st.mn) / st.s) AS BIGINT))) END AS c
  FROM e CROSS JOIN dims d CROSS JOIN st
),
vstats AS (SELECT vec_id, sum(c) AS cs, sum(c * c) AS nsq FROM codes GROUP BY vec_id),
norms AS (
  SELECT v.vec_id, v.cs,
         sqrt(((64.0 * st.mn) * st.mn)
              + ((((2.0 * st.mn) * st.s) * CAST(v.cs AS DOUBLE))
                 + ((st.s * st.s) * CAST(v.nsq AS DOUBLE)))) AS rn
  FROM vstats v CROSS JOIN st
),
dots AS (
  SELECT ca.query_id, ca.neighbor_id, sum(qc.c * cc.c) AS dp
  FROM cand ca
  JOIN codes qc ON qc.vec_id = ca.query_id
  JOIN codes cc ON cc.vec_id = ca.neighbor_id AND cc.d = qc.d
  GROUP BY 1, 2
),
scored AS (
  SELECT t.query_id, t.neighbor_id,
         round(CASE WHEN nq.rn * nc.rn > 0
                    THEN (((64.0 * st.mn) * st.mn)
                          + (((st.mn * st.s) * CAST(nq.cs + nc.cs AS DOUBLE))
                             + ((st.s * st.s) * CAST(t.dp AS DOUBLE))))
                         / (nq.rn * nc.rn)
                    ELSE 0.0 END, 6) AS cosine
  FROM dots t JOIN norms nq ON t.query_id = nq.vec_id
              JOIN norms nc ON t.neighbor_id = nc.vec_id
              CROSS JOIN st
),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM scored)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM ranked WHERE rank <= 10
"""


# mirror of queries.ann_ivfsq8_incremental_topk: the fully-frozen
# composed index — the Lloyd chain AND the quantization interval both
# computed over the BASE partition (vec_id < 80), then the FULL corpus
# assigned, encoded (clamp live on appended rows), and served. This is
# the exact serving math of the streaming-maintained index
# (streaming/vector_ingest.py nlist mode), under the driver oracle.
ORACLES["ann_ivfsq8_incremental_topk"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
eb AS (SELECT vec_id, v FROM e WHERE vec_id < 80),
{_lloyd_ctes(_KM_K, _KM_ITERS, prefix="q_", src="eb")},
ascore AS (
  SELECT e.vec_id AS vid, e.v, c.cid, {COSINE_RAW.format(a='e.v', b='c.centroid')} AS ccos
  FROM e CROSS JOIN centq_{_KM_ITERS} c
),
aranked AS (SELECT *, row_number() OVER (PARTITION BY vid ORDER BY ccos DESC, cid ASC) AS crn FROM ascore),
inv AS (SELECT vid, cid FROM aranked WHERE crn = 1),
probes AS (SELECT vid AS query_id, cid FROM aranked WHERE crn <= 2 AND vid < 5),
cand AS (
  SELECT p.query_id, i.vid AS neighbor_id
  FROM inv i JOIN probes p USING (cid) WHERE i.vid != p.query_id
),
st AS (
  SELECT min(x) AS mn, (max(x) - min(x)) / 255.0 AS s
  FROM (SELECT unnest(v) AS x FROM eb)
),
dims AS (SELECT unnest(range(1, 65)) AS d),
codes AS (
  SELECT e.vec_id, d.d,
         CASE WHEN st.s = 0 THEN 0
              ELSE least(255, greatest(0, CAST(round((e.v[d.d] - st.mn) / st.s) AS BIGINT))) END AS c
  FROM e CROSS JOIN dims d CROSS JOIN st
),
vstats AS (SELECT vec_id, sum(c) AS cs, sum(c * c) AS nsq FROM codes GROUP BY vec_id),
norms AS (
  SELECT v.vec_id, v.cs,
         sqrt(((64.0 * st.mn) * st.mn)
              + ((((2.0 * st.mn) * st.s) * CAST(v.cs AS DOUBLE))
                 + ((st.s * st.s) * CAST(v.nsq AS DOUBLE)))) AS rn
  FROM vstats v CROSS JOIN st
),
dots AS (
  SELECT ca.query_id, ca.neighbor_id, sum(qc.c * cc.c) AS dp
  FROM cand ca
  JOIN codes qc ON qc.vec_id = ca.query_id
  JOIN codes cc ON cc.vec_id = ca.neighbor_id AND cc.d = qc.d
  GROUP BY 1, 2
),
scored AS (
  SELECT t.query_id, t.neighbor_id,
         round(CASE WHEN nq.rn * nc.rn > 0
                    THEN (((64.0 * st.mn) * st.mn)
                          + (((st.mn * st.s) * CAST(nq.cs + nc.cs AS DOUBLE))
                             + ((st.s * st.s) * CAST(t.dp AS DOUBLE))))
                         / (nq.rn * nc.rn)
                    ELSE 0.0 END, 6) AS cosine
  FROM dots t JOIN norms nq ON t.query_id = nq.vec_id
              JOIN norms nc ON t.neighbor_id = nc.vec_id
              CROSS JOIN st
),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM scored)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM ranked WHERE rank <= 10
"""


# mirror of queries.ann_ivf_incremental_topk: the identical Lloyd chain
# run over the BASE partition only (vec_id < 80 — the frozen-codebook
# incremental-ingest contract), then the FULL corpus assigned and
# served against those frozen centroids. The trained centroids must be
# bit-identical across engines before serving starts; appended rows
# (vec_id >= 80) exercise genuinely-frozen assignment — they
# contributed nothing to training.
ORACLES["ann_ivf_incremental_topk"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
eb AS (SELECT vec_id, v FROM e WHERE vec_id < 80),
{_lloyd_ctes(_KM_K, _KM_ITERS, prefix="b_", src="eb")},
tascore AS (
  SELECT e.vec_id AS vid, e.v, c.cid, {COSINE_RAW.format(a='e.v', b='c.centroid')} AS ccos
  FROM e CROSS JOIN centb_{_KM_ITERS} c
),
taranked AS (SELECT *, row_number() OVER (PARTITION BY vid ORDER BY ccos DESC, cid ASC) AS crn FROM tascore),
inv AS (SELECT vid, v, cid FROM taranked WHERE crn = 1),
probes AS (SELECT vid AS query_id, v AS qv, cid FROM taranked WHERE crn <= 2 AND vid < 5),
cand AS (
  SELECT DISTINCT p.query_id, i.vid AS neighbor_id, p.qv, i.v
  FROM inv i JOIN probes p USING (cid) WHERE i.vid != p.query_id
),
scored AS (SELECT query_id, neighbor_id, {COSINE.format(a='qv', b='v')} AS cosine FROM cand),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM scored)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM ranked WHERE rank <= 10
"""


# mirror of queries.ann_pq_trained_topk: pq_train = the SAME Lloyd
# discipline (cosine argmax assignment, micro-unit means, first-k init,
# empty clusters keep their centroid) run INDEPENDENTLY on each of the
# m subspace slices, then PQ encode (argmin L2 per subspace vs the
# TRAINED centroids, first-min tie like list_position) + ADC scoring —
# the trained counterpart of ann_pq_adc_topk; distances stay sequential
# left-folds so ranks match bit-for-bit.
_PQT_ITERS = 2


def _pqt_sql() -> str:
    chains = ["e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"]
    for j in range(_PQ_M):
        off = j * _PQ_DSUB
        chains.append(
            f"s{j} AS (SELECT vec_id, v[{off + 1}:{off + _PQ_DSUB}] AS v FROM e)"
        )
        chains.append(_lloyd_ctes(_PQ_KSUB, _PQT_ITERS, prefix=f"s{j}_", src=f"s{j}"))
    l2 = (f"list_reduce(list_transform(range(1, {_PQ_DSUB + 1}), i -> "
          f"(x.v[CAST(i AS INTEGER)] - c.centroid[CAST(i AS INTEGER)])"
          f" * (x.v[CAST(i AS INTEGER)] - c.centroid[CAST(i AS INTEGER)])),"
          f" (a, b) -> a + b)")
    for j in range(_PQ_M):
        chains.append(
            f"cd{j} AS (SELECT x.vec_id, c.cid, {l2} AS dd "
            f"FROM s{j} x CROSS JOIN cents{j}_{_PQT_ITERS} c)"
        )
        chains.append(
            f"ca{j} AS (SELECT vec_id, list(dd ORDER BY cid) AS darr{j} "
            f"FROM cd{j} GROUP BY vec_id)"
        )
    joins = " ".join(f"JOIN ca{j} USING (vec_id)" for j in range(1, _PQ_M))
    chains.append(
        "codes AS (SELECT vec_id AS neighbor_id, "
        + ", ".join(
            f"CAST(list_position(darr{j}, list_min(darr{j})) AS INTEGER) AS code{j}"
            for j in range(_PQ_M)
        )
        + f" FROM ca0 {joins})"
    )
    chains.append(
        "luts AS (SELECT vec_id AS query_id, "
        + ", ".join(f"darr{j} AS lut{j}" for j in range(_PQ_M))
        + f" FROM ca0 {joins} WHERE vec_id < 5)"
    )
    chains.append(
        "scored AS (SELECT q.query_id, c.neighbor_id, round("
        + " + ".join(f"q.lut{j}[c.code{j}]" for j in range(_PQ_M))
        + ", 6) AS adc FROM codes c CROSS JOIN luts q WHERE c.neighbor_id != q.query_id)"
    )
    chains.append(
        "ranked AS (SELECT *, row_number() OVER "
        "(PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC) AS rank FROM scored)"
    )
    return (
        "WITH " + ",\n".join(chains)
        + "\nSELECT query_id, neighbor_id, adc, CAST(rank AS INTEGER) AS rank "
          "FROM ranked WHERE rank <= 10"
    )


ORACLES["ann_pq_trained_topk"] = _pqt_sql()
