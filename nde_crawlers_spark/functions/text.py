"""Text-analysis column kernels: tokens, shingles, MinHash, SimHash,
language ID, quality scoring, fingerprinting.

All pure Catalyst expressions (higher-order array functions) — no Python
UDFs in the hot path, per BASELINE.json input_hint. Hash primitives are
md5-based so the DuckDB oracle reproduces them exactly; at cluster scale
the same shapes run with xxhash64 for a few % more throughput.

Reference analogs: the reference dedups records by ``_id`` only
(IgnoreDuplicatedStorage, biothings-hub/files/nde-hub/hub/dataload/nde.py:120)
and hashes embedding text with sha256 (hub/dataindex/embed.py:168-177);
content-level near-dup (MinHash/SimHash) is the training-data-pipeline
extension this engine adds as a first-class operator family.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword inventories for the n-gram/stopword language
# heuristic. Deterministic, dependency-free.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "a"],
    "es": ["el", "la", "de", "que", "y", "los", "en"],
    "de": ["der", "die", "und", "das", "ist", "von", "ein"],
    "fr": ["le", "la", "les", "et", "des", "un", "est"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2", "you3", "wo3"],
}
LANG_ORDER = ["en", "es", "de", "fr", "zh"]  # fixed tie-break precedence

EN_STOPWORDS = LANG_STOPWORDS["en"] + ["that", "it", "for", "on", "with"]


def tokens(text: Column) -> Column:
    """Lowercased whitespace tokens, empties removed."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def word_ngrams(toks: Column, n: int) -> Column:
    """Word n-grams joined by single spaces. Empty array when < n tokens.

    Guarded CASE so ``sequence`` never sees stop < start (Spark errors on
    descending default-step sequences; the DuckDB oracle mirrors the CASE).

    One ``slice`` + ``array_join`` per window, NOT a nested per-element
    transform: higher-order functions are interpreted per element, so
    the nested form pays n lambda invocations per window — measured
    7x slower at n=10 on the sf0.1 corpus for byte-identical output.
    """
    cnt = F.size(toks)
    idx = F.sequence(F.lit(1), cnt - F.lit(n - 1))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
    return F.when(cnt >= n, grams).otherwise(F.array().cast("array<string>"))


def shingles(text: Column, n: int = 3) -> Column:
    return word_ngrams(tokens(text), n)


def minhash_signature(shingle_arr: Column, k: int = 8) -> Column:
    """MinHash signature: for each of k salted hash families, the
    lexicographic min of ``md5(salt || '|' || shingle)``.

    Lexicographic-min of a uniform hex hash is a valid min-hash; md5 keeps
    the DuckDB oracle bit-identical. NULL signature slots when the doc has
    no shingles."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.array_min(
            F.transform(shingle_arr, lambda s: F.md5(F.concat(i.cast("string"), F.lit("|"), s)))
        ),
    )


_ODD_HEX = ["1", "3", "5", "7", "9", "b", "d", "f"]


def simhash16(toks: Column) -> Column:
    """16-bit SimHash over tokens.

    Bit b of token t = parity of the (b+1)-th hex digit of md5(t); the
    document bit is the sign of the +1/-1 vote sum (ties -> 0). Expressed
    entirely in higher-order functions so the oracle can mirror it. The
    production variant is 64-bit with multi-index Hamming blocking; 16
    bits keeps the oracle SQL tractable while exercising the identical
    plan shape."""
    odd = F.array(*[F.lit(c) for c in _ODD_HEX])
    bits = F.transform(
        F.sequence(F.lit(0), F.lit(15)),
        lambda b: F.when(
            F.aggregate(
                toks,
                F.lit(0),
                lambda acc, t: acc
                + F.when(
                    F.array_contains(odd, F.md5(t).substr(b + F.lit(1), F.lit(1))), F.lit(1)
                ).otherwise(F.lit(-1)),
            )
            > 0,
            F.call_function("shiftleft", F.lit(1), b.cast("int")),
        ).otherwise(F.lit(0)),
    )
    return F.aggregate(bits, F.lit(0), lambda a, x: a + x)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two string arrays (as sets)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))


def stopword_ratio(toks: Column, stopwords: list[str] | None = None) -> Column:
    sw = F.array(*[F.lit(w) for w in (stopwords or EN_STOPWORDS)])
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    p = F.regexp_count(text, F.lit(r"[^A-Za-z0-9\s]"))
    return F.when(n > 0, p.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality score: length saturation, low punctuation,
    healthy stopword ratio. Mirrors the reference's metadata-completeness
    scoring style (required/recommended ratios rounded to 2dp,
    utils/utils.py:265-349) applied to document text."""
    toks = tokens(text)
    len_part = F.least(F.size(toks).cast("double") / F.lit(50.0), F.lit(1.0))
    sw = stopword_ratio(toks)
    q = F.lit(0.4) * len_part + F.lit(0.3) * (F.lit(1.0) - punct_ratio(text)) + F.lit(0.3) * sw
    # floor-truncate, not round: these integer-ratio scores land exactly on
    # decimal grid points where Spark (shortest-decimal HALF_UP) and other
    # engines (binary round) disagree; floor of an identical double is
    # deterministic everywhere
    return F.floor(q * F.lit(10000)) / F.lit(10000.0)


def lang_scores(toks: Column) -> dict[str, Column]:
    out = {}
    for lang, words in LANG_STOPWORDS.items():
        sw = F.array(*[F.lit(w) for w in words])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return out


def lang_id(text: Column) -> Column:
    """Argmax language by stopword hits with fixed precedence tie-break;
    'und' when no hits at all."""
    toks = tokens(text)
    scores = lang_scores(toks)
    best = F.greatest(*[scores[lang] for lang in LANG_ORDER])
    expr = F.lit("und")
    for lang in reversed(LANG_ORDER):
        expr = F.when((best > 0) & (scores[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


def fingerprint(text: Column, n: int = 4) -> Column:
    """Document fingerprint: min md5 over word n-grams (a 1-permutation
    MinHash — the set-invariant analog of a rolling content hash); md5 of
    the whole text when shorter than n tokens."""
    grams = word_ngrams(tokens(text), n)
    return F.coalesce(F.array_min(F.transform(grams, F.md5)), F.md5(F.lower(text)))
