"""Text-analysis operators over the ``documents`` table.

Language-ID, quality scoring, token counting, fingerprinting — the
per-document column passes a training-data pipeline runs before dedup and
filtering.

Implementation note: the semantic definitions live in functions/text.py
as pure higher-order column expressions (and are mirrored 1:1 by the
DuckDB oracle). Spark's higher-order lambdas are interpreted (no
whole-stage codegen), which measured 10-50x slower at corpus scale, so
the operators here compute the token-level parts through ONE outer
explode -> groupBy aggregation (codegen'd, map-side combined), which
yields one stats row per doc; only an operator that also needs row-local
columns (analyze's text, quality_filter's docs) joins the stats to them.
Outputs are bit-identical to the column-kernel forms — verified by the
oracle parity suite.

Reference analogs: HTML-strip + casefold + size-gate single pass
(utils/utils.py:352-403), completeness scoring (utils/utils.py:265-349),
placeholder-term filter (utils/utils.py:34-66).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import text as TX


def token_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One exploded aggregation: per-doc token count, per-language
    stopword hits, English stopword hits, one row per distinct id. The
    explode is outer, so a doc with zero tokens keeps one NULL token,
    which counts and hits nothing: an all-zero row."""
    from .dedup import spread

    ex = spread(docs).select(F.col(id_col), F.explode_outer(TX.tokens(F.col(text_col))).alias("t"))
    aggs = [F.count("t").alias("n_tokens")]
    for lang in TX.LANG_ORDER:
        aggs.append(
            F.sum(F.when(F.col("t").isin(*TX.LANG_STOPWORDS[lang]), 1).otherwise(0)).alias(f"s_{lang}")
        )
    aggs.append(F.sum(F.when(F.col("t").isin(*TX.EN_STOPWORDS), 1).otherwise(0)).alias("sw_hits"))
    return ex.groupBy(id_col).agg(*aggs)


def _lang_pred_from_stats() -> Column:
    """Argmax language with fixed precedence tie-break (== TX.lang_id)."""
    best = F.greatest(*[F.col(f"s_{lg}") for lg in TX.LANG_ORDER])
    expr: Column = F.lit("und")
    for lang in reversed(TX.LANG_ORDER):
        expr = F.when((best > 0) & (F.col(f"s_{lang}") == best), F.lit(lang)).otherwise(expr)
    return expr


def _quality_from_stats(text_col: str) -> Column:
    """== TX.quality_score, computed from the aggregated stats."""
    n = F.col("n_tokens")
    len_part = F.least(n.cast("double") / F.lit(50.0), F.lit(1.0))
    sw = F.when(n > 0, F.col("sw_hits").cast("double") / n.cast("double")).otherwise(F.lit(0.0))
    q = (
        F.lit(0.4) * len_part
        + F.lit(0.3) * (F.lit(1.0) - TX.punct_ratio(F.col(text_col)))
        + F.lit(0.3) * sw
    )
    # floor-truncate (see functions/text.py::quality_score for why)
    return F.floor(q * F.lit(10000)) / F.lit(10000.0)


def analyze(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document analysis: token count, predicted language, quality
    score, fingerprint, simhash — TWO codegen'd aggregations joined on
    the doc id: the token explode feeds ONE fused groupBy (token count +
    per-language stopword hits + the 16 simhash bit votes share the same
    exploded rows — one scan, one shuffle, map-side combined), and the
    4-gram explode feeds the fingerprint min. Bit-identical to the
    separate token_stats + simhash16_agg composition (oracle-verified)."""
    from .dedup import spread

    # r9: the md5's first 16 hex digits are parsed into two bigint
    # halves once per token, so each simhash vote below is a shift+mask
    # instead of a substring + odd-digit set membership (digit parity =
    # bit 4*(8-d) / 4*(16-d) of the half — the identical boolean).
    ex = spread(docs).select(
        F.col(id_col), F.explode(TX.tokens(F.col(text_col))).alias("t")
    ).select(id_col, "t", F.md5("t").alias("h")).select(
        id_col, "t",
        F.expr("cast(conv(substring(h, 1, 8), 16, 10) as bigint)").alias("h1"),
        F.expr("cast(conv(substring(h, 9, 8), 16, 10) as bigint)").alias("h2"),
    )
    aggs = [F.count("*").alias("n_tokens")]
    for lang in TX.LANG_ORDER:
        aggs.append(
            F.sum(F.when(F.col("t").isin(*TX.LANG_STOPWORDS[lang]), 1).otherwise(0)).alias(f"s_{lang}")
        )
    aggs.append(F.sum(F.when(F.col("t").isin(*TX.EN_STOPWORDS), 1).otherwise(0)).alias("sw_hits"))
    for b in range(16):
        d = b + 1
        half = "h1" if d <= 8 else "h2"
        shift = 4 * ((8 if d <= 8 else 16) - d)
        aggs.append(F.expr(
            f"sum(case when ((shiftright({half}, {shift}) & 1) = 1) "
            f"then 1 else -1 end) as v{b}"
        ))
    stats = ex.groupBy(id_col).agg(*aggs)
    simhash = F.expr("0 + " + " + ".join(
        f"(case when v{b} > 0 then {1 << b} else 0 end)" for b in range(16)
    ))
    rowlocal = docs.select(
        F.col(id_col), F.col(text_col).alias("__text"),
        F.md5(F.lower(F.col(text_col))).alias("__fp_fallback"),
    )
    grams = spread(docs).select(
        F.col(id_col), F.explode(TX.word_ngrams(TX.tokens(F.col(text_col)), 4)).alias("g")
    )
    fp = grams.groupBy(id_col).agg(F.min(F.md5(F.col("g"))).alias("__fp"))
    return (
        rowlocal.join(stats, id_col, "left")
        .join(fp, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("int").alias("n_tokens"),
            *[F.coalesce(F.col(f"s_{lg}"), F.lit(0)).alias(f"s_{lg}") for lg in TX.LANG_ORDER],
            F.coalesce(F.col("sw_hits"), F.lit(0)).alias("sw_hits"),
            simhash.cast("int").alias("simhash"),
            F.col("__text"), F.col("__fp_fallback"), F.col("__fp"),
        )
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            _lang_pred_from_stats().alias("lang_pred"),
            _quality_from_stats("__text").alias("quality"),
            F.coalesce(F.col("__fp"), F.col("__fp_fallback")).alias("fingerprint"),
            F.col("simhash"),
        )
    )


def quality_filter(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    min_tokens: int = 10, min_quality: float = 0.4,
) -> DataFrame:
    """Drop low-quality rows (the placeholder/size-gate analog)."""
    stats = token_stats(docs, id_col, text_col)
    keep = stats.filter(F.col("n_tokens") >= min_tokens).select(
        F.col(id_col), "n_tokens", "sw_hits"
    )
    joined = docs.join(keep, id_col)
    return joined.filter(_quality_from_stats(text_col) >= min_quality).select(*docs.columns)


def lang_agreement(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", lang_col: str = "lang") -> DataFrame:
    """Diagnostics: predicted-vs-labeled language confusion counts
    (group-and-count diagnostics analog, zenodo/files/zenodo.py:291-293)."""
    stats = token_stats(docs, id_col, text_col)
    labeled = docs.select(F.col(id_col), F.col(lang_col).alias("lang_label")).join(stats, id_col)
    return (
        labeled.select("lang_label", _lang_pred_from_stats().alias("lang_pred"))
        .groupBy("lang_label", "lang_pred")
        .agg(F.count("*").alias("n"))
    )


def html_strip(col: Column) -> Column:
    """Strip HTML tags, <br> -> newline (utils/utils.py:379-385 analog —
    regexp-only; full lxml fidelity would be a pandas UDF, not needed for
    the synthetic corpus)."""
    brs = F.regexp_replace(col, r"(?i)<br\s*/?>", "\n")
    return F.trim(F.regexp_replace(brs, r"<[^>]+>", ""))
