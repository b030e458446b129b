"""Cross-source merge/dedup joins — the builder layer.

Spark-first re-expressions of the reference's MongoDB merge pipeline:

- ``priority_merge``      <- merge_order last-writer-wins by source rank
                            (hub/databuild/builder.py:13-32)
- ``version_group_merge`` <- Zenodo version self-merge: keep max-date doc
                            per versionId, union the losers' arrays
                            (hub/dataload/sources/zenodo/uploader.py:27-111)
- ``key_dedup_1x1``       <- cross-source DOI dedup with the 1x1-group
                            guard (builder.py:34-160: only merge when the
                            key maps to exactly one doc on each side)

All are window/groupBy compositions — no custom shuffle logic; Catalyst
plans them as hash aggregations / sort-merge joins and AQE handles skewed
keys (a viral DOI shared by thousands of records).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def priority_merge(docs: DataFrame, key: Column, rank: Column, id_col: str = "doc_id") -> DataFrame:
    """Last-writer-wins by source rank: per merge key keep the row with the
    highest rank (ties -> lowest id, deterministic). Mirrors merge_order
    moving priority sources last so their upsert wins."""
    w = Window.partitionBy(key.alias("__k")).orderBy(
        rank.desc(), F.col(id_col).asc()
    )
    return (
        docs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def version_group_merge(
    docs: DataFrame,
    group_cols: list[str],
    date_col: Column,
    id_col: str = "doc_id",
    union_array_cols: list[str] | None = None,
) -> DataFrame:
    """Per version group keep the doc with max date (tie -> min id) and
    collect the merged member list; ``union_array_cols`` names array
    columns whose values are UNIONED across all group members into the
    keeper — the actual Zenodo version-merge payload (the keeper absorbs
    the losers' sameAs + distribution,
    zenodo/files/uploader.py:53-64). Unions are distinct + sorted, so the
    result is independent of partitioning/collect order.

    Returns group cols + keep_id + keep_date + member_ids + group_size
    [+ merged_<col> per union column]."""
    w = Window.partitionBy(*group_cols).orderBy(date_col.desc(), F.col(id_col).asc())
    ranked = docs.withColumn("__rn", F.row_number().over(w)).withColumn("__d", date_col)
    aggs = [
        F.min(F.when(F.col("__rn") == 1, F.struct(F.col(id_col).alias("id"), F.col("__d").alias("d")))).alias("keep"),
        F.array_sort(F.collect_list(F.col(id_col))).alias("member_ids"),
        F.count("*").alias("group_size"),
    ]
    for c in union_array_cols or []:
        aggs.append(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list(F.col(c))))).alias(f"merged_{c}")
        )
    return (
        ranked.groupBy(*group_cols)
        .agg(*aggs)
        .select(
            *group_cols,
            F.col("keep.id").alias("keep_id"),
            F.col("keep.d").alias("keep_date"),
            "member_ids",
            "group_size",
            *[f"merged_{c}" for c in union_array_cols or []],
        )
    )


def key_dedup_1x1(
    side_a: DataFrame, side_b: DataFrame, key_col: str, id_col: str = "doc_id"
) -> DataFrame:
    """Cross-source key dedup with the reference's 1x1 guard: a key merges
    only when exactly one doc holds it on each side; ambiguous groups are
    skipped (and logged by count in the reference, builder.py:126-134).
    Returns (key, keep_id, drop_id) — survivor from side_a, loser from b.
    """
    a1 = (
        side_a.groupBy(key_col)
        .agg(F.count("*").alias("na"), F.min(id_col).alias("keep_id"))
        .filter(F.col("na") == 1)
    )
    b1 = (
        side_b.groupBy(key_col)
        .agg(F.count("*").alias("nb"), F.min(id_col).alias("drop_id"))
        .filter(F.col("nb") == 1)
    )
    return a1.join(b1, key_col).select(key_col, "keep_id", "drop_id")


def apply_merge_directives(
    docs: DataFrame,
    directives: DataFrame,
    id_col: str = "doc_id",
    catalog_col: str = "includedInDataCatalog",
    broadcast_directives: bool = True,
    catalog_source: DataFrame | None = None,
) -> DataFrame:
    """APPLY (keep_id, drop_id) merge directives to the documents table —
    the half of the dedup the reference does in
    hub/databuild/builder.py:102-160,308-329: the winner's
    ``includedInDataCatalog`` array absorbs each loser's entries
    (distinct), and loser rows are deleted.

    Plan shape: directives are usually tiny relative to docs (one row
    per duplicate pair), so by default both the gain join and the loser
    delete are broadcast joins against docs — one pass over the corpus,
    no shuffle of the documents themselves. For a dedup WAVE whose
    directive set exceeds broadcast limits (a 10^8-pair backfill), pass
    ``broadcast_directives=False``: the same plan runs as shuffle joins
    on the id key (Catalyst picks sort-merge/shuffled-hash, AQE splits
    skew), identical output (tests/test_operators.py asserts both modes
    byte-equal). Loser contributions are ordered by drop_id before
    flattening, so the merged array is independent of partitioning."""
    # When ``docs`` is itself an expensive composed plan (e.g. the full
    # uploader-registry dispatch) and the catalog column is unchanged by
    # that plan, the caller can pass the cheap upstream frame as
    # ``catalog_source`` — the loser-catalog lookup then reads (id,
    # catalog) from it instead of embedding the expensive plan a second
    # time. Output is identical whenever catalog_source agrees with docs
    # on (id_col, catalog_col).
    cat_src = catalog_source if catalog_source is not None else docs
    loser_cat = (
        directives.join(
            cat_src.select(F.col(id_col).alias("drop_id"), F.col(catalog_col).alias("__cat")),
            "drop_id",
        )
        .groupBy("keep_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("drop_id").alias("i"), F.col("__cat").alias("c")))
                    ),
                    lambda s: s.getField("c"),
                )
            ).alias("__gain")
        )
    )
    gains = loser_cat.withColumnRenamed("keep_id", id_col)
    merged = (
        docs.join(
            F.broadcast(gains) if broadcast_directives else gains, id_col, "left"
        )
        .withColumn(
            catalog_col,
            F.when(
                F.col("__gain").isNotNull(),
                # keeper's array coalesced first: a NULL-catalog winner must
                # still KEEP the absorbed loser entries (concat(NULL, x) is
                # NULL and would silently drop them)
                F.array_distinct(
                    F.concat(
                        F.coalesce(F.col(catalog_col), F.array().cast(docs.schema[catalog_col].dataType)),
                        F.col("__gain"),
                    )
                ),
            ).otherwise(F.col(catalog_col)),
        )
        .drop("__gain")
    )
    # an anti-join ignores duplicates on its right side: no distinct
    losers = directives.select(F.col("drop_id").alias(id_col))
    return merged.join(
        F.broadcast(losers) if broadcast_directives else losers, id_col, "left_anti"
    )
