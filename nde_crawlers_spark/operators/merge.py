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
plans them as hash aggregations and AQE handles skewed keys (a viral DOI
shared by thousands of records). The 1x1 dedup is ONE aggregation over
both sides, and ``apply_merge_directives`` ONE broadcast join of its
role table onto the documents.
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
    Returns (key, keep_id, drop_id, *other columns) — survivor from
    side_a, loser from side_b; the sides' other columns (same names on
    both) ride along as the LOSER's values, e.g. the catalog
    ``apply_merge_directives`` gives its keeper.

    One aggregation: the sides are unioned with a tag and grouped once by
    key. NULL keys are dropped first (the reference never pairs them).
    Precondition: ids are unique (the reference's ``_id``) and the sides
    disjoint, so no id is both a keeper and a loser, or either twice.
    """
    in_b = F.col("__b")
    carry = [c for c in side_a.columns if c not in (key_col, id_col)]
    when_b = F.when(in_b, F.col(id_col))
    return (
        side_a.withColumn("__b", F.lit(False))
        .unionByName(side_b.withColumn("__b", F.lit(True)))
        .filter(F.col(key_col).isNotNull())
        .groupBy(key_col)
        .agg(
            F.count_if(~in_b).alias("__na"),
            F.count_if(in_b).alias("__nb"),
            F.min(F.when(~in_b, F.col(id_col))).alias("keep_id"),
            F.min(when_b).alias("drop_id"),
            *[F.max_by(c, when_b).alias(c) for c in carry],
        )
        .filter((F.col("__na") == 1) & (F.col("__nb") == 1))
        .drop("__na", "__nb")
    )


def apply_merge_directives(
    docs: DataFrame,
    directives: DataFrame,
    id_col: str = "doc_id",
    catalog_col: str = "includedInDataCatalog",
    broadcast_directives: bool = True,
) -> DataFrame:
    """APPLY (keep_id, drop_id, loser's ``catalog_col``) merge directives
    to the documents table — the half of the dedup the reference does in
    hub/databuild/builder.py:102-160,308-329: the winner's
    ``includedInDataCatalog`` array absorbs its loser's entries
    (distinct), and loser rows are deleted.

    Precondition (what ``key_dedup_1x1`` returns): no id appears twice
    across keep_id and drop_id, so a keeper has one loser and the role
    table below has one row per id. Plan shape: the directives become
    that role table (keeper rows carry the gain, loser rows the drop
    role), left-joined ONCE onto docs. Directives are usually tiny (one
    row per duplicate pair), so by default the join broadcasts them: one
    pass over the corpus, no shuffle of the documents. For a dedup WAVE
    too big to broadcast (a 10^8-pair backfill), pass
    ``broadcast_directives=False``: the same plan runs as a shuffle join
    on the id key (AQE splits skew), identical output
    (tests/test_operators.py asserts both modes equal)."""
    # __role is the position in [keep_id, drop_id]: 0 keeper, 1 loser
    roles = directives.select(
        F.posexplode(F.array("keep_id", "drop_id")).alias("__role", id_col),
        F.col(catalog_col).alias("__gain"),
    )
    return (
        docs.join(F.broadcast(roles) if broadcast_directives else roles, id_col, "left")
        .filter(~F.col("__role").eqNullSafe(1))
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
        .drop("__role", "__gain")
    )
