"""The NDE upload-wrapper pass — the reference's final per-record gauntlet.

Re-expresses ``nde_upload_wrapper`` (utils/utils.py:352-403), which every
uploader applies in one generator pass:

    corrections -> add_date -> score -> HTML-strip -> placeholder-drop ->
    check_schema -> casefold _id -> size gate

as pure column expressions over a documents DataFrame:

- ``casefold_id``        <- ``_id.lower()``            (utils.py:394)
- ``add_date``           <- max of date/dateCreated/dateModified/
                            datePublished + distribution[].dateModified
                            (utils.py:140-186; row-local greatest, not a
                            group aggregate)
- ``completeness_score`` <- required/recommended present-field ratios
                            rounded 2dp (utils.py:265-349, scores.py)
- ``html_strip``         <- tag strip + <br> -> newline (utils.py:379-385)
- ``placeholder_filter`` <- drop entity entries whose name is a
                            placeholder term (utils.py:34-66)
- ``check_schema_gate``  <- required fields + enum assertions
                            (utils.py:103-137) as a valid/quarantine
                            split instead of hard asserts — bad rows are
                            diagnosable, good rows flow on (the
                            diagnosis column is
                            nde_schema.schema_violation_nde)
- ``size_gate``          <- drop rows whose serialized form exceeds the
                            16MB BSON analog (utils.py:395-401)

All row-local, one codegen'd projection — at 100 TB this pass is
scan-bound, which is the point.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.literals import literal

PLACEHOLDER_TERMS = ["n/a", "na", "unknown", "not applicable", "none", "null", "other"]


def casefold_id(c: Column) -> Column:
    return F.lower(c)


def add_date(*date_cols: Column, distribution_dates: Column | None = None) -> Column:
    """Latest of the present date columns (+ max over the distribution
    array's dateModified when given). NULL-tolerant like the reference's
    sort-and-take-last."""
    candidates = list(date_cols)
    if distribution_dates is not None:
        candidates.append(F.array_max(distribution_dates))
    return F.greatest(*candidates) if len(candidates) > 1 else candidates[0]


def completeness_score(required: list[Column], recommended: list[Column]) -> Column:
    """round(0.6*req_ratio + 0.4*rec_ratio, 2) where a field counts when
    non-null and non-empty-string."""
    def present(c: Column) -> Column:
        return F.when(c.isNotNull() & (c.cast("string") != ""), 1).otherwise(0)

    req = sum([present(c) for c in required], F.lit(0)).cast("double") / F.lit(float(len(required)))
    rec = sum([present(c) for c in recommended], F.lit(0)).cast("double") / F.lit(float(len(recommended)))
    return F.round(F.lit(0.6) * req + F.lit(0.4) * rec, 2)


def placeholder_filter(entities: Column, name_field: str = "name") -> Column:
    """Drop entity structs whose name (casefolded/trimmed) is a
    placeholder term."""
    terms = literal(PLACEHOLDER_TERMS, "array<string>")
    return F.filter(
        entities,
        lambda e: ~F.array_contains(terms, F.trim(F.lower(e.getField(name_field)))),
    )


def check_schema_gate(df: DataFrame, violation: Column) -> tuple[DataFrame, DataFrame]:
    """-> (valid rows, quarantined rows with a `violation` column)."""
    tagged = df.withColumn("violation", violation)
    return (
        tagged.filter(F.col("violation").isNull()).drop("violation"),
        tagged.filter(F.col("violation").isNotNull()),
    )


def size_gate(df: DataFrame, limit_bytes: int = 16 * 1024 * 1024) -> DataFrame:
    """Drop rows whose JSON serialization exceeds the BSON-limit analog."""
    return df.filter(
        F.length(F.to_json(F.struct(*[F.col(c) for c in df.columns]))) < limit_bytes
    )
