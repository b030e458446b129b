"""Taxonomy lineage expansion + ancestor-removal dedup (J7's real payload).

The reference annotates every record with ``_meta.lineage`` — the full
ancestor chain of each of its taxon IDs as
``[{taxon, parent_taxon}, ...]`` — via a batched taxonomy-service lookup
with a SQLite cache (biothings-hub/files/nde-hub/utils/lineage.py:
140-231 entry construction, 286-307 the batch driver), and drops species
entries that are ancestors of other species in the same record
(utils/extract.py:326-360, 836-924).

Spark-first shape — the key scale decision is WHERE the iteration runs:

- ``taxonomy_closure`` iterates on the TAXONOMY table only (a few
  million rows for all of NCBI — megabytes), never on the corpus: a
  handful of self-joins materialize the ancestors-or-self relation
  (taxon, member, member_parent) once. Cost is independent of corpus
  size.
- ``expand_lineage`` is then ONE broadcast left join from the outer-
  exploded (doc, taxid) pairs to the closure, a regroup, and a
  sorted-distinct collect into ``_meta.lineage``. One shuffle on doc id,
  no join back, no per-doc recursion anywhere near the data.
- ``ancestor_removal`` reuses the same closure: an entry is dropped iff
  it is a PROPER ancestor of another entry in the same record — one
  join + one anti-join, both on (doc, taxid).

Root convention mirrors the reference: taxon 1 carries no parent_taxon
(lineage.py:225-231).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# ``taxonomy_closure``'s loop: MAX_DEPTH bounds it against cyclic input
# (a safety bound, not a tuning knob; NCBI reaches ~40 ranks). Every
# CHECKPOINT_EVERY levels the frontier and accumulated union are
# ``localCheckpoint``-ed (eager), truncating the lineage so plan depth —
# and Catalyst's per-level analysis cost — stays bounded. The emptiness
# probe (a full Spark job each) fires only every PROBE_EVERY levels
# (geometric probing): a 40-deep taxonomy costs ~10 driver round-trips
# instead of 40. Overshoot levels past exhaustion join against an empty
# frontier — empty steps union in nothing, and the final distinct is
# unaffected.
MAX_DEPTH = 64
CHECKPOINT_EVERY = 16
PROBE_EVERY = 4


def taxonomy_closure(taxonomy: DataFrame) -> DataFrame:
    """(taxon, parent_taxon) -> ancestors-or-self closure
    (taxon, member, member_parent): every taxon in the lineage chain of
    ``taxon``, each with its own parent (NULL at the root).

    Iterates ONLY over the taxonomy table (small; cache-friendly); the
    loop runs until the frontier empties or ``MAX_DEPTH``, checkpointing
    every ``CHECKPOINT_EVERY`` levels and probing for emptiness every
    ``PROBE_EVERY``."""
    tax = taxonomy.select("taxon", "parent_taxon").cache()
    parents = tax.withColumnRenamed("taxon", "member").withColumnRenamed(
        "parent_taxon", "member_parent"
    )
    # level 0: every taxon is a member of its own lineage
    frontier = tax.select("taxon", F.col("taxon").alias("member"))
    closure = frontier
    for level in range(1, MAX_DEPTH + 1):
        step = (
            frontier.join(
                tax.select(F.col("taxon").alias("member"), F.col("parent_taxon").alias("p")),
                "member",
            )
            .filter(F.col("p").isNotNull() & (F.col("p") != F.col("member")))
            .select("taxon", F.col("p").alias("member"))
        )
        if level % PROBE_EVERY == 0 or level == MAX_DEPTH:
            step = step.cache()
            if step.isEmpty():
                step.unpersist()
                break
        closure = closure.unionByName(step)
        frontier = step
        if level % CHECKPOINT_EVERY == 0:
            # cut the union/join lineage: plan depth resets to O(1)
            frontier = frontier.localCheckpoint(eager=True)
            closure = closure.localCheckpoint(eager=True)
    return closure.distinct().join(parents, "member", "left").select(
        "taxon", "member", "member_parent"
    )


def expand_lineage(
    docs: DataFrame,
    closure: DataFrame,
    taxids_col: str = "taxids",
    id_col: str = "doc_id",
) -> DataFrame:
    """-> (id, ``_meta_lineage``): the sorted-distinct union of lineage
    entries (taxon, parent_taxon) over every taxid the doc carries
    (lineage.py:234-252 _annotate_record), one row per distinct id. Docs
    whose taxids hit nothing in the taxonomy get an empty array.

    Plan: outer explode -> broadcast left join to the closure -> regroup
    on doc id; a doc with no hit keeps its row and collects nothing.
    """
    ex = docs.select(F.col(id_col), F.explode_outer(taxids_col).alias("taxon"))
    hits = ex.join(F.broadcast(closure), "taxon", "left")
    e = F.struct(
        F.col("member").alias("taxon"), F.col("member_parent").alias("parent_taxon")
    )
    return hits.groupBy(id_col).agg(
        F.array_sort(
            F.array_distinct(F.collect_list(F.when(F.col("member").isNotNull(), e)))
        ).alias("_meta_lineage")
    )


def ancestor_removal(
    docs: DataFrame,
    closure: DataFrame,
    taxids_col: str = "taxids",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per doc, drop taxids that are PROPER ancestors of another taxid in
    the same doc (extract.py:332-360 filter_species_terms_for_ancestors):
    'Homo sapiens' makes a bare 'Mammalia' entry redundant. Returns
    (id, kept_taxids sorted)."""
    ex = docs.select(F.col(id_col), F.explode_outer(taxids_col).alias("tid")).distinct()
    # (doc, ancestor) pairs implied by each entry, excluding self
    implied = (
        ex.join(F.broadcast(closure), ex.tid == closure.taxon)
        .filter(F.col("member") != F.col("taxon"))
        .select(id_col, F.col("member").alias("tid"))
        .distinct()
    )
    kept = ex.join(implied, [id_col, "tid"], "left_anti")
    return kept.groupBy(id_col).agg(
        F.array_sort(F.collect_list("tid")).alias("kept_taxids")
    )
