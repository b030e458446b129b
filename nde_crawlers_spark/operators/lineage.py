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
- ``expand_lineage`` and ``ancestor_removal`` then read the COLLECTED
  closure (it is a dim, like the reference's lineage_lookup dict,
  utils/lineage.py:9,29-37) as a literal map: each is one column
  expression per doc (``element_at`` per taxid), with no explode, join,
  shuffle or per-doc recursion. ``_meta.lineage`` is the sorted-distinct
  union of the doc's chains; an entry is removed iff it is a PROPER
  ancestor of another entry in the same record.

Root convention mirrors the reference: taxon 1 carries no parent_taxon
(lineage.py:225-231).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.literals import literal


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


LINEAGE_SQL = "array<struct<taxon:int,parent_taxon:int>>"


def _chains(closure) -> dict[int, list]:
    """taxon -> its (member, member_parent) closure rows."""
    out: dict[int, list] = {}
    for taxon, member, parent in closure:
        out.setdefault(taxon, []).append((member, parent))
    return out


def _lookup_all(m: Column, taxids: Column) -> Column:
    """The concatenated ``m`` arrays of every taxid (a miss adds none)."""
    return F.flatten(
        F.transform(
            F.coalesce(taxids, F.array()),
            lambda t: F.coalesce(F.element_at(m, t), F.array()),
        )
    )


def expand_lineage(taxids: Column, closure) -> Column:
    """-> ``_meta.lineage``: the sorted-distinct union of lineage entries
    (taxon, parent_taxon) over every taxid of an array<int>
    (lineage.py:234-252 _annotate_record), given the collected closure
    rows (taxon, member, member_parent). A NULL array, a NULL taxid and
    a taxid outside the taxonomy add nothing."""
    m = literal(_chains(closure), f"map<int,{LINEAGE_SQL}>")
    return F.array_sort(F.array_distinct(_lookup_all(m, taxids)))


def ancestor_removal(taxids: Column, closure) -> Column:
    """The distinct taxids of an array<int>, sorted, less those that are
    PROPER ancestors of another taxid in the same doc (extract.py:332-360
    filter_species_terms_for_ancestors): 'Homo sapiens' makes a bare
    'Mammalia' entry redundant. NULL taxids are dropped."""
    proper = {t: [m for m, _ in rows if m != t] for t, rows in _chains(closure).items()}
    m = literal(proper, "map<int,array<int>>")
    ids = F.array_distinct(F.filter(F.coalesce(taxids, F.array()), lambda t: t.isNotNull()))
    implied = _lookup_all(m, ids)
    return F.array_sort(F.filter(ids, lambda t: ~F.array_contains(implied, t)))
