"""Taxonomy lineage expansion + ancestor-removal dedup (J7's real payload).

The reference annotates every record with ``_meta.lineage`` — the full
ancestor chain of each of its taxon IDs as
``[{taxon, parent_taxon}, ...]`` — via a batched taxonomy-service lookup
with a SQLite cache (biothings-hub/files/nde-hub/utils/lineage.py:
140-231 entry construction, 286-307 the batch driver), and drops species
entries that are ancestors of other species in the same record
(utils/extract.py:326-360, 836-924).

Shape — the taxonomy is walked on the driver, the corpus in Spark:

- ``taxonomy_closure`` walks the TAXONOMY's parent pointers in plain
  Python, never the corpus, and returns the ancestors-or-self relation
  (taxon, member, member_parent) as rows. Every consumer needs the
  whole closure on the driver anyway, as the reference's
  lineage_lookup dict (utils/lineage.py:9,29-37), so it runs no Spark
  job. Cost is independent of corpus size.
- ``expand_lineage`` and ``ancestor_removal`` then read those rows as
  a literal map: each is one column expression per doc (``element_at``
  per taxid), with no explode, join, shuffle or per-doc recursion.
  ``_meta.lineage`` is the sorted-distinct union of the doc's chains;
  an entry is removed iff it is a PROPER ancestor of another entry in
  the same record.

Root convention mirrors the reference: taxon 1 carries no parent_taxon
(lineage.py:225-231).
"""

from __future__ import annotations

from pyspark.sql import Column, Row
from pyspark.sql import functions as F

from ..functions.literals import literal


_ClosureRow = Row("taxon", "member", "member_parent")


def taxonomy_closure(edges) -> list[Row]:
    """(taxon, parent_taxon) pairs, one parent per taxon -> the
    ancestors-or-self closure rows (taxon, member, member_parent): every
    taxon in the lineage chain of ``taxon``, each with its own parent.

    Each taxon's chain is walked up until a NULL parent, a self-parent
    (NCBI's root is ``1|1``) or an already visited member, so cyclic
    input terminates. A parent missing from ``edges`` is still a member,
    with a NULL ``member_parent``."""
    parent = dict(edges)
    rows = []
    for taxon in parent:
        member, visited = taxon, set()
        while member is not None and member not in visited:
            visited.add(member)
            up = parent.get(member)
            rows.append(_ClosureRow(taxon, member, up))
            member = None if up == member else up
    return rows


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
    (lineage.py:234-252 _annotate_record), given the closure rows
    (taxon, member, member_parent). A NULL array, a NULL taxid and a
    taxid outside the taxonomy add nothing."""
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
