"""Entity standardization + host/infectiousAgent reclassification.

The hardest, most-used uploader stage (51 uploaders): PubTator-style
standardization re-labels each species/infectiousAgent entry through a
lookup (name -> standardized name, identifier, classification) and MOVES
misclassified entries between the two fields
(biothings-hub/files/nde-hub/utils/pubtator.py:839-927 process_document):

1. species + infectiousAgent entries are processed as ONE combined list
   (order: species first, then agents — pubtator.py:862),
2. each entry is standardized via the lookup; entries the lookup does
   not know pass through unchanged and KEEP their original side
   (process_section leaves them without a classification, so a curated
   entry already on the infectiousAgent side stays there),
3. the combined list is re-split by classification — this is what moves
   a virus mislabeled as species into infectiousAgent, and a host
   mislabeled as agent back into species,
4. species entries whose (standardized or original) name matches any
   converted agent's names are dropped (pubtator.py:884-904),
5. each side is deduplicated by identifier keeping the FIRST occurrence
   in combined order (pubtator.py:865-875).

Spark shape: one column expression per document over a literal lookup
map (the reference's in-memory dict, megabytes at most). Each entry is
standardized by one ``element_at`` into the map, and the re-split,
converted-name filter and keep-first identifier dedup are row-local
array expressions (per-doc entry lists are a handful of elements — the
reference processes them as in-memory Python lists for the same reason).
No explode, join, shuffle or Python UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.literals import literal

# lookup: name_lc -> (std_name, std_identifier, classification), with
#   classification in ('host', 'infectiousAgent')
_LOOKUP_SQL = "map<string,struct<name:string,identifier:string,classification:string>>"


def _let(value: Column, body) -> Column:
    """``body(value)`` with ``value`` evaluated once per row: Catalyst
    shares no sub-expression inside a higher-order function's lambda."""
    return F.element_at(F.transform(F.array(value), body), 1)


def apply_drop_rules(ner: Column, rules: list[dict], closure=None) -> Column:
    """The EXTRACT-NER heuristic drop rules (utils/extract.py:23-59
    ADVANCED_DROP_RULES) over an array<struct<name, taxid>>: an entity
    is dropped when its casefolded name or its taxid matches a rule,
    and — for rules with ``ignore_children`` — when its taxid is a
    DESCENDANT of the rule's taxid ('omicron'/'other sequences': the
    whole subtree is suspect). Descendants come from the lineage
    closure (operators/lineage.py, rows of (taxon, member,
    member_parent)): descendants of rule r = the taxon of each row with
    member == r.id, taxon != r.id.

    -> the surviving entities in order; NULL for a NULL array. A match
    is three-valued like SQL ``IN``, so an entity with a NULL name or
    taxid is dropped."""
    names = literal([str(r["name"]).lower().strip() for r in rules], "array<string>")
    ids = literal([int(r["id"]) for r in rules], "array<int>")
    roots = {int(r["id"]) for r in rules if r.get("ignore_children")}
    below = literal(
        sorted({row[0] for row in closure or () if row[1] in roots and row[1] != row[0]}),
        "array<int>",
    )

    def kept(e: Column) -> Column:
        taxid = e.getField("taxid")
        direct = F.array_contains(names, F.lower(F.trim(e.getField("name")))) | F.array_contains(
            ids, taxid
        )
        return ~direct & ~F.array_contains(below, taxid)

    return F.filter(ner, kept)


def reclassify_species(species: Column, agents: Column, lookup: dict) -> Column:
    """-> struct<species, infectiousAgent> (each an
    array<struct<name,identifier>>) after standardization through
    ``lookup`` (name_lc -> (std_name, std_identifier, classification)),
    reclassification, converted-name filtering, and keep-first identifier
    dedup. NULL arrays and NULL entries contribute nothing, so a doc
    without entries gets empty arrays. Entry order within each output
    array is combined-list order."""
    std = literal(lookup, _LOOKUP_SQL)

    def side(arr: Column, cls: str) -> Column:
        return F.transform(
            F.filter(F.coalesce(arr, F.array()), lambda e: e.isNotNull()),
            lambda e: F.struct(
                e.getField("name").alias("orig_name"),
                e.getField("identifier").alias("orig_ident"),
                F.lit(cls).alias("side"),
                F.element_at(std, F.lower(F.trim(e.getField("name")))).alias("hit"),
            ),
        )

    # unmatched entries pass through UNCHANGED, keeping their ORIGINAL
    # side — modelling _apply_resolved_species (pubtator.py:1271-1276:
    # entries with no resolved standard go back to the list they came
    # from). NOTE the reference's OTHER path, process_document's re-split
    # (pubtator.py:877-880), instead sends classification-less items to
    # the species side; this operator deliberately models the
    # resolved-apply path, which is the one that preserves curated
    # infectiousAgent entries.
    def standardized(e: Column) -> Column:
        hit = e.getField("hit")
        return F.struct(
            e.getField("orig_name").alias("orig_name"),
            F.coalesce(hit.getField("name"), e.getField("orig_name")).alias("name"),
            F.coalesce(hit.getField("identifier"), e.getField("orig_ident")).alias("identifier"),
            F.coalesce(hit.getField("classification"), e.getField("side")).alias("classification"),
        )

    combined = F.concat(side(species, "host"), side(agents, "infectiousAgent"))
    return _let(F.transform(combined, standardized), _resplit)


def _resplit(es: Column) -> Column:
    # row-local re-split + converted-name filter + keep-first dedup over
    # the tiny per-doc array (HOF interpretation cost is per element —
    # a handful per doc; the reference does exactly this in Python lists)
    agents_all = F.filter(es, lambda e: e.getField("classification") == F.lit("infectiousAgent"))
    conv_names = F.array_distinct(
        F.flatten(
            F.transform(
                agents_all,
                lambda e: F.array(
                    F.lower(F.trim(e.getField("orig_name"))),
                    F.lower(F.trim(e.getField("name"))),
                ),
            )
        )
    )
    species_all = F.filter(
        es,
        lambda e: (e.getField("classification") != F.lit("infectiousAgent"))
        & ~F.array_contains(conv_names, F.lower(F.trim(e.getField("name")))),
    )

    def keep_first_by_identifier(arr: Column) -> Column:
        # element i survives iff no EARLIER element carries its identifier
        return F.filter(
            arr,
            lambda e, i: ~F.exists(
                F.slice(arr, 1, i),
                lambda p: p.getField("identifier") == e.getField("identifier"),
            ),
        )

    def rendered(arr: Column) -> Column:
        return F.transform(
            keep_first_by_identifier(arr),
            lambda e: F.struct(
                e.getField("name").alias("name"),
                e.getField("identifier").alias("identifier"),
            ),
        )

    return F.struct(
        rendered(species_all).alias("species"),
        rendered(agents_all).alias("infectiousAgent"),
    )
