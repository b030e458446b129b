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

Spark shape: one outer posexplode per side -> ONE broadcast join against
the lookup (it is the reference's in-memory dict, megabytes at most) ->
ONE groupBy(doc id) collecting the standardized entries -> the re-split,
converted-name filter, and keep-first identifier dedup as ROW-LOCAL
array expressions (per-doc entry lists are a handful of elements — the
reference processes them as in-memory Python lists for the same reason).
The outer explode keeps a row for a doc with no entries, so the groupBy
already yields every doc: one shuffle total, on doc id; no join back,
no Python UDFs.
(The round-2 form ran the converted-name filter as an anti-join and the
keep-first dedup as a window — four more corpus shuffles for work that
is per-document and tiny.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# lookup schema: name_lc, std_name, std_identifier, classification
#   classification in ('host', 'infectiousAgent')


def apply_drop_rules(
    entities: DataFrame,
    rules: list[dict],
    closure: DataFrame | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """The EXTRACT-NER heuristic drop rules (utils/extract.py:23-59
    ADVANCED_DROP_RULES): an entity row is dropped when its casefolded
    name or its taxid matches a rule, and — for rules with
    ``ignore_children`` — when its taxid is a DESCENDANT of the rule's
    taxid ('omicron'/'other sequences': the whole subtree is suspect).
    Descendant tests reuse the lineage closure (operators/lineage.py):
    descendants of rule r = closure rows with member == r.id, taxon !=
    r.id — one small broadcast anti-join, no per-row recursion.

    ``entities``: (id_col, ..., name, taxid). Returns surviving rows."""
    names = [str(r["name"]).lower().strip() for r in rules]
    ids = [int(r["id"]) for r in rules]
    direct = F.lower(F.trim(F.col("name"))).isin(names) | F.col("taxid").isin(ids)
    out = entities.filter(~direct)
    child_roots = [int(r["id"]) for r in rules if r.get("ignore_children")]
    if closure is not None and child_roots:
        descendants = (
            closure.filter(
                F.col("member").isin(child_roots) & (F.col("member") != F.col("taxon"))
            )
            .select(F.col("taxon").alias("taxid"))
            .distinct()
        )
        out = out.join(F.broadcast(descendants), "taxid", "left_anti")
    return out


def reclassify_species(
    docs: DataFrame,
    lookup: DataFrame,
    species_col: str = "species",
    agent_col: str = "infectiousAgent",
    id_col: str = "doc_id",
) -> DataFrame:
    """-> (id, species: array<struct<name,identifier>>, infectiousAgent:
    array<struct<name,identifier>>) after standardization, reclassification,
    converted-name filtering, and keep-first identifier dedup: one row per
    distinct id, with empty arrays for a doc without entries. Entry
    order within each output array is combined-list order."""
    def side(col: str, tag: int) -> DataFrame:
        # pos is NULL on the outer row of a doc without entries and on a
        # NULL entry: neither is collected, but the doc keeps its row
        return docs.select(F.col(id_col), F.posexplode_outer(col).alias("pos", "e")).select(
            id_col,
            F.when(F.col("e").isNotNull(), F.lit(tag * 100000) + F.col("pos")).alias("pos"),
            F.col("e.name").alias("orig_name"),
            F.col("e.identifier").alias("orig_ident"),
        )

    comb = side(species_col, 0).unionByName(side(agent_col, 1))
    lk = F.broadcast(lookup.select("name_lc", "std_name", "std_identifier", "classification"))
    std = (
        comb.join(lk, F.lower(F.trim(F.col("orig_name"))) == F.col("name_lc"), "left")
        .select(
            id_col, "pos", "orig_name",
            F.coalesce(F.col("std_name"), F.col("orig_name")).alias("name"),
            F.coalesce(F.col("std_identifier"), F.col("orig_ident")).alias("identifier"),
            # unmatched entries pass through UNCHANGED, keeping their
            # ORIGINAL side — modelling _apply_resolved_species
            # (pubtator.py:1271-1276: entries with no resolved standard
            # go back to the list they came from). NOTE the reference's
            # OTHER path, process_document's re-split (pubtator.py:
            # 877-880), instead sends classification-less items to the
            # species side; this operator deliberately models the
            # resolved-apply path, which is the one that preserves
            # curated infectiousAgent entries. The pos encoding carries
            # the side (tag*100000 + pos).
            F.coalesce(
                F.col("classification"),
                F.when(F.col("pos") >= 100000, F.lit("infectiousAgent")).otherwise(F.lit("host")),
            ).alias("classification"),
        )
    )
    # ONE shuffle: every standardized entry of a doc into one sorted
    # array (combined-list order via the side-encoded pos)
    per_doc = std.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(
                F.when(
                    F.col("pos").isNotNull(),
                    F.struct("pos", "orig_name", "name", "identifier", "classification"),
                )
            )
        ).alias("__es")
    )

    # row-local re-split + converted-name filter + keep-first dedup over
    # the tiny per-doc array (HOF interpretation cost is per element —
    # a handful per doc; the reference does exactly this in Python lists)
    es = F.col("__es")
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

    def keep_first_by_identifier(arr: F.Column) -> F.Column:
        # element i survives iff no EARLIER element carries its identifier
        return F.filter(
            arr,
            lambda e, i: ~F.exists(
                F.slice(arr, 1, i),
                lambda p: p.getField("identifier") == e.getField("identifier"),
            ),
        )

    def rendered(arr: F.Column) -> F.Column:
        return F.transform(
            keep_first_by_identifier(arr),
            lambda e: F.struct(
                e.getField("name").alias("name"),
                e.getField("identifier").alias("identifier"),
            ),
        )

    return per_doc.select(
        id_col,
        rendered(species_all).alias(species_col),
        rendered(agents_all).alias(agent_col),
    )
