"""Per-source uploader registry — the reference's 59 uploader chains as data.

Every reference source ships an uploader whose ``load_data`` is a chain
over the same stage vocabulary in per-source order (SURVEY §2.11).
``UPLOADERS`` enumerates ALL 59 real uploader classes (the ``_CHAINS``
table below is the verbatim extraction of each ``load_data`` body's
pre-wrapper call sequence plus its wrapper decoration);
``run_uploader`` applies every chain in one DataFrame program:

- zenodo family  (zenodo/files/uploader.py:27-111): records carry DOIs ->
  version merge happens upstream, the uploader promotes single DOIs into
  ``_id`` (utils/utils.py:189-204 merge_duplicates).
- immport family (hub/dataload/sources/immport/uploader.py:27-40:
  ``standardize_data -> standardize_funding -> ...``): PubTator
  species/infectiousAgent reclassification (utils/pubtator.py:839-927)
  plus the funder lookup (utils/funding_helper.py).
- ncbi_sra family (ncbi_sra/uploader.py + utils/lineage.py:140-307):
  taxonomy lineage annotation into ``_meta.lineage``.
- pubtator-NER family (utils/extract.py:23-59 ADVANCED_DROP_RULES):
  heuristic entity drops incl. subtree rules.
- geo family (ncbi_geo/uploader.py): placeholder-term scrubbing of
  entity lists (utils/utils.py:34-66).
- every uploader ends in the wrapper's ``_id`` casefold (utils.py:394).

Scale shape — the two dispatch classes:

1. **Row-local stages** (doi promote, placeholder scrub, casefold) are
   ``when(source IN family)`` column expressions — ONE scan and one
   codegen'd projection regardless of how many sources the registry
   holds. No filter-union, no per-source branch in the plan.
2. **Operator stages** (reclassify, lineage, drop rules, funding) each
   run ONCE over the subset of rows whose family opted in and join back
   on the doc id — cost is one subset scan + one join per stage KIND
   (bounded vocabulary, ~4), never per source. The funding lookup is a
   broadcast join on the full frame (no subset scan at all), masked to
   the family.

Adding a source is adding a dict entry; the physical plan's scan count
does not change (tests/test_enrichment_plans.py::test_uploader_plan_scans).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators import lineage as LN
from .operators import nde_schema as NS
from .operators import standardize as SD
from .operators import wrapper as W

_ENTITY_SQL = "array<struct<name:string,identifier:string>>"
_NER_SQL = "array<struct<name:string,taxid:int>>"
_LIN_SQL = "array<struct<taxon:int,parent_taxon:int>>"


@dataclass(frozen=True)
class UploaderSpec:
    """One source's chain: which stages run, in the reference's
    canonical order (source stages -> doi promote -> wrapper casefold).
    ``stages`` records the reference uploader's literal pre-wrapper call
    sequence; the boolean flags are what ``run_uploader`` dispatches on
    (stage kinds touch disjoint columns, so kind-wise dispatch preserves
    the per-source chain semantics)."""
    promote_doi: bool = False            # zenodo-style doi -> _id
    placeholder_fields: tuple[str, ...] = ()  # wrapper drop_placeholder_terms
    reclassify: bool = False             # pubtator species/agent standardization
    lineage: bool = False                # taxonomy _meta.lineage annotation
    drop_rules: bool = False             # NER heuristic drops (+subtrees)
    funding: bool = False                # funder lookup enrichment
    pmid: bool = False                   # load_pmid_ctfd citation enrichment
    measurement_technique: bool = False  # process_measurement_technique
    topic_category: bool = False         # add_topic_category
    disambiguate: bool = False           # add_disambiguating_description
    casefold_id: bool = True             # utils.py:394 — every WRAPPED uploader
    stages: tuple[str, ...] = ()         # reference load_data call order


# The reference's uploader chains AS DATA — one row per uploader class
# under hub/dataload/sources/** (59 uploaders across 58 dirs; ncbi_geo
# ships two, gse + gsm). Each entry is (wrapped, pre-wrapper stage call
# sequence) extracted verbatim from the uploader's load_data body:
#
#   wrapped   -> @nde_upload_wrapper (utils/utils.py:352-403): lineage
#                annotation, corrections-by-id, add_date, metadata
#                score, HTML strip, placeholder-term scrub, schema
#                gate, _id casefold, 16MB size gate — the universal
#                tail every wrapped chain shares.
#   pmid      -> load_pmid_ctfd (utils/pmid_helper.py): citation
#                enrichment by PMID (explode -> lookup join -> regroup).
#   fund      -> standardize_funding (utils/funding_helper.py).
#   recl      -> standardize_data (utils/pubtator.py:272+): PubTator
#                species / infectiousAgent standardization.
#   ner       -> process_descriptions (utils/extract.py): NER entity
#                extraction incl. ADVANCED_DROP_RULES.
#   mt        -> process_measurement_technique (utils/mt_standardizer).
#   topic     -> add_topic_category (utils/topic_category_helper).
#   disamb    -> add_disambiguating_description (utils/
#                disambiguating_description.py:14-39): a per-source
#                CSV keyed by LOWERCASE _id adds a
#                disambiguatingDescription field to matching docs —
#                a broadcast lookup join. Called by immport (between
#                ner and mt, uploader.py:27) and clinepidb (last,
#                uploader.py:35) only.
#   (load_documents — the corrections ndjson LOADER, utils/
#   corrections.py:428-449 — is a scan, not a transform: no flag.)
#
# Six sources (bioconductor, dockstore, gxa, sb_apps,
# veupath_collections, workflowhub) define NO load_data of their own:
# they inherit NDESourceUploader.load_data, which is itself decorated
# @nde_upload_wrapper (hub/dataload/nde.py:119-127) — so they ARE
# wrapped with an empty pre-wrapper chain. Every one of the 59
# uploaders is wrapped; no bare chain exists upstream.
#
# zenodo's uploader body additionally runs the sqlite version merge +
# DOI promotion (zenodo/uploader.py:27-111) -> promote_doi.
_CHAINS: dict[str, tuple[bool, str]] = {
    "acd_niaid": (True, "pmid fund recl topic"),
    "ark": (True, "pmid fund recl mt"),
    "bacdive": (True, "pmid fund recl ner"),
    "bei": (True, "recl ner"),
    "bioconductor": (True, ""),
    "biocontainers": (True, "pmid fund"),
    "biosample": (True, "recl mt"),
    "biostudies": (True, "recl mt topic"),
    "biotools": (True, "fund ner"),
    "bv_brc": (True, "recl fund"),
    "ceirr": (True, "fund recl ner"),
    "clinepidb": (True, "pmid fund recl ner mt topic disamb"),
    "clingen": (True, "recl fund"),
    "covid_radx": (True, "pmid fund recl ner mt topic"),
    "dash": (True, "pmid fund recl topic"),
    "dataverse": (True, "fund ner topic"),
    "dbaasp": (True, "recl fund"),
    "dbgap": (True, "pmid fund recl topic mt"),
    "dde": (True, "pmid fund recl ner mt topic"),
    "dockstore": (True, ""),
    "dryad": (True, "fund ner topic"),
    "emdb": (True, "recl fund"),
    "empiar": (True, "pmid fund recl ner"),
    "figshare": (True, "ner"),
    "flowrepository": (True, "pmid fund ner topic"),
    "gxa": (True, ""),
    "hca": (True, "recl ner"),
    "hubmap": (True, "ner mt topic"),
    "immport": (True, "recl fund ner disamb mt topic"),
    "immunespace": (True, "recl"),
    "lincs": (True, "fund ner mt topic"),
    "malariagen": (True, "ner"),
    "massive": (True, "recl ner mt"),
    "mendeley": (True, "pmid recl fund ner topic"),
    "microbiomedb": (True, "pmid fund ner"),
    "mwccs": (True, "recl fund mt"),
    # ncbi_bioproject and gsm_ncbi_geo ship COMMENTED-OUT
    # process_descriptions / add_topic_category calls (uploader.py:19,21
    # and gsm_uploader.py:21-22) — dead code is not part of the chain.
    "ncbi_bioproject": (True, "pmid fund recl mt"),
    "gse_ncbi_geo": (True, "pmid fund recl ner mt topic"),
    "gsm_ncbi_geo": (True, "recl mt"),
    "ncbi_pmc": (True, "pmid fund"),
    "ncbi_sra": (True, "recl ner mt topic"),
    "ncbi_virus": (True, "recl"),
    "ndex": (True, "pmid recl topic"),
    "node": (True, "pmid fund recl ner mt topic"),
    "omicsdi": (True, "pmid fund recl ner mt topic"),
    "pdb": (True, "recl fund"),
    "proteomexchange": (True, "pmid fund recl ner"),
    "qiita": (True, "pmid fund ner topic"),
    "reframedb": (True, "pmid fund recl mt ner topic"),
    "sb_apps": (True, ""),
    "tycho": (True, "fund recl"),
    "uniprot": (True, "recl fund"),
    "usidnet": (True, "recl"),
    "vdj": (True, "pmid fund recl ner mt topic"),
    "veupath_collections": (True, ""),
    "veupathdb": (True, "pmid fund recl ner mt topic"),
    "vivli": (True, "recl fund ner topic"),
    "workflowhub": (True, ""),
    "zenodo": (True, ""),
}


def _spec(name: str, wrapped: bool, chain: str) -> UploaderSpec:
    stages = tuple(chain.split()) if chain else ()
    s = set(stages)
    return UploaderSpec(
        # all 59 reference uploaders are wrapped (the six without their
        # own load_data inherit the wrapped base, nde.py:119-127); the
        # `wrapped` param is kept so a hypothetical bare uploader still
        # round-trips through the spec builder.
        promote_doi=(name == "zenodo"),
        placeholder_fields=("author",) if wrapped else (),
        reclassify="recl" in s,
        lineage=wrapped,          # process_lineage runs inside the wrapper
        drop_rules="ner" in s,
        funding="fund" in s,
        pmid="pmid" in s,
        measurement_technique="mt" in s,
        topic_category="topic" in s,
        disambiguate="disamb" in s,
        casefold_id=wrapped,
        stages=stages,
    )


UPLOADERS: dict[str, UploaderSpec] = {
    name: _spec(name, wrapped, chain) for name, (wrapped, chain) in _CHAINS.items()
}

# The oracle fixtures carry 20 synthetic sources (src0..src19 in the
# documents table); they are mapped 1:1 onto these 20 REAL uploader
# names — chosen to span the spec space (zenodo DOI promotion,
# empty-chain wrapper-only sources like workflowhub/bioconductor, every
# combination of pmid/fund/recl/ner/mt/topic that occurs) — so the
# flagship registry queries dispatch on the REAL registry, not a
# synthetic one.
FIXTURE_SOURCES: list[str] = [
    "zenodo", "immport", "ncbi_sra", "gse_ncbi_geo", "figshare",
    "hubmap", "biocontainers", "dataverse", "bv_brc", "uniprot",
    "dryad", "biosample", "immunespace", "malariagen", "ncbi_pmc",
    "vivli", "workflowhub", "bioconductor", "acd_niaid", "node",
]


def fixture_family(flag: str) -> list[str]:
    """The sorted fixture-source subset whose spec enables ``flag`` —
    shared by the Spark queries and the DuckDB oracle generators
    (oracles.py), so the two can never drift."""
    return sorted(s for s in FIXTURE_SOURCES if getattr(UPLOADERS[s], flag))


def _family(registry: dict[str, UploaderSpec], pred) -> list[str]:
    return sorted(s for s, sp in registry.items() if pred(sp))


def _in_family(source_col: str, names: list[str]) -> F.Column:
    """``source IN ('a','b',...)`` as ONE parsed SQL expression.
    ``F.col(...).isin(names)`` costs one py4j round-trip PER literal
    (~1 ms each), which with 59-source families made driver-side plan
    BUILD dominate the registry query's wall time (profiled r5: ~10k
    java calls, isin alone >1s). Source names are [a-z0-9_] registry
    keys, safe to embed."""
    if not names:
        return F.lit(False)
    vals = ",".join("'" + n + "'" for n in names)
    return F.expr(f"{source_col} IN ({vals})")


def run_uploader(
    docs: DataFrame,
    registry: dict[str, UploaderSpec] | None = None,
    *,
    species_lookup: DataFrame | None = None,
    closure: DataFrame | None = None,
    ner_rules: list[dict] | None = None,
    funding_lookup: DataFrame | None = None,
    pmid_lookup: DataFrame | None = None,
    mt_lookup: DataFrame | None = None,
    topic_lookup: DataFrame | None = None,
    disamb_lookup: DataFrame | None = None,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply each source's registered chain to its rows — one lazy plan.

    ``docs`` must carry ``_id``; stage columns are required only when a
    registered family uses the stage: ``doi`` (array<string>) for doi
    promotion, entity columns for placeholder scrubbing,
    ``species``/``infectiousAgent`` for reclassification, ``taxids`` for
    lineage, ``ner`` (array<struct<name,taxid>>) for drop rules, and
    ``funding_id`` for the funder lookup. Unknown sources get the
    default chain (casefold only)."""
    reg = registry if registry is not None else UPLOADERS
    out = docs

    # ---- operator stages: one subset + one join per stage KIND --------
    # Subsets are carved from the ORIGINAL frame (stage inputs are
    # original columns), so stage plans stay independent and the base is
    # scanned 1 + #operator-stage-kinds times total. The reclassify,
    # lineage and pmid stages return one row per family doc, so a NULL
    # after their join-back marks a doc outside the family.
    rs = _family(reg, lambda sp: sp.reclassify)
    if rs and species_lookup is not None and {"species", "infectiousAgent"} <= set(docs.columns):
        sub = docs.filter(_in_family(source_col, rs)).select(
            id_col, "species", "infectiousAgent"
        )
        red = SD.reclassify_species(sub, species_lookup).select(
            id_col,
            F.col("species").alias("__r_species"),
            F.col("infectiousAgent").alias("__r_agents"),
        )
        out = (
            out.join(red, id_col, "left")
            .withColumn("species", F.coalesce(F.col("__r_species"), F.col("species")))
            .withColumn(
                "infectiousAgent", F.coalesce(F.col("__r_agents"), F.col("infectiousAgent"))
            )
            .drop("__r_species", "__r_agents")
        )

    ls = _family(reg, lambda sp: sp.lineage)
    if ls and closure is not None and "taxids" in docs.columns:
        sub = docs.filter(_in_family(source_col, ls)).select(id_col, "taxids")
        lin = LN.expand_lineage(sub, closure).select(
            id_col, F.col("_meta_lineage").alias("__lin")
        )
        out = (
            out.join(lin, id_col, "left")
            .withColumn("_meta_lineage", F.coalesce(F.col("__lin"), F.array().cast(_LIN_SQL)))
            .drop("__lin")
        )

    ds = _family(reg, lambda sp: sp.drop_rules)
    if ds and ner_rules and "ner" in docs.columns:
        sub = (
            docs.filter(_in_family(source_col, ds))
            .select(id_col, F.posexplode("ner").alias("pos", "e"))
            .select(id_col, "pos", F.col("e.name").alias("name"), F.col("e.taxid").alias("taxid"))
        )
        kept = SD.apply_drop_rules(sub, ner_rules, closure, id_col=id_col)
        regrouped = kept.groupBy(id_col).agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "name", "taxid"))),
                lambda s: F.struct(
                    s.getField("name").alias("name"), s.getField("taxid").alias("taxid")
                ),
            ).alias("__ner")
        )
        in_f = _in_family(source_col, ds)
        out = (
            out.join(regrouped, id_col, "left")
            .withColumn(
                "ner",
                F.when(in_f, F.coalesce(F.col("__ner"), F.array().cast(_NER_SQL))).otherwise(
                    F.col("ner")
                ),
            )
            .drop("__ner")
        )

    xs = _family(reg, lambda sp: sp.disambiguate)
    if xs and disamb_lookup is not None:
        # add_disambiguating_description (utils/disambiguating_
        # description.py:14-39): per-source CSV keyed by LOWERCASE _id
        # -> a broadcast lookup join on (source, lower(_id)) adding the
        # disambiguatingDescription field; docs without a CSV row (or
        # outside the family) keep NULL. Joined before the wrapper
        # casefold, exactly where the reference chains call it — the
        # reference lowercases both sides of the key, so ordering vs
        # casefold cannot change the match set.
        dl = F.broadcast(disamb_lookup.select(
            F.col("source").alias("__d_src"),
            F.col("_id_lc").alias("__d_id"),
            F.col("disambiguatingDescription").alias("__d_desc"),
        ))
        out = (
            out.join(
                dl,
                (F.lower(F.col("_id")) == F.col("__d_id"))
                & (F.col(source_col) == F.col("__d_src")),
                "left",
            )
            .withColumn(
                "disambiguatingDescription",
                F.when(_in_family(source_col, xs), F.col("__d_desc")).otherwise(
                    F.lit(None).cast("string")
                ),
            )
            .drop("__d_src", "__d_id", "__d_desc")
        )

    ps = _family(reg, lambda sp: sp.pmid)
    if ps and pmid_lookup is not None and "pmids" in docs.columns:
        # load_pmid_ctfd (utils/pmid_helper.py): explode the per-doc PMID
        # array, broadcast-join the citation lookup, regroup sorted —
        # the J1 shape, one subset + one regroup shuffle for ALL pmid
        # sources together
        sub = docs.filter(_in_family(source_col, ps)).select(
            id_col, F.explode_outer("pmids").alias("pmid")
        )
        per = (
            sub.join(F.broadcast(pmid_lookup), "pmid", "left")
            .groupBy(id_col)
            .agg(F.array_sort(F.collect_list("citation")).alias("__cit"))
        )
        out = (
            out.join(per, id_col, "left")
            .withColumn("citations", F.coalesce(F.col("__cit"), F.array().cast("array<string>")))
            .drop("__cit")
        )

    fs = _family(reg, lambda sp: sp.funding)
    if fs and funding_lookup is not None and "funding_id" in out.columns:
        # broadcast join on the whole frame (no subset scan), masked to
        # the family — the funder_cache hit path (utils/funding_helper.py)
        out = out.join(F.broadcast(funding_lookup), on="funding_id", how="left").withColumn(
            "funder_name",
            F.when(_in_family(source_col, fs), F.col("funder_name")).otherwise(
                F.lit(None).cast("string")
            ),
        )

    ms = _family(reg, lambda sp: sp.measurement_technique)
    if ms and mt_lookup is not None and "technique" in out.columns:
        # process_measurement_technique: scalar standardization via a
        # broadcast dim on the whole frame, masked to the family (the
        # funding-lookup shape — no subset scan)
        out = out.join(F.broadcast(mt_lookup), on="technique", how="left").withColumn(
            "technique_std",
            F.when(_in_family(source_col, ms), F.col("technique_std")).otherwise(
                F.lit(None).cast("string")
            ),
        )

    ts = _family(reg, lambda sp: sp.topic_category)
    if ts and topic_lookup is not None and "topic_key" in out.columns:
        # add_topic_category: the classifier output modeled as a
        # broadcast keyed lookup, masked to the family
        out = out.join(F.broadcast(topic_lookup), on="topic_key", how="left").withColumn(
            "topic",
            F.when(_in_family(source_col, ts), F.col("topic")).otherwise(
                F.lit(None).cast("string")
            ),
        )

    # ---- row-local stages: when() dispatch, zero extra scans ----------
    dois = _family(reg, lambda sp: sp.promote_doi)
    if dois and "doi" in out.columns:
        new_id, new_doi = NS.promote_doi_id(F.col("_id"), F.col("doi"))
        in_f = _in_family(source_col, dois)
        out = out.withColumn("_id", F.when(in_f, new_id).otherwise(F.col("_id"))).withColumn(
            "doi", F.when(in_f, new_doi).otherwise(F.col("doi"))
        )

    scrub: dict[str, list[str]] = {}
    for s, sp in reg.items():
        for c in sp.placeholder_fields:
            if c in out.columns:  # stage inputs a source family may lack
                scrub.setdefault(c, []).append(s)
    for c, srcs in sorted(scrub.items()):
        out = out.withColumn(
            c,
            F.when(
                _in_family(source_col, sorted(srcs)), W.placeholder_filter(F.col(c))
            ).otherwise(F.col(c)),
        )

    # an unregistered source gets the default chain, which casefolds
    folds = _family(reg, lambda sp: sp.casefold_id)
    unknown_is_folded = ~_in_family(source_col, sorted(reg)) | _in_family(source_col, folds)
    out = out.withColumn(
        "_id", F.when(unknown_is_folded, W.casefold_id(F.col("_id"))).otherwise(F.col("_id"))
    )
    return out
