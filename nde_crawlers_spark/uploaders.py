"""Per-source uploader registry — the reference's 59 uploader chains as data.

Every reference source ships an uploader whose ``load_data`` is a chain
over the same stage vocabulary in per-source order (SURVEY §2.11).
``_CHAINS`` is the verbatim extraction of each of the 59 real uploader
classes' pre-wrapper ``load_data`` call sequence, and ``UPLOADERS`` maps
each source to the set of stage tokens its chain runs. ``run_uploader``
applies every chain in one DataFrame program, dispatching on the tokens:

- ``doi``    zenodo (zenodo/files/uploader.py:27-111): records carry
  DOIs -> version merge happens upstream, the uploader promotes single
  DOIs into ``_id`` (utils/utils.py:189-204 merge_duplicates).
- ``recl``   standardize_data (utils/pubtator.py:839-927): PubTator
  species/infectiousAgent reclassification.
- ``fund``   standardize_funding (utils/funding_helper.py): funder lookup.
- ``ner``    process_descriptions (utils/extract.py:23-59
  ADVANCED_DROP_RULES): heuristic entity drops incl. subtree rules.
- ``pmid``, ``mt``, ``topic``, ``disamb``: citation, measurement
  technique, topic category and disambiguating-description lookups.
- the wrapper tail, on every registered source: taxonomy lineage into
  ``_meta.lineage`` (utils/lineage.py:140-307) and the placeholder-term
  scrub of ``author`` (utils/utils.py:34-66); every row with a source
  ends in the ``_id`` casefold (utils.py:394).

Scale shape — ONE dispatch class: every stage is a
``when(source IN family)`` column expression, and all of them form ONE
projection over the dump: one scan and one codegen'd pass regardless of
how many sources the registry holds. No subset, explode, regroup or
join-back, and no per-source branch in the plan. The reference runs
each stage per record against in-memory memo dicts (funder_cache, the
PubTator lookup, lineage_lookup — utils/funding_helper.py:18-29,
utils/lineage.py:9,29-37); here those dicts are literal maps read with
``element_at``, so a lookup is row-local too. Only the disambiguation
CSV (thousands of rows, keyed by (source, lowercase _id)) stays a
broadcast join.

Adding a source is adding a dict entry; the physical plan's scan count
does not change (tests/test_enrichment_plans.py::test_uploader_plan_scans).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.literals import literal
from .operators import lineage as LN
from .operators import nde_schema as NS
from .operators import standardize as SD
from .operators import wrapper as W

_NER_SQL = "array<struct<name:string,taxid:int>>"


# The reference's uploader chains AS DATA — one row per uploader class
# under hub/dataload/sources/** (59 uploaders across 58 dirs; ncbi_geo
# ships two, gse + gsm). Each entry is the pre-wrapper stage call
# sequence extracted verbatim from the uploader's load_data body:
#
#   pmid      -> load_pmid_ctfd (utils/pmid_helper.py): citation
#                enrichment by PMID.
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
#   corrections.py:428-449 — is a scan, not a transform: no token.)
#
# "Wrapped" is not a per-entry field because it never varies: every one
# of the 59 load_data methods is @nde_upload_wrapper-decorated
# (utils/utils.py:352-403: lineage annotation, corrections-by-id,
# add_date, metadata score, HTML strip, placeholder-term scrub, schema
# gate, _id casefold, 16MB size gate). The six sources without a
# load_data of their own (bioconductor, dockstore, gxa, sb_apps,
# veupath_collections, workflowhub) inherit NDESourceUploader.load_data,
# itself decorated (hub/dataload/nde.py:119-127), so they are wrapped
# with an empty chain. No bare chain exists upstream, so being
# registered is what selects the wrapper tail in run_uploader.
_CHAINS: dict[str, str] = {
    "acd_niaid": "pmid fund recl topic",
    "ark": "pmid fund recl mt",
    "bacdive": "pmid fund recl ner",
    "bei": "recl ner",
    "bioconductor": "",
    "biocontainers": "pmid fund",
    "biosample": "recl mt",
    "biostudies": "recl mt topic",
    "biotools": "fund ner",
    "bv_brc": "recl fund",
    "ceirr": "fund recl ner",
    "clinepidb": "pmid fund recl ner mt topic disamb",
    "clingen": "recl fund",
    "covid_radx": "pmid fund recl ner mt topic",
    "dash": "pmid fund recl topic",
    "dataverse": "fund ner topic",
    "dbaasp": "recl fund",
    "dbgap": "pmid fund recl topic mt",
    "dde": "pmid fund recl ner mt topic",
    "dockstore": "",
    "dryad": "fund ner topic",
    "emdb": "recl fund",
    "empiar": "pmid fund recl ner",
    "figshare": "ner",
    "flowrepository": "pmid fund ner topic",
    "gxa": "",
    "hca": "recl ner",
    "hubmap": "ner mt topic",
    "immport": "recl fund ner disamb mt topic",
    "immunespace": "recl",
    "lincs": "fund ner mt topic",
    "malariagen": "ner",
    "massive": "recl ner mt",
    "mendeley": "pmid recl fund ner topic",
    "microbiomedb": "pmid fund ner",
    "mwccs": "recl fund mt",
    # ncbi_bioproject and gsm_ncbi_geo ship COMMENTED-OUT
    # process_descriptions / add_topic_category calls (uploader.py:19,21
    # and gsm_uploader.py:21-22) — dead code is not part of the chain.
    "ncbi_bioproject": "pmid fund recl mt",
    "gse_ncbi_geo": "pmid fund recl ner mt topic",
    "gsm_ncbi_geo": "recl mt",
    "ncbi_pmc": "pmid fund",
    "ncbi_sra": "recl ner mt topic",
    "ncbi_virus": "recl",
    "ndex": "pmid recl topic",
    "node": "pmid fund recl ner mt topic",
    "omicsdi": "pmid fund recl ner mt topic",
    "pdb": "recl fund",
    "proteomexchange": "pmid fund recl ner",
    "qiita": "pmid fund ner topic",
    "reframedb": "pmid fund recl mt ner topic",
    "sb_apps": "",
    "tycho": "fund recl",
    "uniprot": "recl fund",
    "usidnet": "recl",
    "vdj": "pmid fund recl ner mt topic",
    "veupath_collections": "",
    "veupathdb": "pmid fund recl ner mt topic",
    "vivli": "recl fund ner topic",
    "workflowhub": "",
    "zenodo": "",
}


# zenodo's uploader body also runs the sqlite version merge + DOI
# promotion (zenodo/uploader.py:27-111) in place of a load_data helper
# -> its entry adds the ``doi`` token.
UPLOADERS: dict[str, frozenset[str]] = {
    name: frozenset(chain.split()) | ({"doi"} if name == "zenodo" else set())
    for name, chain in _CHAINS.items()
}

# The oracle fixtures carry 20 synthetic sources (src0..src19 in the
# documents table); they are mapped 1:1 onto these 20 REAL uploader
# names — chosen to span the token space (zenodo DOI promotion,
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


def fixture_family(stage: str) -> list[str]:
    """The sorted fixture-source subset whose chain runs ``stage`` —
    shared by the Spark queries and the DuckDB oracle generators
    (oracles.py), so the two can never drift."""
    return sorted(s for s in FIXTURE_SOURCES if stage in UPLOADERS[s])


def _in_family(names: list[str]) -> F.Column:
    """``source IN ('a','b',...)`` as ONE parsed SQL expression.
    ``F.col(...).isin(names)`` costs one py4j round-trip PER literal
    (~1 ms each), which with 59-source families made driver-side plan
    BUILD dominate the registry query's wall time (profiled r5: ~10k
    java calls, isin alone >1s). Source names are [a-z0-9_] registry
    keys, safe to embed."""
    vals = ",".join("'" + n + "'" for n in names)
    return F.expr(f"source IN ({vals})")


def run_uploader(
    docs: DataFrame,
    registry: dict[str, frozenset[str]] | None = None,
    *,
    species_lookup: dict | None = None,
    closure: tuple | None = None,
    ner_rules: list[dict] | None = None,
    funding_lookup: dict | None = None,
    pmid_lookup: dict | None = None,
    mt_lookup: dict | None = None,
    topic_lookup: dict | None = None,
    disamb_lookup: DataFrame | None = None,
) -> DataFrame:
    """Apply each source's registered chain to its rows — one lazy plan.

    ``registry`` maps a source to its chain's stage tokens, as
    ``UPLOADERS`` does. ``docs`` must carry ``_id`` and ``source``;
    stage columns are required only when a registered family uses the
    stage: ``doi`` (array<string>) for doi promotion, ``author`` for the
    placeholder scrub, ``species``/``infectiousAgent`` for
    reclassification, ``taxids`` for lineage, ``ner``
    (array<struct<name,taxid>>) for drop rules, ``pmids`` for citations,
    and ``funding_id`` / ``technique`` / ``topic_key`` for their
    lookups. The lookups are Python data: ``species_lookup`` name_lc ->
    (std_name, std_identifier, classification), ``closure`` the taxonomy
    closure rows (taxon, member, member_parent), the other dicts key ->
    value; only ``disamb_lookup`` is a DataFrame (source, _id_lc,
    disambiguatingDescription). A stage whose lookup or input column is
    missing is skipped. Every registered source gets the wrapper tail
    (lineage, placeholder scrub, casefold); unknown sources get the
    default chain (casefold only), and a row without a source is left
    uncased."""
    reg = registry if registry is not None else UPLOADERS
    cols = set(docs.columns)
    out = docs
    # every stage but the casefold reads original columns: one projection
    stage: dict[str, F.Column] = {}

    def family(token: str) -> F.Column | None:
        names = sorted(s for s, stages in reg.items() if token in stages)
        return _in_family(names) if names else None

    wrapped = _in_family(sorted(reg)) if reg else None

    xs = family("disamb")
    if xs is not None and disamb_lookup is not None:
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
        out = out.join(
            dl,
            (F.lower(F.col("_id")) == F.col("__d_id")) & (F.col("source") == F.col("__d_src")),
            "left",
        )
        stage["disambiguatingDescription"] = F.when(xs, F.col("__d_desc"))

    rs = family("recl")
    if rs is not None and species_lookup is not None and {"species", "infectiousAgent"} <= cols:
        rc = SD.reclassify_species(F.col("species"), F.col("infectiousAgent"), species_lookup)
        stage["__rc"] = F.when(rs, rc)

    if wrapped is not None and closure is not None and "taxids" in cols:
        lineage = LN.expand_lineage(F.col("taxids"), closure)
        stage["_meta_lineage"] = F.when(wrapped, lineage).otherwise(F.array().cast(LN.LINEAGE_SQL))

    ds = family("ner")
    if ds is not None and ner_rules and "ner" in cols:
        kept = SD.apply_drop_rules(F.col("ner"), ner_rules, closure)
        stage["ner"] = F.when(ds, F.coalesce(kept, F.array().cast(_NER_SQL))).otherwise(F.col("ner"))

    ps = family("pmid")
    if ps is not None and pmid_lookup is not None and "pmids" in cols:
        # load_pmid_ctfd (utils/pmid_helper.py): each PMID's citation
        # from the memo, misses skipped, sorted
        m = literal(pmid_lookup, "map<string,string>")
        cites = F.filter(
            F.transform(F.coalesce(F.col("pmids"), F.array()), lambda p: F.element_at(m, p)),
            lambda c: c.isNotNull(),
        )
        stage["citations"] = F.when(ps, F.array_sort(cites)).otherwise(
            F.array().cast("array<string>")
        )

    # the scalar memo lookups (funder_cache, the measurement-technique
    # standardizer, the topic classifier), masked to their families
    for token, lookup, key, name, ddl in (
        ("fund", funding_lookup, "funding_id", "funder_name", "map<string,string>"),
        ("mt", mt_lookup, "technique", "technique_std", "map<string,string>"),
        ("topic", topic_lookup, "topic_key", "topic", "map<int,string>"),
    ):
        fam = family(token)
        if fam is not None and lookup is not None and key in cols:
            stage[name] = F.when(fam, F.element_at(literal(lookup, ddl), F.col(key)))

    dois = family("doi")
    if dois is not None and "doi" in cols:
        new_id, new_doi = NS.promote_doi_id(F.col("_id"), F.col("doi"))
        stage["_id"] = F.when(dois, new_id).otherwise(F.col("_id"))
        stage["doi"] = F.when(dois, new_doi).otherwise(F.col("doi"))

    if wrapped is not None and "author" in cols:
        stage["author"] = F.when(wrapped, W.placeholder_filter(F.col("author"))).otherwise(
            F.col("author")
        )

    # the wrapper and the default chain both end in the casefold, so it
    # runs for every row that has a source
    last = {
        "_id": F.when(F.col("source").isNotNull(), W.casefold_id(F.col("_id"))).otherwise(
            F.col("_id")
        )
    }
    if "__rc" in stage:
        # both sides read the one reclassified struct (a second projection
        # keeps Catalyst from evaluating it per side)
        last |= {
            c: F.coalesce(F.col("__rc").getField(c), F.col(c)) for c in ("species", "infectiousAgent")
        }
    return out.withColumns(stage).withColumns(last).drop("__rc", "__d_src", "__d_id", "__d_desc")
