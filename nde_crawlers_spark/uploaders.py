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

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.literals import literal
from .operators import lineage as LN
from .operators import nde_schema as NS
from .operators import standardize as SD
from .operators import wrapper as W

_NER_SQL = "array<struct<name:string,taxid:int>>"


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
    species_lookup: dict | None = None,
    closure: tuple | None = None,
    ner_rules: list[dict] | None = None,
    funding_lookup: dict | None = None,
    pmid_lookup: dict | None = None,
    mt_lookup: dict | None = None,
    topic_lookup: dict | None = None,
    disamb_lookup: DataFrame | None = None,
    source_col: str = "source",
) -> DataFrame:
    """Apply each source's registered chain to its rows — one lazy plan.

    ``docs`` must carry ``_id``; stage columns are required only when a
    registered family uses the stage: ``doi`` (array<string>) for doi
    promotion, entity columns for placeholder scrubbing,
    ``species``/``infectiousAgent`` for reclassification, ``taxids`` for
    lineage, ``ner`` (array<struct<name,taxid>>) for drop rules,
    ``pmids`` for citations, and ``funding_id`` / ``technique`` /
    ``topic_key`` for their lookups. The lookups are Python data:
    ``species_lookup`` name_lc -> (std_name, std_identifier,
    classification), ``closure`` the taxonomy closure rows (taxon,
    member, member_parent), the other dicts key -> value; only
    ``disamb_lookup`` is a DataFrame (source, _id_lc,
    disambiguatingDescription). A stage whose lookup or input column is
    missing is skipped. Unknown sources get the default chain (casefold
    only)."""
    reg = registry if registry is not None else UPLOADERS
    cols = set(docs.columns)
    out = docs

    def family(pred) -> F.Column | None:
        names = _family(reg, pred)
        return _in_family(source_col, names) if names else None

    xs = family(lambda sp: sp.disambiguate)
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
        out = (
            out.join(
                dl,
                (F.lower(F.col("_id")) == F.col("__d_id"))
                & (F.col(source_col) == F.col("__d_src")),
                "left",
            )
            .withColumn("disambiguatingDescription", F.when(xs, F.col("__d_desc")))
            .drop("__d_src", "__d_id", "__d_desc")
        )

    # every other stage reads original columns: one projection
    stage: dict[str, F.Column] = {}
    rs = family(lambda sp: sp.reclassify)
    if rs is not None and species_lookup is not None and {"species", "infectiousAgent"} <= cols:
        rc = SD.reclassify_species(F.col("species"), F.col("infectiousAgent"), species_lookup)
        stage["__rc"] = F.when(rs, rc)

    ls = family(lambda sp: sp.lineage)
    if ls is not None and closure is not None and "taxids" in cols:
        stage["_meta_lineage"] = F.when(ls, LN.expand_lineage(F.col("taxids"), closure)).otherwise(
            F.array().cast(LN.LINEAGE_SQL)
        )

    ds = family(lambda sp: sp.drop_rules)
    if ds is not None and ner_rules and "ner" in cols:
        kept = SD.apply_drop_rules(F.col("ner"), ner_rules, closure)
        stage["ner"] = F.when(ds, F.coalesce(kept, F.array().cast(_NER_SQL))).otherwise(F.col("ner"))

    ps = family(lambda sp: sp.pmid)
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
    for pred, lookup, key, name, ddl in (
        (lambda sp: sp.funding, funding_lookup, "funding_id", "funder_name", "map<string,string>"),
        (lambda sp: sp.measurement_technique, mt_lookup, "technique", "technique_std",
         "map<string,string>"),
        (lambda sp: sp.topic_category, topic_lookup, "topic_key", "topic", "map<int,string>"),
    ):
        fam = family(pred)
        if fam is not None and lookup is not None and key in cols:
            stage[name] = F.when(fam, F.element_at(literal(lookup, ddl), F.col(key)))

    dois = family(lambda sp: sp.promote_doi)
    if dois is not None and "doi" in cols:
        new_id, new_doi = NS.promote_doi_id(F.col("_id"), F.col("doi"))
        stage["_id"] = F.when(dois, new_id).otherwise(F.col("_id"))
        stage["doi"] = F.when(dois, new_doi).otherwise(F.col("doi"))

    scrub: dict[str, list[str]] = {}
    for s, sp in reg.items():
        for c in sp.placeholder_fields:
            if c in cols:  # stage inputs a source family may lack
                scrub.setdefault(c, []).append(s)
    for c, srcs in sorted(scrub.items()):
        stage[c] = F.when(
            _in_family(source_col, sorted(srcs)), W.placeholder_filter(F.col(c))
        ).otherwise(F.col(c))

    # an unregistered source gets the default chain, which casefolds
    folds = _family(reg, lambda sp: sp.casefold_id)
    unknown_is_folded = ~_in_family(source_col, sorted(reg)) | _in_family(source_col, folds)
    last = {"_id": F.when(unknown_is_folded, W.casefold_id(F.col("_id"))).otherwise(F.col("_id"))}
    if "__rc" in stage:
        # both sides read the one reclassified struct (a second projection
        # keeps Catalyst from evaluating it per side)
        last |= {
            c: F.coalesce(F.col("__rc").getField(c), F.col(c)) for c in ("species", "infectiousAgent")
        }
    return out.withColumns(stage).withColumns(last).drop("__rc")
