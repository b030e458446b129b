"""Tests: embedding memo cache (miss-only compute), incremental harvest
(window checkpoints, crash resume, TTL expiry, stale-source guard),
wrapper-pass operators."""

from __future__ import annotations

import re
import tempfile
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from nde_crawlers_spark.operators import nde_schema as NS
from nde_crawlers_spark.operators import wrapper as W
from nde_crawlers_spark.operators.embed import CACHE_SCHEMA, embed_with_cache, stub_embed
from nde_crawlers_spark.plans.incremental import IncrementalHarvest

from .conftest import SF001


def test_embed_with_cache_miss_only_compute(spark):
    docs = spark.read.parquet(f"{SF001}/documents.parquet").limit(50)
    empty = spark.createDataFrame([], CACHE_SCHEMA)
    enriched, cache1 = embed_with_cache(docs, empty)
    cache1 = cache1.cache()
    n_docs, n_cache = enriched.count(), cache1.count()
    assert n_docs == 50
    assert n_cache == docs.select(F.sha2(F.lower("text"), 256)).distinct().count()
    # values match the deterministic stub
    row = enriched.join(docs, "doc_id").select("text", "embedding").first()
    assert [round(x, 6) for x in row["embedding"]] == stub_embed(row["text"])
    # second pass: zero new cache rows (all hits)
    _, cache2 = embed_with_cache(docs, cache1)
    assert cache2.count() == n_cache
    cache1.unpersist()


def _events(spark):
    return spark.read.parquet(f"{SF001}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    )


LO = datetime(2024, 1, 1)
HI = datetime(2024, 1, 31)
STEP = timedelta(days=10)


def test_incremental_harvest_resume_and_ttl(spark):
    ev = _events(spark)
    full = ev.filter((F.col("ts") >= F.lit(LO)) & (F.col("ts") < F.lit(HI))).count()

    # crash before window 2, then resume: no loss, no duplicates
    d = tempfile.mkdtemp(prefix="ih_")
    h = IncrementalHarvest(spark, d, expire_days=90)
    with pytest.raises(RuntimeError, match="injected"):
        h.harvest(ev, "ts", LO, HI, STEP, now=HI, fail_at_window=2)
    assert h.checkpoint() is not None
    metas = h.harvest(ev, "ts", LO, HI, STEP, now=HI)
    assert len(metas) == 1  # only the remaining window re-ran
    assert h.harvested().count() == full
    assert h.harvested().select("event_id").distinct().count() == full

    # up-to-date checkpoint -> nothing to do
    assert h.harvest(ev, "ts", LO, HI, STEP, now=HI) == []

    # TTL expiry -> full re-harvest plan from lo
    start, windows = h.plan_windows(LO, HI, STEP, now=HI + timedelta(days=365))
    assert start == LO and len(windows) == 3

    # stale-source guard: source watermark behind the checkpoint
    with pytest.raises(RuntimeError, match="monotone-release"):
        h.plan_windows(LO, HI - timedelta(days=30), STEP, now=HI)


def test_adaptive_window_halving(spark):
    """A failing full-width window splits recursively (interval-halving
    retry, sql_database.py:428-464) and the harvest still completes with
    the full row set."""
    ev = _events(spark)
    full = ev.filter((F.col("ts") >= F.lit(LO)) & (F.col("ts") < F.lit(HI))).count()
    d = tempfile.mkdtemp(prefix="ihа_")
    h = IncrementalHarvest(spark, d, expire_days=90)
    metas = h.harvest_adaptive(
        ev, "ts", LO, HI, STEP, now=HI,
        failing={LO.isoformat()},  # first 10-day window fails at full width
    )
    widths = [m["width_s"] for m in metas]
    assert min(widths) < STEP.total_seconds()  # halving happened
    assert h.harvested().count() == full
    assert h.harvested().select("event_id").distinct().count() == full


def test_wrapper_operators(spark):
    df = spark.createDataFrame(
        [
            ("ID:One", "Dataset", "https://x", "Open", "2020-01-05", None, "2020-01-02",
             [{"name": "Mus musculus"}, {"name": " N/A "}, {"name": "unknown"}]),
            ("id:two", None, "https://y", "Restricted", None, "2021-06-01", "2020-01-01",
             [{"name": "Homo sapiens"}]),
            ("id:three", "Sample", None, "Weird", "2020-01-01", "2020-01-01", "2020-01-01", []),
        ],
        "id string, type string, url string, access string, d1 string, d2 string, d3 string,"
        " species array<struct<name:string>>",
    ).select(
        W.casefold_id(F.col("id")).alias("id"), "type", "url", "access",
        W.add_date(F.col("d1").cast("date"), F.col("d2").cast("date"), F.col("d3").cast("date")).alias("latest"),
        W.placeholder_filter(F.col("species")).alias("species"),
        NS.schema_violation_nde(F.col("type"), F.col("url"), F.col("access")).alias("violation"),
    )
    rows = {r["id"]: r for r in df.collect()}
    assert set(rows) == {"id:one", "id:two", "id:three"}
    assert str(rows["id:one"]["latest"]) == "2020-01-05"
    assert str(rows["id:two"]["latest"]) == "2021-06-01"
    assert [e["name"] for e in rows["id:one"]["species"]] == ["Mus musculus"]
    assert rows["id:one"]["violation"] is None
    assert rows["id:two"]["violation"] == "missing_type"
    assert rows["id:three"]["violation"] == "missing_url"  # url checked before enum
    valid, quarantined = W.check_schema_gate(
        df, F.col("violation")
    )
    assert valid.count() == 1 and quarantined.count() == 2


def test_round2_plans_broadcast_and_anti_join(spark):
    """Physical-plan assertions for the round-2 scale fixes:
    apply_merge_directives applies the merge as ONE broadcast join of
    its role table (the documents table is never shuffled), and the
    ngram-jaccard stop-shingle cap must remove hot shingles via a
    broadcast anti-join."""
    from nde_crawlers_spark.queries import dedup_ngram_jaccard, merge_apply_1x1

    plan = merge_apply_1x1(spark, SF001)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 1
    # the big side (documents scan) is never exchanged by the merge apply
    # itself: every Exchange in this plan is a broadcast exchange or
    # belongs to the tiny directives aggregation, not a repartition of
    # the documents table by join key
    assert "SortMergeJoin" not in plan

    # round-3 postings form: the df cap is enforced INSIDE the postings
    # aggregation (no stop-list anti-join pass), and the exploded corpus
    # is never self-joined — pairs are generated row-locally from each
    # postings list, so the only joins left are the two per-doc size
    # lookups
    jplan = dedup_ngram_jaccard(spark, SF001)._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" not in jplan
    import re as _re
    assert len(_re.findall(r"SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin", jplan)) <= 2


def test_lineage_closure_iterates_taxonomy_not_corpus(spark):
    """The lineage closure's iteration count depends on taxonomy depth
    only; expanding docs over the collected closure is a projection,
    with no join and no exchange, regardless of chain length."""
    from nde_crawlers_spark.operators.lineage import expand_lineage, taxonomy_closure

    tax = [(1, None), (2, 1), (3, 2), (4, 3), (5, 4)]
    closure = taxonomy_closure(tax)
    got = {
        (r["taxon"], r["member"], r["member_parent"]) for r in closure
    }
    # taxon 5's lineage: itself plus every ancestor, each with its parent
    assert {(5, 5, 4), (5, 4, 3), (5, 3, 2), (5, 2, 1), (5, 1, None)} <= got

    docs = spark.createDataFrame([(10, [5]), (11, [3, 2]), (12, [999])],
                                 "doc_id long, taxids array<int>")
    out = docs.select("doc_id", expand_lineage(F.col("taxids"), closure).alias("_meta_lineage"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"Join|\bExchange\b", plan), plan
    rows = {r["doc_id"]: r["_meta_lineage"] for r in out.collect()}
    assert [e["taxon"] for e in rows[10]] == [1, 2, 3, 4, 5]
    assert [e["taxon"] for e in rows[11]] == [1, 2, 3]
    assert rows[12] == []  # unknown taxid -> empty lineage


def test_lineage_root_edge_rows(spark):
    """A self-parent root (NCBI's ``1|1``: member 1 with parent 1) and a
    parentless root (parent NULL) each expand to exactly the closure's
    sorted (member, member_parent) pairs of the doc's taxids."""
    from nde_crawlers_spark.operators.lineage import expand_lineage, taxonomy_closure

    docs = spark.createDataFrame([(1, [1]), (2, [3]), (3, [2, 3, 1])], "doc_id long, taxids array<int>")
    for root_parent in (1, None):
        closure = taxonomy_closure([(1, root_parent), (2, 1), (3, 2)])
        out = docs.select("doc_id", expand_lineage(F.col("taxids"), closure).alias("l"))
        got = {r["doc_id"]: [tuple(e) for e in r["l"]] for r in out.collect()}
        for doc_id, taxids in ((1, [1]), (2, [3]), (3, [2, 3, 1])):
            want = sorted({(m, p) for t, m, p in closure if t in taxids})
            assert got[doc_id] == want, (root_parent, doc_id)
        assert got[1] == [(1, root_parent)]


# Docs that leave a per-document aggregate with nothing to aggregate:
# NULL and empty text, NULL and empty entity arrays (one holding a NULL
# entry), NULL taxids, an unknown taxid and a NULL taxid element.
_ENTITY = "array<struct<name:string,identifier:string>>"
_EDGE_DOCS = [
    (1, None, None, None, None),
    (2, "", [], [], []),
    (3, "   ", [("Homo sapiens", "9606")], None, [999]),
    (4, "The cat and the dog sat", [None, ("sars-cov-2", "x")], [], [3]),
    (5, "el gato y el perro", None, [("Unknown bug", "u1")], [None, 2]),
]


def _edge_frames(spark):
    docs = spark.createDataFrame(
        _EDGE_DOCS,
        f"doc_id long, text string, species {_ENTITY}, infectiousAgent {_ENTITY}, "
        "taxids array<int>",
    )
    lookup = {
        "homo sapiens": ("Homo sapiens", "taxon-9606", "host"),
        "sars-cov-2": ("SARS-CoV-2", "taxon-2697049", "infectiousAgent"),
    }
    # LN.taxonomy_closure of the chain 3 -> 2 -> 1, as collected rows
    closure = [(1, 1, None), (2, 2, 1), (2, 1, None), (3, 3, 2), (3, 2, 1), (3, 1, None)]
    return docs, lookup, closure


def _per_doc_operators(spark):
    """name -> (frame, id column) for the five per-document aggregates."""
    from nde_crawlers_spark.operators import dedup as DD
    from nde_crawlers_spark.operators import lineage as LN
    from nde_crawlers_spark.operators import standardize as SD
    from nde_crawlers_spark.operators import textops as TO

    docs, lookup, closure = _edge_frames(spark)
    return {
        "reclassify_species": (
            docs.select(
                "doc_id",
                SD.reclassify_species(F.col("species"), F.col("infectiousAgent"), lookup)
                .alias("r"),
            ).select("doc_id", "r.*"),
            "doc_id",
        ),
        "expand_lineage": (
            docs.select(
                "doc_id", LN.expand_lineage(F.col("taxids"), closure).alias("_meta_lineage")
            ),
            "doc_id",
        ),
        "simhash16_agg": (DD.simhash16_agg(docs), "id"),
        "simhash64_agg": (DD.simhash64_agg(docs), "id"),
        "token_stats": (TO.token_stats(docs), "doc_id"),
    }


def _simhash(text: str | None, nbits: int) -> int:
    """Python simhash: vote +1 on bit b of a token when bit (b % 4) of
    hex digit (b // 4 + 1) of its md5 is set (16 bits: digit b + 1's
    parity); the doc bit is set when its vote sum is positive."""
    import hashlib

    toks = [t for t in (text or "").lower().split() if t]
    out = 0
    for b in range(nbits):
        digit, bit = (b, 0) if nbits == 16 else (b // 4, b % 4)
        votes = sum(
            1 if (int(hashlib.md5(t.encode()).hexdigest()[digit], 16) >> bit) & 1 else -1
            for t in toks
        )
        out |= (votes > 0) << b
    return out


def test_per_doc_aggregates_cover_every_doc(spark):
    """Each per-document aggregate returns exactly one row per input id,
    also for docs with nothing to aggregate, and gives those docs the
    empty value: empty entity and lineage arrays, simhash 0, all-zero
    token stats."""
    from nde_crawlers_spark.functions import text as TX

    ops = _per_doc_operators(spark)
    got = {}
    for name, (df, id_col) in ops.items():
        rows = df.collect()
        assert sorted(r[id_col] for r in rows) == [1, 2, 3, 4, 5], name
        got[name] = {r[id_col]: r for r in rows}

    def entities(arr):
        return [(e["name"], e["identifier"]) for e in arr]

    rc = {i: (entities(r["species"]), entities(r["infectiousAgent"]))
          for i, r in got["reclassify_species"].items()}
    assert rc == {
        1: ([], []),
        2: ([], []),
        3: ([("Homo sapiens", "taxon-9606")], []),
        4: ([], [("SARS-CoV-2", "taxon-2697049")]),
        5: ([], [("Unknown bug", "u1")]),
    }
    lin = {i: [(e["taxon"], e["parent_taxon"]) for e in r["_meta_lineage"]]
           for i, r in got["expand_lineage"].items()}
    assert lin == {1: [], 2: [], 3: [], 4: [(1, None), (2, 1), (3, 2)], 5: [(1, None), (2, 1)]}

    texts = {d[0]: d[1] for d in _EDGE_DOCS}
    for i, text in texts.items():
        assert got["simhash16_agg"][i]["simhash"] == _simhash(text, 16), i
        assert got["simhash64_agg"][i]["simhash"] == _simhash(text, 63), i
        toks = (text or "").lower().split()
        want = {"n_tokens": len(toks), "sw_hits": sum(t in TX.EN_STOPWORDS for t in toks)}
        want.update({f"s_{lg}": sum(t in TX.LANG_STOPWORDS[lg] for t in toks)
                     for lg in TX.LANG_ORDER})
        assert got["token_stats"][i].asDict() == {"doc_id": i, **want}, i
    assert got["simhash16_agg"][4]["simhash"] != 0 and got["token_stats"][5]["s_es"] > 0


def test_per_doc_aggregates_never_join_on_id(spark):
    """No per-document aggregate joins its result back onto its own
    input: the groupBy on the id already yields every doc. No plan has a
    join, and the lineage and reclassification plans, projections over
    literal lookups, have no exchange either."""
    import re

    joins = re.compile(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin"
        r"|CartesianProduct)\b(.*)"
    )
    for name, (df, id_col) in _per_doc_operators(spark).items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        found = joins.findall(plan)
        for kind, keys in found:
            assert not re.search(rf"\b{id_col}#", keys), (name, kind, keys)
        assert found == [], (name, plan)
        if name in ("expand_lineage", "reclassify_species"):
            assert not re.search(r"\bExchange\b", plan), (name, plan)


def test_uploader_plan_scans_independent_of_sources(spark):
    """The registry dispatch scans the dump once, whatever the number of
    registered sources: every stage is a when()-dispatched column over
    literal lookups, and the disambiguation lookup is a broadcast join
    on the main frame. A registry twice the size must produce the
    identical physical scan count (the round-2 design built a
    filter-union branch per source; a later one a subset per stage
    kind)."""
    import re

    from nde_crawlers_spark.queries import _uploader_fixture, _uploader_lookups
    from nde_crawlers_spark.uploaders import UPLOADERS, run_uploader

    docs = _uploader_fixture(spark, SF001)
    lookups = _uploader_lookups(spark)

    def n_scans(registry):
        out = run_uploader(docs, registry, **lookups)
        plan = out._jdf.queryExecution().executedPlan().toString()
        return len(re.findall(r"Scan parquet|FileScan parquet", plan))

    # base = the REAL 59-entry registry (every reference uploader chain)
    base = n_scans(UPLOADERS)
    doubled = dict(UPLOADERS)
    for i in range(60):  # +60 synthetic sources across every stage kind
        doubled[f"extra{i}"] = frozenset(
            stage for stage, on in (
                ("doi", i % 3 == 0),
                ("recl", i % 5 == 0),
                ("ner", i % 5 == 2),
                ("fund", i % 5 == 3),
                ("pmid", i % 7 == 0),
                ("mt", i % 7 == 1),
                ("topic", i % 7 == 2),
            ) if on
        )
    assert n_scans(doubled) == base
    assert base == 1


def test_uploader_registry_plan_is_one_projection(spark):
    """The registry query over the 59-entry registry has no shuffle and
    one join, the disambiguation broadcast: every other stage is a
    column over a literal lookup."""
    import re

    from nde_crawlers_spark.queries import uploader_registry

    plan = uploader_registry(spark, SF001)._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bExchange\b", plan)) == 0, plan
    assert re.findall(r"\w+Join\b|CartesianProduct", plan) == ["BroadcastHashJoin"], plan


def test_trace_targets_resolve():
    """Every entry point perfbench's tracer wraps still exists under its
    name (the tracer looks each one up with getattr)."""
    from perfbench.trace import _targets

    missing = [(layer, attr) for layer, owner, attr, _ in _targets() if not hasattr(owner, attr)]
    assert missing == []


# A NER array with one entity of each kind the drop rules meet: a NULL
# entity, a kept one, a name-rule hit ('china'), a subtree hit (22 is a
# child of rule taxon 3), a NULL taxid, a NULL name, and a second kept one
_EDGE_NER = [None, ("ent-8", 8), ("china", 5), ("ent-22", 22), ("x", None), (None, 9),
             ("ent-9", 9)]


def test_run_uploader_edge_rows(spark):
    """run_uploader over a two-source registry and the fixture lookups,
    on rows that leave a stage nothing to do: NULL and empty ``ner`` and
    ``pmids``, a NULL entity, a NULL taxid, all-miss and duplicate
    PMIDs, NULL and unknown funding ids. An in-family row gets each
    stage's value, empty arrays where there is nothing to add; an
    out-of-family row keeps its entities and gets no citations or
    funder. A registered source with an empty chain still gets the
    wrapper tail (lineage, casefold); an unregistered one gets the
    casefold only; a row with a NULL source keeps its ``_id``."""
    from nde_crawlers_spark.queries import _uploader_lookups
    from nde_crawlers_spark.uploaders import run_uploader

    registry = {"fam": frozenset({"recl", "ner", "fund", "pmid"}), "bare": frozenset()}
    species = [None, ("organism-3", "x")]
    rows = [
        (1, "fam", None, None, None, None, None, None),
        (2, "fam", [], [], [], [], [], "grant:999"),
        (3, "fam", _EDGE_NER, ["pmid:1", "pmid:3"], [None, 8], species,
         [("organism-1", "y")], "grant:3"),
        (4, "fam", [("ent-50", 50), ("ent-9", 9)], ["pmid:2", "pmid:2", "pmid:0"], [60, 8],
         [("Foo", "f")], None, "grant:12"),
        (5, "other", _EDGE_NER, ["pmid:2"], [None, 8], species, None, "grant:3"),
        (6, "bare", _EDGE_NER, ["pmid:2"], [None, 8], species, None, "grant:3"),
        (7, None, _EDGE_NER, ["pmid:2"], [None, 8], species, None, "grant:3"),
    ]
    docs = spark.createDataFrame(
        [(f"ID:{r[0]}", *r) for r in rows],
        f"_id string, doc_id long, source string, ner array<struct<name:string,taxid:int>>, "
        f"pmids array<string>, taxids array<int>, species {_ENTITY}, "
        f"infectiousAgent {_ENTITY}, funding_id string",
    )
    out = {r["doc_id"]: r for r in run_uploader(docs, registry, **_uploader_lookups(spark)).collect()}
    assert sorted(out) == [1, 2, 3, 4, 5, 6, 7]

    def ents(arr):
        return None if arr is None else [None if e is None else tuple(e) for e in arr]

    assert {i: ents(r["ner"]) for i, r in out.items()} == {
        1: [], 2: [], 3: [("ent-8", 8), ("ent-9", 9)], 4: [("ent-9", 9)], 5: _EDGE_NER,
        6: _EDGE_NER, 7: _EDGE_NER,
    }
    assert {i: r["citations"] for i, r in out.items()} == {
        1: [], 2: [], 3: [], 4: ["cite-0", "cite-2", "cite-2"], 5: [], 6: [], 7: [],
    }
    # parent(t) = max(t / 7, 1): 8 -> 1 and 60 -> 8 -> 1
    assert {i: ents(r["_meta_lineage"]) for i, r in out.items()} == {
        1: [], 2: [], 3: [(1, None), (8, 1)], 4: [(1, None), (8, 1), (60, 8)], 5: [],
        6: [(1, None), (8, 1)], 7: [],
    }
    assert {i: r["funder_name"] for i, r in out.items()} == {
        1: None, 2: None, 3: "funder-3", 4: "funder-5", 5: None, 6: None, 7: None,
    }
    assert {i: (ents(r["species"]), ents(r["infectiousAgent"])) for i, r in out.items()} == {
        1: ([], []),
        2: ([], []),
        3: ([("taxon-1", "tax:2001")], [("taxon-3", "tax:2003")]),
        4: ([("Foo", "f")], []),
        5: (species, None),
        6: (species, None),
        7: (species, None),
    }
    assert {i: r["_id"] for i, r in out.items()} == {
        **{i: f"id:{i}" for i in range(1, 7)}, 7: "ID:7",
    }


def test_uploader_registry_enrichment_chains(spark):
    """The REAL registry's stage kinds actually transform their rows:
    immport (standardize_data + standardize_funding + mt + topic) rows
    are reclassified + funder-enriched, every WRAPPED source carries
    lineage and a casefolded _id, node (load_pmid_ctfd +
    process_descriptions) rows gain citations and lose dropped NER
    entities, zenodo promotes DOIs, and empty-chain sources
    (workflowhub — no load_data of its own) still get the INHERITED
    wrapper tail (lineage + casefold, nde.py:119-127) with no
    pre-wrapper stage side effects."""
    from nde_crawlers_spark.queries import _uploader_fixture, _uploader_lookups
    from nde_crawlers_spark.uploaders import run_uploader

    docs = _uploader_fixture(spark, SF001)
    out = run_uploader(docs, **_uploader_lookups(spark)).cache()

    # immport: matched species standardized (taxon- name) + funder hit
    imm = out.filter(F.col("source") == "immport")
    std_names = imm.select(F.explode("species").alias("e")).select("e.name")
    assert std_names.filter(F.col("name").startswith("taxon-")).count() > 0
    assert imm.filter(F.col("funder_name").isNotNull()).count() > 0
    assert imm.filter(F.col("technique_std").isNotNull()).count() > 0
    assert imm.filter(F.col("topic").isNotNull()).count() > 0
    # every wrapped source carries lineage — including empty-chain
    # workflowhub, whose inherited base load_data is itself wrapped
    assert out.filter((F.col("source") == "immport") & (F.size("_meta_lineage") == 0)).count() == 0
    assert out.filter((F.col("source") == "workflowhub") & (F.size("_meta_lineage") == 0)).count() == 0
    # node (process_descriptions): rule-hit entities dropped; citations on
    nd = out.filter(F.col("source") == "node")
    assert nd.select(F.explode("ner").alias("e")).filter(F.col("e.name") == "china").count() == 0
    assert nd.filter(F.size("citations") > 0).count() > 0
    # immunespace (standardize_data only): NER untouched, no citations
    ims = out.filter(F.col("source") == "immunespace")
    assert ims.select(F.explode("ner").alias("e")).filter(F.col("e.name") == "china").count() > 0
    assert ims.filter(F.size("citations") > 0).count() == 0
    # zenodo: single valid DOI promoted into _id (then casefolded)
    zen = out.filter(F.col("source") == "zenodo")
    assert zen.filter(F.col("_id").startswith("10.")).count() > 0
    # empty-chain source: the inherited wrapper tail still casefolds _id
    wf = out.filter(F.col("source") == "workflowhub").select("_id").first()
    assert wf["_id"].startswith("workflowhub:rec:")
    out.unpersist()



def test_hub_lookups_run_no_spark_job(spark):
    """The hub lookups, taxonomy closure included, are built on the
    driver: building them and the lineage query's plan runs no Spark job
    and leaves nothing persisted (a cached closure input would leak one
    RDD and ~19 jobs per cold session)."""
    from nde_crawlers_spark.queries import _uploader_lookups, enrich_lineage_expand

    tracker = spark.sparkContext.statusTracker()
    last_job = lambda: max(tracker.getJobIdsForGroup(None), default=-1)  # noqa: E731
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    jobs, cached = last_job(), persisted().size()
    lookups = _uploader_lookups(spark)
    enrich_lineage_expand(spark, SF001)
    assert last_job() == jobs
    assert persisted().size() == cached
    assert len(lookups["closure"]) == 689


def test_pipeline_plan_build_budget(spark, monkeypatch):
    """Building the hub pipeline's DataFrame stays a cheap driver step:
    at most 2,500 py4j round-trips from the building thread (~7.3k, and
    ~8.5k with object releases, before the call-site hook went off and
    the fixture became SQL text) and no Spark job. Object releases are
    sent by py4j's finalizer thread at its own pace, for earlier work
    too, so they are not counted."""
    import threading

    from py4j.java_gateway import GatewayClient

    from nde_crawlers_spark.queries import QUERIES

    tracker = spark.sparkContext.statusTracker()
    last_job = lambda: max(tracker.getJobIdsForGroup(None), default=-1)  # noqa: E731
    calls, send, me = [0], GatewayClient.send_command, threading.current_thread()

    def counted(self, *args, **kwargs):
        calls[0] += threading.current_thread() is me
        return send(self, *args, **kwargs)

    jobs = last_job()
    monkeypatch.setattr(GatewayClient, "send_command", counted)
    QUERIES["nde_pipeline_e2e"](spark, SF001)
    monkeypatch.undo()
    assert calls[0] <= 2500
    assert last_job() == jobs


def test_pipeline_e2e_no_extra_shuffles(spark):
    """The composed hub lifecycle (registry dispatch -> 1x1 key dedup ->
    directive application -> wrapper gate) stays ONE lazy plan whose
    shuffle count is bounded by the registry plan plus the merge stage's
    own budget: one exchange for the key-dedup aggregation and no
    sort-merge join (the role table is broadcast) — composition must not
    multiply corpus shuffles. Catalyst also PRUNES unused stage joins
    (the pipeline output omits `ner`, so the drop-rules join disappears),
    which this guards too. Running the pipeline once takes at most 5
    Spark jobs."""
    import re

    from nde_crawlers_spark.queries import QUERIES

    def counts(name):
        plan = QUERIES[name](spark, SF001)._jdf.queryExecution().executedPlan().toString()
        # \bExchange\b = SHUFFLE exchanges only: BroadcastExchange (a
        # dim-table ship, repeated wherever the plan tree embeds the
        # registry frame, deduped by ReuseExchange at runtime) is not a
        # corpus shuffle and scales with plan-tree size, not data
        # movement
        return (
            len(re.findall(r"\bExchange\b", plan)),
            len(re.findall(r"SortMergeJoin", plan)),
        )

    ex_reg, smj_reg = counts("uploader_registry")
    ex_pipe, smj_pipe = counts("nde_pipeline_e2e")
    assert ex_pipe <= ex_reg + 1
    assert smj_pipe <= smj_reg + 0

    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    QUERIES["nde_pipeline_e2e"](spark, SF001).collect()
    assert len(tracker.getJobIdsForGroup(None)) - before <= 5


def _parse_reference_chains():
    """Derive every uploader's (wrapped, chain) by PARSING the reference
    uploader sources with ``ast`` — independent of the registry table,
    so a transcription error in ``uploaders._CHAINS`` fails the test.

    Rules (hub/dataload/nde.py):
    - a class with NO ``load_data`` inherits the base ``load_data``,
      which is itself decorated ``@nde_upload_wrapper``
      (NDESourceUploader nde.py:119-127, NDESourceSampleUploader
      nde.py:1407-1415, NDECombinedUploader nde.py:2237 extends
      NDESourceUploader) -> wrapped, empty chain;
    - a class WITH ``load_data`` is wrapped iff the method carries the
      ``@nde_upload_wrapper`` decorator;
    - the chain is the source-order sequence of stage-helper calls in
      the ``load_data`` body (load_pmid_ctfd / standardize_funding /
      standardize_data / process_descriptions /
      process_measurement_technique / add_topic_category /
      add_disambiguating_description)."""
    import ast
    from pathlib import Path

    src = Path("/root/reference/biothings-hub/files/nde-hub/hub/dataload/sources")
    stage_of = {
        "load_pmid_ctfd": "pmid",
        "standardize_funding": "fund",
        "standardize_data": "recl",
        "process_descriptions": "ner",
        "process_measurement_technique": "mt",
        "add_topic_category": "topic",
        "add_disambiguating_description": "disamb",
    }
    wrapped_bases = {"NDESourceUploader", "NDESourceSampleUploader", "NDECombinedUploader"}

    def base_name(b):
        return getattr(b, "id", None) or getattr(b, "attr", None)

    chains = {}
    for d in sorted(p for p in src.iterdir() if p.is_dir()):
        for up in sorted(d.glob("*uploader*.py")):
            # ncbi_geo ships two uploaders: gse_uploader.py, gsm_uploader.py
            key = d.name if up.name == "uploader.py" else f"{up.name.split('_')[0]}_{d.name}"
            tree = ast.parse(up.read_text())
            for node in tree.body:
                if not isinstance(node, ast.ClassDef):
                    continue
                if not any(str(base_name(b)).endswith("Uploader") for b in node.bases):
                    continue
                load = next(
                    (m for m in node.body
                     if isinstance(m, ast.FunctionDef) and m.name == "load_data"),
                    None,
                )
                if load is None:
                    bases = {base_name(b) for b in node.bases}
                    assert bases & wrapped_bases, f"{key}: no load_data, non-NDE base {bases}"
                    chains[key] = (True, "")
                    continue
                wrapped = any(
                    getattr(dec, "id", getattr(dec, "attr", None)) == "nde_upload_wrapper"
                    for dec in load.decorator_list
                )
                calls = sorted(
                    (
                        (c.lineno, c.col_offset, stage_of[fn])
                        for c in ast.walk(load)
                        if isinstance(c, ast.Call)
                        and (fn := getattr(c.func, "id", getattr(c.func, "attr", None)))
                        in stage_of
                    ),
                )
                chains[key] = (wrapped, " ".join(s for _, _, s in calls))
    return chains


def test_registry_matches_reference_chains():
    """Every one of the 59 reference uploader classes
    (hub/dataload/sources/** — 58 dirs, ncbi_geo ships gse+gsm) resolves
    to a stage-token set that matches its load_data chain. The expected
    table is DERIVED by parsing the reference uploader sources
    (``_parse_reference_chains``), so any registry drift — wrong stage
    order, a missed wrapper decoration, a phantom source — fails here.
    Spot anchors: immport/uploader.py:23-31 (recl fund ner disamb mt
    topic, wrapped), zenodo/uploader.py:27-111 (sqlite version merge + DOI
    promotion, wrapped, no pre-wrapper stages), workflowhub/uploader.py
    (no load_data of its own -> inherits the WRAPPED base load_data,
    nde.py:119-127), node/uploader.py:15-21
    (pmid fund recl ner mt topic)."""
    from nde_crawlers_spark.uploaders import _CHAINS, UPLOADERS

    expected = _parse_reference_chains()
    assert _CHAINS == {name: chain for name, (_w, chain) in expected.items()}
    assert len(UPLOADERS) == 59
    # ALL 59 are wrapped: the six classes without their own load_data
    # (bioconductor, dockstore, gxa, sb_apps, veupath_collections,
    # workflowhub) inherit the base load_data, itself @nde_upload_wrapper
    assert sum(1 for _, (w, _c) in expected.items() if w) == 59
    for name, (_wrapped, chain) in expected.items():
        stages = UPLOADERS[name]
        # per-source pre-wrapper stage tokens
        assert stages - {"doi"} == set(chain.split()), name
        # add_disambiguating_description ships in exactly two chains
        # (immport/uploader.py:27, clinepidb/uploader.py:33)
        assert ("disamb" in stages) == (name in ("immport", "clinepidb")), name
        # zenodo's sqlite version merge + DOI promotion
        assert ("doi" in stages) == (name == "zenodo"), name


def test_prefix_scan_predicate_pushdown(spark):
    """S17: a prefix/equality predicate over the documents table must
    reach the parquet scan as PushedFilters with a pruned ReadSchema —
    the difference between scanning 2 columns of matching row groups
    and scanning everything at 100 TB."""
    import re

    df = (
        spark.read.parquet(f"{SF001}/documents.parquet")
        .filter(F.col("source") == "src3")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "source")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m, plan
    pushed = m.group(1)
    assert "EqualTo(source,src3)" in pushed and "LessThan(doc_id,100)" in pushed
    rs = re.search(r"ReadSchema: (\S+)", plan)
    assert rs and set(re.findall(r"(\w+):", rs.group(1))) <= {"struct", "doc_id", "source"}
