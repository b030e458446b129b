"""Direct assertions of the BASELINE.json contract invariants: the
input_hint documents schema and the per-host politeness budget."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from nde_crawlers_spark.plans.crawl import CrawlConfig, CrawlRun
from nde_crawlers_spark.sources.synthetic import make_seeds, robots_rules


def _run(spark, rounds=2, seeds=60, hosts=8, round_seconds=2):
    run = CrawlRun(
        spark, tempfile.mkdtemp(prefix="inv_"),
        CrawlConfig(num_hosts=hosts, round_seconds=round_seconds, max_rounds=rounds),
    )
    s = make_seeds(seeds, hosts)
    run.run(seeds=spark.createDataFrame([(x["url"], x["priority"]) for x in s], ["url", "priority"]))
    return run


def test_documents_table_matches_input_hint_schema(spark):
    """input_hint: documents(doc_id: string, spans: array<struct<
    kind:string, text:string, media_ref:string, offset:int32>>)."""
    run = _run(spark, rounds=1)
    schema = {f.name: f.dataType.simpleString() for f in run.documents().schema.fields}
    assert schema["doc_id"] == "string"
    assert schema["spans"] == (
        "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )


def test_politeness_budget_never_exceeded(spark):
    """Per round, no host is fetched more than round_ms/crawl_delay_ms
    times — the DOWNLOAD_DELAY budget contract, asserted directly
    against the committed crawl order."""
    round_seconds = 2
    run = _run(spark, rounds=3, seeds=120, hosts=6, round_seconds=round_seconds)
    per = (
        run.crawl_order()
        .groupBy("round", "host")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert per, "no fetches recorded"
    for r in per:
        delay = robots_rules(r["host"])["crawl_delay_ms"]
        budget = round_seconds * 1000 if delay <= 0 else max(round_seconds * 1000 // delay, 1)
        assert r["n"] <= budget, (r["host"], r["round"], r["n"], budget)
