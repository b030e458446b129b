"""Fetch dispatch: Arrow-batched fetch (+ fused parse) with bounded retries.

The reference fetches with Twisted-async Scrapy downloaders or
requests+retry decorators (utils/utils.py:69-100); throughput is
politeness-bound, not CPU-bound. Here fetch is an Arrow-batch stage over
the round's selected URLs.

``fetch_parse`` is the FUSED hot path used by the crawl plan and
benchmarks: fetch + parse-to-spans inside one ``mapInArrow`` stage, so
page bodies never cross the JVM<->Python boundary (they are produced and
consumed inside the same Python worker). Span/outlink columns are built
as flat pyarrow ListArrays (no per-row dicts) — measured ~6x faster
end-to-end than a two-stage mapInPandas pipeline.

Partitioning: ``colocate=True`` (crawl mode) repartitions by host_bucket
so one task owns a host's batch — the per-host serialization that
implements AUTOTHROTTLE_TARGET_CONCURRENCY=1.0 — with rows sorted in
frontier order so a real fetcher would pace requests per politeness
delays. Per-round budgets bound each host's rows, keeping buckets
balanced. ``colocate=False`` (bulk/backfill mode, politeness enforced
upstream at selection time) repartitions uniformly on url_hash — maximal
parallelism, immune to host skew.

The fetch body is INJECTABLE: ``fetch_parse`` takes a ``fetcher``
callable ``(canonical_url) -> record dict`` with keys status/attempts/
kind/body/bytes/retry_after_s/latency_ms. The default is the
deterministic synthetic corpus (sources/synthetic.py::synth_fetch); the
real-socket implementation is ``http_fetch.HttpFetcher`` (stdlib
urllib, bounded retries, Retry-After capture) — proven equivalent over
loopback in tests/test_http_fetch.py. The Spark plumbing is identical
either way.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.synthetic import synth_fetch
from .parse import parse_record

SPAN_FIELDS = [("kind", pa.string()), ("text", pa.string()),
               ("media_ref", pa.string()), ("offset", pa.int32())]

FUSED_SCHEMA = T.StructType(
    [
        T.StructField("url_hash", T.StringType()),
        T.StructField("canonical_url", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("host_bucket", T.IntegerType()),
        T.StructField("priority", T.IntegerType()),
        T.StructField("seq", T.LongType()),
        T.StructField("status", T.IntegerType()),
        T.StructField("attempts", T.IntegerType()),
        T.StructField("bytes", T.LongType()),
        T.StructField("fetch_wall_ms", T.LongType()),
        # Retry-After seconds from the final attempt (0 unless the fetch
        # ended 429) — consumed by the next round's host budgets
        T.StructField("retry_after_s", T.IntegerType()),
        # deterministic observed latency (synthetic corpus DATA, not
        # wall-clock) — the AutoThrottle adaptation input; in production
        # this is the measured download latency per response
        T.StructField("latency_ms", T.IntegerType()),
        T.StructField(
            "spans",
            T.ArrayType(T.StructType([
                T.StructField("kind", T.StringType()),
                T.StructField("text", T.StringType()),
                T.StructField("media_ref", T.StringType()),
                T.StructField("offset", T.IntegerType()),
            ])),
        ),
        T.StructField("outlinks", T.ArrayType(T.StringType())),
        # 1->N fan-out: extra documents emitted by the same fetched record
        # (SRA study -> dataset + N samples). Dataset spans stay in
        # `spans`; each subdoc is (role, its own span sequence).
        T.StructField(
            "subdocs",
            T.ArrayType(T.StructType([
                T.StructField("role", T.StringType()),
                T.StructField(
                    "spans",
                    T.ArrayType(T.StructType([
                        T.StructField("kind", T.StringType()),
                        T.StructField("text", T.StringType()),
                        T.StructField("media_ref", T.StringType()),
                        T.StructField("offset", T.IntegerType()),
                    ])),
                ),
            ])),
        ),
    ]
)

_PASS = ["url_hash", "canonical_url", "host", "host_bucket", "priority", "seq"]


def _partition(selected: DataFrame, colocate: bool, partitions: int | None) -> DataFrame:
    cols = selected.select(*_PASS)
    if colocate:
        return cols.repartition(F.col("host_bucket")).sortWithinPartitions(
            "host", "priority", "seq", "url_hash"
        )
    if partitions is None:
        # input already well-partitioned (e.g. bucketed frontier scan):
        # map over it shuffle-free
        return cols
    return cols.repartition(partitions, F.col("url_hash"))


def _default_fetcher(num_hosts: int) -> Callable[[str], dict]:
    def _f(url: str) -> dict:
        return synth_fetch(url, num_hosts)
    return _f


def fetch_parse(
    selected: DataFrame,
    num_hosts: int,
    colocate: bool = True,
    partitions: int | None = None,
    fetcher: Callable[[str], dict] | None = None,
) -> DataFrame:
    """FUSED fetch + parse: one Arrow stage, bodies never leave the
    Python worker; span/outlink list columns built from flat arrays.
    Failed fetches (status != 200) carry empty spans/outlinks."""
    fetcher = fetcher or _default_fetcher(num_hosts)

    def _run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            t0 = time.monotonic()
            canon = b.column("canonical_url").to_pylist()
            statuses, attempts, nbytes = [], [], []
            s_kind: list[str] = []
            s_text: list[str] = []
            s_media: list[str] = []
            s_off: list[int] = []
            span_offsets = [0]
            flat_links: list[str] = []
            link_offsets = [0]
            # subdoc fan-out: flat span arrays + two offset levels
            # (spans-per-subdoc, subdocs-per-url)
            sub_role: list[str] = []
            ss_kind: list[str] = []
            ss_text: list[str] = []
            ss_media: list[str] = []
            ss_off: list[int] = []
            sspan_offsets = [0]
            subdoc_offsets = [0]
            retry_afters: list[int] = []
            latencies: list[int] = []
            for u in canon:
                f = fetcher(u)
                statuses.append(f["status"])
                attempts.append(f["attempts"])
                nbytes.append(f["bytes"])
                retry_afters.append(f["retry_after_s"])
                latencies.append(f["latency_ms"])
                if f["status"] == 200:
                    docs, links = parse_record(f["kind"], f["body"])
                    for k, t, m, o in docs[0][1]:
                        s_kind.append(k); s_text.append(t); s_media.append(m); s_off.append(o)
                    for role, sspans in docs[1:]:
                        sub_role.append(role)
                        for k, t, m, o in sspans:
                            ss_kind.append(k); ss_text.append(t); ss_media.append(m); ss_off.append(o)
                        sspan_offsets.append(len(ss_kind))
                    flat_links.extend(links)
                span_offsets.append(len(s_kind))
                link_offsets.append(len(flat_links))
                subdoc_offsets.append(len(sub_role))
            wall = int((time.monotonic() - t0) * 1000)
            n = len(canon)
            struct = pa.StructArray.from_arrays(
                [pa.array(s_kind, pa.string()), pa.array(s_text, pa.string()),
                 pa.array(s_media, pa.string()), pa.array(s_off, pa.int32())],
                names=[f[0] for f in SPAN_FIELDS],
            )
            spans_arr = pa.ListArray.from_arrays(pa.array(span_offsets, pa.int32()), struct)
            links_arr = pa.ListArray.from_arrays(
                pa.array(link_offsets, pa.int32()), pa.array(flat_links, pa.string())
            )
            ss_struct = pa.StructArray.from_arrays(
                [pa.array(ss_kind, pa.string()), pa.array(ss_text, pa.string()),
                 pa.array(ss_media, pa.string()), pa.array(ss_off, pa.int32())],
                names=[f[0] for f in SPAN_FIELDS],
            )
            ss_spans = pa.ListArray.from_arrays(pa.array(sspan_offsets, pa.int32()), ss_struct)
            subdoc_struct = pa.StructArray.from_arrays(
                [pa.array(sub_role, pa.string()), ss_spans], names=["role", "spans"]
            )
            subdocs_arr = pa.ListArray.from_arrays(
                pa.array(subdoc_offsets, pa.int32()), subdoc_struct
            )
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("url_hash"), b.column("canonical_url"), b.column("host"),
                    b.column("host_bucket"), b.column("priority"), b.column("seq"),
                    pa.array(statuses, pa.int32()), pa.array(attempts, pa.int32()),
                    pa.array(nbytes, pa.int64()),
                    pa.array([wall] * n, pa.int64()),
                    pa.array(retry_afters, pa.int32()),
                    pa.array(latencies, pa.int32()),
                    spans_arr, links_arr, subdocs_arr,
                ],
                names=[f.name for f in FUSED_SCHEMA.fields],
            )

    return _partition(selected, colocate, partitions).mapInArrow(_run, schema=FUSED_SCHEMA)
