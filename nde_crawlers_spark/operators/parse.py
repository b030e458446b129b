"""Parse/normalize stage: wire bytes -> interleaved text+media spans.

The reference implements one parser per source (HTML XPath:
ncbi_geo_crawler/files/spider.py:88-119; DataCite XML:
zenodo/files/zenodo.py:120-278; JSON: immport/files/immport.py:37-90;
SOFT flat files: hub/dataload/sources/ncbi_geo/parser.py:30-53) and each
is a row->rows generator (SURVEY §2.11). Here the four wire formats
normalize into ONE canonical output — the BASELINE.json input_hint table:

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)

plus the extracted outlinks that feed the frontier.

``parse_body`` is the single source of truth, plain Python: the Spark
path (operators/fetch.py::fetch_parse) calls it inside an Arrow-batched
``mapInArrow`` (never row-at-a-time UDF), and the single-threaded
Python oracle (plans/oracle.py) calls the very same function — so the
span-sequence-equality invariant (same (kind, text, media_ref) in the
same order) checks Spark's plumbing (batching, partitioning, schema)
rather than two parser implementations.

Span order is canonical: title, description, author, date, keyword*,
media* — offsets strictly increasing cumulative text positions.
"""

from __future__ import annotations

import json
import re
import xml.etree.ElementTree as ET
from html.parser import HTMLParser

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_HTML_RX = {
    "title": re.compile(r"<title>(.*?)</title>", re.S),
    "desc": re.compile(r'<p class="desc">(.*?)</p>', re.S),
    "author": re.compile(r'<span class="author">(.*?)</span>', re.S),
    "date": re.compile(r"<time>(.*?)</time>", re.S),
    "kw": re.compile(r'<meta name="keywords" content="(.*?)"/>'),
    "media": re.compile(r'<img src="(.*?)"/>'),
    "link": re.compile(r'<a href="(.*?)">'),
    "sample": re.compile(r'<div class="sample"><b class="st">(.*?)</b><i class="sd">(.*?)</i></div>', re.S),
}
# (xml is parsed with ElementTree; html JSON-LD pages with HTMLParser —
# the regex table below is the fast path for plain tag-structured html)


class _HtmlDoc(HTMLParser):
    """Real HTMLParser extraction — the JSON-LD scrape-fallback path
    (S13): collects ``<script type="application/ld+json">`` payloads and
    ``<a href>`` outlinks from pages whose metadata lives only in the
    embedded schema.org block. Regex stays the fast path for the plain
    tag-structured pages (one substring probe decides)."""

    def __init__(self) -> None:
        super().__init__()
        self.in_ld = False
        self.ld_blocks: list[str] = []
        self.links: list[str] = []

    def handle_starttag(self, tag, attrs):
        a = dict(attrs)
        if tag == "script" and a.get("type") == "application/ld+json":
            self.in_ld = True
            self.ld_blocks.append("")
        elif tag == "a" and "href" in a:
            self.links.append(a["href"])

    def handle_endtag(self, tag):
        if tag == "script":
            self.in_ld = False

    def handle_data(self, data):
        if self.in_ld:
            self.ld_blocks[-1] += data


def _parse_json_family(rec: dict):
    """Shared field extraction for raw-JSON bodies and JSON-LD blocks."""
    title = rec.get("name", "")
    desc = rec.get("description", "")
    author = (rec.get("author") or {}).get("name", "")
    date = rec.get("datePublished", "")
    kws = rec.get("keywords", [])
    media = [d.get("contentUrl", "") for d in rec.get("distribution", [])]
    samples = [(s.get("title", ""), s.get("description", "")) for s in rec.get("samples", [])]
    return title, desc, author, date, kws, media, samples


def parse_record(kind: str, body: str) -> tuple[list[tuple[str, list[tuple]]], list[str]]:
    """-> (docs, outlinks): the 1->N document fan-out parse. One fetched
    record emits the dataset doc (role '') plus one doc per embedded
    sample (role 's0', 's1', ... — the SRA study -> dataset + samples
    shape, ncbi_sra/files/ncbi_sra.py:381+ and
    vdj/files/dataset_parser.py). Each doc is (role, spans); spans are
    (kind, text, media_ref, offset). Sample docs carry title +
    description spans in canonical order."""
    samples: list[tuple[str, str]]
    if kind == "soft":
        # line-oriented `!Key = value` fold into dict-of-scalar-or-list
        # (SOFT flat-file parse, ncbi_geo/parser.py:30-53 analog)
        acc: dict[str, list[str]] = {}
        for line in body.splitlines():
            if not line.startswith("!") or " = " not in line:
                continue
            key, val = line[1:].split(" = ", 1)
            acc.setdefault(key, []).append(val)
        one = lambda key: acc.get(key, [""])[0]  # noqa: E731
        title, desc = one("Series_title"), one("Series_summary")
        author, date = one("Series_contributor"), one("Series_submission_date")
        kws = acc.get("Series_keyword", [])
        media = acc.get("Series_supplementary_file", [])
        links = acc.get("Series_relation", [])
        samples = list(zip(acc.get("Sample_title", []), acc.get("Sample_summary", [])))
    elif kind == "json":
        rec = json.loads(body)
        title, desc, author, date, kws, media, samples = _parse_json_family(rec)
        links = rec.get("links", [])
    elif kind == "html" and "application/ld+json" in body:
        # JSON-LD scrape fallback: metadata lives only in the embedded
        # schema.org block — real HTMLParser extraction, not regex
        doc = _HtmlDoc()
        doc.feed(body)
        rec = json.loads(doc.ld_blocks[0]) if doc.ld_blocks else {}
        title, desc, author, date, kws, media, samples = _parse_json_family(rec)
        links = doc.links
    elif kind == "xml":
        # real tree parse (ElementTree), not regex: tolerant of attribute
        # noise / reordering a regex would miss
        root = ET.fromstring(body)
        find = lambda p: (root.findtext(f".//{p}") or "")  # noqa: E731
        title, desc = find("title"), find("description")
        author, date = find("creatorName"), find("date")
        kws = [e.text or "" for e in root.iter("subject")]
        media = [e.text or "" for e in root.iter("contentUrl")]
        links = [e.text or "" for e in root.iter("relatedIdentifier")]
        samples = [
            (s.findtext("sampleTitle") or "", s.findtext("sampleDesc") or "")
            for s in root.iter("sample")
        ]
    else:
        rx = _HTML_RX
        def one(k: str) -> str:
            m = rx[k].search(body)
            return m.group(1) if m else ""
        title, desc, author, date = one("title"), one("desc"), one("author"), one("date")
        kws = rx["kw"].findall(body)
        media = rx["media"].findall(body)
        links = rx["link"].findall(body)
        samples = rx["sample"].findall(body)

    docs: list[tuple[str, list[tuple]]] = [("", _assemble(title, desc, author, date, kws, media))]
    for j, (st, sd) in enumerate(samples):
        docs.append((f"s{j}", [
            ("title", st, "", 0),
            ("description", sd, "", len(st) + 1),
        ]))
    return docs, list(links)


def parse_body(kind: str, body: str) -> tuple[list[tuple], list[str]]:
    """Dataset-doc-only view of ``parse_record``:
    -> (spans, outlinks); spans are (kind, text, media_ref, offset)."""
    docs, links = parse_record(kind, body)
    return docs[0][1], links


def _assemble(
    title: str, desc: str, author: str, date: str, kws: list[str], media: list[str]
) -> list[tuple]:
    """Canonical span order + strictly increasing offsets."""
    spans: list[tuple] = []
    off = 0
    for k, txt in (("title", title), ("description", desc), ("author", author), ("date", date)):
        spans.append((k, txt, "", off))
        off += len(txt) + 1
    for w in kws:
        spans.append(("keyword", w, "", off))
        off += len(w) + 1
    for m in media:
        spans.append(("media", "", m, off))
        off += 1
    return spans


def spans_to_fields(docs: DataFrame) -> DataFrame:
    """Project the interleaved span array back into typed NDE-ish fields
    (name/description/author/date + keyword and media arrays) — the
    uploader-facing view of the input_hint table. Pure column
    expressions; span arrays are short (<= ~12), so the higher-order
    filters here are cheap per row."""
    s = F.col("spans")

    def first_text(kind: str) -> F.Column:
        hits = F.filter(s, lambda e: e.getField("kind") == kind)
        # try_element_at: NULL (not an ANSI error) when no span of the
        # kind exists — the coalesce supplies the empty default
        return F.coalesce(F.try_element_at(hits, F.lit(1)).getField("text"), F.lit(""))

    def all_of(kind: str, field: str) -> F.Column:
        return F.transform(
            F.filter(s, lambda e: e.getField("kind") == kind), lambda e: e.getField(field)
        )

    return docs.select(
        *[c for c in docs.columns if c != "spans"],
        first_text("title").alias("name"),
        first_text("description").alias("description"),
        first_text("author").alias("author"),
        first_text("date").alias("date_str"),
        all_of("keyword", "text").alias("keywords"),
        all_of("media", "media_ref").alias("media_refs"),
    )
