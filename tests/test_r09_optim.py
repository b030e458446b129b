"""Round-9 optimization equivalence pins.

Each r9 change is a performance restructure that must be bit/row
identical to the r8 form; these tests pin the equivalences directly
(the full parity suite pins them end-to-end against DuckDB)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from nde_crawlers_spark.functions import vectors as V


def test_dot_fixed_sql_bit_equals_column_form(spark):
    """The SQL-string dot (one JVM parse) must produce bit-identical
    doubles to the py4j-composed unrolled tree it replaced."""
    rows = [
        (i, [((i * 31 + d * 7) % 13 - 6) / 3.0 for d in range(16)],
            [((i * 17 + d * 5) % 11 - 5) / 7.0 for d in range(16)])
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "id long, a array<float>, b array<float>")
    out = df.select(
        V.dot_fixed(F.col("a"), F.col("b"), 16).alias("tree"),
        V.dot_fixed_sql("a", "b", 16).alias("sql"),
    ).collect()
    for r in out:
        assert r["tree"] == r["sql"]  # exact bit equality, no tolerance


def test_int_dot_sql_bit_equals_fold(spark):
    """similarity's SQL-string integer dot/sum vs the HOF fold (the
    above-UNROLL_MAX_DIM arm) — exact integers, must be equal."""
    from nde_crawlers_spark.operators.similarity import (
        _int_dot_fixed, _int_sum_fixed)

    rows = [(i, [(i * 31 + d * 7) % 256 for d in range(32)]) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, codes array<int>")
    out = df.select(
        _int_dot_fixed("codes", "codes", 32).alias("sql_dot"),
        F.aggregate(
            F.zip_with(F.col("codes"), F.col("codes"),
                       lambda x, y: x.cast("bigint") * y.cast("bigint")),
            F.lit(0).cast("bigint"), lambda acc, v: acc + v,
        ).alias("hof_dot"),
        _int_sum_fixed("codes", 32).alias("sql_sum"),
        F.aggregate(F.col("codes"), F.lit(0).cast("bigint"),
                    lambda acc, v: acc + v.cast("bigint")).alias("hof_sum"),
    ).collect()
    for r in out:
        assert r["sql_dot"] == r["hof_dot"]
        assert r["sql_sum"] == r["hof_sum"]


def test_simhash_bit_vote_mapping():
    """The shift+mask vote (two bigint halves) equals the r8
    substring/locate form for every bit position, on real md5 digests."""
    for seed in range(500):
        h = hashlib.md5(str(seed).encode()).hexdigest()
        h1, h2 = int(h[0:8], 16), int(h[8:16], 16)
        for b in range(16):  # simhash16: parity of digit b+1
            d = b + 1
            half = h1 if d <= 8 else h2
            shift = 4 * ((8 if d <= 8 else 16) - d)
            assert ((half >> shift) & 1 == 1) == (h[b] in "13579bdf")
        for b in range(63):  # simhash64: bit b%4 of digit b//4+1
            digit, bit = b // 4 + 1, b % 4
            half = h1 if digit <= 8 else h2
            shift = 4 * ((8 if digit <= 8 else 16) - digit) + bit
            want = ("0123456789abcdef".index(h[digit - 1]) >> bit) & 1 == 1
            assert ((half >> shift) & 1 == 1) == want


def test_seen_filter_single_pass_equals_exact(spark):
    """The r9 conditional anti-join form of the segmented-bloom filter
    must return the exact anti-join's row multiset (bloom false
    positives confirmed away, definite-new preserved with all
    columns)."""
    from nde_crawlers_spark.operators import seen as SN

    seen = spark.range(0, 5000).select(
        F.md5(F.col("id").cast("string")).alias("url_hash"))
    cand = spark.range(2500, 7500).select(
        F.md5(F.col("id").cast("string")).alias("url_hash"),
        (F.col("id") % 7).alias("prio"))
    got = sorted(
        (r["url_hash"], r["prio"])
        for r in SN.filter_unseen_bloom_segmented(
            cand, seen, SN.build_bloom_segments(seen, nseg=16, expected=5000),
            nseg=16).collect())
    want = sorted(
        (r["url_hash"], r["prio"])
        for r in cand.join(seen, "url_hash", "left_anti").collect())
    assert got == want and len(got) == 2500


def test_dedup_clusters_sum_probe_convergence(spark):
    """The label-sum convergence probe: chains, stars and singleton-free
    components all converge to the exact min-label components."""
    from nde_crawlers_spark.operators.dedup import dedup_clusters

    pairs = [(i, i + 1) for i in range(30)]           # 31-node chain
    pairs += [(100, 101), (100, 102), (100, 103)]     # star
    pairs += [(200, 201), (202, 201)]                 # 3-path
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    stats: dict = {}
    got = sorted((r["member"], r["cluster"])
                 for r in dedup_clusters(df, stats=stats).collect())
    want = sorted([(i, 0) for i in range(31)]
                  + [(m, 100) for m in (100, 101, 102, 103)]
                  + [(m, 200) for m in (200, 201, 202)])
    assert got == want
    assert stats["converged"] is True


def test_words_for_matches_reference_formula():
    """The table-driven _words_for must equal the r8 genexpr formula for
    every length class (<=16, cycle boundary, long)."""
    from nde_crawlers_spark.sources.synthetic import WORDS, _h, _words_for

    for key in ("title:k", "desc:x", "kw1:https://h/records/9"):
        d = _h(key)
        for n in (1, 7, 15, 16, 17, 33, 62):
            want = " ".join(WORDS[d[i % 16] % len(WORDS)] for i in range(n))
            assert _words_for(key, n) == want
