"""Vector (embedding) column kernels: dot, norm, cosine, sign-LSH buckets.

Pure Catalyst higher-order functions over ``array<float>`` columns —
JVM-side, codegen'd, no Python. All arithmetic is done in float64 with an
explicit left-fold accumulation order so the DuckDB oracle
(``list_dot_product`` on DOUBLE[]) matches bit-for-bit.

Reference analog: the post-index embedding pass stores 768-d dense
vectors with int8_hnsw (hub/dataindex/embed.py:51-59,124-131); ANN over
an embedding column is the training-data-pipeline extension here.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Semantic-spec form (higher-order functions). HOF lambdas are
    INTERPRETED in Spark — per-pair cosine via this form was the cost
    center of the near-dup joins. Hot paths use ``dot_fixed`` (identical
    left-fold order, whole-stage-codegen'd)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    d = norm(a) * norm(b)
    return F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))


# Above this dimension the unrolled fixed-dim folds switch to the HOF
# (aggregate/zip_with) form. Two independent reasons, both measured at
# the reference's dim=768 (PLANS.md "dim-768 viability"): (a) plan
# construction — an unrolled 768-term tree is ~2,300 py4j calls and a
# multi-second Catalyst analyze per use site; (b) codegen — the
# generated consume() for a 768-term expression lands near Janino's
# 64 KB method limit, where Spark silently drops whole-stage codegen
# (spark.sql.codegen.hugeMethodLimit) and runs the WHOLE stage
# interpreted anyway. The HOF fold is interpreted per-pair but keeps a
# constant-size plan, and its left-fold order is bit-identical to the
# unrolled form (0-init, one element at a time, multiply-then-add), so
# results are engine-equal either way. dim<=128 keeps the unrolled
# codegen'd fast path used by every catalog query (dim=64).
UNROLL_MAX_DIM = 128


def dot_fixed(a: Column, b: Column, dim: int = 64) -> Column:
    """Codegen'd fixed-dimension dot product: the same left fold as
    ``dot`` (0.0 + a1*b1 + a2*b2 + ...) unrolled into a plain expression
    — bit-identical doubles, ~10-50x faster per pair than the
    interpreted HOF form. Above ``UNROLL_MAX_DIM`` the unroll stops
    paying (see the constant's note) and this delegates to the HOF
    ``dot`` — same fold order, same doubles."""
    if dim > UNROLL_MAX_DIM:
        return dot(a, b)
    acc: Column = F.lit(0.0)
    for i in range(dim):
        acc = acc + F.element_at(a, i + 1).cast("double") * F.element_at(b, i + 1).cast("double")
    return acc


def dot_fixed_sql(a: str, b: str, dim: int = 64) -> Column:
    """``dot_fixed`` over NAMED columns, built as ONE SQL string parsed
    JVM-side (r9). The py4j-composed unrolled tree costs ~5 driver round
    trips per term — ~1 s of DRIVER time per use site at dim=64, paid on
    every query *construction* (measured: building ann_sq8_topk's plan
    took 1.9 s vs 0.8 s to execute it). The parser produces the
    IDENTICAL analyzed tree — left-associative ``+``, the exact 0.0D
    init, per-element double casts — so every double is bit-equal to the
    ``dot_fixed`` form (parity-asserted per query, plus the explicit
    equivalence test
    tests/test_r09_optim.py::test_dot_fixed_sql_bit_equals_column_form)."""
    if dim > UNROLL_MAX_DIM:
        return dot(F.col(a), F.col(b))
    terms = " + ".join(
        f"(cast(element_at({a}, {i + 1}) as double) * "
        f"cast(element_at({b}, {i + 1}) as double))"
        for i in range(dim)
    )
    return F.expr(f"0.0D + {terms}")


def norm_fixed(a: Column, dim: int = 64) -> Column:
    return F.sqrt(dot_fixed(a, a, dim))


def norm_pd(dim: int = 64):
    """Per-row L2 norm as an Arrow-batched pandas UDF — bitwise identical
    to ``norm_fixed`` (strict left-fold accumulation one dimension at a
    time, multiply-then-add, IEEE sqrt) but with a constant-size plan:
    the 193-node fixed-expression tree costs real Catalyst planning time
    in every query that uses it per side. Norms are per-row, so the
    batch form is pure win; the per-PAIR dot inside joins stays the
    codegen'd ``dot_fixed`` expression."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _norm(v):
        m = np.vstack(v.to_numpy()).astype(np.float64)
        acc = np.zeros(len(v), dtype=np.float64)
        for d in range(dim):
            x = m[:, d]
            acc = acc + x * x
        return pd.Series(np.sqrt(acc))

    return _norm


def cosine_prenormed(a, b, na: Column, nb: Column, dim: int = 64) -> Column:
    """Cosine with PRE-COMPUTED row norms: in a candidate join, norms are
    per-row (compute once before the join), only the dot is per-pair.
    Same arithmetic as ``cosine`` — norm(a)*norm(b) then divide — so the
    doubles are bit-identical to the HOF/oracle form.

    ``a``/``b`` may be column NAME strings — the hot-path form: the dot
    is then built as one JVM-parsed SQL string (``dot_fixed_sql``)
    instead of a ~320-py4j-call unrolled tree per use site (identical
    analyzed expression, measured ~1 s of plan-build saved per query)."""
    d = na * nb
    if isinstance(a, str) and isinstance(b, str):
        dp = dot_fixed_sql(a, b, dim)
    else:
        dp = dot_fixed(a, b, dim)
    return F.when(d > 0, dp / d).otherwise(F.lit(0.0))


def sign_bucket(vec: Column, bits: int = 8) -> Column:
    """Axis-aligned sign bucket: bit i set iff vec[i] > 0.

    KEPT ONLY as the cheap teaching form — on real (anisotropic)
    embeddings the first-k raw dims are correlated, so these buckets
    collapse into one hot bucket and the in-bucket join goes quadratic.
    Production buckets are ``hyperplane_bucket`` (random hyperplanes,
    rotation-robust); same plan shape either way."""
    acc: Column = F.lit(0)
    for i in range(bits):
        acc = acc + F.when(F.element_at(vec, i + 1) > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return acc


def hyperplane_matrix(bits: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Seeded pseudo-random hyperplanes in [-1, 1): component (p, d) is a
    pure function of md5, so the SAME doubles are reproducible anywhere —
    Spark literals, the DuckDB oracle, a numpy batch — with no RNG-state
    coupling. At cluster scale this list is broadcast once (it is
    bits*dim floats); here it folds into the expression as constants."""
    import hashlib

    planes: list[list[float]] = []
    for p in range(bits):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"plane:{seed}:{p}:{d}".encode()).digest()
            row.append(int.from_bytes(h[:8], "big") / 2**64 * 2.0 - 1.0)
        planes.append(row)
    return planes


def hyperplane_bucket_pd(bits: int = 8, dim: int = 64, seed: int = 42):
    """Random-hyperplane LSH bucket as an Arrow-batched pandas UDF with
    the plane matrix held as a (broadcast) numpy constant — the
    production form. The ``hyperplane_bucket`` expression below is the
    semantic spec and the DuckDB-oracle mirror, but its 512-literal tree
    costs seconds of DRIVER-side Catalyst planning per query; the batch
    form has a tiny plan and vectorizes across rows.

    Bitwise identical to the expression/oracle fold: the accumulation is
    a strict left fold per element (``acc = acc + w[d] * v[:, d]`` one
    dimension at a time — vectorized ACROSS rows, ordered WITHIN a row),
    multiply-then-add with no FMA/BLAS reassociation, so the sign
    decisions match the literal expression double-for-double."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    planes = np.array(hyperplane_matrix(bits, dim, seed), dtype=np.float64)

    # NOTE: no inline type hints — `from __future__ import annotations`
    # turns them into strings, which pandas_udf's signature inspection
    # rejects; the explicit returnType is sufficient.
    @pandas_udf("int")
    def _bucket(v):
        m = np.vstack(v.to_numpy()).astype(np.float64)
        out = np.zeros(len(v), dtype=np.int64)
        for p in range(bits):
            acc = np.zeros(len(v), dtype=np.float64)
            w = planes[p]
            for d in range(dim):
                acc = acc + w[d] * m[:, d]
            out |= (acc > 0).astype(np.int64) << p
        return pd.Series(out.astype("int32"))

    return _bucket


def nearest_centroids_pd(centroids, n: int, dim: int = 64):
    """IVF assignment as an Arrow-batched pandas UDF over a broadcast
    numpy codebook: per row, cosine against every centroid (strict
    left-fold over dimensions — bitwise identical to the expression /
    oracle fold), returning the top-``n`` centroid ids ordered by
    (cosine desc, cid asc; RAW doubles, ties broken by stable sort).

    This replaces a crossJoin-with-codebook + row_number window — at
    10^9 vectors that plan is an nlist-times row blowup plus a full
    corpus shuffle; this is a map-only batch op.

    ``centroids``: list of (cid, vector) sorted by cid."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cids = np.array([c for c, _ in centroids], dtype=np.int64)
    C = np.array([v for _, v in centroids], dtype=np.float64)  # (k, dim)
    cn = np.zeros(len(cids))
    for d in range(dim):
        x = C[:, d]
        cn = cn + x * x
    cn = np.sqrt(cn)

    @pandas_udf("array<int>")
    def _assign(v):
        m = np.vstack(v.to_numpy()).astype(np.float64)
        rows = len(v)
        dots = np.zeros((rows, len(cids)))
        rn = np.zeros(rows)
        for d in range(dim):
            x = m[:, d]
            dots = dots + x[:, None] * C[:, d][None, :]
            rn = rn + x * x
        rn = np.sqrt(rn)
        denom = rn[:, None] * cn[None, :]
        cos = np.where(denom > 0, dots / np.where(denom > 0, denom, 1.0), 0.0)
        # stable argsort on -cos: equal cosines keep ascending cid order
        top = np.argsort(-cos, axis=1, kind="stable")[:, :n]
        return pd.Series([cids[row].astype("int32").tolist() for row in top])

    return _assign


def hyperplane_bucket(vec: Column, bits: int = 8, dim: int = 64, seed: int = 42) -> Column:
    """Random-hyperplane LSH bucket: bit p set iff dot(plane_p, vec) > 0.

    Unlike ``sign_bucket`` this is rotation-robust: bucket balance holds
    for correlated/anisotropic embeddings (each plane splits the corpus
    ~in half regardless of the data's principal axes), which is what
    keeps the in-bucket self-join sub-quadratic at 10^9 vectors. The dot
    products are explicit left-fold sums of literal*element products —
    codegen'd, engine-deterministic (the oracle mirrors the same literals
    in the same order), no Python in the hot path."""
    planes = hyperplane_matrix(bits, dim, seed)
    acc: Column = F.lit(0)
    for p in range(bits):
        dot: Column = F.lit(0.0)
        for d in range(dim):
            dot = dot + F.lit(planes[p][d]) * F.element_at(vec, d + 1).cast("double")
        acc = acc + F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return acc
