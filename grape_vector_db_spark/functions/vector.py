"""Vector expression kit (reference parity: cosine/dot/norm/euclidean).

Reference semantics reproduced exactly:
- cosine_similarity(a,b) = dot/(|a|*|b|), **0.0 if either norm is 0**
  (src/storage.rs:851-865).
- euclidean_distance = sqrt(sum((x-y)^2)) (src/index.rs:68-79).

The Column kit is built from higher-order functions (``zip_with`` /
``aggregate`` / ``transform``). They run JVM-side with no Python worker and
Catalyst can still push filters/projections around them, but Spark
interprets their lambdas once per array ELEMENT — they are not compiled by
whole-stage codegen. That is cheap for one query vector against the corpus;
for many query vectors per row (a broadcast query table, a plane family)
use the Arrow twin below, :func:`arrow_vector_rows` + :func:`fold_dots` /
:func:`fold_norms`, inside one ``mapInArrow`` kernel (operators.search
``knn_batch``, operators.ann ``_rp_fold_arrow``).

All arithmetic is performed in DOUBLE (inputs are ``array<float>`` parquet
columns; we cast up-front) with a strict left-to-right fold, which makes
results bit-identical to a sequential C/DuckDB evaluation of the same
formula — required for the DuckDB-oracle hash comparison. The
Arrow twin runs the same IEEE sequence, so both forms agree bit for bit.

At 100 TB these expressions scan columnar parquet vectors with zero shuffle;
a k-NN over them is embarrassingly parallel per-partition work followed by a
global TakeOrderedAndProject (see operators.search).
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F


def to_double_array(col: Column | str) -> Column:
    """Cast array<float> -> array<double> so all math happens in f64."""
    col = F.col(col) if isinstance(col, str) else col
    return col.cast("array<double>")


def sql_double(x: float) -> str:
    """Exact SQL double literal: repr() is the shortest round-trip
    decimal and Spark parses the D-suffixed form with
    Double.parseDouble — the identical binary double, never a DECIMAL
    reinterpretation. Non-finite values spell out the cast Spark's
    string->double parser accepts."""
    x = float(x)
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    if x == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if x == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return f"{x!r}D"


def array_lit_sql(values: Iterable[float]) -> str:
    """SQL text of a literal array<double> — see :func:`vector_lit`."""
    return f"array({', '.join(sql_double(v) for v in values)})"


def vector_lit(values: Iterable[float]) -> Column:
    """A literal query vector as an array<double> Column.

    This is how a (tiny) query vector is broadcast to every task: it's a
    literal folded into the plan, not a join side — zero shuffle.
    Built as ONE parsed SQL string: the F.array(*[F.lit(v) ...]) form
    cost one py4j round trip per COORDINATE (~64 per query vector,
    hundreds for centroid/codebook tables) — pure driver latency on
    every query construction (guide §5). The parsed literal array is
    the identical expression."""
    vals = [float(v) for v in values]
    if not vals:
        # array() alone would type-infer string; keep the old empty form
        return F.array(*[]).cast("array<double>")
    return F.expr(array_lit_sql(vals))


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Left-to-right fold of sum(a[i]*b[i]) — sequential, deterministic.

    Measured note (kept for posterity): an unrolled ``a[0]*b[0] + ...``
    chain is ~2x SLOWER than this fold at dim 64 — per-element GetItem
    null-checking beats the fold's tight loop. ``dim`` is accepted for API
    stability but the fold is always used.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column, dim: int | None = None) -> Column:
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Reference-faithful cosine: 0.0 when either vector has zero norm
    (src/storage.rs:860-862).

    Formulated as coalesce(try_divide(dot, |a|*|b|), 0): a zero norm forces
    dot == 0, and under ANSI mode (Spark 4 default) try_divide yields NULL
    on a zero divisor, which we map to 0.0 — identical semantics to the
    reference's explicit branch, but each array fold is evaluated exactly
    once per row (a ``when`` guard would re-evaluate the norm folds in both
    the predicate and the branch)."""
    return cosine_from_parts(dot(a, b), l2_norm(a), l2_norm(b))


def cosine_from_parts(d: Column, na: Column, nb: Column) -> Column:
    """Cosine from precomputed dot and norms (columns or literals). Use
    this when norms can be computed once per row/side instead of per pair —
    the all-pairs and batch-kNN hot paths."""
    return F.coalesce(F.try_divide(d, na * nb), F.lit(0.0))


def cosine_distance(a: Column, b: Column) -> Column:
    """1 - cosine_similarity (src/index.rs:686-700)."""
    return F.lit(1.0) - cosine_similarity(a, b)


def euclidean_distance(a: Column, b: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def arrow_vector_rows(vec: pa.Array, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """The rows of an Arrow ``list<double>`` column that :func:`dot`
    against a length-``dim`` vector scores, and their values:
    ``(valid, X)`` with ``valid`` a bool mask over all rows and ``X`` the
    ``(valid.sum(), dim)`` float64 matrix of the valid rows.

    A row is invalid — its Catalyst fold is NULL — when the vector is
    NULL, holds a NULL element (``acc + NULL`` is NULL), or its length is
    not ``dim`` (``zip_with`` pads the shorter side with NULL). Callers
    map invalid rows to whatever their SQL form makes of a NULL fold."""
    vec = vec.cast(pa.list_(pa.float64()))  # fixed_size_list safety
    offsets = vec.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    lengths = offsets[1:] - offsets[:-1]
    valid = vec.is_valid().to_numpy(zero_copy_only=False) & (lengths == dim)
    vals = vec.values
    if vals.null_count:
        child_null = vals.is_null().to_numpy(zero_copy_only=False).astype(np.int64)
        cums = np.concatenate(([0], np.cumsum(child_null)))
        valid &= (cums[offsets[1:]] - cums[offsets[:-1]]) == 0
    nv = int(valid.sum())
    if not nv:
        return valid, np.zeros((0, dim), dtype=np.float64)
    vnp = vals.to_numpy(zero_copy_only=False)
    starts = offsets[:-1][valid]
    idx = (starts[:, None] + np.arange(dim, dtype=np.int64)).ravel()
    return valid, vnp[idx].reshape(nv, dim)


def fold_dots(X: np.ndarray, P: np.ndarray) -> np.ndarray:
    """Every row of ``X`` (n, dim) against every row of ``P`` (m, dim) as
    :func:`dot`'s exact fold ``((0.0 + x0*p0) + x1*p1) + ...``: one IEEE
    multiply and one IEEE add per dimension, in left-to-right order,
    vectorized across (rows, P rows). Never numpy.dot/matmul/einsum,
    whose pairwise or SIMD summation reorders the adds — so every
    intermediate double equals the JVM fold's. Returns (n, m)."""
    out = np.zeros((X.shape[0], P.shape[0]), dtype=np.float64)
    for i in range(X.shape[1]):
        out += X[:, i : i + 1] * P[None, :, i]
    return out


def fold_norms(X: np.ndarray) -> np.ndarray:
    """:func:`l2_norm` of every row of ``X`` (n, dim) — the same
    left-to-right sum-of-squares fold, then one correctly rounded sqrt."""
    acc = np.zeros(X.shape[0], dtype=np.float64)
    for i in range(X.shape[1]):
        acc += X[:, i] * X[:, i]
    return np.sqrt(acc)


def rounded_cosines(dots: np.ndarray, na: np.ndarray, nb: np.ndarray) -> np.ndarray:
    """The BLAS pair kernels' cosine: ``dots / (na * nb)`` under numpy
    broadcasting, 0.0 where that divisor is not positive (a zero norm, as
    in :func:`cosine_from_parts`), rounded to 6 dp. The one definition
    shared by the all-pairs, pair-verify and block top-k kernels."""
    denom = na * nb
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = np.where(denom > 0, dots / denom, 0.0)
    return np.round(cos, 6)
