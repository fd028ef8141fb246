"""Vector math as pure Catalyst expressions (no UDFs), with numpy twins.

The reference's core scalar is the query<->document distance computed inside
ChromaDB's HNSW (reference: coding_agent/tools/vector_search_tool.py:42-63,
default L2 space, displayed as ``1 - distance``). SURVEY.md section 2.8 fixes
the semantics for this engine: rank by cosine over L2-normalized vectors and
report cosine similarity.

The Catalyst expressions are built from higher-order functions (``zip_with`` +
``aggregate``): JVM-side, no Python workers, no Arrow transfer. Note the
honest trade-off: HOF *lambdas* evaluate interpreted (outside whole-stage
codegen), so per-element cost is higher than a native loop — measured
faster than Arrow/numpy ``pandas_udf`` kernels below ~100k rows (no
worker/serialization overhead), slower above. Arrays are cast to
double before multiplying so the fold is a deterministic double-precision
left-to-right sum; the DuckDB oracle casts to DOUBLE[] the same way, which
keeps cross-engine results equal far below the 1e-4 rounding used by the
query layer.

The numpy twins (``np_scores``, ``round4``) are what ``Collection.query``
scores with on the driver; they reproduce the Catalyst values bit for
bit, including ``F.round``'s HALF_UP rule.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(v: Column) -> Column:
    return v.cast("array<double>")


def dot_product(a: Column, b: Column) -> Column:
    """Sum of elementwise products, left-to-right in double precision."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    ad, bd = _as_double(a), _as_double(b)
    return dot_product(ad, bd) / (
        F.sqrt(dot_product(ad, ad)) * F.sqrt(dot_product(bd, bd))
    )


def l2_distance(a: Column, b: Column) -> Column:
    diff = F.zip_with(_as_double(a), _as_double(b), lambda x, y: x - y)
    return F.sqrt(
        F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x * x)
    )


# ------------------------------------------------------------ driver twins
# The serving path scores on the driver in numpy. These twins repeat the
# Catalyst folds above operation for operation (one column at a time,
# from 0.0, in element order), so every double they produce equals the
# in-plan expression bit for bit; a BLAS matmul sums in another order
# and drifts in the last ulp, enough to flip a 4-dp rounding.


def np_fold_sq(mat):
    """``dot_product(e, e)`` of every row of ``mat``."""
    import numpy as np

    acc = np.zeros(mat.shape[0])
    for j in range(mat.shape[1]):
        acc = acc + mat[:, j] * mat[:, j]
    return acc


def np_scores(mat, qs, space: str):
    """The n x m raw (unrounded) scores of the rows of ``mat`` against
    the query rows ``qs`` in ``space``'s Catalyst expression:
    ``cosine_similarity``, ``l2_distance`` or ``dot_product``."""
    import numpy as np

    acc = np.zeros((mat.shape[0], qs.shape[0]))
    for j in range(mat.shape[1]):
        x, y = mat[:, j : j + 1], qs[:, j]
        acc = acc + ((x - y) * (x - y) if space == "l2" else x * y)
    if space == "l2":
        return np.sqrt(acc)
    if space == "ip":
        return acc
    return acc / (np.sqrt(np_fold_sq(mat))[:, None] * np.sqrt(np_fold_sq(qs)))


def round4(x: float, digits: int = 4) -> float:
    """``F.round(x, digits)`` on a double: HALF_UP on the shortest
    decimal of ``x`` (``Decimal(repr(x))``, the BigDecimal Spark
    rounds), zero unsigned, NaN and infinities unchanged. Not
    ``round``/``np.round``, which round half to even."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    if not math.isfinite(x):
        return x
    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(x)).quantize(q, ROUND_HALF_UP)) + 0.0


def np_round4(a, digits: int = 4):
    """``round4`` over an array. Away from a half-way point the nearest
    multiple of 10^-digits is the same under every tie rule, so it is
    taken in numpy; values whose scaled fraction lies near 0.5 (a
    decimal tie or within float error of one) go through ``round4``."""
    import numpy as np

    a = np.asarray(a, dtype=np.float64)
    scale = 10.0**digits
    y = a * scale
    mag = np.abs(y)
    frac = mag - np.floor(mag)
    out = np.copysign(np.floor(mag + 0.5), y) / scale + 0.0
    near = ~np.isfinite(y) | (np.abs(frac - 0.5) < 1e-6 + mag * 1e-12)
    for i in np.flatnonzero(near):
        out.flat[i] = round4(float(a.flat[i]), digits)
    return out
