"""Vector math as pure Catalyst expressions (no UDFs).

The reference's core scalar is the query<->document distance computed inside
ChromaDB's HNSW (reference: coding_agent/tools/vector_search_tool.py:42-63,
default L2 space, displayed as ``1 - distance``). SURVEY.md section 2.8 fixes
the semantics for this engine: rank by cosine over L2-normalized vectors and
report cosine similarity.

Everything here is built from higher-order functions (``zip_with`` +
``aggregate``): JVM-side, no Python workers, no Arrow transfer. Note the
honest trade-off: HOF *lambdas* evaluate interpreted (outside whole-stage
codegen), so per-element cost is higher than a native loop — measured
faster than Arrow/numpy ``pandas_udf`` kernels below ~100k rows (no
worker/serialization overhead), slower above. Arrays are cast to
double before multiplying so the fold is a deterministic double-precision
left-to-right sum; the DuckDB oracle casts to DOUBLE[] the same way, which
keeps cross-engine results equal far below the 1e-4 rounding used by the
query layer.
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


def l2_normalize(a: Column, norm: Column | None = None) -> Column:
    """Unit-normalize a vector column.

    HOT-PATH CALLERS MUST PASS ``norm`` AS A PRE-PROJECTED COLUMN:
    expressions inlined into a HOF lambda re-evaluate once per element
    (SCALE.md r6), so the default single-expression form recomputes the
    full dot product for every component — O(d^2) per row. Project
    ``withColumn("norm", sqrt(dot_product(v, v)))`` first and pass
    ``F.col("norm")``. The one-shot form is kept for interactive use.
    """
    ad = _as_double(a)
    if norm is None:
        norm = F.sqrt(dot_product(ad, ad))
    return F.transform(ad, lambda x: x / norm)
