"""Corpus filters, lookups and totals — the reference's tool-level ops.

Maps the reference's metadata filters, id lookup and indexing report onto
the driver's ``documents`` table (one row per document, ``source`` standing
in for the reference's ``file_path``):

- filter_by_lang         <- filter_by_element_type (vector_search_tool.py:149-201)
- docs_where_dsl_filter  <- collection.get(where=..., where_document=...)
- point_lookup           <- point_lookup_id (vector_search_tool.py:232)
- agg_job_totals         <- index_codebase report (indexing_agent.py:117-124)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table


def agg_job_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level stats: distinct sources + total docs + total chars
    (the indexing report shape, indexing_agent.py:120-124)."""
    d = load_table(spark, sf_dir, "documents")
    return d.agg(
        F.countDistinct("source").alias("indexed_sources"),
        F.count(F.lit(1)).alias("total_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


def filter_by_lang(spark: SparkSession, sf_dir: str, lang: str = "es") -> DataFrame:
    """Metadata-equality scan (filter_by_element_type analog,
    vector_search_tool.py:149-201). Deterministic: ordered by key, capped."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.filter(F.col("lang") == lang)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
        .limit(10)
    )


WHERE_DSL_DEMO = {
    "$or": [
        {"lang": {"$in": ["en", "de"]}, "n_chars": {"$gt": 400}},
        {"source": {"$eq": "src7"}},
    ],
}
WHERE_DOC_DEMO = {"$and": [{"$contains": "the"}, {"$not_contains": "zzzz"}]}


def docs_where_dsl_filter(
    spark: SparkSession,
    sf_dir: str,
    where: "dict | None" = None,
    where_document: "dict | None" = None,
) -> DataFrame:
    """ChromaDB ``get(where=..., where_document=...)`` over the corpus —
    the FULL public filter grammar, not just the equality shorthand the
    reference exercises (vector_search_tool.py:39-46,166,219). The DSL
    compiles to ordinary Catalyst predicates (functions/where_dsl.py),
    so metadata comparisons push into the parquet scan and the substring
    test runs JVM-side; the oracle twin renders the SAME trees through
    where_to_sql, one filter definition for both engines."""
    from ..functions.where_dsl import compile_where, compile_where_document

    d = load_table(spark, sf_dir, "documents")
    pred = compile_where(where or WHERE_DSL_DEMO) & compile_where_document(
        where_document or WHERE_DOC_DEMO, "text"
    )
    return (
        d.filter(pred)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
        .limit(50)
    )


def point_lookup(spark: SparkSession, sf_dir: str, doc_id: int = 42) -> DataFrame:
    """Primary-key point lookup (point_lookup_id, vector_search_tool.py:232).
    Pushes an id predicate into the scan (row-group skipping via min/max)."""
    d = load_table(spark, sf_dir, "documents")
    return d.filter(F.col("doc_id") == doc_id).select(
        "doc_id", "lang", "source", "n_chars"
    )
