"""Exact k-NN retrieval — the reference's flagship query.

Reference semantics (coding_agent/tools/vector_search_tool.py:33-79):
embed the query, optional metadata equality pre-filter, k-NN by distance,
return top-k with ``similarity = 1 - distance``. SURVEY.md section 2.8 fixes
scoring to cosine over L2-normalized vectors.

Spark-first plan shape (SURVEY.md section 3.2):

    candidates(parquet scan, filter pushed into scan)
      crossJoin BROADCAST(single query row)          -- no shuffle
      project cosine_similarity                      -- JVM-side HOF, no UDF
      ORDER BY sim DESC LIMIT k                      -- TakeOrderedAndProject

``TakeOrderedAndProject`` keeps a k-row heap per partition and merges heaps
on the driver: per-partition O(n log k), no global sort, no shuffle. At
100 TB that is the optimal exact plan; the approximate paths
(operators/ann.py, operators/graph_ann.py) prune candidates first and
then rerank them exactly under the same rounding and tie-break.

Determinism: ranking uses the ROUNDED similarity (4 dp) with ``vec_id`` as
tie-break, so top-k membership is stable across engines/float orderings —
required for the DuckDB oracle value-hash.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vector import cosine_similarity


def knn_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 5,
    candidate_filter: Column | None = None,
) -> DataFrame:
    """Top-k nearest candidates to a single query row.

    ``query`` must have exactly one row with columns (q_id, q_emb);
    ``embeddings`` has (vec_id, embedding, ...). The metadata pre-filter is
    applied to candidates BEFORE ranking (reference filters during HNSW
    traversal, vector_search_tool.py:39-46) — Catalyst pushes it into the
    parquet scan.
    """
    cand = embeddings
    if candidate_filter is not None:
        cand = cand.filter(candidate_filter)
    joined = cand.crossJoin(F.broadcast(query))
    sim = F.round(cosine_similarity(F.col("embedding"), F.col("q_emb")), 4)
    return (
        joined.filter(F.col("vec_id") != F.col("q_id"))
        .select("vec_id", sim.alias("sim"))
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(k)
    )


def knn_topk_batch(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
) -> DataFrame:
    """Top-k per query for a batch of queries (1xN -> MxN similarity join).

    Broadcast the (small) query set against the candidate scan, then rank
    within each query with a ``row_number`` window — the batched analog of
    the reference's one-query-at-a-time ``collection.query`` loop. The
    window shuffles by query_id only, which is the minimal shuffle for this
    shape; at scale the broadcast keeps the big side shuffle-free.
    """
    joined = embeddings.crossJoin(F.broadcast(queries)).filter(
        F.col("vec_id") != F.col("q_id")
    )
    sim = F.round(cosine_similarity(F.col("embedding"), F.col("q_emb")), 4)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        joined.select(F.col("q_id").alias("query_id"), "vec_id", sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def make_query_from_vec(embeddings: DataFrame, vec_id: int) -> DataFrame:
    """Use a stored vector as the query (deterministic stand-in for the
    reference's query-embedding step, vector_search_tool.py:37)."""
    return embeddings.filter(F.col("vec_id") == vec_id).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
