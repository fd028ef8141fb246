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
100 TB that is the optimal exact plan; the approximate path (LSH / IVF in
operators/ann.py) prunes candidates before this same kernel.

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


def knn_classify(spark, sf_dir: str, n_queries: int = 8, k: int = 15) -> DataFrame:
    """k-NN majority-vote label prediction, leave-one-out, for the first
    ``n_queries`` stored vectors — the classic embedding-space quality
    probe (self-consistency of labels under the metric is the cheapest
    clustering-quality signal there is; north-star surface — the
    reference's ChromaDB metadata would play the label role). Neighbors
    by exact 4-dp cosine with the house vec_id tie-break
    (``knn_topk_batch``); votes tie-break to the SMALLEST label, so the
    prediction is deterministic at any k.

    Returns (query_id, predicted_label, votes, true_label, correct).

    100 TB shape: the query side is a broadcast (n_queries rows), the
    corpus side stays shuffle-free until the per-query rank window
    (partitioned by query_id); the vote count is a map-side-combined
    aggregate over n_queries × k rows."""
    from ..sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    top = knn_topk_batch(emb, queries, k)
    votes = (
        top.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("votes"), F.asc("label")
    )
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("label").alias("predicted_label"), "votes")
    )
    truth = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return (
        pred.join(truth, "query_id")
        .select(
            "query_id",
            F.col("predicted_label").cast("int").alias("predicted_label"),
            F.col("votes").cast("int").alias("votes"),
            F.col("true_label").cast("int").alias("true_label"),
            (F.col("predicted_label") == F.col("true_label")).alias("correct"),
        )
        .orderBy("query_id")
    )


def knn_regress(spark, sf_dir: str, n_queries: int = 8, k: int = 15) -> DataFrame:
    """k-NN VALUE regression, leave-one-out (r14 — the numeric
    counterpart of ``knn_classify``): predict each query document's
    ``n_chars`` as the exact mean over its k nearest neighbors' values
    (neighbors by 4-dp cosine, vec_id tie-break — ``knn_topk_batch``).
    The embedding-space probe for CONTINUOUS metadata: if the metric is
    meaningful, nearby documents have similar lengths/scores, and the
    mean-absolute-error across queries is the quality signal.

    Returns (query_id, predicted_n_chars double, true_n_chars,
    abs_error double). No rounding anywhere: the neighbor sum is exact
    BIGINT and one double division by the neighbor count is bit-equal
    across engines (emit raw doubles, never round(sum/count): an average
    of two 2-dp values can sit on a rounding tie the engines break
    differently).

    100 TB shape: broadcast query side, shuffle-free corpus scoring,
    one per-query rank window, map-side-combined mean."""
    from ..sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    target = docs.select(
        F.col("doc_id").alias("vec_id"), F.col("n_chars")
    )
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    top = knn_topk_batch(emb, queries, k)
    pred = (
        top.join(target, "vec_id")
        .groupBy("query_id")
        .agg(F.avg("n_chars").alias("predicted_n_chars"))
    )
    truth = target.select(
        F.col("vec_id").alias("query_id"),
        F.col("n_chars").alias("true_n_chars"),
    )
    return (
        pred.join(truth, "query_id")
        .select(
            "query_id",
            "predicted_n_chars",
            "true_n_chars",
            F.abs(
                F.col("predicted_n_chars") - F.col("true_n_chars")
            ).alias("abs_error"),
        )
        .orderBy("query_id")
    )


def make_query_from_vec(embeddings: DataFrame, vec_id: int) -> DataFrame:
    """Use a stored vector as the query (deterministic stand-in for the
    reference's query-embedding step, vector_search_tool.py:37)."""
    return embeddings.filter(F.col("vec_id") == vec_id).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )


def knn_truncated_rerank(
    spark,
    sf_dir: str,
    query_vec_id: int = 0,
    trunc_dims: int = 16,
    n_coarse: int = 50,
    k: int = 10,
) -> DataFrame:
    """Matryoshka-style two-stage retrieval: coarse top-C by cosine over
    the first ``trunc_dims`` dimensions, exact full-dim cosine on the C
    survivors only (Kusupati et al., NeurIPS 2022 — MRL embeddings are
    trained so every prefix is itself a valid embedding; dimension
    truncation is the cheapest ANN there is: no index, no training, a
    d/24 fraction of the bytes per scanned row).

    100 TB shape: the coarse pass reads a ``trunc_dims``-wide slice —
    in an MRL deployment, a separate narrow column whose scan is ~d/24
    of the full column's bytes — and plans as TakeOrderedAndProject
    (per-partition C-heap, no shuffle); the full-width column is read
    for C rows, not the corpus (same contract as
    quantize.knn_int8_rerank, which trades bytes for quantization error
    instead of dimension error).
    """
    from ..sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = make_query_from_vec(emb, query_vec_id)
    q_t = q.select(
        "q_id", F.slice(F.col("q_emb"), 1, trunc_dims).alias("q_emb_t")
    )
    sim_t = F.round(
        cosine_similarity(
            F.slice(F.col("embedding"), 1, trunc_dims), F.col("q_emb_t")
        ),
        4,
    )
    coarse = (
        emb.crossJoin(F.broadcast(q_t))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("vec_id", sim_t.alias("sim_t"))
        .orderBy(F.desc("sim_t"), F.asc("vec_id"))
        .limit(n_coarse)
    )
    sim = F.round(cosine_similarity(F.col("embedding"), F.col("q_emb")), 4)
    return (
        emb.join(F.broadcast(coarse), "vec_id")
        .crossJoin(F.broadcast(q))
        .select("vec_id", sim.alias("sim"))
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(k)
    )


def knn_mmr_topk(
    spark,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.5,
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell &
    Goldstein 1998) — the retrieval shape RAG and training-data
    selection actually want when the plain top-k is k near-copies of
    one passage: greedily pick argmax of

        mmr = lam * sim(query, cand) - (1 - lam) * max_{s in selected}
              sim(cand, s)

    over an exact top-``pool`` candidate set.

    Spark shape: the DISTRIBUTED work is the exact 4-dp cosine
    top-pool (TakeOrderedAndProject — the knn_topk kernel, per-
    partition pool-heaps, no shuffle); the greedy loop then runs
    DRIVER-side over the collected pool (pool x dim doubles, a BOUNDED
    k-row-class frame — the ann_ivf_trained_topk centroid-ranking
    precedent), with ZERO Spark jobs inside the loop. At 100 TB the
    pool collect is ~pool*8*dim bytes regardless of corpus size.

    Determinism / oracle-mirrorability: query sims come from the SAME
    F.round(_COS, 4) plan as knn_topk; pairwise pool sims use the
    identical left-to-right double fold and Decimal HALF_UP 4-dp round
    (F.round/DuckDB midpoint semantics); lam defaults to the dyadic
    0.5 so ``lam*a - (1-lam)*b`` is the same double arithmetic both
    engines run; argmax ties break on vec_id. The DuckDB twin unrolls
    the k greedy steps as chained CTEs (the Lloyd's-unroll discipline).
    Returns (rank int, vec_id, sim, mmr)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from ..sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = make_query_from_vec(emb, query_vec_id)
    sim4 = F.round(cosine_similarity(F.col("embedding"), F.col("q_emb")), 4)
    rows = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("vec_id", sim4.alias("sim"), "embedding")
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(pool)
        .collect()
    )
    cands = [
        (int(r["vec_id"]), float(r["sim"]), [float(x) for x in r["embedding"]])
        for r in rows
    ]
    four = Decimal("0.0001")

    def pair_sim(a: list, b: list) -> float:
        num = aa = bb = 0.0
        for x, y in zip(a, b):  # left-to-right: list_inner_product's fold
            num += x * y
            aa += x * x
            bb += y * y
        c = num / (math.sqrt(aa) * math.sqrt(bb))
        return float(Decimal(repr(c)).quantize(four, rounding=ROUND_HALF_UP))

    selected: list = []
    remaining = list(cands)
    while remaining and len(selected) < k:
        best = None
        for vid, sim, e in remaining:
            mp = max(
                (pair_sim(e, se) for _v, _s, se, _m in selected), default=0.0
            )
            mmr = lam * sim - (1.0 - lam) * mp
            if best is None or (mmr, -vid) > (best[3], -best[0]):
                best = (vid, sim, e, mmr)
        selected.append(best)
        remaining = [c for c in remaining if c[0] != best[0]]
    out = [
        (i + 1, vid, sim, mmr)
        for i, (vid, sim, _e, mmr) in enumerate(selected)
    ]
    return spark.createDataFrame(
        out, "rank int, vec_id bigint, sim double, mmr double"
    )
