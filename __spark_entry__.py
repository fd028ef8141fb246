"""Operator catalogue: each implemented operator as a named Spark query
with a DuckDB twin, for parity tests and timing tools.

entry(spark)     -- flagship query (exact k-NN retrieval, SURVEY.md §3.2)
queries()        -- key -> builder, one per implemented operator (SURVEY.md §2)
oracle_sql()     -- DuckDB twins, same keys, same column names + in-query
                    rounding

Cross-engine parity rules used throughout (see SURVEY.md §5):
- every float derived by arithmetic is rounded IN the query (sums 2 dp,
  ratios/similarities 4 dp) on BOTH sides;
- vector math casts to DOUBLE on both sides before multiplying;
- timestamps are never returned raw (testdata is ns-precision; Spark
  truncates to us) — always date_trunc + format;
- top-k orderings rank by the ROUNDED measure with a key tie-break so the
  cut set is identical in both engines;
- DuckDB BIGINT/HUGEINT widths are cast to match Spark's (count->BIGINT,
  len->INTEGER, sum(int)->BIGINT);
- comparisons that pick a WINNER from floats near a boundary (LSH sign
  bits, k-means distance ranks) travel as floor-scaled integer units
  (micro: 1e6) so any summation order yields the same integer in every
  engine — round-then-compare is reserved for display-grade values;
- data-dependent constants an operator bakes into its plan (BPE merges,
  k-means centroids, LSH hyperplanes) are derived from md5/integer
  arithmetic the oracle re-computes in SQL (recursive CTEs for the
  sequential cases), never from engine-private RNG.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from adk_noui_vectordb_spark.operators import ann as _ann
from adk_noui_vectordb_spark.operators import graph_ann as _gann
from adk_noui_vectordb_spark.operators import dedup as _dedup
from adk_noui_vectordb_spark.operators import embed as _embed
from adk_noui_vectordb_spark.operators import hybrid as _hyb
from adk_noui_vectordb_spark.operators import indexing as _idx
from adk_noui_vectordb_spark.operators import invindex as _inv
from adk_noui_vectordb_spark.operators import knn as _knn
from adk_noui_vectordb_spark.operators.chunking import (
    chunk_fixed_words,
    chunk_js_elements,
    chunk_python_ast,
)
from adk_noui_vectordb_spark.sources.corpus import (
    DERIVED_CORPUS_SQL,
    DERIVED_MD_SQL,
    DERIVED_PY_SQL,
    derived_js_corpus,
    derived_js_sql,
    derived_python_corpus,
)
from adk_noui_vectordb_spark.api import collection as _coll
from adk_noui_vectordb_spark.functions import where_dsl as _wdsl
from adk_noui_vectordb_spark.sources.tables import load_table

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: exact k-NN top-5 against the sf0.001 embeddings table."""
    emb = load_table(spark, SF0001, "embeddings")
    q = _knn.make_query_from_vec(emb, 0)
    return _knn.knn_topk(emb, q, k=5)


# ---------------------------------------------------------------------------
# queries()
# ---------------------------------------------------------------------------

def _q_knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return _knn.knn_topk(emb, _knn.make_query_from_vec(emb, 0), k=5)


def _q_knn_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return _knn.knn_topk(
        emb,
        _knn.make_query_from_vec(emb, 0),
        k=5,
        candidate_filter=F.col("label") == 3,
    )


def _q_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return _knn.knn_topk_batch(emb, queries_df, k=3)


def _q_score_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from adk_noui_vectordb_spark.functions.vector import cosine_similarity, l2_distance

    e = load_table(spark, sf_dir, "embeddings")
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(b, F.col("b.vec_id") == F.col("a.vec_id") + 1)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(
                cosine_similarity(F.col("a.embedding"), F.col("b.embedding")), 4
            ).alias("cosine"),
            F.round(
                l2_distance(F.col("a.embedding"), F.col("b.embedding")), 4
            ).alias("l2_dist"),
        )
    )


def _q_chunk_ast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real ``ast.parse`` extraction over the valid-Python derived corpus;
    the oracle predicts the exact rows arithmetically from the corpus
    generation rules (see sources/corpus.py:derived_python_corpus)."""
    return chunk_python_ast(derived_python_corpus(spark, sf_dir))


def _q_chunk_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic js/ts element extraction (the reference's tree-sitter
    walk, indexing_agent.py:164-225) over the valid-JS derived corpus; the
    oracle predicts the exact rows arithmetically from the corpus
    generation rules (see sources/corpus.py:derived_js_corpus)."""
    return chunk_js_elements(derived_js_corpus(spark, sf_dir, "de", ".js"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every catalogue key mapped to its ``(spark, sf_dir) -> DataFrame``
    builder, in registry order."""
    return {
        # retrieval core (reference surface, SURVEY.md §2.3/2.6/2.8)
        "knn_topk": _q_knn_topk,
        "knn_topk_filtered": _q_knn_topk_filtered,
        "knn_batch_topk": _q_knn_batch,
        "score_similarity_pairs": _q_score_pairs,
        # scans / filters (SURVEY.md §2.2)
        "filter_by_element_type": _idx.filter_by_element_type,
        "filter_by_file": _idx.filter_by_file,
        "filter_ext_dispatch": _idx.filter_ext_dispatch,
        # chunking (SURVEY.md §2.7)
        "chunk_fixed_words": chunk_fixed_words,
        "chunk_fixed_lines": _idx.chunk_fixed_lines_q,
        "chunk_markdown_sections": _idx.chunk_markdown_sections_q,
        "chunk_ast_python": _q_chunk_ast,
        "chunk_js_elements": _q_chunk_js,
        # clustering and code diagnostics
        "cluster_kmeans": _ann.cluster_kmeans,
        "diag_python": _idx.diag_python,
        "diag_js_ts": _idx.diag_js_ts,
        "diag_python_syntax": _idx.diag_python_syntax,
        "diag_python_flakes": _idx.diag_python_flakes,
        # dedup (north star)
        "dedup_exact": _dedup.dedup_exact,
        "minhash_signature_rows": _dedup.minhash_signature_rows,
        "minhash_band_rows": _dedup.minhash_band_rows,
        "dedup_minhash_pairs": _dedup.dedup_minhash_pairs,
        # r9: ingest-time near-dup gate served from the persisted
        # MinHash signature index (band-table candidates statically
        # pruned; verification from stored signatures — zero corpus
        # re-signing)
        "dedup_gate_against_index": _dedup.dedup_gate_against_index,
        # r10: WITHIN-batch gate arm (one canonical copy admitted per
        # intra-batch near-dup clique — md5-canonical total order)
        "dedup_gate_intra_batch": _dedup.dedup_gate_intra_batch,
        "dedup_connected_components": _dedup.dedup_connected_components,
        "dedup_canonical_selection": _dedup.dedup_canonical_selection,
        "minhash_jaccard_estimate": _dedup.minhash_jaccard_estimate,
        "dedup_simhash_pairs": _dedup.dedup_simhash_pairs,
        "ngram_jaccard_pairs": _dedup.ngram_jaccard_pairs,
        # r14: asymmetric subset-duplication — word-set CONTAINMENT over
        # PPJoin prefix-filtered candidates (Xiao et al. WWW 2008); the
        # detector Jaccard structurally misses (short doc quoted in a
        # long one)
        "dedup_containment_pairs": _dedup.dedup_containment_pairs,
        # r14: the containment INGEST GATE — subset-dup admission
        # checks served from the persisted shingle index (stored
        # prefixes + postings + reverse map + sizes), never a corpus
        # scan; the asymmetric sibling of dedup_gate_against_index
        "dedup_containment_gate": _dedup.dedup_containment_gate,
        # r15: the ADMIT→GATE lifecycle on a tagged root — batch A
        # admitted via update_containment_index (frozen dfs, stored
        # prefix flags; completeness is ranking-independent), then
        # truncations of the same docs gated: the dup_of = 3M+d row
        # class exists only if the admit advanced the index
        "dedup_containment_gate_ingested": (
            _dedup.dedup_containment_gate_ingested
        ),
        "simhash_signatures": _dedup.simhash_signatures,
        "dedup_embedding_cosine": _dedup.dedup_embedding_cosine,
        "semdedup_prune": _dedup.semdedup_prune,
        # r7: n-gram-granularity exact-substring dedup analysis
        # (Lee et al. 2021, arXiv:2107.06499)
        "dedup_repeated_ngrams": _dedup.dedup_repeated_ngrams,
        # r13: the rewrite form — duplicated spans actually removed
        # (keeper = md5-min occurrence), content hash of the clean doc
        "dedup_substring_rewrite": _dedup.dedup_substring_rewrite,
        # indexing pipeline over the derived corpus (SURVEY.md §2.2/2.4/2.9, §3.1)
        "project_searchable_text": _idx.project_searchable_text,
        "project_element_ids": _idx.project_element_ids,
        "agg_file_summary": _idx.agg_file_summary,
        "agg_elements_by_type": _idx.agg_elements_by_type,
        "agg_group_structure": _idx.agg_group_structure,
        "project_truncate": _idx.project_truncate,
        "corpus_diagnostics": _idx.corpus_diagnostics,
        "agg_diag_counts": _idx.agg_diag_counts,
        "agg_collection_count": _idx.agg_collection_count,
        "upsert_latest_events": _idx.upsert_latest_events,
        "index_pipeline": _idx.index_pipeline_q,
        # embedding stage (pandas_udf Arrow path, SURVEY.md §2.11)
        "embed_projection_rows": _embed.embed_projection_rows,
        "knn_text_query": _embed.knn_text_query,
        "knn_file_summary_query": _embed.knn_file_summary_query,
        "file_context": _idx.file_context,
        # approximate ANN (SURVEY.md §4) — r11: the 100 TB IVF training path — Lloyd's on the md5-top-s
        # sample (cost independent of corpus size), one frozen-centroid
        # full-corpus assignment pass
        "ann_ivf_sampled_topk": _ann.ann_ivf_sampled_topk,
        # r10c: the ChromaDB-compatible Collection facade end-to-end —
        # the reference's collection.query / collection.get surface
        # (vector_search_tool.py:33-46,149-232) over the versioned
        # vecs+meta components (api/collection.py)
        "collection_query_topk": _coll.collection_query_topk,
        # r12: the facade served by the reference's ACTUAL structure —
        # beam search over the navigable graph of the collection's
        # own vectors (hnswlib is Chroma's backend), filter at emission
        "collection_query_graph_topk": _coll.collection_query_graph_topk,
        "collection_query_graph_batch_topk": (
            _coll.collection_query_graph_batch_topk
        ),
        # r13: opt-in ACORN traversal through the facade — a selective
        # where steers the fused beam (pass-first frontier + failing-
        # neighbor second hop) at the measured graph_beam=16 budget
        "collection_query_graph_acorn_topk": (
            _coll.collection_query_graph_acorn_topk
        ),
        "collection_get_where": _coll.collection_get_where,
        # r13: MVCC time travel — get() against a pinned older version
        # while _CURRENT points past it (immutable-snapshot proof)
        "collection_get_snapshot": _coll.collection_get_snapshot,
        # r13: the write-side counterpart — rollback() pointer swing,
        # get serves the restored state (crash-window convergent)
        "collection_rollback_get": _coll.collection_rollback_get,
        # vector REPLACE then a graph query: the graph of the new
        # version's vectors, the whole lifecycle replayed per run
        "collection_replace_graph_topk": _coll.collection_replace_graph_topk,
        # r11: keyset pagination through the facade (after_id cursor —
        # the BM25 search_after discipline on the metadata store)
        "collection_get_page2": _coll.collection_get_page2,
        # r11: the ip-space facade path with the 1 - dot value contract
        "collection_query_ip_topk": _coll.collection_query_ip_topk,
        # r10: cell-blocked batch kNN join — top-k neighbors for EVERY
        # vector from same-cell pairs only (n^2/c candidate volume)
        "knn_join_ivf_topk": _ann.knn_join_ivf_topk,
        # hybrid retrieval (BM25 + RRF)
        "bm25_topk": _hyb.bm25_topk,
        "hybrid_rrf_topk": _hyb.hybrid_rrf_topk,
        # r12: the OTHER standard fusion — convex alpha-combination of
        # min-max-normalized pool scores (preserves score magnitude
        # where RRF flattens to rank)
        "hybrid_weighted_topk": _hyb.hybrid_weighted_topk,
        # r7: the LEXICAL build-once/serve-many lifecycle (the ivf
        # serving contract applied to text): postings persisted to parquet
        # partitioned by md5 term bucket, probes statically prune to the
        # query terms' buckets (tests/test_plans.py), ranking arithmetic
        # byte-identical to bm25_topk so both share the _BM25_CTE oracle.
        "inverted_postings_rows": _inv.inverted_postings_rows,
        # r9: the versioned-index maintenance component as
        # driver-checkable rows — the docs/ reverse map the text
        # replace path depends on.
        "text_index_doc_map": _inv.text_index_doc_map,
        "bm25_topk_served": _inv.bm25_topk_served,
        # r10c: keyset pagination (search_after) — page 2 by cursor
        "bm25_page2_served": _inv.bm25_search_after,
        # r11: Lucene minimum_should_match — >= m of the query's terms,
        # counted from the same pivoted candidate frame as the score
        "msm_topk_served": _inv.msm_topk_served,
        # r12: normalizing ANALYZER as a versioned index option — the
        # folded index (accent-fold + lowercase + stop-filter, one
        # token pipeline shared by build/update/query-side/oracle);
        # mixed-case + stopword query terms prove the normalization
        "bm25_folded_topk_served": lambda spark, sf: _inv.bm25_topk_served(
            spark, sf, terms=("Join", "the", "Scan", "window"),
            analyzer="folded",
        ),
        # r10: boolean query layer (AND / OR / NOT) over the same
        # on-disk postings — exact-integer tf ranking, one pruned probe
        # (NOT terms ride it: a posting row disqualifies, no rescans).
        "boolean_and_topk": lambda spark, sf: _inv.boolean_topk_served(
            spark, sf, must_all=("join", "scan", "window")
        ),
        "boolean_or_not_topk": lambda spark, sf: _inv.boolean_topk_served(
            spark, sf, must_any=("join", "scan"), must_not=("window",)
        ),
        # r10: token-exact phrase search from the positional postings
        # component (positions/tbucket=*) — adjacency via base = pos -
        # offset, one groupBy over probe-sized data, BIGINT tf ranking.
        "phrase_topk_served": _inv.phrase_topk_served,
        # r10: wildcard prefix retrieval — dictionary-scan expansion
        # (df DESC cap, the Lucene top_terms rewrite) to literal terms,
        # then the standard pruned postings probe.
        "prefix_topk_served": _inv.prefix_topk_served,
        # r10c: fuzzy retrieval — dictionary expansion within Levenshtein
        # max_edit (length-band prefiltered), capped top_terms rewrite,
        # literal-term postings probe
        "fuzzy_topk_served": _inv.fuzzy_topk_served,
        # r10: proximity (SpanNear, unordered) from the positions store
        # — min token distance as the exact-integer relevance metric.
        "proximity_topk_served": _inv.proximity_topk_served,
        # r10: snippet selection — best width-8 window per matching doc
        # (most query-term occurrences, earliest on ties), positions-only.
        "search_highlight_served": _inv.search_highlight_served,
        # r10: M queries, ONE probe of the union terms + one scoring
        # pass — the batched twin of knn_batch_topk for the lexical arm.
        "bm25_batch_topk_served": _inv.bm25_batch_topk_served,
        # r10: Lucene-style explain — the per-term contribution rows of
        # the top-3 served docs, the exact arms the ranking sums.
        "bm25_explain_served": _inv.bm25_explain_served,
        # r10: facet counts over the top-100 search result (per-lang /
        # per-source panels) from a narrow metadata projection.
        "search_facet_counts": _inv.search_facet_counts,
        # r7: dedup reporting — duplicate-cluster size distribution
        "dup_cluster_size_histogram": _dedup.dup_cluster_size_histogram,
    }


# ---------------------------------------------------------------------------
# oracle_sql() — DuckDB twins
# ---------------------------------------------------------------------------

_COS = (
    "round(list_inner_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    " / (sqrt(list_inner_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
    " * sqrt(list_inner_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[])))), 4)"
)

_STOPWORDS_SQL = "('the','a','of','and','to','in','is','it')"

# Random-hyperplane LSH band table (operators/ann.py _rp_band_keys, the
# kernel whose keys Collection.query derives from its stored vectors):
# +-1 hyperplanes regenerated from md5 parity; the sign-determining dot
# runs over floor-scaled integer micro-units, so every term and the
# 64-term sum are integer-valued doubles far below 2^53 — exact in any
# engine and any summation order.
_RP_BANDS_CTE = """
rp_planes AS (
    SELECT p.p, list_transform(range(1, 65), i ->
        CASE WHEN CAST(('0x' || substr(md5('rp|' || p.p || '|' || i), 1, 15))
                       AS BIGINT) % 2 = 0
             THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END) AS plane
    FROM generate_series(0, 23) p(p)
),
rp_bits AS (
    SELECT e.vec_id, pl.p,
           CASE WHEN list_inner_product(
                    list_transform(CAST(e.embedding AS DOUBLE[]),
                                   x -> CAST(floor(x * 1000000 + 0.5) AS DOUBLE)),
                    pl.plane) >= 0 THEN 1 ELSE 0 END AS bit
    FROM embeddings e CROSS JOIN rp_planes pl
),
rp_bands AS (
    SELECT vec_id, CAST(p // 4 AS INTEGER) AS band,
           CAST(sum(bit * (1 << CAST(p % 4 AS INTEGER))) AS INTEGER) AS band_key
    FROM rp_bits GROUP BY 1, 2
)"""


def _kmeans_ctes(
    k: int = 8,
    iters: int = 2,
    tag: str = "",
    emb_sql: str = "CAST(embedding AS DOUBLE[])",
    source: str = "embeddings",
) -> tuple[list[str], str]:
    """Unrolled Lloyd's iterations as chained CTEs, mirroring
    operators/ann.py _lloyd exactly: 6-dp-rounded squared-L2 argmin with
    cluster tie-break, 6-dp-rounded per-dim centroid means. Returns
    (cte_list, final_assignment_select) so callers (``_kmeans_sql``,
    ``_semdedup_sql``, ``_ivf_sampled_sql``) can extend the chain;
    ``tag`` suffixes every CTE name and ``emb_sql`` is the vector
    expression."""
    dist = (
        f"round(list_inner_product(e{tag}.emb, e{tag}.emb)"
        f" - 2 * list_inner_product(e{tag}.emb, c.c)"
        f" + list_inner_product(c.c, c.c), 6)"
    )
    ctes = [
        f"e{tag} AS (SELECT vec_id, {emb_sql} AS emb FROM {source})",
        f"c0{tag} AS (SELECT CAST(vec_id AS INTEGER) AS cluster, emb AS c"
        f" FROM e{tag} WHERE vec_id < {k})",
    ]
    for i in range(iters):
        ctes.append(f"""a{i}{tag} AS (
  SELECT vec_id, cluster FROM (
    SELECT e{tag}.vec_id, c.cluster,
           row_number() OVER (PARTITION BY e{tag}.vec_id
                              ORDER BY {dist}, c.cluster) AS rn
    FROM e{tag} CROSS JOIN c{i}{tag} c) WHERE rn = 1)""")
        ctes.append(f"""c{i + 1}{tag} AS (
  SELECT cluster, list(v ORDER BY pos) AS c FROM (
    SELECT a.cluster, t.i AS pos, round(avg(e{tag}.emb[t.i]), 6) AS v
    FROM a{i}{tag} a JOIN e{tag} USING (vec_id),
         LATERAL (SELECT unnest(generate_series(1, len(e{tag}.emb))) AS i) t
    GROUP BY 1, 2) GROUP BY 1)""")
    final = f"""SELECT vec_id, cluster FROM (
    SELECT e{tag}.vec_id, c.cluster,
           row_number() OVER (PARTITION BY e{tag}.vec_id
                              ORDER BY {dist}, c.cluster) AS rn
    FROM e{tag} CROSS JOIN c{iters}{tag} c) WHERE rn = 1"""
    return ctes, final


def _kmeans_sql(k: int = 8, iters: int = 2) -> str:
    ctes, final = _kmeans_ctes(k, iters)
    return "WITH " + ",\n".join(ctes) + "\n" + final


def _ivf_sampled_sql(
    k: int = 5,
    nprobe: int = 2,
    n_centroids: int = 8,
    iters: int = 2,
    train_per_cell: int = 32,
) -> str:
    """Sample-trained IVF twin (operators/ann.py ann_ivf_sampled_topk,
    r11 — the 100 TB training path): the md5-top-s sample is re-keyed by
    sample rank, Lloyd's runs over the SAMPLE only (the c0 seeds are the
    md5-top-k sample rows by construction of the rank key), the FULL
    corpus is assigned against the final centroids with the same 6-dp
    d2 / cluster-tie-break argmin, and the serving tail ranks centroids
    by 4-dp cosine (cluster tie-break), keeps the top ``nprobe`` cells
    and exact-reranks their members."""
    s = n_centroids * train_per_cell
    ctes = [
        "eall AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb"
        " FROM embeddings)",
        f"samp AS (SELECT vec_id, emb, md5(CAST(vec_id AS VARCHAR)) AS m"
        f" FROM eall ORDER BY m, vec_id LIMIT {s})",
        "train AS (SELECT CAST(row_number() OVER (ORDER BY m, vec_id) - 1"
        " AS BIGINT) AS vec_id, emb FROM samp)",
    ]
    kctes, _final = _kmeans_ctes(
        n_centroids, iters, tag="s", emb_sql="emb", source="train"
    )
    ctes.extend(kctes)
    dist = (
        "round(list_inner_product(eall.emb, eall.emb)"
        " - 2 * list_inner_product(eall.emb, c.c)"
        " + list_inner_product(c.c, c.c), 6)"
    )
    ctes.append(f"""afs AS (
  SELECT vec_id, cluster FROM (
    SELECT eall.vec_id, c.cluster,
           row_number() OVER (PARTITION BY eall.vec_id
                              ORDER BY {dist}, c.cluster) AS rn
    FROM eall CROSS JOIN c{iters}s c) WHERE rn = 1)""")
    ctes.append(
        "qe AS (SELECT CAST(embedding AS DOUBLE[]) AS q"
        " FROM embeddings WHERE vec_id = 0)"
    )
    ctes.append(f"""cs AS (
  SELECT c.cluster,
         round(list_inner_product(c.c, qe.q)
               / (sqrt(list_inner_product(c.c, c.c))
                  * sqrt(list_inner_product(qe.q, qe.q))), 4) AS csim
  FROM c{iters}s c CROSS JOIN qe)""")
    ctes.append(
        f"top_c AS (SELECT cluster FROM cs ORDER BY csim DESC, cluster"
        f" LIMIT {nprobe})"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT e.vec_id, afs.cluster, {_COS.format(a="e.embedding", b="qe.q")} AS sim
FROM embeddings e
JOIN afs ON afs.vec_id = e.vec_id
JOIN top_c USING (cluster)
CROSS JOIN qe
WHERE e.vec_id <> 0
ORDER BY sim DESC, e.vec_id LIMIT {k}"""
    )


def _bm25_folded_sql(
    raw_terms: tuple = ("Join", "the", "Scan", "window"), k: int = 10
) -> str:
    """Folded-analyzer BM25 twin (operators/invindex.py
    bm25_topk_served(analyzer='folded')): the SAME translate → lower →
    split → drop-empties-and-stopwords pipeline as the Spark build
    (functions/text.py analyzed_tokens — fold table and stopword list
    interpolate from the one source of truth), applied to BOTH the
    corpus and the query terms (analyze_terms_py normalizes the raw
    terms here at twin-construction time, exactly like the serving
    path does client-side). Arithmetic is the _BM25_CTE chain
    verbatim."""
    from adk_noui_vectordb_spark.functions.text import (
        FOLD_DST,
        FOLD_SRC,
        STOPWORDS,
        analyze_terms_py,
    )

    terms = analyze_terms_py(raw_terms, "folded")
    stop = ", ".join(f"'{s}'" for s in STOPWORDS)
    toks = (
        f"list_filter(string_split(lower(translate(text, '{FOLD_SRC}',"
        f" '{FOLD_DST}')), ' '), t -> t <> '' AND t NOT IN ({stop}))"
    )
    in_terms = ", ".join(f"'{t}'" for t in terms)
    slots = ",\n           ".join(
        f"sum(CASE WHEN term = '{t}' THEN part END) AS _s{i}"
        for i, t in enumerate(terms)
    )
    total = " + ".join(
        f"coalesce(_s{i}, 0.0::DOUBLE)" for i in range(len(terms))
    )
    return f"""
WITH words AS (
    SELECT doc_id, unnest({toks}) AS term FROM documents
),
dl AS (SELECT doc_id, len({toks}) AS dl FROM documents),
stats AS (SELECT count(*) AS n_docs, sum(dl) AS tot_dl FROM dl),
tf AS (
    SELECT doc_id, term, count(*) AS tf FROM words
    WHERE term IN ({in_terms}) GROUP BY 1, 2
),
tdf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
bm_scored AS (
    SELECT tf.doc_id, tf.term,
           ln((stats.n_docs - tdf.df + 0.5::DOUBLE) / (tdf.df + 0.5::DOUBLE) + 1.0::DOUBLE)
           * (tf.tf * 2.2::DOUBLE)
           / (tf.tf + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE
              * (dl.dl / (CAST(stats.tot_dl AS DOUBLE) / stats.n_docs)))) AS part
    FROM tf JOIN tdf USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
),
bm_agg AS (
    SELECT doc_id,
           {slots}
    FROM bm_scored GROUP BY 1
),
bm AS (SELECT doc_id, round({total}, 4) AS bm25 FROM bm_agg)
SELECT doc_id, bm25 FROM bm ORDER BY bm25 DESC, doc_id LIMIT {k}
"""


def _cell_join_ctes(iters: int = 2, source: str = "embeddings") -> list:
    """The shared sampled-IVF cell-join CTE chain (derived c, md5-top-s
    rank-keyed training sample, sampled Lloyd's, frozen full-corpus
    assignment ``af``/``afnz``, md5-capped neighbor side, same-cell
    candidates, 4-dp cosine ``jscored``) — the common prefix of the
    ``knn_join_ivf_topk`` and the Collection graph oracles."""
    derived_c = (
        f"(SELECT GREATEST({_ann.IVF_JOIN_MIN_CENTROIDS}, "
        f"CAST(ceil(count(*) * 1.0 / {_ann.IVF_JOIN_TARGET_CELL}) AS BIGINT)) "
        f"FROM {source})"
    )
    derived_s = (
        f"(SELECT GREATEST({_ann.IVF_JOIN_MIN_CENTROIDS}, "
        f"CAST(ceil(count(*) * 1.0 / {_ann.IVF_JOIN_TARGET_CELL}) AS BIGINT))"
        f" * {_ann.IVF_JOIN_TRAIN_PER_CELL} FROM {source})"
    )
    ctes = [
        f"eall AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb"
        f" FROM {source})",
        f"samp AS (SELECT vec_id, emb, md5(CAST(vec_id AS VARCHAR)) AS md"
        f" FROM eall ORDER BY md, vec_id LIMIT {derived_s})",
        "samp_rk AS (SELECT vec_id, CAST(row_number() OVER"
        " (ORDER BY md, vec_id) - 1 AS BIGINT) AS rk FROM samp)",
        "train AS (SELECT r.rk AS vec_id, sa.emb FROM samp sa"
        " JOIN samp_rk r USING (vec_id))",
    ]
    kc, _final = _kmeans_ctes(
        derived_c, iters, tag="s", emb_sql="emb", source="train"
    )
    ctes += kc
    dist_full = (
        "round(list_inner_product(eall.emb, eall.emb)"
        " - 2 * list_inner_product(eall.emb, c.c)"
        " + list_inner_product(c.c, c.c), 6)"
    )
    ctes.append(f"""af AS (
  SELECT vec_id, cluster FROM (
    SELECT eall.vec_id, c.cluster,
           row_number() OVER (PARTITION BY eall.vec_id
                              ORDER BY {dist_full}, c.cluster) AS rn
    FROM eall CROSS JOIN c{iters}s c) WHERE rn = 1)""")
    ctes.append(
        f"nz AS (SELECT vec_id FROM {source}"
        " WHERE list_inner_product(CAST(embedding AS DOUBLE[]),"
        " CAST(embedding AS DOUBLE[])) > 0)"
    )
    ctes.append(
        "afnz AS (SELECT a.vec_id, a.cluster FROM af a JOIN nz USING (vec_id))"
    )
    ctes.append(f"""rcap AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY cluster
                              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS m
    FROM afnz) WHERE m <= {_ann.IVF_JOIN_CELL_CAP})""")
    ctes.append("""jcand AS (
  SELECT a.vec_id AS src, b.vec_id AS nbr
  FROM afnz a JOIN rcap b USING (cluster)
  WHERE a.vec_id <> b.vec_id)""")
    cos = _COS.format(a="es.embedding", b="en.embedding")
    ctes.append(f"""jscored AS (
  SELECT c.src, c.nbr, {cos} AS sim
  FROM jcand c
  JOIN {source} es ON es.vec_id = c.src
  JOIN {source} en ON en.vec_id = c.nbr)""")
    return ctes


def _knn_join_ivf_sql(k: int = 3, iters: int = 2) -> str:
    """Cell-blocked batch kNN join oracle (operators/ann.py
    knn_join_ivf_topk): the trained-IVF Lloyd's chain assigns cells,
    candidates are same-cell nonzero-norm pairs, exact 4-dp cosine with
    the (sim desc, nbr) tie-break, rank <= k per source.

    Scale-sizing mirror (VERDICT r10 next #1): the cell count is the
    SAME derived value as the Spark side — max(MIN, ceil(n / TARGET))
    computed from the table's own count as a scalar subquery — and the
    neighbor side keeps only the md5-top-CELL_CAP members per cell
    (cap_bucket_members); all constants interpolate
    from the ann module, one source of truth.

    Sampled training mirror (r11): with c ∝ n, full-corpus Lloyd's is
    quadratic, so the Spark side trains on the md5-top-(c ×
    TRAIN_PER_CELL) rank-keyed sample and assigns the corpus in one
    frozen pass — this twin replays exactly that (sample LIMIT is the
    same scalar arithmetic; seeds are vec_id < derived_c over ranks)."""
    ctes = _cell_join_ctes(iters)
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT src, nbr, sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT src, nbr, sim,
         row_number() OVER (PARTITION BY src ORDER BY sim DESC, nbr) AS rank
  FROM jscored
) WHERE rank <= {k}
"""
    )


def _graph_build_ctes(
    degree: int,
    hub_degree: int,
    iters: int,
    source: str = "embeddings",
) -> list:
    """The graph-construction CTE chain shared by every Collection graph
    twin (solo / batch / ACORN / replace): cell-join layer-0 edges at
    rank <= degree, md5-min hubs + the all-pairs hub mesh, star
    bridges, capped reversals — ending at ``gedges`` (the unified
    bidirectional adjacency).

    r14: layer-0 edge CANDIDATES come from each source's top-
    GRAPH_BUILD_NPROBE cells (graph_ann.py GRAPH_BUILD_NPROBE doc — the
    boundary-vector fix; neighbor side stays the rn=1 membership so a
    pair cannot repeat)."""
    ctes = _cell_join_ctes(iters, source)
    cos_h = _COS.format(a="a.emb", b="b.emb")
    np_ = _gann.GRAPH_BUILD_NPROBE
    dist_full = (
        "round(list_inner_product(eall.emb, eall.emb)"
        " - 2 * list_inner_product(eall.emb, c.c)"
        " + list_inner_product(c.c, c.c), 6)"
    )
    ctes.append(f"""af2 AS (
  SELECT vec_id, cluster FROM (
    SELECT eall.vec_id, c.cluster,
           row_number() OVER (PARTITION BY eall.vec_id
                              ORDER BY {dist_full}, c.cluster) AS rn
    FROM eall CROSS JOIN c{iters}s c) WHERE rn <= {np_})""")
    ctes.append(
        "afnz2 AS (SELECT a.vec_id, a.cluster FROM af2 a JOIN nz USING (vec_id))"
    )
    ctes.append("""jcand2 AS (
  SELECT a.vec_id AS src, b.vec_id AS nbr
  FROM afnz2 a JOIN rcap b USING (cluster)
  WHERE a.vec_id <> b.vec_id)""")
    cos_j = _COS.format(a="es.embedding", b="en.embedding")
    ctes.append(f"""jscored2 AS (
  SELECT c.src, c.nbr, {cos_j} AS sim
  FROM jcand2 c
  JOIN {source} es ON es.vec_id = c.src
  JOIN {source} en ON en.vec_id = c.nbr)""")
    ctes.append(f"""edges0 AS (
  SELECT src, nbr, sim FROM (
    SELECT src, nbr, sim,
           row_number() OVER (PARTITION BY src ORDER BY sim DESC, nbr) AS rank
    FROM jscored2) WHERE rank <= {degree})""")
    ctes.append("""ghubs AS (
  SELECT cluster, vec_id FROM (
    SELECT cluster, vec_id, row_number() OVER (PARTITION BY cluster
             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
    FROM afnz) WHERE rn = 1)""")
    ctes.append(
        f"ghv AS (SELECT h.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb"
        f" FROM ghubs h JOIN {source} e USING (vec_id))"
    )
    cos_s = _COS.format(a="em.embedding", b="eh.embedding")
    ctes.append(f"""gstar AS (
  SELECT a.vec_id AS src, h.vec_id AS nbr, {cos_s} AS sim
  FROM afnz a
  JOIN ghubs h USING (cluster)
  JOIN {source} em ON em.vec_id = a.vec_id
  JOIN {source} eh ON eh.vec_id = h.vec_id
  WHERE a.vec_id <> h.vec_id)""")
    ctes.append(f"""ghedges AS (
  SELECT src, nbr, sim FROM (
    SELECT a.vec_id AS src, b.vec_id AS nbr, {cos_h} AS sim,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {cos_h} DESC, b.vec_id) AS rk
    FROM ghv a JOIN ghv b ON a.vec_id <> b.vec_id) WHERE rk <= {hub_degree})""")
    # bidirectional links, reverse side capped (graph_ann.py build doc)
    ctes.append(
        "gfwd AS (SELECT DISTINCT src, nbr, sim FROM"
        " (SELECT src, nbr, sim FROM edges0"
        "  UNION ALL SELECT src, nbr, sim FROM ghedges"
        "  UNION ALL SELECT src, nbr, sim FROM gstar))"
    )
    ctes.append(f"""grev AS (
  SELECT src, nbr FROM (
    SELECT f.nbr AS src, f.src AS nbr,
           row_number() OVER (PARTITION BY f.nbr
                              ORDER BY f.sim DESC, f.src) AS rk
    FROM gfwd f) WHERE rk <= {_ann.IVF_JOIN_CELL_CAP})""")
    ctes.append(
        "gedges AS (SELECT src, nbr FROM gfwd"
        " UNION SELECT src, nbr FROM grev)"
    )
    return ctes


def _coll_graph_query_ctes(
    qid: int, sfx: str, beam: int, rounds: int, iters: int = 2
) -> list:
    """One facade raw-vector beam chain (qe -> gent -> gqc -> gseed ->
    gv0 -> rounds x (gf, gv)) with CTE names suffixed by ``sfx`` —
    shared by the solo and batch facade graph twins (the batch fuses
    IO, not state, so each query runs the identical solo chain). Seeds
    are the r14 multi-cell doors — NO qid exclusion anywhere (raw
    query vector, Chroma self-match)."""
    cos_q = _COS.format(a="em.embedding", b=f"qe{sfx}.q")
    sc = _gann.GRAPH_SEED_CELLS
    dist_q = (
        f"round(list_inner_product(qe{sfx}.q, qe{sfx}.q)"
        f" - 2 * list_inner_product(qe{sfx}.q, c.c)"
        " + list_inner_product(c.c, c.c), 6)"
    )
    ctes = [
        f"qe{sfx} AS (SELECT CAST(embedding AS DOUBLE[]) AS q"
        f" FROM gcoll WHERE vec_id = {qid})",
        f"gent{sfx} AS (SELECT vec_id FROM ghubs"
        f" ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1)",
        f"""gqc{sfx} AS (
  SELECT cluster FROM (
    SELECT c.cluster,
           row_number() OVER (ORDER BY {dist_q}, c.cluster) AS rn
    FROM c{iters}s c CROSS JOIN qe{sfx}) WHERE rn <= {sc})""",
        f"""gseed{sfx} AS (
  SELECT vec_id FROM gent{sfx}
  UNION
  SELECT h.vec_id FROM ghubs h JOIN gqc{sfx} USING (cluster))""",
        f"""gv0{sfx} AS (
  SELECT em.vec_id, {cos_q} AS sim
  FROM gcoll em JOIN gseed{sfx} s ON s.vec_id = em.vec_id
  CROSS JOIN qe{sfx})""",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"gf{r}{sfx} AS (SELECT vec_id FROM gv{r - 1}{sfx}"
            f" ORDER BY sim DESC, vec_id LIMIT {beam})"
        )
        ctes.append(f"""gv{r}{sfx} AS (
  SELECT vec_id, sim FROM gv{r - 1}{sfx}
  UNION
  SELECT em.vec_id, {cos_q} AS sim
  FROM gedges ed
  JOIN gf{r}{sfx} f ON ed.src = f.vec_id
  JOIN gcoll em ON em.vec_id = ed.nbr
  CROSS JOIN qe{sfx})""")
    return ctes


_GCOLL_CTE = """gcoll AS (
  SELECT CAST(('0x' || substr(md5('doc-' || CAST(e.vec_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS vec_id,
         e.embedding, e.vec_id AS doc_id
  FROM embeddings e)"""


def _coll_graph_acorn_ctes(
    qid: int, beam: int, rounds: int, where_sql: str, iters: int = 2
) -> list:
    """The facade ACORN beam unroll (api/collection.py
    _graph_beam_batch_acorn, M=1): gv rows carry ``pass`` = the
    surrogate row's document satisfies the where (``cpass``); frontier
    ranks passing first; failing hop-1 members expand one extra hop.
    No qid exclusion (raw query vector, Chroma self-match semantics).
    Seeds are the r14 multi-cell doors; expansion stays uncapped (the
    ACORN rationing argument: the pass-first frontier + hop-2 rule
    rations IO)."""
    cos_q = _COS.format(a="em.embedding", b="qe.q")
    sc = _gann.GRAPH_SEED_CELLS
    dist_q = (
        "round(list_inner_product(qe.q, qe.q)"
        " - 2 * list_inner_product(qe.q, c.c)"
        " + list_inner_product(c.c, c.c), 6)"
    )
    ctes = [
        f"qe AS (SELECT CAST(embedding AS DOUBLE[]) AS q"
        f" FROM gcoll WHERE vec_id = {qid})",
        "gent AS (SELECT vec_id FROM ghubs"
        " ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1)",
        f"""gqc AS (
  SELECT cluster FROM (
    SELECT c.cluster,
           row_number() OVER (ORDER BY {dist_q}, c.cluster) AS rn
    FROM c{iters}s c CROSS JOIN qe) WHERE rn <= {sc})""",
        """gseed AS (
  SELECT vec_id FROM gent
  UNION
  SELECT h.vec_id FROM ghubs h JOIN gqc USING (cluster))""",
        f"""cpass AS (
  SELECT g.vec_id FROM gcoll g
  JOIN documents d ON d.doc_id = g.doc_id
  WHERE {where_sql})""",
        f"""gv0 AS (
  SELECT em.vec_id, {cos_q} AS sim,
         em.vec_id IN (SELECT vec_id FROM cpass) AS pass
  FROM gcoll em JOIN gseed s ON s.vec_id = em.vec_id
  CROSS JOIN qe)""",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(
            f"gf{r} AS (SELECT vec_id FROM gv{p}"
            f" ORDER BY pass DESC, sim DESC, vec_id LIMIT {beam})"
        )
        ctes.append(f"""n1_{r} AS (
  SELECT DISTINCT ed.nbr AS vec_id FROM gedges ed
  JOIN gf{r} f ON ed.src = f.vec_id
  WHERE ed.nbr NOT IN (SELECT vec_id FROM gv{p}))""")
        ctes.append(f"""s1_{r} AS (
  SELECT em.vec_id, {cos_q} AS sim,
         em.vec_id IN (SELECT vec_id FROM cpass) AS pass
  FROM gcoll em JOIN n1_{r} n ON n.vec_id = em.vec_id
  CROSS JOIN qe)""")
        ctes.append(f"f1_{r} AS (SELECT vec_id FROM s1_{r} WHERE NOT pass)")
        ctes.append(f"""n2_{r} AS (
  SELECT DISTINCT ed.nbr AS vec_id FROM gedges ed
  JOIN f1_{r} f ON ed.src = f.vec_id
  WHERE ed.nbr NOT IN (SELECT vec_id FROM gv{p})
    AND ed.nbr NOT IN (SELECT vec_id FROM n1_{r}))""")
        ctes.append(f"""s2_{r} AS (
  SELECT em.vec_id, {cos_q} AS sim,
         em.vec_id IN (SELECT vec_id FROM cpass) AS pass
  FROM gcoll em JOIN n2_{r} n ON n.vec_id = em.vec_id
  CROSS JOIN qe)""")
        ctes.append(f"""gv{r} AS (
  SELECT vec_id, sim, pass FROM gv{p}
  UNION
  SELECT vec_id, sim, pass FROM s1_{r}
  UNION
  SELECT vec_id, sim, pass FROM s2_{r})""")
    return ctes


def _collection_graph_acorn_sql(
    doc_qid: int = 0,
    k: int = 10,
    beam: int = _gann.GRAPH_ACORN_BEAM,
    rounds: int = _gann.GRAPH_ROUNDS,
    degree: int = 8,
    hub_degree: int = 8,
    iters: int = 2,
) -> str:
    """Facade ACORN twin (api/collection.py
    collection_query_graph_acorn_topk): surrogate-keyspace graph
    construction as the blind facade twin, the pass-flagged ACORN beam
    at the raise-ef budget, emission = passing pool under the same
    where, facade distance contract."""
    where_sql = _wdsl.where_to_sql({"lang": {"$eq": "fr"}})
    qid = _coll._sid_py(f"doc-{doc_qid}")
    ctes = [_GCOLL_CTE]
    ctes += _graph_build_ctes(degree, hub_degree, iters, source="gcoll")
    ctes += _coll_graph_acorn_ctes(qid, beam, rounds, where_sql)
    mat = set(_GRAPH_MAT) | {"gcoll", "gseed", "cpass"}
    for r in range(rounds + 1):
        mat.add(f"gv{r}")
    for r in range(1, rounds + 1):
        mat |= {f"n1_{r}", f"s1_{r}", f"f1_{r}", f"n2_{r}", f"s2_{r}"}
    ctes = _mat_ctes(ctes, mat)
    dist = "1 - " + _COS.format(a="g.embedding", b="qe.q")
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT 'doc-' || CAST(g.doc_id AS VARCHAR) AS id,
       {dist} AS distance, d.lang
FROM gv{rounds} v
JOIN gcoll g ON g.vec_id = v.vec_id
JOIN documents d ON d.doc_id = g.doc_id
CROSS JOIN qe
WHERE v.pass AND {where_sql}
ORDER BY distance ASC, id ASC
LIMIT {k}
"""
    )


def _collection_graph_sql(
    doc_qid: int = 0,
    k: int = 10,
    beam: int = _gann.GRAPH_BEAM,
    rounds: int = _gann.GRAPH_ROUNDS,
    degree: int = 8,
    hub_degree: int = 8,
    iters: int = 2,
) -> str:
    """Facade graph-strategy twin (api/collection.py
    collection_query_graph_topk): the WHOLE navigable graph
    reconstructed over the collection's 60-bit md5 SURROGATE ids (sid =
    first 15 hex of md5('doc-<n>') — every md5-keyed build decision
    re-derives under the surrogate keyspace), then the RAW-VECTOR beam
    (entry hub + query-cell hub seeds, NO self-exclusion — Chroma
    includes self-matches), the demo where-filter at emission, and the
    facade's 1 − round(cos, 4) distance contract."""
    qid = _coll._sid_py(f"doc-{doc_qid}")
    ctes = [_GCOLL_CTE]
    ctes += _graph_build_ctes(degree, hub_degree, iters, source="gcoll")
    ctes += _coll_graph_query_ctes(qid, "", beam, rounds)
    mat = (
        _GRAPH_MAT
        | {f"gv{r}" for r in range(rounds + 1)}
        | {"gseed", "gcoll"}
    )
    ctes = _mat_ctes(ctes, mat)
    dist = "1 - " + _COS.format(a="g.embedding", b="qe.q")
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT 'doc-' || CAST(g.doc_id AS VARCHAR) AS id,
       {dist} AS distance, d.lang, d.n_chars
FROM gv{rounds} v
JOIN gcoll g ON g.vec_id = v.vec_id
JOIN documents d ON d.doc_id = g.doc_id
CROSS JOIN qe
WHERE {_wdsl.where_to_sql(_coll.COLLECTION_WHERE_DEMO)}
ORDER BY distance ASC, id ASC
LIMIT {k}
"""
    )


def _collection_replace_graph_sql(
    k: int = 10,
    beam: int = _gann.GRAPH_BEAM,
    rounds: int = _gann.GRAPH_ROUNDS,
    degree: int = 8,
    hub_degree: int = 8,
    iters: int = 2,
) -> str:
    """Vector-REPLACE lifecycle twin (api/collection.py
    collection_replace_graph_topk): the graph of the post-update
    version is the standard surrogate-keyspace build over the demo
    corpus with doc-3's embedding swapped for embeddings[7]'s, then the
    raw-vector beam at doc-7's vector, no where-filter, the facade
    distance contract."""
    qid = _coll._sid_py("doc-7")
    ctes = [
        """gcoll AS (
  SELECT CAST(('0x' || substr(md5('doc-' || CAST(e.vec_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS vec_id,
         CASE WHEN e.vec_id = 3
              THEN (SELECT embedding FROM embeddings WHERE vec_id = 7)
              ELSE e.embedding END AS embedding,
         e.vec_id AS doc_id
  FROM embeddings e)"""
    ]
    ctes += _graph_build_ctes(degree, hub_degree, iters, source="gcoll")
    ctes += _coll_graph_query_ctes(qid, "", beam, rounds)
    mat = (
        _GRAPH_MAT
        | {f"gv{r}" for r in range(rounds + 1)}
        | {"gseed", "gcoll"}
    )
    ctes = _mat_ctes(ctes, mat)
    dist = "1 - " + _COS.format(a="g.embedding", b="qe.q")
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT 'doc-' || CAST(g.doc_id AS VARCHAR) AS id, {dist} AS distance
FROM gv{rounds} v
JOIN gcoll g ON g.vec_id = v.vec_id
CROSS JOIN qe
ORDER BY distance ASC, id ASC
LIMIT {k}
"""
    )


def _collection_graph_batch_sql(
    doc_qids: tuple = (0, 9),
    k: int = 5,
    beam: int = _gann.GRAPH_BEAM,
    rounds: int = _gann.GRAPH_ROUNDS,
    degree: int = 8,
    hub_degree: int = 8,
    iters: int = 2,
) -> str:
    """Batched facade graph twin (collection_query_graph_batch_topk):
    the shared surrogate-keyspace graph construction once, then each
    query's SOLO raw-vector beam chain (the Spark side fuses IO, not
    state), UNION ALL'd with its query_idx; per-query top-k, no
    where-filter (the batch key exercises the fused pool shape)."""
    ctes = [_GCOLL_CTE]
    ctes += _graph_build_ctes(degree, hub_degree, iters, source="gcoll")
    finals = []
    mat = set(_GRAPH_MAT) | {"gcoll"}
    dist_g = "1 - " + _COS.format(a="g.embedding", b="qe{sfx}.q")
    for i, doc_qid in enumerate(doc_qids):
        sfx = f"_q{i}"
        qid = _coll._sid_py(f"doc-{doc_qid}")
        ctes += _coll_graph_query_ctes(qid, sfx, beam, rounds)
        mat |= {f"gv{r}{sfx}" for r in range(rounds + 1)} | {f"gseed{sfx}"}
        dist = dist_g.format(sfx=sfx)
        finals.append(f"""
SELECT CAST({i} AS INTEGER) AS query_idx,
       'doc-' || CAST(g.doc_id AS VARCHAR) AS id, {dist} AS distance
FROM (SELECT vec_id FROM gv{rounds}{sfx}) v
JOIN gcoll g ON g.vec_id = v.vec_id
CROSS JOIN qe{sfx}
ORDER BY distance ASC, id ASC
LIMIT {k}""")
    ctes = _mat_ctes(ctes, mat)
    return (
        "WITH " + ",\n".join(ctes)
        + "\nSELECT * FROM (\n"
        + "\nUNION ALL\n".join(f"(\n{f})" for f in finals)
        + "\n)\nORDER BY query_idx, distance, id\n"
    )


def _mat_ctes(ctes: list, names: set) -> list:
    """Rewrite ``name AS (`` to ``name AS MATERIALIZED (`` for the named
    CTEs — semantically neutral, but REQUIRED for the graph oracles:
    DuckDB inlines CTEs by default, and the beam unroll references each
    ``gv_{r-1}`` twice (once via gf_r, once directly), so without
    materialization the whole sampled-Lloyd's + graph-construction
    chain re-evaluates 2^rounds times per query (measured: the batch
    twin ran past 10 minutes; materialized it is seconds)."""
    out = []
    for c in ctes:
        stripped = c.lstrip()
        for n in names:
            pre = f"{n} AS ("
            if stripped.startswith(pre):
                c = c.replace(pre, f"{n} AS MATERIALIZED (", 1)
                break
        out.append(c)
    return out


# jcand/jscored (the rn=1 candidate chain) are NOT here: since r14 the
# graph build scores from the nprobe-2 chain (jcand2/jscored2) and the
# rn=1 pair sits unreferenced in the WITH list — materializing it would
# make DuckDB compute a dead corpus-sized join
_GRAPH_MAT = {
    "af", "afnz", "rcap", "edges0",
    "af2", "afnz2", "jcand2", "jscored2",
    "ghubs", "ghv", "gstar", "ghedges", "gfwd", "grev", "gedges",
}

def _semdedup_sql(k: int = 8, iters: int = 2, thr: float = 0.35) -> str:
    """SemDeDup oracle: extend the k-means CTE chain with a within-cluster
    pairwise-cosine prune (operators/dedup.py semdedup_prune). A vector is
    pruned when a lower-vec_id cluster-mate has round(cos, 4) >= thr."""
    cos = _COS.format(a="va.emb", b="vb.emb")
    ctes, final = _kmeans_ctes(k, iters)
    ctes.append(f"asg AS (\n{final})")
    ctes.append(
        "v AS (SELECT a.vec_id, a.cluster, e.emb FROM asg a JOIN e USING (vec_id))"
    )
    ctes.append(
        f"""pruned AS (
  SELECT DISTINCT vb.vec_id FROM v va JOIN v vb
  ON va.cluster = vb.cluster AND va.vec_id < vb.vec_id
  WHERE {cos} >= {thr})"""
    )
    return (
        "WITH " + ",\n".join(ctes) + """
SELECT v.vec_id, v.cluster,
       CASE WHEN p.vec_id IS NULL THEN 1 ELSE 0 END AS keep
FROM v LEFT JOIN pruned p ON v.vec_id = p.vec_id
"""
    )


def _knn_sql(extra_where: str = "") -> str:
    cos = _COS.format(a="e.embedding", b="q.q_emb")
    return f"""
WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id, {cos} AS sim
FROM embeddings e CROSS JOIN q
WHERE e.vec_id <> 0 {extra_where}
ORDER BY sim DESC, e.vec_id
LIMIT 5
"""


# BM25 CTE chain shared by bm25_topk / hybrid_rrf_topk (operators/hybrid.py).
# Every fractional literal is ::DOUBLE so DuckDB never takes its exact-DECIMAL
# arithmetic path (e.g. decimal tf*2.2 re-rounded to double differs from
# Spark's double multiply by 1 ulp); fixed-order per-term combination mirrors
# the Spark conditional aggregates.
_BM25_CTE = """
words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
stats AS (SELECT count(*) AS n_docs, sum(dl) AS tot_dl FROM dl),
tf AS (
    SELECT doc_id, term, count(*) AS tf FROM words
    WHERE term IN ('join', 'scan', 'window') GROUP BY 1, 2
),
tdf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
bm_scored AS (
    SELECT tf.doc_id, tf.term,
           ln((stats.n_docs - tdf.df + 0.5::DOUBLE) / (tdf.df + 0.5::DOUBLE) + 1.0::DOUBLE)
           * (tf.tf * 2.2::DOUBLE)
           / (tf.tf + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE
              * (dl.dl / (CAST(stats.tot_dl AS DOUBLE) / stats.n_docs)))) AS part
    FROM tf JOIN tdf USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
),
bm_agg AS (
    SELECT doc_id,
           sum(CASE WHEN term = 'join' THEN part END) AS _s0,
           sum(CASE WHEN term = 'scan' THEN part END) AS _s1,
           sum(CASE WHEN term = 'window' THEN part END) AS _s2
    FROM bm_scored GROUP BY 1
),
bm AS (
    SELECT doc_id,
           round(coalesce(_s0, 0.0::DOUBLE) + coalesce(_s1, 0.0::DOUBLE)
                 + coalesce(_s2, 0.0::DOUBLE), 4) AS bm25
    FROM bm_agg
)"""

def _minhash_perm_values() -> str:
    rows = ", ".join(
        f"({i}, {_dedup.MINHASH_A[i]}, {_dedup.MINHASH_B[i]})"
        for i in range(_dedup.NUM_HASHES)
    )
    return f"(VALUES {rows}) AS perm(hash_idx, a, b)"


_MINHASH_SIG_CTE = f"""
shingle_pos AS (
    SELECT d.doc_id, array_to_string(d.parts[t.i:t.i+2], ' ') AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS parts FROM documents) d,
         LATERAL (SELECT unnest(generate_series(1, greatest(len(d.parts) - 2, 1))) AS i) t
),
shingled AS (SELECT DISTINCT doc_id, shingle FROM shingle_pos),
hashed AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(shingle), 1, 12)) AS BIGINT) % {_dedup.MINHASH_PRIME} AS h
    FROM shingled
),
sigs AS (
    SELECT h.doc_id, perm.hash_idx,
           min((perm.a * h.h + perm.b) % {_dedup.MINHASH_PRIME}) AS minhash
    FROM hashed h CROSS JOIN {_minhash_perm_values()}
    GROUP BY h.doc_id, perm.hash_idx
)
"""

_MINHASH_BANDS_CTE = (
    _MINHASH_SIG_CTE
    + f""",
bands AS (
    SELECT doc_id, CAST(hash_idx // {_dedup.ROWS_PER_BAND} AS INTEGER) AS band,
           md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY hash_idx)) AS band_hash
    FROM sigs
    GROUP BY doc_id, CAST(hash_idx // {_dedup.ROWS_PER_BAND} AS INTEGER)
)
"""
)


def _simhash_sql() -> str:
    bit_sums = ",\n        ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(_dedup.SIMHASH_BITS)
    )
    recompose = " + ".join(
        f"CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END"
        for i in range(_dedup.SIMHASH_BITS)
    )
    return f"""
WITH grams AS (
    SELECT DISTINCT doc_id, g FROM (
        SELECT d.doc_id, array_to_string(d.parts[t.i:t.i+1], ' ') AS g
        FROM (SELECT doc_id, string_split(text, ' ') AS parts FROM documents) d,
             LATERAL (SELECT unnest(generate_series(1, greatest(len(d.parts) - 1, 1))) AS i) t
    )
), h AS (
    SELECT doc_id, CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS h FROM grams
), bits AS (
    SELECT doc_id,
        {bit_sums}
    FROM h GROUP BY doc_id
)
SELECT doc_id, CAST({recompose} AS BIGINT) AS simhash FROM bits
"""


_ELEMENTS_CTE = (
    DERIVED_CORPUS_SQL
    + """,
clines AS (
    SELECT c.path, c.ext, t.i - 1 AS pos, c.parts[t.i] AS line
    FROM (SELECT path, ext, string_split(content, chr(10)) AS parts FROM corpus) c,
         LATERAL (SELECT unnest(generate_series(1, len(c.parts))) AS i) t
),
elements AS (
    SELECT path, ext, CAST(pos // 5 AS INTEGER) AS chunk_id,
           'chunk_' || CAST(pos // 5 AS INTEGER) AS name,
           CASE CAST(pos // 5 AS INTEGER) % 3
                WHEN 0 THEN 'function' WHEN 1 THEN 'class'
                ELSE 'text_chunk' END AS element_type,
           CAST(min(pos) + 1 AS INTEGER) AS start_line,
           CAST(max(pos) + 1 AS INTEGER) AS end_line,
           count(*) AS n_lines,
           string_agg(line, chr(10) ORDER BY pos) AS content
    FROM clines
    GROUP BY path, ext, CAST(pos // 5 AS INTEGER)
)
"""
)

_DIAG_CTE = (
    _ELEMENTS_CTE
    + """,
diags AS (
    SELECT path, CAST(pos + 1 AS INTEGER) AS line_no,
           unnest(list_filter([
             CASE WHEN ext = '.py' AND trim(line) LIKE 'from%' AND contains(line, 'import *') THEN 'wildcard_import' END,
             CASE WHEN ext = '.py' AND contains(line, 'print(') THEN 'print_call' END,
             CASE WHEN ext = '.py' AND length(line) > 120 THEN 'long_line' END,
             CASE WHEN ext IN ('.js','.ts') AND contains(line, 'console.log') THEN 'console_log' END,
             CASE WHEN ext IN ('.js','.ts') AND contains(line, ';;') THEN 'multi_semicolon' END,
             CASE WHEN ext IN ('.js','.ts') AND length(line) > 120 THEN 'long_line' END,
             CASE WHEN ext IN ('.js','.ts') AND trim(line) <> ''
                   AND trim(line) NOT LIKE '//%' AND trim(line) NOT LIKE '/*%'
                   AND trim(line) NOT LIKE '%;' AND trim(line) NOT LIKE '%{'
                   AND trim(line) NOT LIKE '%}' AND trim(line) NOT LIKE '%,'
                   AND NOT contains(trim(line), 'if (')
                   AND NOT contains(trim(line), 'for (')
                   AND NOT contains(trim(line), 'while (') THEN 'missing_semicolon' END,
             CASE WHEN ext NOT IN ('.py','.js','.ts') AND length(line) > 200 THEN 'overlong' END,
             CASE WHEN ext NOT IN ('.py','.js','.ts') AND rtrim(line) <> line THEN 'trailing_ws' END
           ], x -> x IS NOT NULL)) AS rule
    FROM clines
)
"""
)

# Expected output of the REAL ast.parse extraction over the generated
# python corpus, predicted arithmetically from the generation rules
# (sources/corpus.py:derived_python_corpus docstring has the layout).
_PY_ELEMENTS_CTE = (
    DERIVED_PY_SQL.strip()
    + ''',
py_elements AS (
    SELECT path, 'import' AS name, 'import' AS element_type,
           1 AS start_line, 1 AS end_line, 'import os' AS content, '' AS docstring
    FROM py_base
    UNION ALL
    SELECT path, 'import', 'import', 2, 2, 'from collections import OrderedDict', '' FROM py_base
    UNION ALL
    SELECT path, 'f_' || t.i, 'function', 4 + 4*t.i, 6 + 4*t.i,
           'def f_' || t.i || '(x):' || chr(10) || '    """' || w || ' ' || t.i || '"""' || chr(10) || '    return x + ' || t.i,
           w || ' ' || t.i
    FROM py_base, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS i) t
    UNION ALL
    SELECT path, 'C' || doc_id, 'class', 4 + 4*nf, 7 + 4*nf,
           'class C' || doc_id || ':' || chr(10) || '    """' || w || ' class"""' || chr(10) || '    def m(self):' || chr(10) || '        return ' || doc_id,
           w || ' class'
    FROM py_base
    UNION ALL
    SELECT path, 'm', 'function', 6 + 4*nf, 7 + 4*nf,
           '    def m(self):' || chr(10) || '        return ' || doc_id, ''
    FROM py_base
)
'''
)


def _js_elements_cte(lang: str = "de", ext: str = ".js", sfx: str = "") -> str:
    """Expected output of the heuristic js/ts element extraction over the
    generated JS corpus, predicted arithmetically from the generation
    rules (sources/corpus.py:derived_js_corpus docstring has the layout).
    Methods are emitted as 'function' — see chunk_js_elements' docstring
    on the reference's method_definition drop bug."""
    return (
        derived_js_sql(lang, ext, sfx).strip().rstrip()
        + f""",
js_elements{sfx} AS (
    SELECT path, 'import' AS name, 'import' AS element_type,
           1 AS start_line, 1 AS end_line,
           'import os from ''os'';' AS content
    FROM js_base{sfx}
    UNION ALL
    SELECT path, 'import', 'import', 2, 2,
           'import {{ readFile }} from ''fs'';'
    FROM js_base{sfx}
    UNION ALL
    SELECT path, 'f_' || t.i, 'function', 4 + 4*t.i, 6 + 4*t.i,
           'export function f_' || t.i || '(x) {{' || chr(10) || '  return x + ' || t.i || '; // ' || w || ' ' || t.i || chr(10) || '}}'
    FROM js_base{sfx}, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS i) t
    UNION ALL
    SELECT path, 'C' || doc_id, 'class', 4 + 4*nf, 4 + 4*nf + 3*nm + 1,
           'class C' || doc_id || ' {{' || chr(10)
           || '  m_0(x) {{' || chr(10) || '    return ' || doc_id || ' + 0;' || chr(10) || '  }}' || chr(10)
           || CASE WHEN nm > 1 THEN '  m_1(x) {{' || chr(10) || '    return ' || doc_id || ' + 1;' || chr(10) || '  }}' || chr(10) ELSE '' END
           || '}}'
    FROM js_base{sfx}
    UNION ALL
    SELECT path, 'm_' || t.j, 'function',
           4 + 4*nf + 1 + 3*t.j, 4 + 4*nf + 3 + 3*t.j,
           '  m_' || t.j || '(x) {{' || chr(10) || '    return ' || doc_id || ' + ' || t.j || ';' || chr(10) || '  }}'
    FROM js_base{sfx}, LATERAL (SELECT unnest(generate_series(0, nm - 1)) AS j) t
)
"""
    )


def oracle_sql() -> dict[str, str]:
    cos_ab = _COS.format(a="a.embedding", b="b.embedding")
    return {
        "knn_topk": _knn_sql(),
        "knn_topk_filtered": _knn_sql("AND e.label = 3"),
        "knn_batch_topk": f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
sims AS (
    SELECT q.q_id AS query_id, e.vec_id,
           {_COS.format(a="e.embedding", b="q.q_emb")} AS sim
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> q.q_id
), ranked AS (
    SELECT query_id, vec_id, sim,
           CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
    FROM sims
)
SELECT query_id, vec_id, sim, rank FROM ranked WHERE rank <= 3
""",
        "score_similarity_pairs": f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {cos_ab} AS cosine,
       round(list_distance(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS l2_dist
FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
""",
        "chunk_fixed_words": """
WITH w AS (
    SELECT d.doc_id, t.i - 1 AS pos, d.parts[t.i] AS word
    FROM (SELECT doc_id, string_split(text, ' ') AS parts FROM documents) d,
         LATERAL (SELECT unnest(generate_series(1, len(d.parts))) AS i) t
)
SELECT doc_id, CAST(pos // 20 AS INTEGER) AS chunk_id,
       CAST(min(pos) AS INTEGER) AS start_pos, CAST(max(pos) AS INTEGER) AS end_pos,
       count(*) AS n_words,
       string_agg(word, ' ' ORDER BY pos) AS chunk_text,
       'chunk_' || CAST(pos // 20 AS INTEGER) AS chunk_name
FROM w GROUP BY doc_id, CAST(pos // 20 AS INTEGER)
""",
        "cluster_kmeans": _kmeans_sql(),
        "semdedup_prune": _semdedup_sql(),
        "dedup_exact": """
SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS dup_count
FROM documents GROUP BY 1
""",
        "minhash_signature_rows": f"""
WITH {_MINHASH_SIG_CTE}
SELECT doc_id, hash_idx, minhash FROM sigs
""",
        "minhash_band_rows": f"""
WITH {_MINHASH_BANDS_CTE}
SELECT doc_id, band, band_hash FROM bands
""",
        "dedup_minhash_pairs": f"""
WITH {_MINHASH_BANDS_CTE}
SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
FROM bands l JOIN bands r
  ON l.band = r.band AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id
""",
        # Ingest gate mirror: clones (+1_000_000) of every doc_id%10==0
        # signed alongside the corpus; candidates via shared (band,
        # band_hash); verification = equal-minhash-position count
        # (matches/16 is the Broder Jaccard estimate; k/16 is dyadic so
        # the 4-dp round is tie-free).
        "dedup_gate_against_index": f"""
WITH docs_all AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM documents
    WHERE doc_id % 10 = 0
),
{_MINHASH_BANDS_CTE.replace("FROM documents) d", "FROM docs_all) d")},
gate_cand AS (
    SELECT DISTINCT nb.doc_id AS new_doc_id, ob.doc_id AS dup_of
    FROM bands nb JOIN bands ob
      ON nb.band = ob.band AND nb.band_hash = ob.band_hash
    WHERE nb.doc_id >= 1000000 AND ob.doc_id < 1000000
),
gate_m AS (
    SELECT c.new_doc_id, c.dup_of,
           CAST(sum(CASE WHEN sn.minhash = so.minhash THEN 1 ELSE 0 END)
                AS BIGINT) AS matches
    FROM gate_cand c
    JOIN sigs sn ON sn.doc_id = c.new_doc_id
    JOIN sigs so ON so.doc_id = c.dup_of AND so.hash_idx = sn.hash_idx
    GROUP BY 1, 2
)
SELECT new_doc_id, dup_of, matches,
       round(matches / {_dedup.NUM_HASHES}.0, 4) AS est_sim
FROM gate_m WHERE matches >= {_dedup.GATE_MIN_MATCHES}
""",
        "dedup_gate_intra_batch": f"""
WITH docs_all AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM documents
    WHERE doc_id % 10 = 0
),
{_MINHASH_BANDS_CTE.replace("FROM documents) d", "FROM docs_all) d")},
ib_cand AS (
    SELECT DISTINCT a.doc_id AS new_doc_id, b.doc_id AS dup_of
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_hash = b.band_hash
    WHERE md5(CAST(a.doc_id AS VARCHAR)) > md5(CAST(b.doc_id AS VARCHAR))
       OR (md5(CAST(a.doc_id AS VARCHAR)) = md5(CAST(b.doc_id AS VARCHAR))
           AND a.doc_id > b.doc_id)
),
ib_m AS (
    SELECT c.new_doc_id, c.dup_of,
           CAST(sum(CASE WHEN sn.minhash = so.minhash THEN 1 ELSE 0 END)
                AS BIGINT) AS matches
    FROM ib_cand c
    JOIN sigs sn ON sn.doc_id = c.new_doc_id
    JOIN sigs so ON so.doc_id = c.dup_of AND so.hash_idx = sn.hash_idx
    GROUP BY 1, 2
)
SELECT new_doc_id, dup_of, matches,
       round(matches / {_dedup.NUM_HASHES}.0, 4) AS est_sim
FROM ib_m WHERE matches >= {_dedup.GATE_MIN_MATCHES}
""",
        "dedup_connected_components": f"""
WITH RECURSIVE {_MINHASH_BANDS_CTE},
edges AS (
    SELECT DISTINCT l.doc_id AS src, r.doc_id AS dst
    FROM bands l JOIN bands r
      ON l.band = r.band AND l.band_hash = r.band_hash
         AND l.doc_id <> r.doc_id
),
reach(src, dst) AS (
    SELECT doc_id AS src, doc_id AS dst FROM documents
    UNION
    SELECT reach.src, edges.dst
    FROM reach JOIN edges ON reach.dst = edges.src
)
SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
""",
        "dup_cluster_size_histogram": f"""
WITH RECURSIVE {_MINHASH_BANDS_CTE},
edges AS (
    SELECT DISTINCT l.doc_id AS src, r.doc_id AS dst
    FROM bands l JOIN bands r
      ON l.band = r.band AND l.band_hash = r.band_hash
         AND l.doc_id <> r.doc_id
),
reach(src, dst) AS (
    SELECT doc_id AS src, doc_id AS dst FROM documents
    UNION
    SELECT reach.src, edges.dst
    FROM reach JOIN edges ON reach.dst = edges.src
),
cc AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY 1)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters
FROM sizes GROUP BY 1
""",
        "dedup_canonical_selection": f"""
WITH RECURSIVE {_MINHASH_BANDS_CTE},
edges AS (
    SELECT DISTINCT l.doc_id AS src, r.doc_id AS dst
    FROM bands l JOIN bands r
      ON l.band = r.band AND l.band_hash = r.band_hash
         AND l.doc_id <> r.doc_id
),
reach(src, dst) AS (
    SELECT doc_id AS src, doc_id AS dst FROM documents
    UNION
    SELECT reach.src, edges.dst
    FROM reach JOIN edges ON reach.dst = edges.src
),
cc AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
q AS (
    SELECT doc_id,
           round(CASE WHEN n_chars BETWEEN 100 AND 5000 THEN 0.4 ELSE 0.0 END
                 + len(list_filter(string_split(lower(text), ' '),
                                   x -> x IN {_STOPWORDS_SQL}))
                   / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) * 0.3
                 + len(list_distinct(string_split(text, ' ')))
                   / CAST(len(string_split(text, ' ')) AS DOUBLE) * 0.3,
                 4) AS quality
    FROM documents
),
ranked AS (
    SELECT cc.cluster_id, cc.doc_id, q.quality,
           row_number() OVER (PARTITION BY cc.cluster_id
                              ORDER BY q.quality DESC, cc.doc_id) AS rn,
           CAST(count(*) OVER (PARTITION BY cc.cluster_id) AS BIGINT)
               AS n_members
    FROM cc JOIN q USING (doc_id)
)
SELECT cluster_id, doc_id AS canonical_doc, n_members, quality AS best_quality
FROM ranked WHERE rn = 1
""",
        # r14 containment (operators/dedup.py dedup_containment_pairs):
        # prefix-filter candidates (rarest n - ceil(t*n) + 1 tokens by
        # (df, token) must hit the partner; exact integer arithmetic,
        # ppjoin_prefix_len — ADVICE r14 #1), exact two-sided
        # containment on candidates, either direction >= 0.8
        # r14 containment ingest gate (dedup.py
        # dedup_containment_gate): the index is a pure function of the
        # corpus, so the twin replays it — corpus+batch shingle keys,
        # corpus dfs, stored/bathside prefixes (unseen shingles df 0),
        # two-direction candidates, exact intersections on candidates
        "dedup_containment_gate": """
WITH batchq AS (
    SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id,
           array_to_string((string_split(text, ' '))[1:12], ' ') AS text
    FROM documents WHERE doc_id % 10 = 0
),
cgp AS (
    SELECT d.doc_id, array_to_string(d.parts[t.i:t.i+2], ' ') AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS parts FROM documents) d,
         LATERAL (SELECT unnest(generate_series(1, greatest(len(d.parts) - 2, 1))) AS i) t
),
cg AS (SELECT DISTINCT doc_id,
              CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS gk
       FROM cgp),
bgp AS (
    SELECT d.doc_id, array_to_string(d.parts[t.i:t.i+2], ' ') AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS parts FROM batchq) d,
         LATERAL (SELECT unnest(generate_series(1, greatest(len(d.parts) - 2, 1))) AS i) t
),
bg AS (SELECT DISTINCT doc_id,
              CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS gk
       FROM bgp),
dfs AS (SELECT gk, count(*) AS df FROM cg GROUP BY gk),
csz AS (SELECT doc_id, count(*) AS n FROM cg GROUP BY doc_id),
bsz AS (SELECT doc_id, count(*) AS n FROM bg GROUP BY doc_id),
cpre AS (
    SELECT doc_id, gk FROM (
        SELECT c.doc_id, c.gk,
               row_number() OVER (PARTITION BY c.doc_id
                                  ORDER BY f.df ASC, c.gk ASC) AS rn,
               s.n
        FROM cg c JOIN dfs f USING (gk) JOIN csz s USING (doc_id))
    WHERE rn <= n - (8 * n + 9) // 10 + 1
),
bpre AS (
    SELECT doc_id, gk FROM (
        SELECT b.doc_id, b.gk,
               row_number() OVER (PARTITION BY b.doc_id
                                  ORDER BY coalesce(f.df, 0) ASC, b.gk ASC) AS rn,
               s.n
        FROM bg b LEFT JOIN dfs f USING (gk) JOIN bsz s USING (doc_id))
    WHERE rn <= n - (8 * n + 9) // 10 + 1
),
cand AS (
    SELECT DISTINCT b.doc_id AS new_id, c.doc_id AS old_id
    FROM bpre b JOIN cg c USING (gk)
    UNION
    SELECT DISTINCT b.doc_id AS new_id, c.doc_id AS old_id
    FROM bg b JOIN cpre c USING (gk)
),
inter AS (
    SELECT b.doc_id AS new_id, c.doc_id AS old_id, count(*) AS i
    FROM bg b JOIN cg c USING (gk)
    JOIN cand ON cand.new_id = b.doc_id AND cand.old_id = c.doc_id
    GROUP BY 1, 2
),
scored AS (
    SELECT i.new_id AS new_doc_id, i.old_id AS dup_of,
           round(i.i / CAST(bs.n AS DOUBLE), 4) AS cont_new_in_old,
           round(i.i / CAST(cs.n AS DOUBLE), 4) AS cont_old_in_new
    FROM inter i
    JOIN bsz bs ON bs.doc_id = i.new_id
    JOIN csz cs ON cs.doc_id = i.old_id
)
SELECT new_doc_id, dup_of, cont_new_in_old, cont_old_in_new FROM scored
WHERE greatest(cont_new_in_old, cont_old_in_new) >= 0.8
ORDER BY new_doc_id, dup_of
""",
        # r15 ingested-gate twin (dedup.py dedup_containment_gate_ingested):
        # the index after the admit is corpus ∪ batch-A with FROZEN
        # corpus dfs — corpus docs' stored prefixes rank by those dfs,
        # A docs' by the same frozen dfs with unseen shingles at df 0
        # (exactly what update_containment_index bakes); the gate's
        # batch-side ranking reads the same frozen dfs/ component
        "dedup_containment_gate_ingested": """
WITH aq AS (
    SELECT doc_id + 3000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
),
bq AS (
    SELECT doc_id + 4000000 AS doc_id,
           array_to_string((string_split(text, ' '))[1:12], ' ') AS text
    FROM documents WHERE doc_id % 7 = 0
),
cgp AS (
    SELECT d.doc_id, array_to_string(d.parts[t.i:t.i+2], ' ') AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS parts FROM documents) d,
         LATERAL (SELECT unnest(generate_series(1, greatest(len(d.parts) - 2, 1))) AS i) t
),
cg AS (SELECT DISTINCT doc_id,
              CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS gk
       FROM cgp),
agp AS (
    SELECT d.doc_id, array_to_string(d.parts[t.i:t.i+2], ' ') AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS parts FROM aq) d,
         LATERAL (SELECT unnest(generate_series(1, greatest(len(d.parts) - 2, 1))) AS i) t
),
ag AS (SELECT DISTINCT doc_id,
              CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS gk
       FROM agp),
bgp AS (
    SELECT d.doc_id, array_to_string(d.parts[t.i:t.i+2], ' ') AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS parts FROM bq) d,
         LATERAL (SELECT unnest(generate_series(1, greatest(len(d.parts) - 2, 1))) AS i) t
),
bg AS (SELECT DISTINCT doc_id,
              CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS gk
       FROM bgp),
ig AS (SELECT * FROM cg UNION ALL SELECT * FROM ag),
dfs AS (SELECT gk, count(*) AS df FROM cg GROUP BY gk),
isz AS (SELECT doc_id, count(*) AS n FROM ig GROUP BY doc_id),
bsz AS (SELECT doc_id, count(*) AS n FROM bg GROUP BY doc_id),
cpre AS (
    SELECT doc_id, gk FROM (
        SELECT c.doc_id, c.gk,
               row_number() OVER (PARTITION BY c.doc_id
                                  ORDER BY f.df ASC, c.gk ASC) AS rn,
               s.n
        FROM cg c JOIN dfs f USING (gk) JOIN isz s USING (doc_id))
    WHERE rn <= n - (8 * n + 9) // 10 + 1
),
apre AS (
    SELECT doc_id, gk FROM (
        SELECT a.doc_id, a.gk,
               row_number() OVER (PARTITION BY a.doc_id
                                  ORDER BY coalesce(f.df, 0) ASC, a.gk ASC) AS rn,
               s.n
        FROM ag a LEFT JOIN dfs f USING (gk) JOIN isz s USING (doc_id))
    WHERE rn <= n - (8 * n + 9) // 10 + 1
),
ipre AS (SELECT * FROM cpre UNION ALL SELECT * FROM apre),
bpre AS (
    SELECT doc_id, gk FROM (
        SELECT b.doc_id, b.gk,
               row_number() OVER (PARTITION BY b.doc_id
                                  ORDER BY coalesce(f.df, 0) ASC, b.gk ASC) AS rn,
               s.n
        FROM bg b LEFT JOIN dfs f USING (gk) JOIN bsz s USING (doc_id))
    WHERE rn <= n - (8 * n + 9) // 10 + 1
),
cand AS (
    SELECT DISTINCT b.doc_id AS new_id, i.doc_id AS old_id
    FROM bpre b JOIN ig i USING (gk)
    UNION
    SELECT DISTINCT b.doc_id AS new_id, i.doc_id AS old_id
    FROM bg b JOIN ipre i USING (gk)
),
inter AS (
    SELECT b.doc_id AS new_id, i.doc_id AS old_id, count(*) AS i
    FROM bg b JOIN ig i USING (gk)
    JOIN cand ON cand.new_id = b.doc_id AND cand.old_id = i.doc_id
    GROUP BY 1, 2
),
scored AS (
    SELECT i.new_id AS new_doc_id, i.old_id AS dup_of,
           round(i.i / CAST(bs.n AS DOUBLE), 4) AS cont_new_in_old,
           round(i.i / CAST(cs.n AS DOUBLE), 4) AS cont_old_in_new
    FROM inter i
    JOIN bsz bs ON bs.doc_id = i.new_id
    JOIN isz cs ON cs.doc_id = i.old_id
)
SELECT new_doc_id, dup_of, cont_new_in_old, cont_old_in_new FROM scored
WHERE greatest(cont_new_in_old, cont_old_in_new) >= 0.8
ORDER BY new_doc_id, dup_of
""",
        "dedup_containment_pairs": """
WITH shingle_pos AS (
    SELECT d.doc_id, array_to_string(d.parts[t.i:t.i+2], ' ') AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS parts FROM documents) d,
         LATERAL (SELECT unnest(generate_series(1, greatest(len(d.parts) - 2, 1))) AS i) t
),
docs AS (
    SELECT doc_id, list_distinct(list(shingle)) AS words
    FROM shingle_pos GROUP BY doc_id
),
tok AS (SELECT DISTINCT doc_id, shingle AS w FROM shingle_pos),
dfc AS (SELECT w, count(*) AS df FROM tok GROUP BY w),
pre AS (
    SELECT doc_id, w FROM (
        SELECT t.doc_id, t.w,
               row_number() OVER (PARTITION BY t.doc_id
                                  ORDER BY d.df ASC, t.w ASC) AS rn,
               len(dd.words) AS n
        FROM tok t JOIN dfc d USING (w)
        JOIN docs dd ON dd.doc_id = t.doc_id)
    WHERE rn <= n - (8 * n + 9) // 10 + 1
),
cand AS (
    SELECT DISTINCT least(p.doc_id, t.doc_id) AS doc_a,
                    greatest(p.doc_id, t.doc_id) AS doc_b
    FROM pre p JOIN tok t USING (w)
    WHERE p.doc_id <> t.doc_id
),
scored AS (
    SELECT c.doc_a, c.doc_b,
           round(len(list_filter(a.words, x -> list_contains(b.words, x)))
                 / CAST(len(a.words) AS DOUBLE), 4) AS cont_a_in_b,
           round(len(list_filter(b.words, x -> list_contains(a.words, x)))
                 / CAST(len(b.words) AS DOUBLE), 4) AS cont_b_in_a
    FROM cand c
    JOIN docs a ON a.doc_id = c.doc_a
    JOIN docs b ON b.doc_id = c.doc_b
)
SELECT doc_a, doc_b, cont_a_in_b, cont_b_in_a FROM scored
WHERE greatest(cont_a_in_b, cont_b_in_a) >= 0.8
ORDER BY doc_a, doc_b
""",
        "ngram_jaccard_pairs": """
WITH docs AS (
    SELECT doc_id, lang, CAST(n_chars // 100 AS INTEGER) AS len_band,
           list_distinct(string_split(text, ' ')) AS words
    FROM documents
), pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_filter(a.words, x -> list_contains(b.words, x)))
                 / CAST(len(list_distinct(list_concat(a.words, b.words))) AS DOUBLE), 4) AS jaccard
    FROM docs a JOIN docs b
      ON a.lang = b.lang AND a.len_band = b.len_band AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.2
""",
        # dedup_repeated_ngrams (operators/dedup.py): per-doc distinct
        # 8-gram shingles (same slice/truncate semantics as _shingles),
        # shared = gram seen in >= 2 docs (pairs are distinct per doc, so
        # count(*) suffices), ratio in EXACT integer round-half-up
        # micro-units: (2a*1e6 + b) // (2b) = floor(a*1e6/b + 1/2).
        "dedup_repeated_ngrams": """
WITH w AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
g AS (
    SELECT doc_id, unnest(list_distinct(list_transform(
        range(1, greatest(len(w) - 7, 1) + 1),
        i -> array_to_string(w[i:i+7], ' ')))) AS g
    FROM w
),
shared AS (
    SELECT g FROM g GROUP BY g HAVING count(*) >= 2
),
tot AS (SELECT doc_id, count(*) AS n_ngrams FROM g GROUP BY doc_id),
hit AS (
    SELECT g.doc_id, count(*) AS n_dup FROM g JOIN shared USING (g)
    GROUP BY g.doc_id
)
SELECT t.doc_id,
       CAST(t.n_ngrams AS INTEGER) AS n_ngrams,
       CAST(coalesce(h.n_dup, 0) AS INTEGER) AS n_dup_ngrams,
       CAST((2 * coalesce(h.n_dup, 0) * 1000000 + t.n_ngrams)
            // (2 * t.n_ngrams) AS BIGINT) AS dup_per_million
FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
""",
        # r13: exact-substring dedup REWRITE (Lee et al. 2021) — the
        # masked-window/keeper semantics of dedup.py
        # dedup_substring_rewrite, token reassembly via ORDER BY q
        "dedup_substring_rewrite": """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
occ AS (
    SELECT doc_id, p.p AS p,
           md5(array_to_string(w[p.p:p.p+7], ' ')) AS gh,
           md5(CAST(doc_id AS VARCHAR) || ':' || CAST(p.p AS VARCHAR))
             || ':' || lpad(CAST(doc_id AS VARCHAR), 12, '0')
             || ':' || lpad(CAST(p.p AS VARCHAR), 6, '0') AS okey
    FROM d, LATERAL (SELECT unnest(generate_series(1, len(w) - 7)) AS p) p
    WHERE len(w) >= 8
),
stats AS (SELECT gh, count(*) AS cnt, min(okey) AS keeper FROM occ GROUP BY gh),
masked AS (
    SELECT DISTINCT o.doc_id, q.q AS q
    FROM occ o JOIN stats s USING (gh),
         LATERAL (SELECT unnest(generate_series(o.p, o.p + 7)) AS q) q
    WHERE s.cnt >= 2 AND o.okey <> s.keeper
),
toks AS (
    SELECT doc_id, i.i AS q, w[i.i] AS tok
    FROM d, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) i
),
kept AS (
    SELECT t.doc_id, t.q, t.tok
    FROM toks t LEFT JOIN masked m ON m.doc_id = t.doc_id AND m.q = t.q
    WHERE m.doc_id IS NULL
),
clean AS (
    SELECT doc_id, md5(string_agg(tok, ' ' ORDER BY q)) AS clean_md5
    FROM kept GROUP BY doc_id
),
rem AS (SELECT doc_id, count(*) AS n_removed FROM masked GROUP BY doc_id)
SELECT d.doc_id, CAST(len(d.w) AS INTEGER) AS n_tokens,
       CAST(coalesce(r.n_removed, 0) AS INTEGER) AS n_removed,
       coalesce(c.clean_md5, md5('')) AS clean_md5
FROM d LEFT JOIN clean c USING (doc_id) LEFT JOIN rem r USING (doc_id)
""",
        "simhash_signatures": _simhash_sql(),
        "minhash_jaccard_estimate": f"""
WITH {_MINHASH_BANDS_CTE},
cand AS (
    SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
    FROM bands l JOIN bands r
      ON l.band = r.band AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id
)
SELECT c.doc_a, c.doc_b,
       round(sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) / 16.0, 4)
           AS est_jaccard
FROM cand c
JOIN sigs sa ON sa.doc_id = c.doc_a
JOIN sigs sb ON sb.doc_id = c.doc_b AND sb.hash_idx = sa.hash_idx
GROUP BY c.doc_a, c.doc_b
""",
        "dedup_simhash_pairs": f"""
WITH sig AS ({_simhash_sql()}),
bands AS (
    SELECT doc_id, simhash, t.band,
           (simhash >> (t.band * {_dedup.SIMHASH_BAND_BITS})) & {_dedup.SIMHASH_BAND_MASK} AS band_val
    FROM sig, LATERAL (SELECT unnest([{', '.join(str(b) for b in range(_dedup.SIMHASH_BANDS))}]) AS band) t
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.simhash AS sig_a, b.simhash AS sig_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3
""",
        "dedup_embedding_cosine": f"""
WITH pairs AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {cos_ab} AS cosine
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cosine FROM pairs WHERE cosine >= 0.35
""",
        "project_searchable_text": f"""
WITH {_ELEMENTS_CTE}
SELECT path, name, element_type,
       name || ' ' || element_type || chr(10) || content AS document
FROM elements
""",
        "project_element_ids": f"""
WITH {_ELEMENTS_CTE}
SELECT path, name, start_line,
       md5(name || ':' || element_type || ':' || content) AS hash,
       path || ':' || start_line || ':' ||
           md5(name || ':' || element_type || ':' || content) AS id
FROM elements
""",
        "agg_file_summary": f"""
WITH {_ELEMENTS_CTE}
SELECT f.path, f.file_type, f.line_count, e.element_count,
       'File ' || f.path || ' contains ' || e.element_count || ' code elements' AS summary
FROM (SELECT path, ext AS file_type,
             CAST(len(string_split(content, chr(10))) AS INTEGER) AS line_count
      FROM corpus) f
JOIN (SELECT path, count(*) AS element_count FROM elements GROUP BY path) e
  ON f.path = e.path
""",
        "agg_elements_by_type": f"""
WITH {_ELEMENTS_CTE},
c AS (SELECT path, element_type, count(*) AS c FROM elements GROUP BY 1, 2)
SELECT path,
       string_agg(element_type || ': ' || c, ', ' ORDER BY element_type || ': ' || c)
           AS elements_by_type_str
FROM c GROUP BY path
""",
        "agg_group_structure": f"""
WITH {_ELEMENTS_CTE}
SELECT path, element_type,
       string_agg(name || '[' || start_line || '-' || end_line || ']', ', '
                  ORDER BY name || '[' || start_line || '-' || end_line || ']')
           AS members,
       count(*) AS n_members
FROM elements GROUP BY path, element_type
""",
        "project_truncate": f"""
WITH {_ELEMENTS_CTE}
SELECT path, name,
       CASE WHEN length(content) > 80 THEN substr(content, 1, 80) || '...'
            ELSE content END AS display
FROM elements
""",
        "filter_by_element_type": f"""
WITH {_ELEMENTS_CTE}
SELECT path, name, element_type, start_line, end_line
FROM elements WHERE element_type = 'class'
ORDER BY path, start_line LIMIT 10
""",
        "filter_by_file": f"""
WITH {_ELEMENTS_CTE}
SELECT path, name, element_type, start_line, end_line, n_lines
FROM elements WHERE path LIKE '%/doc_42.%'
""",
        "filter_ext_dispatch": f"""
WITH {DERIVED_CORPUS_SQL}
SELECT path, ext,
       CASE WHEN ext = '.py' THEN 'tree_sitter_python'
            WHEN ext IN ('.js','.ts','.tsx','.jsx') THEN 'tree_sitter_js'
            WHEN ext = '.md' THEN 'markdown_sections'
            ELSE 'fixed_chunks' END AS parser
FROM corpus
""",
        "chunk_fixed_lines": f"""
WITH {DERIVED_CORPUS_SQL},
clines AS (
    SELECT c.path, t.i - 1 AS pos, c.parts[t.i] AS line
    FROM (SELECT path, string_split(content, chr(10)) AS parts FROM corpus) c,
         LATERAL (SELECT unnest(generate_series(1, len(c.parts))) AS i) t
),
chunks AS (
    SELECT path, CAST(pos // 10 AS INTEGER) AS chunk_id,
           CAST(min(pos) + 1 AS INTEGER) AS start_line,
           CAST(max(pos) + 1 AS INTEGER) AS end_line,
           string_agg(line, chr(10) ORDER BY pos) AS content
    FROM clines GROUP BY path, CAST(pos // 10 AS INTEGER)
)
SELECT path, 'chunk_' || chunk_id AS name, 'text_chunk' AS element_type,
       start_line, end_line, content
FROM chunks
WHERE regexp_replace(content, '\\s', '', 'g') <> ''
""",
        "chunk_markdown_sections": f"""
WITH {DERIVED_MD_SQL},
mlines AS (
    SELECT c.path, t.i - 1 AS pos, c.parts[t.i] AS line
    FROM (SELECT path, string_split(content, chr(10)) AS parts FROM md_corpus) c,
         LATERAL (SELECT unnest(generate_series(1, len(c.parts))) AS i) t
),
flagged AS (
    SELECT path, pos, line,
           CASE WHEN trim(line) LIKE '#%' THEN 1 ELSE 0 END AS is_heading,
           CASE WHEN trim(line) LIKE '#%'
                THEN trim(regexp_replace(trim(line), '^#+', '')) END AS heading_text
    FROM mlines
),
sectioned AS (
    SELECT *,
           sum(is_heading) OVER w AS section_id,
           coalesce(last_value(heading_text IGNORE NULLS) OVER w,
                    'Introduction') AS section_name
    FROM flagged
    WINDOW w AS (PARTITION BY path ORDER BY pos ROWS UNBOUNDED PRECEDING)
)
SELECT path, section_name AS name, 'markdown_section' AS element_type,
       CAST(min(pos) + 1 AS INTEGER) AS start_line,
       CAST(max(pos) + 1 AS INTEGER) AS end_line,
       string_agg(line, chr(10) ORDER BY pos) AS content
FROM sectioned WHERE is_heading = 0
GROUP BY path, section_id, section_name
HAVING regexp_replace(string_agg(line, chr(10) ORDER BY pos), '\\s', '', 'g') <> ''
""",
        "chunk_ast_python": f"""
WITH {_PY_ELEMENTS_CTE}
SELECT path, name, element_type, CAST(start_line AS INTEGER) AS start_line,
       CAST(end_line AS INTEGER) AS end_line, content, docstring
FROM py_elements
""",
        "chunk_js_elements": f"""
WITH {_js_elements_cte("de", ".js")}
SELECT path, name, element_type, CAST(start_line AS INTEGER) AS start_line,
       CAST(end_line AS INTEGER) AS end_line, content
FROM js_elements
""",
        "diag_python_flakes": f"""
WITH {DERIVED_PY_SQL.strip()}
SELECT path, CAST(1 AS INTEGER) AS line_no, 'unused_import' AS rule, 'os' AS name
FROM py_base
UNION ALL
SELECT path, CAST(2 AS INTEGER), 'unused_import', 'OrderedDict' FROM py_base
""",
        # Real ast.parse Spark-side; the oracle predicts its verdicts from
        # the generation rule alone (doc_id % 11 == 0 modules are broken at
        # line 1 — operators/indexing.py:diag_python_syntax).
        "diag_python_syntax": f"""
WITH {DERIVED_PY_SQL.strip()}
SELECT path, CAST(1 AS INTEGER) AS line_no, 'syntax_error' AS rule,
       'error' AS severity
FROM py_base WHERE doc_id % 11 = 0
""",
        "diag_python": f"""
WITH {_DIAG_CTE}
SELECT path, line_no, rule,
       CASE WHEN rule = 'wildcard_import' THEN 'error' ELSE 'warning' END AS severity
FROM diags WHERE path LIKE '%.py'
""",
        "diag_js_ts": f"""
WITH {_DIAG_CTE}
SELECT path, line_no, rule,
       CASE WHEN rule = 'wildcard_import' THEN 'error' ELSE 'warning' END AS severity
FROM diags WHERE path LIKE '%.js' OR path LIKE '%.ts'
""",
        "corpus_diagnostics": f"""
WITH {_DIAG_CTE}
SELECT path, line_no, rule,
       CASE WHEN rule = 'wildcard_import' THEN 'error' ELSE 'warning' END AS severity
FROM diags
""",
        "agg_diag_counts": f"""
WITH {_DIAG_CTE}
SELECT path,
       CAST(sum(CASE WHEN rule = 'wildcard_import' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
       CAST(sum(CASE WHEN rule <> 'wildcard_import' THEN 1 ELSE 0 END) AS BIGINT) AS n_warnings
FROM diags GROUP BY path
""",
        "agg_collection_count": """
SELECT 'documents' AS collection, count(*) AS n_rows FROM documents
UNION ALL SELECT 'embeddings', count(*) FROM embeddings
UNION ALL SELECT 'orders', count(*) FROM orders
UNION ALL SELECT 'lineitem', count(*) FROM lineitem
UNION ALL SELECT 'events', count(*) FROM events
""",
        "index_pipeline": f"""
WITH {DERIVED_CORPUS_SQL},
{_PY_ELEMENTS_CTE},
{_js_elements_cte("de", ".js", "_j")},
{_js_elements_cte("es", ".ts", "_t")},
nlines AS (
    SELECT c.path, t.i - 1 AS pos, c.parts[t.i] AS line
    FROM (SELECT path, string_split(content, chr(10)) AS parts
          FROM corpus WHERE ext NOT IN ('.md', '.py', '.js', '.ts')) c,
         LATERAL (SELECT unnest(generate_series(1, len(c.parts))) AS i) t
),
nchunks AS (
    SELECT path, CAST(pos // 50 AS INTEGER) AS chunk_id,
           CAST(min(pos) + 1 AS INTEGER) AS start_line,
           CAST(max(pos) + 1 AS INTEGER) AS end_line,
           string_agg(line, chr(10) ORDER BY pos) AS content
    FROM nlines GROUP BY 1, 2
),
nelems AS (
    SELECT path, 'chunk_' || chunk_id AS name, 'text_chunk' AS element_type,
           start_line, end_line, content
    FROM nchunks WHERE regexp_replace(content, '\\s', '', 'g') <> ''
),
mlines AS (
    SELECT c.path, t.i - 1 AS pos, c.parts[t.i] AS line
    FROM (SELECT path, string_split(content, chr(10)) AS parts
          FROM corpus WHERE ext = '.md') c,
         LATERAL (SELECT unnest(generate_series(1, len(c.parts))) AS i) t
),
mflag AS (
    SELECT path, pos, line,
           CASE WHEN trim(line) LIKE '#%' THEN 1 ELSE 0 END AS is_heading,
           CASE WHEN trim(line) LIKE '#%'
                THEN trim(regexp_replace(trim(line), '^#+', '')) END AS heading_text
    FROM mlines
),
msect AS (
    SELECT *,
           sum(is_heading) OVER w AS section_id,
           coalesce(last_value(heading_text IGNORE NULLS) OVER w,
                    'Introduction') AS section_name
    FROM mflag
    WINDOW w AS (PARTITION BY path ORDER BY pos ROWS UNBOUNDED PRECEDING)
),
melems AS (
    SELECT path, section_name AS name, 'markdown_section' AS element_type,
           CAST(min(pos) + 1 AS INTEGER) AS start_line,
           CAST(max(pos) + 1 AS INTEGER) AS end_line,
           string_agg(line, chr(10) ORDER BY pos) AS content
    FROM msect WHERE is_heading = 0
    GROUP BY path, section_id, section_name
    HAVING regexp_replace(string_agg(line, chr(10) ORDER BY pos), '\\s', '', 'g') <> ''
),
allelems AS (
    SELECT * FROM nelems
    UNION ALL SELECT * FROM melems
    UNION ALL
    SELECT path, name, element_type,
           CAST(start_line AS INTEGER), CAST(end_line AS INTEGER), content
    FROM py_elements
    UNION ALL
    SELECT path, name, element_type,
           CAST(start_line AS INTEGER), CAST(end_line AS INTEGER), content
    FROM js_elements_j
    UNION ALL
    SELECT path, name, element_type,
           CAST(start_line AS INTEGER), CAST(end_line AS INTEGER), content
    FROM js_elements_t
)
SELECT path, name, element_type, start_line, end_line,
       md5(name || ':' || element_type || ':' || content) AS hash,
       path || ':' || start_line || ':' ||
           md5(name || ':' || element_type || ':' || content) AS id
FROM allelems
""",
        "upsert_latest_events": """
SELECT user_id, event_id AS last_event_id, event_type, value FROM (
    SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
) WHERE rn = 1
""",
        "ann_ivf_sampled_topk": _ivf_sampled_sql(),
        # Collection facade twins: the collection holds documents INNER
        # JOIN embeddings (id = 'doc-' || doc_id); its band table is the
        # same RP kernel over the same vectors, so the candidate set is
        # the Hamming-1 multiprobe of _RP_BANDS_CTE; distance = 1 - rounded cosine; ChromaDB
        # keeps self-matches. Filter trees render from the api module's
        # shared constants.
        "collection_query_graph_topk": _collection_graph_sql(),
        "collection_query_graph_acorn_topk": _collection_graph_acorn_sql(),
        "collection_query_graph_batch_topk": _collection_graph_batch_sql(),
        "collection_query_topk": f"""
WITH {_RP_BANDS_CTE},
qb AS (
    SELECT band, band_key FROM rp_bands WHERE vec_id = 0
),
qb_exp AS (
    SELECT band, band_key FROM qb
    UNION
    SELECT q.band, CAST(xor(q.band_key, (1 << t.b)) AS INTEGER) AS band_key
    FROM qb q CROSS JOIN (SELECT unnest(range(0, {_ann.RP_BAND_BITS})) AS b) t
),
cand AS (
    SELECT DISTINCT b.vec_id FROM rp_bands b JOIN qb_exp USING (band, band_key)
),
qe AS (
    SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0
)
SELECT 'doc-' || CAST(e.vec_id AS VARCHAR) AS id,
       1 - {_COS.format(a="e.embedding", b="qe.q_emb")} AS distance,
       d.lang, d.n_chars
FROM embeddings e
JOIN cand USING (vec_id)
JOIN documents d ON d.doc_id = e.vec_id
CROSS JOIN qe
WHERE {_wdsl.where_to_sql(_coll.COLLECTION_WHERE_DEMO)}
ORDER BY distance ASC, id ASC
LIMIT 10
""",
        # ip-space twin: distance = 1 - round(<a,b>, 4) — the Chroma
        # VALUE contract (a rank-only check would miss a constant shift)
        "collection_query_ip_topk": f"""
WITH {_RP_BANDS_CTE},
qb AS (
    SELECT band, band_key FROM rp_bands WHERE vec_id = 0
),
qb_exp AS (
    SELECT band, band_key FROM qb
    UNION
    SELECT q.band, CAST(xor(q.band_key, (1 << t.b)) AS INTEGER) AS band_key
    FROM qb q CROSS JOIN (SELECT unnest(range(0, {_ann.RP_BAND_BITS})) AS b) t
),
cand AS (
    SELECT DISTINCT b.vec_id FROM rp_bands b JOIN qb_exp USING (band, band_key)
),
qe AS (
    SELECT CAST(embedding AS DOUBLE[]) AS q_emb FROM embeddings WHERE vec_id = 0
)
SELECT 'doc-' || CAST(e.vec_id AS VARCHAR) AS id,
       1.0 - round(list_inner_product(CAST(e.embedding AS DOUBLE[]), qe.q_emb), 4) AS distance,
       d.lang, d.n_chars
FROM embeddings e
JOIN cand USING (vec_id)
JOIN documents d ON d.doc_id = e.vec_id
CROSS JOIN qe
WHERE {_wdsl.where_to_sql(_coll.COLLECTION_WHERE_DEMO)}
ORDER BY distance ASC, id ASC
LIMIT 10
""",
        # r14: the incremental-replace lifecycle, reconstructed end to
        # end (build + update-path edges + union-adjacency beam + alias
        # translation + current-vector ranking)
        "collection_replace_graph_topk": _collection_replace_graph_sql(),
        # rollback restores the FIRST commit's content (even doc_ids)
        "collection_rollback_get": f"""
SELECT 'doc-' || CAST(d.doc_id AS VARCHAR) AS id, d.lang, d.n_chars
FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
WHERE d.doc_id % 2 = 0
  AND {_wdsl.where_to_sql({"lang": {"$in": ["es", "zh"]}})}
ORDER BY id ASC
LIMIT 20
""",
        # snapshot = the FIRST commit's content (even doc_ids) only
        "collection_get_snapshot": f"""
SELECT 'doc-' || CAST(d.doc_id AS VARCHAR) AS id, d.lang, d.n_chars
FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
WHERE d.doc_id % 2 = 0
  AND {_wdsl.where_to_sql({"lang": {"$in": ["en", "de"]}})}
ORDER BY id ASC
LIMIT 20
""",
        "collection_get_where": f"""
SELECT 'doc-' || CAST(d.doc_id AS VARCHAR) AS id, d.lang, d.source, d.n_chars
FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
WHERE {_wdsl.where_to_sql(_coll.COLLECTION_GET_WHERE_DEMO)}
  AND {_wdsl.where_document_to_sql(_coll.COLLECTION_GET_WDOC_DEMO, "d.text")}
ORDER BY id ASC
LIMIT 20
""",
        # Keyset page 2: the cursor is page 1's last id, recomputed in
        # SQL as a scalar subquery over the same filtered ordering.
        "collection_get_page2": f"""
WITH flt AS (
  SELECT 'doc-' || CAST(d.doc_id AS VARCHAR) AS id, d.lang, d.source, d.n_chars
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
  WHERE {_wdsl.where_to_sql(_coll.COLLECTION_GET_WHERE_DEMO)}
),
cursor AS (
  SELECT max(id) AS last_id FROM (SELECT id FROM flt ORDER BY id ASC LIMIT 10)
)
SELECT id, lang, source, n_chars FROM flt CROSS JOIN cursor
WHERE id > cursor.last_id
ORDER BY id ASC
LIMIT 10
""",
        "knn_join_ivf_topk": _knn_join_ivf_sql(),
        "bm25_topk": f"""
WITH {_BM25_CTE}
SELECT doc_id, bm25 FROM bm ORDER BY bm25 DESC, doc_id LIMIT 10
""",
        # Served twin: the on-disk index changes WHERE the postings live,
        # not what they say — the oracle recomputes the same ranking from
        # the corpus directly.
        "bm25_topk_served": f"""
WITH {_BM25_CTE}
SELECT doc_id, bm25 FROM bm ORDER BY bm25 DESC, doc_id LIMIT 10
""",
        # folded-analyzer twin: same arithmetic, folded token pipeline
        # on both the corpus and the query terms
        "bm25_folded_topk_served": _bm25_folded_sql(),
        # search_after twin: cursor = last row of page 1 in rank order;
        # page 2 = rows strictly after the (bm25, doc_id) cursor.
        "bm25_page2_served": f"""
WITH {_BM25_CTE},
p1 AS (SELECT doc_id, bm25 FROM bm ORDER BY bm25 DESC, doc_id LIMIT 10),
cur AS (SELECT bm25 AS s, doc_id AS d FROM p1 ORDER BY bm25 ASC, doc_id DESC LIMIT 1)
SELECT b.doc_id, b.bm25 FROM bm b, cur
WHERE b.bm25 < cur.s OR (b.bm25 = cur.s AND b.doc_id > cur.d)
ORDER BY b.bm25 DESC, b.doc_id LIMIT 10
""",
        # minimum_should_match twin: matched-term count = non-null slot
        # count in the same per-term aggregate the score sums.
        "msm_topk_served": f"""
WITH {_BM25_CTE}
SELECT doc_id, n_matched, bm25 FROM (
  SELECT doc_id,
         CAST((CASE WHEN _s0 IS NOT NULL THEN 1 ELSE 0 END)
            + (CASE WHEN _s1 IS NOT NULL THEN 1 ELSE 0 END)
            + (CASE WHEN _s2 IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER) AS n_matched,
         round(coalesce(_s0, 0.0::DOUBLE) + coalesce(_s1, 0.0::DOUBLE)
               + coalesce(_s2, 0.0::DOUBLE), 4) AS bm25
  FROM bm_agg
) WHERE n_matched >= 2
ORDER BY bm25 DESC, doc_id LIMIT 10
""",
        # Boolean retrieval: tf pivot per doc over the probed terms,
        # AND/OR/NOT as integer predicates, exact-BIGINT tf_total rank
        # (no float anywhere — zero cross-engine rounding hazards).
        "boolean_and_topk": """
WITH words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
    SELECT doc_id, term, count(*) AS tf FROM words
    WHERE term IN ('join', 'scan', 'window') GROUP BY 1, 2
),
piv AS (
    SELECT doc_id,
           coalesce(sum(CASE WHEN term = 'join' THEN tf END), 0) AS _tf0,
           coalesce(sum(CASE WHEN term = 'scan' THEN tf END), 0) AS _tf1,
           coalesce(sum(CASE WHEN term = 'window' THEN tf END), 0) AS _tf2
    FROM tf GROUP BY 1
)
SELECT doc_id, CAST(_tf0 + _tf1 + _tf2 AS BIGINT) AS tf_total
FROM piv WHERE _tf0 > 0 AND _tf1 > 0 AND _tf2 > 0
ORDER BY tf_total DESC, doc_id LIMIT 10
""",
        # Phrase search: per-token positions via positional unnest, each
        # occurrence votes for start base = pos - offset, a start with
        # all distinct offsets present is one phrase occurrence.
        "phrase_topk_served": """
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
),
ph(term, off) AS (VALUES ('window', 0), ('join', 1)),
starts AS (
    SELECT t.doc_id, t.pos - p.off AS base
    FROM toks t JOIN ph p USING (term)
    GROUP BY t.doc_id, t.pos - p.off
    HAVING count(DISTINCT p.off) = 2
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS phrase_tf
FROM starts GROUP BY 1
ORDER BY phrase_tf DESC, doc_id LIMIT 10
""",
        # Facets: counts per metadata value over the top-100 ranked docs.
        "search_facet_counts": f"""
WITH {_BM25_CTE},
topd AS (SELECT doc_id FROM bm ORDER BY bm25 DESC, doc_id LIMIT 100),
j AS (SELECT d.lang, d.source FROM documents d JOIN topd USING (doc_id))
SELECT 'lang' AS facet, lang AS value, CAST(count(*) AS BIGINT) AS n
FROM j GROUP BY 2
UNION ALL
SELECT 'source' AS facet, source AS value, CAST(count(*) AS BIGINT) AS n
FROM j GROUP BY 2
""",
        # Explain: bm_scored already holds the per-(doc, term) arm; keep
        # the top-3 docs' rows with their tf/df inputs.
        "bm25_explain_served": f"""
WITH {_BM25_CTE},
topd AS (SELECT doc_id FROM bm ORDER BY bm25 DESC, doc_id LIMIT 3)
SELECT s.doc_id, s.term, CAST(tf.tf AS BIGINT) AS tf,
       CAST(tdf.df AS BIGINT) AS df, round(s.part, 4) AS contrib
FROM bm_scored s
JOIN topd USING (doc_id)
JOIN tf ON tf.doc_id = s.doc_id AND tf.term = s.term
JOIN tdf ON tdf.term = s.term
""",
        # Batch BM25: one probe of the union terms, per-query tf/df
        # pivots on FIXED idx slots (literal-order float combination),
        # rank by the ROUNDED score (the Spark window's sort key).
        "bm25_batch_topk_served": """
WITH words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
qmap(query_id, term, idx) AS (VALUES
    (0, 'join', 0), (0, 'scan', 1),
    (1, 'window', 0), (1, 'merge', 1), (1, 'sort', 2),
    (2, 'vector', 0)),
dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
stats AS (SELECT count(*) AS n_docs, sum(dl) AS tot_dl FROM dl),
tf AS (
    SELECT doc_id, term, count(*) AS tf FROM words
    WHERE term IN ('join', 'scan', 'window', 'merge', 'sort', 'vector')
    GROUP BY 1, 2
),
tdf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
qdf AS (
    SELECT q.query_id,
           coalesce(max(CASE WHEN q.idx = 0 THEN tdf.df END), 0) AS _df0,
           coalesce(max(CASE WHEN q.idx = 1 THEN tdf.df END), 0) AS _df1,
           coalesce(max(CASE WHEN q.idx = 2 THEN tdf.df END), 0) AS _df2
    FROM qmap q JOIN tdf USING (term) GROUP BY 1
),
cand AS (
    SELECT q.query_id, t.doc_id, max(dl.dl) AS dl,
           coalesce(max(CASE WHEN q.idx = 0 THEN t.tf END), 0) AS _tf0,
           coalesce(max(CASE WHEN q.idx = 1 THEN t.tf END), 0) AS _tf1,
           coalesce(max(CASE WHEN q.idx = 2 THEN t.tf END), 0) AS _tf2
    FROM tf t JOIN qmap q USING (term) JOIN dl ON dl.doc_id = t.doc_id
    GROUP BY 1, 2
),
scored AS (
    SELECT c.query_id, c.doc_id, round(
        (CASE WHEN _tf0 > 0 THEN
            ln((stats.n_docs - _df0 + 0.5::DOUBLE) / (_df0 + 0.5::DOUBLE) + 1.0::DOUBLE)
            * (_tf0 * 2.2::DOUBLE)
            / (_tf0 + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE
               * (c.dl / (CAST(stats.tot_dl AS DOUBLE) / stats.n_docs))))
         ELSE 0.0::DOUBLE END)
      + (CASE WHEN _tf1 > 0 THEN
            ln((stats.n_docs - _df1 + 0.5::DOUBLE) / (_df1 + 0.5::DOUBLE) + 1.0::DOUBLE)
            * (_tf1 * 2.2::DOUBLE)
            / (_tf1 + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE
               * (c.dl / (CAST(stats.tot_dl AS DOUBLE) / stats.n_docs))))
         ELSE 0.0::DOUBLE END)
      + (CASE WHEN _tf2 > 0 THEN
            ln((stats.n_docs - _df2 + 0.5::DOUBLE) / (_df2 + 0.5::DOUBLE) + 1.0::DOUBLE)
            * (_tf2 * 2.2::DOUBLE)
            / (_tf2 + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE
               * (c.dl / (CAST(stats.tot_dl AS DOUBLE) / stats.n_docs))))
         ELSE 0.0::DOUBLE END), 4) AS bm25
    FROM cand c JOIN qdf USING (query_id) CROSS JOIN stats
)
SELECT query_id, doc_id, bm25, rank FROM (
    SELECT query_id, doc_id, bm25,
           CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY bm25 DESC, doc_id
           ) AS INTEGER) AS rank
    FROM scored
) WHERE rank <= 5
""",
        # Highlight: windows start at hits; count hits in [s, s+8),
        # per-doc argmax by (count DESC, start ASC), all-integer rank.
        "search_highlight_served": """
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
),
hits AS (
    SELECT doc_id, pos FROM toks WHERE term IN ('join', 'scan', 'window')
),
wins AS (
    SELECT a.doc_id, a.pos AS s, count(*) AS nh
    FROM hits a JOIN hits b
      ON a.doc_id = b.doc_id AND b.pos >= a.pos AND b.pos < a.pos + 8
    GROUP BY 1, 2
),
best AS (
    SELECT doc_id, s, nh,
           row_number() OVER (PARTITION BY doc_id ORDER BY nh DESC, s) AS rn
    FROM wins
)
SELECT doc_id, CAST(s AS BIGINT) AS win_start, CAST(nh AS BIGINT) AS n_hits
FROM best WHERE rn = 1
ORDER BY n_hits DESC, doc_id LIMIT 10
""",
        # Proximity: min |pos_a - pos_b| per doc over positional unnest,
        # kept if within the 5-token window — exact-integer metric.
        "proximity_topk_served": """
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
),
pa AS (SELECT doc_id, pos AS pos_a FROM toks WHERE term = 'window'),
pb AS (SELECT doc_id, pos AS pos_b FROM toks WHERE term = 'scan'),
md AS (
    SELECT doc_id, CAST(min(abs(pos_a - pos_b)) AS BIGINT) AS min_dist
    FROM pa JOIN pb USING (doc_id) GROUP BY 1
)
SELECT doc_id, min_dist FROM md WHERE min_dist <= 5
ORDER BY min_dist, doc_id LIMIT 10
""",
        # Prefix expansion: terms LIKE 's%' capped at the 4 highest-df
        # (df DESC, term ASC), docs ranked by exact-BIGINT summed tf.
        "prefix_topk_served": """
WITH words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
    SELECT doc_id, term, count(*) AS tf FROM words
    WHERE term LIKE 's%' GROUP BY 1, 2
),
tdf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
expd AS (SELECT term FROM tdf ORDER BY df DESC, term LIMIT 4)
SELECT doc_id, CAST(sum(tf) AS BIGINT) AS tf_total
FROM tf JOIN expd USING (term) GROUP BY 1
ORDER BY tf_total DESC, doc_id LIMIT 10
""",
        # Fuzzy twin: the dictionary is recomputed from the corpus, the
        # distance test is DuckDB's levenshtein (same plain edit
        # distance as Spark's), same df-ranked capped expansion.
        "fuzzy_topk_served": """
WITH words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
    SELECT doc_id, term, count(*) AS tf FROM words
    WHERE abs(length(term) - 3) <= 1 AND levenshtein(term, 'sow') <= 1
    GROUP BY 1, 2
),
tdf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
expd AS (SELECT term FROM tdf ORDER BY df DESC, term LIMIT 4)
SELECT doc_id, CAST(sum(tf) AS BIGINT) AS tf_total
FROM tf JOIN expd USING (term) GROUP BY 1
ORDER BY tf_total DESC, doc_id LIMIT 10
""",
        "boolean_or_not_topk": """
WITH words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
    SELECT doc_id, term, count(*) AS tf FROM words
    WHERE term IN ('join', 'scan', 'window') GROUP BY 1, 2
),
piv AS (
    SELECT doc_id,
           coalesce(sum(CASE WHEN term = 'join' THEN tf END), 0) AS _tf0,
           coalesce(sum(CASE WHEN term = 'scan' THEN tf END), 0) AS _tf1,
           coalesce(sum(CASE WHEN term = 'window' THEN tf END), 0) AS _tf2
    FROM tf GROUP BY 1
)
SELECT doc_id, CAST(_tf0 + _tf1 AS BIGINT) AS tf_total
FROM piv WHERE (_tf0 > 0 OR _tf1 > 0) AND _tf2 = 0
ORDER BY tf_total DESC, doc_id LIMIT 10
""",
        # Index-content check: the probed
        # postings rows themselves — tf per (doc, query term) plus the
        # denormalized doc length.
        "inverted_postings_rows": """
WITH words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents)
SELECT w.term, w.doc_id, count(*) AS tf, max(dl.dl) AS dl
FROM words w JOIN dl USING (doc_id)
WHERE w.term IN ('join', 'scan', 'window')
GROUP BY 1, 2
""",
        # r9 maintenance component: the docs/ reverse map (one row per
        # doc x term bucket its postings occupy), re-derived from the raw
        # tables with the SAME md5 first-8-hex-digit arithmetic the Spark
        # build uses.
        "text_index_doc_map": f"""
WITH toks AS (
    SELECT doc_id, len(string_split(text, ' ')) AS dl,
           unnest(string_split(text, ' ')) AS term
    FROM documents
)
SELECT DISTINCT doc_id, CAST(dl AS BIGINT) AS dl,
       CAST(('0x' || substr(md5(term), 1, 8))::BIGINT
            % {_inv.N_TERM_BUCKETS} AS INTEGER) AS tbucket
FROM toks
""",
        "hybrid_rrf_topk": f"""
WITH {_BM25_CTE},
lex_top AS (SELECT doc_id, bm25 FROM bm ORDER BY bm25 DESC, doc_id LIMIT 100),
lex_ranked AS (
    SELECT doc_id,
           row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
    FROM lex_top
),
qv AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id = 0),
vsims AS (
    SELECT e.vec_id AS doc_id, {_COS.format(a="e.embedding", b="qv.q_emb")} AS sim
    FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> qv.q_id
),
vec_top AS (SELECT doc_id, sim FROM vsims ORDER BY sim DESC, doc_id LIMIT 100),
vec_ranked AS (
    SELECT doc_id,
           row_number() OVER (ORDER BY sim DESC, doc_id) AS vec_rank
    FROM vec_top
),
fused AS (
    SELECT coalesce(l.doc_id, v.doc_id) AS doc_id, l.lex_rank, v.vec_rank
    FROM lex_ranked l FULL OUTER JOIN vec_ranked v ON l.doc_id = v.doc_id
)
SELECT doc_id, CAST(lex_rank AS INTEGER) AS lex_rank,
       CAST(vec_rank AS INTEGER) AS vec_rank,
       coalesce(1.0::DOUBLE / (60 + lex_rank), 0.0::DOUBLE)
       + coalesce(1.0::DOUBLE / (60 + vec_rank), 0.0::DOUBLE) AS rrf
FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
""",
        # Convex alpha fusion (operators/hybrid.py hybrid_weighted_topk):
        # min-max within each pool (all-equal pool -> 1.0), absent
        # modality contributes 0, fixed op order round(a*v + b*l, 4).
        "hybrid_weighted_topk": f"""
WITH {_BM25_CTE},
lex_top AS (SELECT doc_id, bm25 FROM bm ORDER BY bm25 DESC, doc_id LIMIT 100),
lex_stats AS (SELECT min(bm25) AS mn, max(bm25) AS mx FROM lex_top),
lex_n AS (
    SELECT doc_id,
           CASE WHEN s.mx = s.mn THEN 1.0::DOUBLE
                ELSE (bm25 - s.mn) / (s.mx - s.mn) END AS lex_n
    FROM lex_top CROSS JOIN lex_stats s
),
qv AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id = 0),
vsims AS (
    SELECT e.vec_id AS doc_id, {_COS.format(a="e.embedding", b="qv.q_emb")} AS sim
    FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> qv.q_id
),
vec_top AS (SELECT doc_id, sim FROM vsims ORDER BY sim DESC, doc_id LIMIT 100),
vec_stats AS (SELECT min(sim) AS mn, max(sim) AS mx FROM vec_top),
vec_n AS (
    SELECT doc_id,
           CASE WHEN s.mx = s.mn THEN 1.0::DOUBLE
                ELSE (sim - s.mn) / (s.mx - s.mn) END AS vec_n
    FROM vec_top CROSS JOIN vec_stats s
)
SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
       round(0.6::DOUBLE * coalesce(v.vec_n, 0.0::DOUBLE)
             + 0.4::DOUBLE * coalesce(l.lex_n, 0.0::DOUBLE), 4) AS wscore
FROM lex_n l FULL OUTER JOIN vec_n v ON l.doc_id = v.doc_id
ORDER BY wscore DESC, doc_id LIMIT 10
""",
        "knn_text_query": """
WITH qtok AS (
    SELECT unnest(['spark', 'query', 'filter', 'join']) AS w
), qh AS (
    SELECT CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h FROM qtok
), qb AS (
    SELECT CAST(h % 64 AS INTEGER) AS bucket,
           CASE WHEN (h >> 6) & 1 = 1 THEN 1 ELSE -1 END AS sign
    FROM qh
), qs AS (
    SELECT bucket, CAST(sum(sign) AS DOUBLE) AS v FROM qb GROUP BY 1
), qn AS (
    SELECT sqrt(sum(v * v)) AS qnorm FROM qs
), tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), h AS (
    SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h FROM tok
), b AS (
    SELECT doc_id, CAST(h % 64 AS INTEGER) AS bucket,
           CASE WHEN (h >> 6) & 1 = 1 THEN 1 ELSE -1 END AS sign
    FROM h
), s AS (
    SELECT doc_id, bucket, CAST(sum(sign) AS DOUBLE) AS v FROM b GROUP BY 1, 2
), n AS (
    SELECT doc_id, sqrt(sum(v * v)) AS norm FROM s GROUP BY 1
), dots AS (
    SELECT s.doc_id, sum(s.v * qs.v) AS draw
    FROM s JOIN qs ON s.bucket = qs.bucket GROUP BY 1
)
SELECT n.doc_id, round(coalesce(dots.draw, 0) / (n.norm * qn.qnorm), 4) AS sim
FROM n LEFT JOIN dots ON n.doc_id = dots.doc_id CROSS JOIN qn
ORDER BY sim DESC, n.doc_id
LIMIT 5
""",
        "knn_file_summary_query": f"""
WITH {_ELEMENTS_CTE},
summaries AS (
    SELECT f.path,
           'File ' || f.path || ' contains ' || e.element_count ||
               ' code elements' AS text
    FROM (SELECT path FROM corpus) f
    JOIN (SELECT path, count(*) AS element_count FROM elements GROUP BY path) e
      USING (path)
),
qtok AS (SELECT unnest(['code', 'elements']) AS w),
qh AS (SELECT CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h FROM qtok),
qb AS (
    SELECT CAST(h % 64 AS INTEGER) AS bucket,
           CASE WHEN (h >> 6) & 1 = 1 THEN 1 ELSE -1 END AS sign
    FROM qh
),
qs AS (SELECT bucket, CAST(sum(sign) AS DOUBLE) AS v FROM qb GROUP BY 1),
qn AS (SELECT sqrt(sum(v * v)) AS qnorm FROM qs),
tok AS (SELECT path, unnest(string_split(text, ' ')) AS w FROM summaries),
h AS (SELECT path, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h FROM tok),
b AS (
    SELECT path, CAST(h % 64 AS INTEGER) AS bucket,
           CASE WHEN (h >> 6) & 1 = 1 THEN 1 ELSE -1 END AS sign
    FROM h
),
s AS (SELECT path, bucket, CAST(sum(sign) AS DOUBLE) AS v FROM b GROUP BY 1, 2),
n AS (SELECT path, sqrt(sum(v * v)) AS norm FROM s GROUP BY 1),
dots AS (
    SELECT s.path, sum(s.v * qs.v) AS draw
    FROM s JOIN qs ON s.bucket = qs.bucket GROUP BY 1
)
SELECT n.path, round(coalesce(dots.draw, 0) / (n.norm * qn.qnorm), 4) AS sim
FROM n LEFT JOIN dots ON n.path = dots.path CROSS JOIN qn
ORDER BY sim DESC, n.path
LIMIT 5
""",
        "file_context": f"""
WITH {_ELEMENTS_CTE},
grouped AS (
    SELECT path, element_type,
           string_agg(name || '[' || start_line || '-' || end_line || ']', ', '
                      ORDER BY name || '[' || start_line || '-' || end_line || ']')
               AS members,
           count(*) AS n_members
    FROM elements WHERE path LIKE '%/doc_42.%' GROUP BY path, element_type
),
summary AS (
    SELECT f.path, f.file_type, f.line_count, e.element_count
    FROM (SELECT path, ext AS file_type,
                 CAST(len(string_split(content, chr(10))) AS INTEGER) AS line_count
          FROM corpus) f
    JOIN (SELECT path, count(*) AS element_count FROM elements GROUP BY path) e
      ON f.path = e.path
)
SELECT g.path, g.element_type, g.members, g.n_members,
       s.file_type, s.line_count, s.element_count
FROM grouped g JOIN summary s ON g.path = s.path
""",
        "embed_projection_rows": """
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), h AS (
    SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h FROM tok
), b AS (
    SELECT doc_id, CAST(h % 64 AS INTEGER) AS bucket,
           CASE WHEN (h >> 6) & 1 = 1 THEN 1 ELSE -1 END AS sign
    FROM h
), s AS (
    SELECT doc_id, bucket, CAST(sum(sign) AS DOUBLE) AS v FROM b GROUP BY 1, 2
), n AS (
    SELECT doc_id, sqrt(sum(v * v)) AS norm FROM s GROUP BY 1
)
SELECT s.doc_id, s.bucket, round(s.v / n.norm, 4) AS weight
FROM s JOIN n ON s.doc_id = n.doc_id
WHERE s.v <> 0
""",
    }
