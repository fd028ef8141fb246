"""Hybrid retrieval (BM25 + RRF, weighted fusion).

Pins the operators' math on hand-built inputs. Plan shape: every cut
stage must be TakeOrderedAndProject — the 100 TB contract.
"""

from adk_noui_vectordb_spark.operators import hybrid as hyb
from adk_noui_vectordb_spark.operators.knn import knn_topk, make_query_from_vec
from adk_noui_vectordb_spark.plans import explain_str
from adk_noui_vectordb_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------- BM25


def test_bm25_orders_by_term_density(spark):
    docs = spark.createDataFrame(
        [
            (0, "join join scan window pad"),       # all 3 terms, 2x join
            (1, "join scan window pad pad"),        # all 3 terms once
            (2, "join pad pad pad pad"),            # 1 term
            (3, "pad pad pad pad pad"),             # no terms -> absent
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r["bm25"]
        for r in hyb.bm25_scores(docs).collect()
    }
    assert set(rows) == {0, 1, 2}, "zero-match doc must not appear"
    assert rows[0] > rows[1] > rows[2] > 0


def test_bm25_idf_downweights_common_terms(spark):
    # 'join' in every doc (df=4), 'window' in one (df=1): the rare term
    # must contribute more to equal-tf docs.
    docs = spark.createDataFrame(
        [
            (0, "join window pad"),
            (1, "join pad pad"),
            (2, "join pad pad"),
            (3, "join pad pad"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["bm25"] for r in hyb.bm25_scores(docs).collect()}
    # doc 0 = join + window; docs 1-3 = join only, identical scores
    assert rows[0] > rows[1] == rows[2] == rows[3]
    # and window's contribution (rare) exceeds join's (ubiquitous)
    assert rows[0] - rows[1] > rows[1]


def test_hybrid_rrf_values_and_cut(spark):
    out = hyb.hybrid_rrf_topk(spark, SF, k=10).collect()
    assert len(out) == 10
    for r in out:
        expect = 0.0
        if r["lex_rank"] is not None:
            expect += 1.0 / (hyb.RRF_K + r["lex_rank"])
        if r["vec_rank"] is not None:
            expect += 1.0 / (hyb.RRF_K + r["vec_rank"])
        assert r["rrf"] == expect
        assert r["lex_rank"] is not None or r["vec_rank"] is not None
    rrfs = [r["rrf"] for r in out]
    assert rrfs == sorted(rrfs, reverse=True)


# ------------------------------------------------- weighted (alpha) fusion


def test_weighted_fusion_alpha_extremes(spark):
    """alpha=1 must reproduce the pure vector top-k (the lexical pool
    contributes 0 everywhere), alpha=0 the pure BM25 top-k — the convex
    combination's boundary contract."""
    emb = load_table(spark, SF, "embeddings")
    vec = [
        r["vec_id"]
        for r in knn_topk(emb, make_query_from_vec(emb, 0), k=10).collect()
    ]
    a1 = [
        r["doc_id"]
        for r in hyb.hybrid_weighted_topk(spark, SF, alpha=1.0, k=10).collect()
    ]
    assert a1 == vec
    lex = [
        r["doc_id"] for r in hyb.bm25_topk(spark, SF, k=10).collect()
    ]
    a0 = [
        r["doc_id"]
        for r in hyb.hybrid_weighted_topk(spark, SF, alpha=0.0, k=10).collect()
    ]
    assert a0 == lex


def test_weighted_fusion_scores_bounded_and_plan(spark):
    """Fused scores live in [0, 1] (convex combination of min-max
    normalized pools) and both pools are TakeOrderedAndProject cuts —
    no corpus-sized window or sort."""
    df = hyb.hybrid_weighted_topk(spark, SF, k=10)
    rows = df.collect()
    assert len(rows) == 10
    assert all(0.0 <= r["wscore"] <= 1.0 for r in rows)
    scores = [r["wscore"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    plan = explain_str(df, mode="simple")
    assert plan.count("TakeOrderedAndProject") >= 3, plan  # 2 pools + final


def test_hybrid_plan_no_global_sort_before_cut(spark):
    # both source cuts are TakeOrderedAndProject; ranking windows only ever
    # see the <= n_candidates survivors
    plan = explain_str(hyb.hybrid_rrf_topk(spark, SF), mode="simple")
    assert plan.count("TakeOrderedAndProject") >= 2, plan


def test_bm25_plan_no_corpus_shuffle(spark):
    # round-3 fix: tf/dl come from array HOFs in one narrow pass and the
    # corpus stats are a single scalar aggregate re-entering as a
    # broadcast — no shuffle JOIN of anything corpus-sized (the round-2
    # design shuffled a corpus-wide (doc_id, dl) frame into the tf join)
    plan = explain_str(hyb.bm25_topk(spark, SF), mode="simple")
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
