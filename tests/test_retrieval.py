"""Hybrid retrieval (BM25 + RRF, weighted fusion), embedding dim stats
and late interaction.

Pins the operators' math on hand-built inputs. Plan shape: every cut
stage must be TakeOrderedAndProject — the 100 TB contract.
"""

import math

from pyspark.sql import functions as F

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


# --------------------------------------------- embedding dim stats / top-var

def test_embed_dim_stats_matches_numpy(spark):
    """Floored micro-mean/variance per dimension equal a from-scratch
    numpy computation (population variance) on the same matrix."""
    import math

    import numpy as np

    from adk_noui_vectordb_spark.operators import embed as em

    mat = np.stack([
        np.asarray(r["embedding"], dtype=np.float64)
        for r in load_table(spark, SF, "embeddings").orderBy("vec_id").collect()
    ])
    got = {r["pos"]: r for r in em.embed_dim_stats(spark, SF).collect()}
    assert set(got) == set(range(mat.shape[1]))
    for pos in range(mat.shape[1]):
        col = mat[:, pos]
        assert got[pos]["n"] == len(col)
        assert got[pos]["mean_micro"] == math.floor(col.mean() * 1e6)
        # var_pop merge order differs from numpy's sum; allow the one-ulp
        # floor-boundary step only (never observed, asserted equal first)
        assert got[pos]["var_micro"] == math.floor(col.var() * 1e6)


def test_embed_topvar_project_selects_and_extracts(spark):
    """The scalar (vec_id, rank, component) rows hold the raw stored
    components of the 8 highest-variance dimensions, rank-ordered by
    variance — bit-identical extraction (r8 reshape, embed.py)."""
    import numpy as np

    from adk_noui_vectordb_spark.operators import embed as em

    rows = load_table(spark, SF, "embeddings").collect()
    mat = np.stack([
        np.asarray(r["embedding"], dtype=np.float64)
        for r in sorted(rows, key=lambda r: r["vec_id"])
    ])
    var_micro = np.floor(mat.var(axis=0) * 1e6).astype(np.int64)
    order = sorted(range(mat.shape[1]), key=lambda p: (-var_micro[p], p))[:8]
    got: dict = {}
    for r in em.embed_topvar_project(spark, SF).collect():
        got.setdefault(r["vec_id"], {})[r["rank"]] = r["component"]
    ids = sorted(r["vec_id"] for r in rows)
    assert set(got) == set(ids)
    for i, vid in enumerate(ids):
        # ranks are dense 1..8; component at rank j is the stored value
        # of the j-th highest-variance dimension, untouched by arithmetic
        assert sorted(got[vid]) == list(range(1, 9))
        assert [got[vid][j] for j in range(1, 9)] == [mat[i, p] for p in order]


def test_embed_dim_stats_partial_aggregates_before_shuffle(spark):
    """The groupBy(pos) must partial-aggregate (two HashAggregates around
    one exchange): the shuffle carries O(dim x partitions) rows, never
    O(dim x vectors)."""
    from adk_noui_vectordb_spark.operators import embed as em

    plan = explain_str(em.embed_dim_stats(spark, SF), mode="simple")
    assert plan.count("HashAggregate") >= 2, plan


# ------------------------------------------------------- late interaction


def test_late_interaction_matches_bruteforce_and_beats_pooled(
    spark, tmp_path
):
    """late_interaction_topk (ColBERT sum-of-MaxSim): scores equal a
    numpy brute-force replay of the hash-projection model over the same
    fixed-word chunks, and the reduction exhibits the late-interaction
    property — a doc matching different query tokens in DIFFERENT
    chunks scores the sum of per-token maxes (pooled single-vector max
    cannot see that spread), while a token-free doc scores ≤ it."""
    import os

    import numpy as np

    from adk_noui_vectordb_spark.operators.embed import (
        _HashProjectionModel,
        late_interaction_topk,
    )

    qtokens = ["spark", "query", "filter", "join"]
    noise = [f"n{i}" for i in range(16)]
    rows = [
        # each query token in its OWN chunk (chunk_size=8)
        (
            1,
            " ".join(
                ["spark"] + noise[:7] + ["query"] + noise[7:14]
                + ["filter", "join"] + noise[14:16]
            ),
        ),
        (2, " ".join(noise)),  # no query tokens at all
        (3, "spark query filter join " + " ".join(noise[:4])),
    ]
    base = str(tmp_path / "li")
    os.makedirs(base, exist_ok=True)
    spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(
        os.path.join(base, "documents.parquet")
    )
    got = {
        r["doc_id"]: r["score"]
        for r in late_interaction_topk(spark, base, k=3).collect()
    }
    model = _HashProjectionModel(64)
    qvecs = np.array(model.encode(qtokens))
    for doc_id, text in rows:
        words = text.split(" ")
        chunks = [
            " ".join(words[i : i + 8]) for i in range(0, len(words), 8)
        ]
        cvecs = np.array(model.encode(chunks))
        score = sum(
            round(float(np.max(cvecs @ qvecs[i])), 4)
            for i in range(len(qtokens))
        )
        assert abs(got[doc_id] - score) < 1e-9, (doc_id, got[doc_id], score)
    # docs carrying the query tokens beat the token-free doc
    assert got[1] > got[2] and got[3] > got[2]


def test_late_interaction_served_agrees_with_scan(spark):
    """late_interaction_topk_served (index-served ColBERT): the
    Hamming-1 multiprobe candidate pools must recover >= 0.9 of the
    scan key's top-5 docs at sf0.01, and every doc both keys return
    must carry the IDENTICAL score (the fold is the same arithmetic —
    only the candidate set is approximate, and a doc present in both
    top-5s by definition had its max-chunks probed... asserted, not
    assumed)."""
    from adk_noui_vectordb_spark.operators.embed import (
        late_interaction_topk,
        late_interaction_topk_served,
    )

    sf = "/root/testdata/sf0.01"
    scan = {
        r["doc_id"]: r["score"]
        for r in late_interaction_topk(spark, sf, k=5).collect()
    }
    served = {
        r["doc_id"]: r["score"]
        for r in late_interaction_topk_served(spark, sf, k=5).collect()
    }
    overlap = set(scan) & set(served)
    assert len(overlap) >= 0.9 * len(scan), (scan, served)
    for d in overlap:
        assert served[d] <= scan[d] + 1e-9, (d, served[d], scan[d])
    # a doc in both top-5s whose served score equals its scan score had
    # every per-token max recovered by the probe; demand that for the
    # shared top docs (probe completeness on the actual winners)
    assert all(abs(served[d] - scan[d]) < 1e-9 for d in overlap), (
        scan,
        served,
    )


def test_li_index_chunk_factor_headroom(spark):
    """vec_id packs (doc_id, chunk_id) as doc_id * 2^16 + chunk_id: the
    fixture must sit far below the per-doc chunk cap, and the packing
    must round-trip (doc_id recoverable by integer division)."""
    from pyspark.sql import functions as F

    from adk_noui_vectordb_spark.operators.chunking import chunk_fixed_words
    from adk_noui_vectordb_spark.operators.embed import LI_CHUNK_FACTOR

    chunks = chunk_fixed_words(spark, "/root/testdata/sf0.01", 8)
    mx = chunks.agg(F.max("chunk_id").alias("m")).head()["m"]
    assert mx < LI_CHUNK_FACTOR // 4, mx  # 4x headroom on the fixture
    packed = chunks.select(
        (F.col("doc_id").cast("bigint") * LI_CHUNK_FACTOR
         + F.col("chunk_id")).alias("vec_id"),
        "doc_id",
    )
    bad = packed.filter(
        (F.col("vec_id") - F.col("vec_id") % LI_CHUNK_FACTOR)
        / LI_CHUNK_FACTOR != F.col("doc_id")
    ).count()
    assert bad == 0


def test_li_batch_served_equals_solo(spark):
    """late_interaction_batch_topk_served: each query's slice of the
    one-probe batch equals the solo served key run alone — same
    candidate semantics, same exact integer scores, same top-5."""
    from adk_noui_vectordb_spark.operators.embed import (
        LI_BATCH_QUERIES,
        late_interaction_batch_topk_served,
        late_interaction_topk_served,
    )

    sf = "/root/testdata/sf0.001"
    batch = late_interaction_batch_topk_served(spark, sf).collect()
    for qid, text in enumerate(LI_BATCH_QUERIES):
        solo = {
            (r["doc_id"], r["score"])
            for r in late_interaction_topk_served(
                spark, sf, query_text=text
            ).collect()
        }
        got = {
            (r["doc_id"], r["score"]) for r in batch if r["query_id"] == qid
        }
        assert got == solo, (qid, got, solo)


def test_li_index_update_replace_and_rebuild_equality(spark, tmp_path):
    """update_li_index: an admitted doc becomes serve-visible, a
    re-submitted doc_id REPLACES its chunk vectors (stale chunks stop
    scoring), fsck stays green through the lifecycle, and the updated
    index equals a fresh build over the combined corpus row-for-row
    (no frozen coarse structure — band keys are per-vector functions)."""
    import os

    from adk_noui_vectordb_spark.operators.embed import (
        LI_BANDS_SCHEMA,
        LI_VECS_SCHEMA,
        build_li_index,
        fsck_li_index,
        late_interaction_topk_served,
        li_index_root,
        update_li_index,
    )
    from adk_noui_vectordb_spark.sources import versioning as vn

    t_hit = "spark query filter join extra words here pad"
    t_miss = " ".join(f"z{i}" for i in range(8))
    rows = [(1, t_miss, "en"), (2, " ".join(f"y{i}" for i in range(8)), "de")]
    base = str(tmp_path / "liup")
    os.makedirs(base, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string"
    ).write.parquet(os.path.join(base, "documents.parquet"))

    def topk():
        return {
            r["doc_id"]: r["score"]
            for r in late_interaction_topk_served(spark, base, k=3).collect()
        }

    before = topk()
    assert 100 not in before
    # admit doc 100 carrying the query words: it must win the serve
    update_li_index(
        spark,
        base,
        spark.createDataFrame([(100, t_hit, "en")], "doc_id bigint, text string, lang string"),
    )
    after = topk()
    assert 100 in after and after[100] == max(after.values()), after
    # REPLACE: resubmit doc 100 with miss-text — it must stop winning
    update_li_index(
        spark,
        base,
        spark.createDataFrame([(100, t_miss, "en")], "doc_id bigint, text string, lang string"),
    )
    replaced = topk()
    assert replaced.get(100, 0.0) < after[100], (after, replaced)
    assert all(ok for _, ok, _ in fsck_li_index(spark, base))
    # equality with a fresh build over the combined corpus
    base2 = str(tmp_path / "lifresh")
    os.makedirs(base2, exist_ok=True)
    spark.createDataFrame(
        rows + [(100, t_miss, "en")], "doc_id bigint, text string, lang string"
    ).write.parquet(os.path.join(base2, "documents.parquet"))
    cur1 = vn.current_dir(li_index_root(base))
    cur2 = build_li_index(spark, base2)
    for comp, schema in [("bands", LI_BANDS_SCHEMA), ("vecs", LI_VECS_SCHEMA)]:
        a = sorted(
            tuple(r)
            for r in spark.read.schema(schema)
            .parquet(os.path.join(cur1, comp))
            .collect()
        )
        b = sorted(
            tuple(r)
            for r in spark.read.schema(schema)
            .parquet(os.path.join(cur2, comp))
            .collect()
        )
        assert a == b, comp


def test_li_ingested_key_surfaces_admitted_clone(spark):
    """late_interaction_topk_ingested: the admitted %10==3 clone of a
    top-5 doc appears beside its original with the identical score at
    sf0.001 — the row class that exists only if the admit advanced the
    index — and a replay returns the identical frame (REPLACE
    idempotence)."""
    from adk_noui_vectordb_spark.operators.embed import (
        late_interaction_topk_ingested,
    )

    sf = "/root/testdata/sf0.001"
    rows = [tuple(r) for r in late_interaction_topk_ingested(spark, sf).collect()]
    clones = {d - 4_000_000: s for d, s in rows if d >= 4_000_000}
    origs = {d: s for d, s in rows if d < 4_000_000}
    assert clones, rows
    assert all(origs.get(o) == s for o, s in clones.items()), rows
    rows2 = [tuple(r) for r in late_interaction_topk_ingested(spark, sf).collect()]
    assert rows2 == rows


def test_li_index_delete_retracts_doc(spark, tmp_path):
    """delete_from_li_index: a deleted doc stops scoring (its chunk and
    band rows retract), unrelated docs keep their scores, absent ids
    no-op without a version bump, and fsck stays green."""
    import os

    from adk_noui_vectordb_spark.operators.embed import (
        build_li_index,
        delete_from_li_index,
        fsck_li_index,
        late_interaction_topk_served,
        li_index_root,
    )
    from adk_noui_vectordb_spark.sources import versioning as vn

    t_hit = "spark query filter join pad pad pad pad"
    rows = [
        (1, t_hit, "en"),
        (2, " ".join(f"z{i}" for i in range(8)), "en"),
    ]
    base = str(tmp_path / "lidel")
    os.makedirs(base, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string"
    ).write.parquet(os.path.join(base, "documents.parquet"))
    build_li_index(spark, base)

    def scores():
        return {
            r["doc_id"]: r["score"]
            for r in late_interaction_topk_served(spark, base, k=3).collect()
        }

    before = scores()
    assert before and max(before, key=before.get) == 1
    delete_from_li_index(spark, base, [1])
    after = scores()
    assert 1 not in after and after.get(2) == before.get(2), (before, after)
    ver1 = os.path.basename(vn.current_dir(li_index_root(base)))
    delete_from_li_index(spark, base, [999999])  # absent: no-op
    ver2 = os.path.basename(vn.current_dir(li_index_root(base)))
    assert ver2 == ver1
    got = fsck_li_index(spark, base)
    assert all(ok for _, ok, _ in got), got


def test_li_where_results_satisfy_compound_tree(spark, sf_dir):
    """Every doc the where-DSL LI serve returns satisfies the full
    compound tree ($and over $in and a nested $or) — and the filter is
    ACTIVE: the unfiltered serve's top-k contains at least one doc the
    tree rejects at this SF (so the semi join is doing work, not
    vacuously passing everything)."""
    from pyspark.sql import functions as F

    from adk_noui_vectordb_spark.operators.embed import (
        LI_WHERE_DEMO,
        late_interaction_topk_served,
        late_interaction_where_topk_served,
    )
    from adk_noui_vectordb_spark.functions.where_dsl import compile_where
    from adk_noui_vectordb_spark.sources.tables import load_table

    meta = load_table(spark, sf_dir, "documents")
    ok_ids = {
        r["doc_id"]
        for r in meta.filter(compile_where(LI_WHERE_DEMO))
        .select("doc_id")
        .collect()
    }
    got = [
        r["doc_id"]
        for r in late_interaction_where_topk_served(spark, sf_dir).collect()
    ]
    assert got and all(d in ok_ids for d in got), (got, len(ok_ids))
    unfiltered = [
        r["doc_id"]
        for r in late_interaction_topk_served(spark, sf_dir).collect()
    ]
    assert any(d not in ok_ids for d in unfiltered), unfiltered


def test_li_explain_contribs_reproduce_served_scores(spark, sf_dir):
    """The explain rows are the EXACT arms of the total: summing a
    doc's per-token contribs reproduces its late_interaction_topk_served
    score to the cent (the bm25_explain_served contract)."""
    from collections import defaultdict

    from adk_noui_vectordb_spark.operators.embed import (
        late_interaction_explain_served,
        late_interaction_topk_served,
    )

    scores = {
        r["doc_id"]: r["score"]
        for r in late_interaction_topk_served(spark, sf_dir, k=3).collect()
    }
    sums = defaultdict(float)
    for r in late_interaction_explain_served(spark, sf_dir, k=3).collect():
        sums[r["doc_id"]] += r["contrib"]
    assert set(sums) == set(scores), (set(sums), set(scores))
    for d, s in scores.items():
        assert abs(sums[d] - s) < 1e-9, (d, sums[d], s)
