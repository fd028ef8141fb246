"""Approximate-ANN quality gates: RP-LSH and sample-trained IVF recall
against brute force, the shuffle-free centroid assignment kernels, and
the RP index's update/delete/compaction lifecycle."""

import os

from pyspark.sql import functions as F

from adk_noui_vectordb_spark.operators.knn import knn_topk, make_query_from_vec
from adk_noui_vectordb_spark.sources.tables import load_table


def _exact_topk_ids(spark, sf_dir, query_vec_id, k):
    emb = load_table(spark, sf_dir, "embeddings")
    df = knn_topk(emb, make_query_from_vec(emb, query_vec_id), k=k)
    return [r["vec_id"] for r in df.collect()]


def test_rp_lsh_band_table_shape(spark, sf_dir):
    """Every vector gets exactly RP_BANDS band rows with keys in
    [0, 2^RP_BAND_BITS)."""
    from adk_noui_vectordb_spark.operators.ann import (
        RP_BAND_BITS,
        RP_BANDS,
        rp_lsh_band_rows,
    )

    bands = rp_lsh_band_rows(spark, sf_dir)
    n = load_table(spark, sf_dir, "embeddings").count()
    assert bands.count() == n * RP_BANDS
    assert bands.select("vec_id", "band").distinct().count() == n * RP_BANDS
    bad = bands.filter(
        (F.col("band_key") < 0) | (F.col("band_key") >= (1 << RP_BAND_BITS))
    ).count()
    assert bad == 0


def test_rp_lsh_results_are_candidate_restricted_exact(spark, sf_dir):
    """RP-LSH top-k must equal the exact cosine ranking RESTRICTED to the
    band-probe candidate set — the rerank stage adds no approximation."""
    from adk_noui_vectordb_spark.operators.ann import (
        ann_rp_lsh_topk,
        rp_lsh_band_rows,
    )

    qid = 0
    bands = rp_lsh_band_rows(spark, sf_dir)
    qb = bands.filter(F.col("vec_id") == qid).select("band", "band_key")
    cand = {
        r["vec_id"]
        for r in bands.join(qb, ["band", "band_key"])
        .filter(F.col("vec_id") != qid)
        .select("vec_id")
        .distinct()
        .collect()
    }
    exact_order = _exact_topk_ids(spark, sf_dir, qid, 10_000_000)
    expected = [v for v in exact_order if v in cand][:10]
    got = [
        r["vec_id"]
        for r in ann_rp_lsh_topk(spark, sf_dir, query_vec_id=qid, k=10).collect()
    ]
    assert got == expected


def test_rp_lsh_probe_plan_is_broadcast_topk(spark, sf_dir):
    """The bucket probe must broadcast the RP_BANDS-row probe table (never
    shuffle the band table for it) and the rerank must cap at k via
    TakeOrderedAndProject — the serving-path plan contract."""
    from adk_noui_vectordb_spark.operators.ann import ann_rp_lsh_topk
    from adk_noui_vectordb_spark.plans import explain_str

    plan = explain_str(ann_rp_lsh_topk(spark, sf_dir), mode="simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_rp_lsh_recall_matches_band_theory(spark, sf_dir):
    """Honest recall floor on the ISOTROPIC testdata (BASELINE.md caveat,
    same as IVF): top-10 neighbors sit at cosine ~0.3 (theta ~72 deg), so
    per-plane agreement p = 1 - theta/pi ~ 0.6 and band-match probability
    1 - (1 - p^4)^6 ~ 0.55 — measured avg recall@10 is 0.5 at sf0.001.
    Genuinely clustered neighbors (higher cosine) match with much higher
    probability."""
    from adk_noui_vectordb_spark.operators.ann import ann_rp_lsh_topk

    recalls = []
    for qid in (0, 1, 2):
        exact = set(_exact_topk_ids(spark, sf_dir, qid, 10))
        approx = {
            r["vec_id"]
            for r in ann_rp_lsh_topk(spark, sf_dir, query_vec_id=qid, k=10).collect()
        }
        recalls.append(len(exact & approx) / 10)
    avg = sum(recalls) / len(recalls)
    assert avg >= 0.3, f"RP-LSH recall@10 {avg} < 0.3 (per-query {recalls})"


def test_kmeans_assigns_every_vector_once(spark, sf_dir):
    from adk_noui_vectordb_spark.operators.ann import cluster_kmeans
    from adk_noui_vectordb_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    k = 8
    got = cluster_kmeans(spark, sf_dir, k=k)
    n = load_table(spark, sf_dir, "embeddings").count()
    assert got.count() == n
    assert got.select("vec_id").distinct().count() == n
    bad = got.filter((F.col("cluster") < 0) | (F.col("cluster") >= k)).count()
    assert bad == 0


def test_kmeans_k1_is_single_cluster(spark, sf_dir):
    from adk_noui_vectordb_spark.operators.ann import cluster_kmeans
    from pyspark.sql import functions as F

    got = cluster_kmeans(spark, sf_dir, k=1, iters=1)
    assert got.filter(F.col("cluster") != 0).count() == 0


def test_semdedup_keep_rule(spark, sf_dir):
    """Brute-force re-check of the SemDeDup keep rule: a vector is pruned
    iff a lower-vec_id vector in the SAME cluster has round(cos,4) >= thr."""
    import numpy as np

    from adk_noui_vectordb_spark.operators.dedup import semdedup_prune
    from adk_noui_vectordb_spark.sources.tables import load_table

    thr = 0.35
    got = {
        r["vec_id"]: (r["cluster"], r["keep"])
        for r in semdedup_prune(spark, sf_dir, threshold=thr).collect()
    }
    emb = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    assert set(got) == set(emb)
    for vid, (cluster, keep) in got.items():
        mates = [
            o
            for o, (c, _) in got.items()
            if c == cluster and o < vid
        ]
        v = emb[vid]
        has_dup = any(
            round(
                float(np.dot(emb[o], v))
                / (np.linalg.norm(emb[o]) * np.linalg.norm(v)),
                4,
            )
            >= thr
            for o in mates
        )
        assert keep == (0 if has_dup else 1), f"vec {vid}: keep={keep}"


def test_semdedup_prunes_planted_dups(spark, sf_dir):
    """The testdata plants near-dup embedding pairs (cosine >= 0.35);
    SemDeDup must prune a non-trivial set while keeping every cluster's
    canonical (minimum vec_id) member."""
    from pyspark.sql import functions as F

    from adk_noui_vectordb_spark.operators.dedup import semdedup_prune

    df = semdedup_prune(spark, sf_dir)
    pruned = df.filter(F.col("keep") == 0).count()
    assert pruned > 0
    # the lowest vec_id of every cluster is by construction never pruned
    firsts = df.groupBy("cluster").agg(F.min("vec_id").alias("vec_id"))
    bad = df.join(firsts, ["cluster", "vec_id"]).filter(F.col("keep") == 0)
    assert bad.count() == 0


def test_kmeans_broadcast_assignment_equals_literal(spark, sf_dir, monkeypatch):
    """Above CENTROID_LITERAL_MAX_KDIM the assignment switches to
    sparkContext.broadcast + Arrow argmin (VERDICT r5 item 3); the two
    strategies implement the identical (round(d2,6), cluster) ranking
    contract and must agree assignment-for-assignment. Forcing the
    threshold to 0 runs the broadcast path on the same small-k data the
    literal path runs."""
    from adk_noui_vectordb_spark.operators import ann

    lit = {
        (r["vec_id"], r["cluster"])
        for r in ann.cluster_kmeans(spark, sf_dir, k=8, iters=2).collect()
    }
    monkeypatch.setattr(ann, "CENTROID_LITERAL_MAX_KDIM", 0)
    bcast = {
        (r["vec_id"], r["cluster"])
        for r in ann.cluster_kmeans(spark, sf_dir, k=8, iters=2).collect()
    }
    assert lit == bcast
    # the broadcast path must stay a narrow, shuffle-free projection too
    from adk_noui_vectordb_spark.plans import explain_str

    plan = explain_str(ann.cluster_kmeans(spark, sf_dir, k=8), mode="simple")
    for bad in ("Exchange", "Sort", "Window", "Join"):
        assert bad not in plan, f"{bad} in broadcast assignment plan:\n{plan}"


def test_assign_topn_matches_argmin_and_broadcast(spark, sf_dir, monkeypatch):
    """r14 multi-probe assignment (the graph build's boundary fix):
    (1) nprobe=1 reduces exactly to assign_to_centroids; (2) the row's
    rank-1 cluster under nprobe=2 IS the argmin assignment (the second
    probe only ADDS a row); (3) the Arrow broadcast top-n kernel agrees
    pair-for-pair with the literal array_sort path under the identical
    (round(d2,6), cluster) contract."""
    from adk_noui_vectordb_spark.operators import ann
    from adk_noui_vectordb_spark.sources.tables import load_table

    e = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    )
    assign_p, _ = ann.build_ivf_index_sampled(spark, sf_dir, 8, 2, 32)
    cents_p = os.path.join(os.path.dirname(assign_p), "cents")
    cent_rows = sorted(
        (
            {"cluster": r["cluster"], "c": list(r["c"])}
            for r in spark.read.parquet(cents_p).collect()
        ),
        key=lambda r: r["cluster"],
    )
    argmin = {
        (r["vec_id"], r["cluster"])
        for r in ann.assign_to_centroids(e, cent_rows).collect()
    }
    top1 = {
        (r["vec_id"], r["cluster"])
        for r in ann.assign_topn_to_centroids(e, cent_rows, 1).collect()
    }
    assert top1 == argmin
    top2 = sorted(
        (r["vec_id"], r["cluster"])
        for r in ann.assign_topn_to_centroids(e, cent_rows, 2).collect()
    )
    n = e.count()
    assert len(top2) == 2 * n
    assert argmin <= set(top2)  # every argmin pair is among the 2 probes
    per_vec: dict = {}
    for vid, cl in top2:
        per_vec.setdefault(vid, set()).add(cl)
    assert all(len(cls) == 2 for cls in per_vec.values())
    monkeypatch.setattr(ann, "CENTROID_LITERAL_MAX_KDIM", 0)
    bcast = sorted(
        (r["vec_id"], r["cluster"])
        for r in ann.assign_topn_to_centroids(e, cent_rows, 2).collect()
    )
    assert bcast == top2


def test_kmeans_large_k_smoke(spark, sf_dir):
    """k large enough that k*dim would cross the default threshold at IVF
    scale — here forced over the line by a low threshold bound check:
    k=32 x dim=64 = 2048 stays literal by default, so instead assert the
    broadcast path handles a real multi-iteration run end-to-end."""
    from adk_noui_vectordb_spark.operators import ann

    old = ann.CENTROID_LITERAL_MAX_KDIM
    ann.CENTROID_LITERAL_MAX_KDIM = 1
    try:
        got = ann.cluster_kmeans(spark, sf_dir, k=32, iters=2)
        n = load_table(spark, sf_dir, "embeddings").count()
        assert got.count() == n
        bad = got.filter(
            (F.col("cluster") < 0) | (F.col("cluster") >= 32)
        ).count()
        assert bad == 0
    finally:
        ann.CENTROID_LITERAL_MAX_KDIM = old


def test_double_sql_rejects_non_finite():
    """ADVICE r5: NaN/Inf must fail with a diagnosable ValueError, not an
    opaque Spark ParseException from an 'infD' literal."""
    import math

    import pytest

    from adk_noui_vectordb_spark.operators.ann import _centroid_literal, _double_sql

    assert _double_sql(1.5) == "1.5D"
    for bad in (float("nan"), float("inf"), float("-inf")):
        with pytest.raises(ValueError, match="non-finite"):
            _double_sql(bad)
    with pytest.raises(ValueError, match="cluster 3"):
        _centroid_literal(
            [{"cluster": 3, "c": [1.0, float("nan")]}]
        )


def test_kmeans_assignment_is_pure_projection(spark, sf_dir):
    """The k-means assignment is an array_min argmin over a LITERAL
    centroid array — a pure projection over the scan. No join, no window,
    no sort, no exchange anywhere in the assignment plan (the previous
    Window.partitionBy(vec_id) argmin planned Sort + Exchange even after
    a broadcast join)."""
    from adk_noui_vectordb_spark.operators.ann import cluster_kmeans
    from adk_noui_vectordb_spark.plans import explain_str

    plan = explain_str(cluster_kmeans(spark, sf_dir), mode="simple")
    for bad in ("Exchange", "Sort", "Window", "Join"):
        assert bad not in plan, f"{bad} in assignment plan:\n{plan}"


def test_cap_bucket_members_bounds_skewed_self_join(spark):
    """Skew guard: a hot cluster of m members must contribute at most
    m x cap candidate pairs to the same-cell self-join, not m² — the
    difference between a slow cell and a dead executor at 100 TB."""
    from adk_noui_vectordb_spark.operators.ann import cap_bucket_members

    hot = [(7, i) for i in range(1000)]  # one hot cluster, m=1000
    cold = [(3, i) for i in range(10)]
    members = spark.createDataFrame(hot + cold, "cluster int, vec_id int")
    capped = cap_bucket_members(members, cap=50)
    sizes = {
        r["cluster"]: r["n"]
        for r in capped.groupBy("cluster")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert sizes == {7: 50, 3: 10}

    a = members.select("cluster", F.col("vec_id").alias("src"))
    b = capped.select("cluster", F.col("vec_id").alias("nbr"))
    pairs = a.join(b, "cluster").filter(F.col("src") != F.col("nbr"))
    n_pairs = pairs.count()
    # hot: 1000 x 50 minus the 50 self-pairs; cold: 10 x 10 minus 10.
    assert n_pairs == 1000 * 50 - 50 + 90
    # vs the uncapped blow-up (would be 999_000 + 90)


def test_cap_bucket_members_deterministic_and_order_free(spark):
    """The md5-top-cap selection must not depend on input row order or
    partitioning (corpus-order determinism, the house discipline)."""
    from adk_noui_vectordb_spark.operators.ann import cap_bucket_members

    rows = [(1, i) for i in range(200)]
    members = spark.createDataFrame(rows, "cluster int, vec_id int")
    sel1 = {r["vec_id"] for r in cap_bucket_members(members, cap=40).collect()}
    shuffled = members.orderBy(F.desc("vec_id")).repartition(7)
    sel2 = {
        r["vec_id"] for r in cap_bucket_members(shuffled, cap=40).collect()
    }
    assert sel1 == sel2 and len(sel1) == 40
    # cap >= cell size is the identity
    assert cap_bucket_members(members, cap=200).count() == 200


# --- incremental index maintenance (VERDICT r8 next #3/#4) --------------


def _split_embedding_dirs(spark, sf_dir, tmp_path, tag):
    """base/ holds vec_id % 5 != 0, all/ holds everything — the invindex
    incremental-test harness applied to the embeddings table."""
    import os

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    base_dir, all_dir = str(tmp_path / f"{tag}_base"), str(tmp_path / f"{tag}_all")
    os.makedirs(base_dir), os.makedirs(all_dir)
    emb.filter(F.col("vec_id") % 5 != 0).write.parquet(
        os.path.join(base_dir, "embeddings.parquet")
    )
    emb.write.parquet(os.path.join(all_dir, "embeddings.parquet"))
    batch = emb.filter(F.col("vec_id") % 5 == 0).select("vec_id", "embedding")
    return base_dir, all_dir, batch


def _band_map(spark, bands_p):
    return {
        (r["band"], r["band_key"], r["vec_id"])
        for r in spark.read.parquet(bands_p).collect()
    }


def test_update_rp_index_equals_fresh_rebuild(spark, sf_dir, tmp_path):
    """Building on base and incrementally ingesting the rest must yield
    the same band table AND vector store as a from-scratch build over
    everything — the signatures come from the shared rp_band_rows_for
    kernel, so equality is exact, not approximate."""
    import os

    from adk_noui_vectordb_spark.operators import ann

    base_dir, all_dir, batch = _split_embedding_dirs(spark, sf_dir, tmp_path, "rp")
    bands_inc = ann.update_rp_index(spark, base_dir, batch)
    bands_all = ann.build_rp_index(spark, all_dir)
    assert _band_map(spark, bands_inc) == _band_map(spark, bands_all)

    def vec_map(p):
        return {
            r["vec_id"]: (r["vbucket"], tuple(r["emb"]))
            for r in spark.read.parquet(
                os.path.join(os.path.dirname(p), "vecs")
            ).collect()
        }

    assert vec_map(bands_inc) == vec_map(bands_all)


def test_update_rp_index_replaces_resubmitted_vector(spark, sf_dir, tmp_path):
    """Vec-level replace: re-submitting vec 1 with a NEW embedding must
    retract its old band rows (found via the vecs/ reverse map, not a
    scan) and serve the new signature; re-submitting the same batch
    again changes nothing (idempotent upsert)."""
    import os

    from adk_noui_vectordb_spark.operators import ann

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    base_dir = str(tmp_path / "rp_rebase")
    os.makedirs(base_dir)
    emb.write.parquet(os.path.join(base_dir, "embeddings.parquet"))
    bands0 = ann.build_rp_index(spark, base_dir)
    before = _band_map(spark, bands0)
    old_rows = {t for t in before if t[2] == 1}
    assert len(old_rows) == ann.RP_BANDS

    flipped = emb.filter(F.col("vec_id") == 1).select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: -x
        ).alias("emb"),
    )
    bands1 = ann.update_rp_index(spark, base_dir, flipped)
    after = _band_map(spark, bands1)
    new_rows = {t for t in after if t[2] == 1}
    assert len(new_rows) == ann.RP_BANDS
    # sign-flip flips every plane vote -> every band key changes
    assert new_rows.isdisjoint(old_rows)
    assert after - new_rows == before - old_rows  # everyone else untouched

    bands2 = ann.update_rp_index(spark, base_dir, flipped)
    assert _band_map(spark, bands2) == after


def test_rp_served_probe_converges_one_batch_after_ingest(
    spark, sf_dir, tmp_path
):
    """The stream_text_index_ingest contract for the vector side: a
    vector ingested via update_rp_index is served by the very next
    ann_rp_lsh_topk probe (the rerank reads the index's vecs/ store,
    never the source table)."""
    import os

    from adk_noui_vectordb_spark.operators import ann

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    base_dir = str(tmp_path / "rp_serve")
    os.makedirs(base_dir)
    emb.write.parquet(os.path.join(base_dir, "embeddings.parquet"))
    ann.build_rp_index(spark, base_dir)

    clone = emb.filter(F.col("vec_id") == 0).select(
        F.lit(987654321).cast("bigint").alias("vec_id"), F.col("embedding")
    )
    ann.update_rp_index(spark, base_dir, clone)
    top = ann.ann_rp_lsh_topk(spark, base_dir, query_vec_id=0, k=3).collect()
    assert top[0]["vec_id"] == 987654321
    assert top[0]["sim"] == 1.0


def test_rp_update_crash_before_commit_preserves_served_results(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The versioning discipline holds for the vector indexes too: a
    crash injected before the _CURRENT swing leaves the probe serving
    the old consistent version; re-running the update succeeds."""
    import os

    from adk_noui_vectordb_spark.operators import ann
    from adk_noui_vectordb_spark.sources import versioning

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    base_dir = str(tmp_path / "rp_crash")
    os.makedirs(base_dir)
    emb.write.parquet(os.path.join(base_dir, "embeddings.parquet"))
    ann.build_rp_index(spark, base_dir)
    served_before = [
        tuple(r) for r in ann.ann_rp_lsh_topk(spark, base_dir).collect()
    ]
    clone = emb.filter(F.col("vec_id") == 0).select(
        F.lit(987654323).cast("bigint").alias("vec_id"), F.col("embedding")
    )

    real = versioning.point_current

    def boom(root, name):
        raise RuntimeError("injected crash before commit point")

    monkeypatch.setattr(versioning, "point_current", boom)
    try:
        ann.update_rp_index(spark, base_dir, clone)
        raise AssertionError("injected crash did not fire")
    except RuntimeError:
        pass
    monkeypatch.setattr(versioning, "point_current", real)

    assert [
        tuple(r) for r in ann.ann_rp_lsh_topk(spark, base_dir).collect()
    ] == served_before
    bands = ann.update_rp_index(spark, base_dir, clone)  # recovery = re-run
    got = {t[2] for t in _band_map(spark, bands)}
    assert 987654323 in got


def test_compact_rp_index_preserves_bands_and_serving(spark, sf_dir, tmp_path):
    """RP compaction: content-identical bands/vecs, <=1 part file per
    partition dir afterward, probe results unchanged."""
    import os

    from adk_noui_vectordb_spark.operators import ann

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    base_dir = str(tmp_path / "rp_comp")
    os.makedirs(base_dir)
    emb.filter(F.col("vec_id") % 3 != 0).write.parquet(
        os.path.join(base_dir, "embeddings.parquet")
    )
    ann.build_rp_index(spark, base_dir)
    ann.update_rp_index(
        spark, base_dir, emb.filter(F.col("vec_id") % 3 == 0).select("vec_id", "embedding")
    )
    bands_p = ann.build_rp_index(spark, base_dir)
    before = _band_map(spark, bands_p)
    served_before = [
        tuple(r) for r in ann.ann_rp_lsh_topk(spark, base_dir).collect()
    ]
    ver = ann.compact_rp_index(spark, base_dir, threshold=0)
    assert _band_map(spark, os.path.join(ver, "bands")) == before
    assert [
        tuple(r) for r in ann.ann_rp_lsh_topk(spark, base_dir).collect()
    ] == served_before
    for band in os.listdir(os.path.join(ver, "bands")):
        bp = os.path.join(ver, "bands", band)
        if not os.path.isdir(bp):
            continue
        for bk in os.listdir(bp):
            kp = os.path.join(bp, bk)
            n = sum(1 for f in os.listdir(kp) if f.startswith("part-"))
            assert n <= 1, (band, bk, n)


def test_delete_from_rp_index_retracts_bands_and_vecs(spark, sf_dir, tmp_path):
    """Deleting vectors must equal a fresh build over the corpus
    WITHOUT them (bands and vecs), and the probe must stop serving
    them; deleting an absent id is a no-op."""
    import os

    from adk_noui_vectordb_spark.operators import ann

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    full_dir = str(tmp_path / "rpdfull")
    rest_dir = str(tmp_path / "rpdrest")
    os.makedirs(full_dir), os.makedirs(rest_dir)
    emb.write.parquet(os.path.join(full_dir, "embeddings.parquet"))
    emb.filter(F.col("vec_id") % 7 != 0).write.parquet(
        os.path.join(rest_dir, "embeddings.parquet")
    )
    ann.build_rp_index(spark, full_dir)
    victims = emb.filter(F.col("vec_id") % 7 == 0).select("vec_id")
    bands_del = ann.delete_from_rp_index(spark, full_dir, victims)
    bands_ref = ann.build_rp_index(spark, rest_dir)
    assert _band_map(spark, bands_del) == _band_map(spark, bands_ref)
    vecs_left = {
        r["vec_id"]
        for r in spark.read.parquet(
            os.path.join(os.path.dirname(bands_del), "vecs")
        ).collect()
    }
    assert not (vecs_left & {r["vec_id"] for r in victims.collect()})
    top = ann.ann_rp_lsh_topk(spark, full_dir, query_vec_id=1, k=50).collect()
    assert all(r["vec_id"] % 7 != 0 for r in top)

    absent = spark.createDataFrame([(99_999_998,)], "vec_id bigint")
    assert ann.delete_from_rp_index(spark, full_dir, absent) == bands_del


def test_rp_empty_index_state_serves_and_recovers(spark, tmp_path):
    """The RP twin of the text-index empty-state pin (VERDICT r9 next
    #1): deleting every vector leaves a legal, servable index — vec/band
    stores answer 0 rows, compaction no-ops, a probe for a deleted id
    raises the documented error, and an update re-populates serving."""
    import os

    import pytest

    from adk_noui_vectordb_spark.operators import ann
    from adk_noui_vectordb_spark.sources import versioning as vn

    base = str(tmp_path / "rpempty")
    os.makedirs(base)
    v0 = [1.0] * 64
    v1 = [2.0] * 64  # same direction as v0 -> identical band keys
    spark.createDataFrame(
        [(0, v0, 0), (1, v1, 0)],
        "vec_id bigint, embedding array<double>, label int",
    ).write.parquet(os.path.join(base, "embeddings.parquet"))
    ann.build_rp_index(spark, base)
    ann.delete_from_rp_index(
        spark, base, spark.createDataFrame([(0,), (1,)], "vec_id bigint")
    )

    assert ann.rp_index_vec_rows(spark, base).count() == 0
    bands_p = ann.build_rp_index(spark, base)
    assert (
        spark.read.schema(ann.RP_BANDS_SCHEMA).parquet(bands_p).count() == 0
    )

    cur = vn.current_dir(ann.rp_index_root(base))
    assert ann.compact_rp_index(spark, base, threshold=0) == cur

    with pytest.raises(ValueError, match="not found"):
        ann.ann_rp_lsh_topk(spark, base, query_vec_id=0, k=3)

    ann.update_rp_index(
        spark,
        base,
        spark.createDataFrame(
            [(0, v0), (1, v1)], "vec_id bigint, embedding array<double>"
        ),
    )
    got = ann.ann_rp_lsh_topk(spark, base, query_vec_id=0, k=3).collect()
    assert [(r["vec_id"], r["sim"]) for r in got] == [(1, 1.0)]


def test_filtered_ann_respects_predicate_and_probe(spark, sf_dir):
    """ann_rp_lsh_filtered_topk: every hit carries the filtered label,
    and the result equals the unfiltered multiprobe candidate set
    intersected with the label set then exactly reranked (post-filter
    semantics, the reference's where= contract)."""
    from pyspark.sql import functions as F

    from adk_noui_vectordb_spark.operators import ann
    from adk_noui_vectordb_spark.sources.tables import load_table

    got = ann.ann_rp_lsh_filtered_topk(spark, sf_dir, label=1, k=10).collect()
    assert len(got) > 0
    labels = {
        r["vec_id"]: r["label"]
        for r in load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label")
        .collect()
    }
    assert all(labels[r["vec_id"]] == 1 for r in got)

    # post-filter semantics: unfiltered multiprobe top-BIG, keep label=1,
    # take 10 — must equal the operator's output exactly
    big = ann.ann_rp_lsh_topk(
        spark, sf_dir, k=10**6, multiprobe_hamming=1
    ).collect()
    want = [
        (r["vec_id"], r["sim"]) for r in big if labels[r["vec_id"]] == 1
    ][:10]
    assert [(r["vec_id"], r["sim"]) for r in got] == want


def test_batch_ann_matches_single_query_serving(spark, sf_dir):
    """Each query's slice of the batched probe equals the single-query
    index serving — the batching is a plan change, not a contract
    change (the bm25_batch_topk_served discipline on the vector arm)."""
    from adk_noui_vectordb_spark.operators import ann

    batch = ann.ann_rp_lsh_batch_topk(
        spark, sf_dir, query_vec_ids=(0, 3, 9), k=5
    ).collect()
    for qid in (0, 3, 9):
        single = ann.ann_rp_lsh_topk(spark, sf_dir, query_vec_id=qid, k=5).collect()
        got = [
            (r["vec_id"], r["sim"])
            for r in sorted(
                (r for r in batch if r["query_id"] == qid),
                key=lambda r: r["rank"],
            )
        ]
        want = [(r["vec_id"], r["sim"]) for r in single]
        assert got == want, (qid, got, want)


def test_knn_join_ivf_cell_cap_bounds_hot_cells(spark, sf_dir):
    """VERDICT r10 next #1: the cell join's per-cell neighbor cap,
    pinned against a full Python model with a BINDING cap (cap=5 <<
    every cell's population) — every source still gets a top-k, and
    each candidate list is exactly the md5-top-5 of the source's cell."""
    import hashlib
    import os

    import numpy as np

    from adk_noui_vectordb_spark.operators import ann

    cap = 5
    got = {
        (r["src"], r["rank"]): (r["nbr"], r["sim"])
        for r in ann.knn_join_ivf_topk(spark, sf_dir, k=3, cell_cap=cap).collect()
    }
    # model: read the SAME derived-c sample-trained index the operator
    # served from (r11: the join's coarse quantizer trains on a sample)
    n = load_table(spark, sf_dir, "embeddings").count()
    c = ann.derived_cell_count(n)
    assign_p, _ = ann.build_ivf_index_sampled(
        spark, sf_dir, c, 2, ann.IVF_JOIN_TRAIN_PER_CELL
    )
    ver = os.path.dirname(assign_p)
    asg = {
        r["vec_id"]: r["cluster"]
        for r in spark.read.schema(ann.IVF_ASSIGN_SCHEMA).parquet(assign_p).collect()
    }
    vecs = {
        r["vec_id"]: np.array(r["emb"], dtype=np.float64)
        for r in spark.read.schema(ann.VECS_SCHEMA)
        .parquet(os.path.join(ver, "vecs"))
        .collect()
    }
    nz = {v for v, e in vecs.items() if float(e @ e) > 0}
    by_cell: dict = {}
    for v, cl in asg.items():
        if v in nz:
            by_cell.setdefault(cl, []).append(v)
    capped = {
        cl: set(
            sorted(ms, key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v))[:cap]
        )
        for cl, ms in by_cell.items()
    }
    assert any(len(ms) > cap for ms in by_cell.values()), "cap not binding"
    want = {}
    for src in sorted(nz):
        cands = [m for m in capped[asg[src]] if m != src]
        se = vecs[src]
        scored = sorted(
            (
                (-round(float(se @ vecs[m]) / (np.linalg.norm(se) * np.linalg.norm(vecs[m])), 4), m)
                for m in cands
            ),
        )[:3]
        for rank, (negsim, m) in enumerate(scored, 1):
            want[(src, rank)] = (m, -negsim)
    assert set(got) == set(want)
    for key in want:
        assert got[key][0] == want[key][0], key
        assert abs(got[key][1] - want[key][1]) < 1e-9, key


def test_sampled_ivf_training_matches_full_on_tight_clusters(spark, tmp_path):
    """r11: the 100 TB training path — Lloyd's on the md5-top-s sample +
    one frozen-centroid full-corpus pass — must not cost recall in the
    regime the index is FOR (tight clusters): recall@10 at nprobe=1
    equals the full-corpus-trained index's 1.00 (BASELINE.md r11)."""
    import numpy as np

    from adk_noui_vectordb_spark.operators import ann
    from tools.make_clustered_embeddings import make

    base = str(tmp_path / "sampled_tight")
    make(base, 1000, 10, 0.06)
    emb = np.array(
        spark.read.parquet(base + "/embeddings.parquet")
        .orderBy("vec_id")
        .select("embedding")
        .toPandas()["embedding"]
        .tolist(),
        dtype=np.float64,
    )
    n = len(emb)
    assign_p, cents_p = ann.build_ivf_index_sampled(spark, base, 10, 2, 32)
    cent_rows = sorted(
        (r["cluster"], list(r["c"]))
        for r in spark.read.parquet(cents_p).collect()
    )
    hits = tot = 0
    for qid in range(5):
        got = {
            r["vec_id"]
            for r in ann._ivf_serve_topk(
                spark, assign_p, cent_rows, qid, 10, 1
            ).collect()
        }
        q = emb[qid]
        cos = (emb @ q) / (np.linalg.norm(emb, axis=1) * np.linalg.norm(q))
        order = sorted(
            (i for i in range(n) if i != qid), key=lambda i: (-round(cos[i], 4), i)
        )
        hits += len(got & set(order[:10]))
        tot += 10
    assert hits / tot >= 0.95, f"sampled-trained recall {hits / tot}"

