"""Approximate nearest-neighbor paths — the 100 TB retrieval story.

The reference's ANN is ChromaDB's HNSW (untuned, in-process; reference:
coding_agent/tools/indexing_agent.py:55, vector_search_tool.py:42). HNSW is
a single-node graph structure that does not shard naturally; the Spark-first
pieces here are (SURVEY.md section 4):

- the random-hyperplane LSH kernels (``_rp_plane_signs``,
  ``_rp_band_keys``): md5-seeded hyperplanes and integer-exact band
  keys. ``Collection.query`` probes the keys it derives from the
  stored vectors before an exact rerank.
- the sample-trained IVF (``build_ivf_index_sampled``,
  ``ann_ivf_sampled_topk``): partition vectors by nearest centroid and
  prune to the ``nprobe`` closest cells at query time, with the
  shuffle-free ``assign_*`` kernels and the cell-blocked
  ``knn_join_ivf_topk``. The Collection's navigable graph
  (graph_ann.py) replays the same arithmetic on the driver through
  ``nearest_centroids``.

Both prune candidates BEFORE an exact rerank; recall is measured against
brute force in tests.
"""

from __future__ import annotations

import functools
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vector import cosine_similarity
from ..sources.tables import load_table

# Engine-owned random-hyperplane (cosine) LSH — the oracle-checkable
# replacement for MLlib's BucketedRandomProjectionLSH (whose projections
# are Spark-ML-internal, hence unreproducible in SQL). Hyperplane p's
# component for dimension i is +1/-1 by the parity of the 60-bit md5
# prefix of "rp|{p}|{i}" (the dedup.py:md5_long seeding pattern applied
# to cosine LSH; Rademacher hyperplanes are a valid LSH family for
# angular distance — Charikar, STOC 2002). The RP_PLANES sign bits are
# cut into RP_BANDS consecutive bands of RP_BAND_BITS bits each, and each
# band's bits form one integer key; two vectors are candidates iff they
# share a band key with the query.
#
# Cross-engine exactness: the sign-determining dot product runs over
# FLOOR-SCALED INTEGER MICRO-UNITS (floor(x*1e6 + 0.5)). Products of micro-unit ints against +-1 are
# integer-valued and their 64-term sums stay far below 2^53, so the dot
# is EXACT in numpy int64, Spark, and DuckDB double alike — summation
# order cannot flip a sign bit, unlike a float dot whose last-ulp
# rounding differs between engines' fold orders.
RP_PLANES = 24
RP_BANDS = 6
RP_BAND_BITS = RP_PLANES // RP_BANDS
RP_DIM = 64  # testdata embedding dimensionality (asserted in the kernel)
# Cell-join sizing (VERDICT r10 next #1 — the one super-linear key).
# With the cell count FIXED, same-cell candidates are n²/c: quadratic.
# Deriving c = max(MIN, ceil(n / TARGET_CELL)) keeps the expected cell
# population at TARGET_CELL regardless of corpus size, so candidate
# volume is ~n × TARGET_CELL — linear in n. TARGET_CELL is the
# per-vector candidate budget (the cell IS the candidate list): 128
# same-cluster candidates for a top-k≤10 join, and on the clustered
# data this operator is FOR, the local neighborhood concentrates well inside it.
# CELL_CAP additionally bounds Zipfian hot cells (real cluster sizes
# are skewed even when the MEAN is TARGET_CELL): the neighbor side of
# the self-join keeps at most CELL_CAP md5-selected members per cell,
# so one hot cluster contributes m × CELL_CAP pairs, never m². All
# three interpolate into the oracle SQL (one source of truth).
IVF_JOIN_TARGET_CELL = 128
IVF_JOIN_CELL_CAP = 256
IVF_JOIN_MIN_CENTROIDS = 8
# The join's coarse quantizer trains on a SAMPLE (r11): with c ∝ n,
# full-corpus Lloyd's is O(n²/target) distance evaluations — the
# sampled trainer keeps training O(c² · train_per_cell), so the whole
# join (train + assign + block + rerank) stays linear in n.
IVF_JOIN_TRAIN_PER_CELL = 32
RP_SCALE = 1_000_000


def _seq_self_dot(vals) -> float:
    """Left-to-right double fold of sum(x*x) — the exact summation order of
    functions.vector.dot_product's HOF aggregate (and of DuckDB's
    list_inner_product), so a driver-side precomputed dot(c, c) literal is
    bit-identical to the in-plan expression it replaces."""
    acc = 0.0
    for x in vals:
        acc += float(x) * float(x)
    return acc


@functools.lru_cache(maxsize=None)
def _rp_plane_signs(planes: int = RP_PLANES, dim: int = RP_DIM) -> tuple:
    """The planes x dim +-1 hyperplane matrix, derived from md5 so the
    DuckDB oracle regenerates it bit-identically in SQL:
    ``CAST(('0x' || substr(md5('rp|' || p || '|' || i), 1, 15)) AS BIGINT) % 2``.
    Cached (immutable tuples): every query derives its band keys from
    it, and its planes x dim md5 calls take ~3 ms at dim 64.
    """
    import hashlib

    return tuple(
        tuple(
            1 if int(hashlib.md5(f"rp|{p}|{i}".encode()).hexdigest()[:15], 16) % 2 == 0
            else -1
            for i in range(1, dim + 1)
        )
        for p in range(planes)
    )


def _rp_band_keys(mat, signs_t) -> "object":
    """n x RP_BANDS band keys from an n x dim float64 matrix: quantize to
    micro-units, integer dot against the +-1 planes, pack sign bits
    little-endian within each band. Shared by the stored rows' keys and
    the query's (identical arithmetic)."""
    import numpy as np

    q = np.floor(mat * RP_SCALE + 0.5).astype(np.int64)
    bits = (q @ signs_t >= 0).astype(np.int64)  # n x planes
    weights = (1 << np.arange(RP_BAND_BITS, dtype=np.int64))
    return bits.reshape(mat.shape[0], RP_BANDS, RP_BAND_BITS) @ weights


N_VEC_BUCKETS = 32


# Explicit component schemas: a partitioned index component can be
# EMPTY (deleting every vector empties assign), and schema inference
# fails on a file-less directory — readers therefore always pass one.
VECS_SCHEMA = "vec_id bigint, emb array<double>, vbucket int"
IVF_ASSIGN_SCHEMA = "vec_id bigint, cluster int"


def vec_bucket_expr(vec_id: F.Column) -> F.Column:
    """md5-derived vector bucket for the index-resident ``vecs/`` store
    — the invindex ``doc_bucket_expr`` discipline, so a point lookup for
    a literal vec_id statically prunes to one partition directory."""
    return (
        F.conv(F.substring(F.md5(vec_id.cast("string")), 1, 8), 16, 10).cast(
            "bigint"
        )
        % N_VEC_BUCKETS
    ).cast("int")


def vec_bucket_py(vec_id: int) -> int:
    import hashlib

    return (
        int(hashlib.md5(str(vec_id).encode()).hexdigest()[:8], 16)
        % N_VEC_BUCKETS
    )


def ivf_sampled_root(
    sf_dir: str, n_centroids: int, iters: int, train_per_cell: int
) -> str:
    from ..memo import index_root

    return index_root(
        "ivf_index_sampled", sf_dir, n_centroids, iters, train_per_cell,
        N_VEC_BUCKETS,
    )


def _sampled_centroid_rows(
    e: DataFrame, n_centroids: int, iters: int, train_per_cell: int
) -> list:
    """The sampled Lloyd's trainer on any (vec_id, emb) frame — the
    md5-top-s rank-keyed sample + ``_lloyd`` chain of
    ``build_ivf_index_sampled``. Returns sorted centroid row dicts
    ({cluster, c})."""
    from pyspark.sql.window import Window

    s = n_centroids * train_per_cell
    md = F.md5(F.col("vec_id").cast("string"))
    sample = (
        e.select("vec_id", "emb", md.alias("_md"))
        .orderBy("_md", "vec_id")
        .limit(s)
        .localCheckpoint(eager=True)
    )
    w = Window.orderBy("_md", "vec_id")
    ranked = sample.select(
        (F.row_number().over(w) - 1).cast("bigint").alias("vec_id"), "emb"
    )
    _, cents = _lloyd(ranked, k=n_centroids, iters=iters)
    return sorted(
        ({"cluster": r["cluster"], "c": list(r["c"])} for r in cents.collect()),
        key=lambda r: r["cluster"],
    )


def _ivf_stats_of(e: DataFrame, assign: DataFrame, cent_rows: list) -> dict:
    """Population/residual snapshot of an IVF assignment — what
    ``build_stats.json`` freezes at (re)train time and drift detection
    compares against: row count, mean squared distance of each vector
    to its ASSIGNED centroid, and the largest cell population. Two
    small aggregate jobs; diagnostic doubles (not oracle-checked).

    Centroids join BROADCAST rather than indexing a literal array by
    cluster id: Lloyd's can leave a cluster EMPTY after an iteration
    (the seed loses every member), so labels are not necessarily
    contiguous (caught by the sf0.001 update tests in r12)."""
    from ..functions.vector import dot_product

    spark = e.sparkSession
    cents = spark.createDataFrame(
        [(int(r["cluster"]), [float(x) for x in r["c"]]) for r in cent_rows],
        "cluster int, c array<double>",
    )
    d2 = (
        dot_product(F.col("emb"), F.col("emb"))
        - 2 * dot_product(F.col("emb"), F.col("c"))
        + dot_product(F.col("c"), F.col("c"))
    )
    row = (
        e.select("vec_id", "emb")
        .join(assign.select("vec_id", "cluster"), "vec_id")
        .join(F.broadcast(cents), "cluster")
        .agg(F.count(F.lit(1)).alias("n"), F.avg(d2).alias("mean_d2"))
        .head()
    )
    pop = (
        assign.groupBy("cluster")
        .count()
        .agg(F.max("count").alias("mx"))
        .head()
    )
    return {
        "n": int(row["n"]),
        "mean_d2": float(row["mean_d2"]) if row["mean_d2"] is not None else 0.0,
        "max_cell": int(pop["mx"]) if pop["mx"] is not None else 0,
        "cells": len(cent_rows),
    }


def _ivf_stats_of_version(spark: SparkSession, ver_dir: str) -> dict:
    assign = spark.read.schema(IVF_ASSIGN_SCHEMA).parquet(
        os.path.join(ver_dir, "assign")
    )
    vecs = spark.read.schema(VECS_SCHEMA).parquet(os.path.join(ver_dir, "vecs"))
    cent_rows = sorted(
        (
            {"cluster": r["cluster"], "c": list(r["c"])}
            for r in spark.read.parquet(os.path.join(ver_dir, "cents")).collect()
        ),
        key=lambda r: r["cluster"],
    )
    return _ivf_stats_of(vecs.select("vec_id", "emb"), assign, cent_rows)


def _write_build_stats(spark: SparkSession, tmp: str) -> None:
    """Freeze the just-built version's population/residual snapshot as
    ``build_stats.json`` in the version dir (a version-scoped plain
    file: commit_version/compact/fork carry it, so it survives every
    frozen-centroid update — exactly the point: it describes TRAIN
    time, the baseline drift is measured against)."""
    import json as _json

    stats = _ivf_stats_of_version(spark, tmp)
    with open(os.path.join(tmp, "build_stats.json"), "w") as f:
        _json.dump(stats, f)


def build_ivf_index_sampled(
    spark: SparkSession,
    sf_dir: str,
    n_centroids: int = 8,
    iters: int = 2,
    train_per_cell: int = 64,
) -> "tuple[str, str]":
    """IVF training on a SAMPLE — the 100 TB training path
    (SCALE.md r11: with c ∝ n cells, full-corpus Lloyd's is O(n²/T)
    distance evaluations; the FAISS practice is to train the coarse
    quantizer on ~tens-to-hundreds of vectors per centroid and assign
    the full corpus in ONE frozen-centroid pass, making training cost
    O(s·c·iters) with s = c × train_per_cell — independent of n).

    Determinism and oracle-mirrorability: the training sample is the
    md5-top-s vectors (the house md5-selection discipline — corpus-
    order-independent, and an ORDER BY md5(vec_id) LIMIT s in the
    DuckDB twin), re-keyed by sample rank so ``_lloyd``'s vec_id < k
    seeding picks the md5-top-k sample rows; the full corpus is then
    assigned by ``assign_to_centroids`` — the SAME 6-dp d2 /
    cluster-tie-break kernel as training and incremental ingest, so
    the whole chain replays exactly cross-engine. Versioned on-disk
    layout: assign/cluster=*, cents, vecs/vbucket=*."""
    from ..sources import versioning as vn

    root = ivf_sampled_root(sf_dir, n_centroids, iters, train_per_cell)
    cur = vn.current_dir(root)
    if cur is not None:
        return os.path.join(cur, "assign"), os.path.join(cur, "cents")
    os.makedirs(root, exist_ok=True)
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    # TakeOrdered sample (orderBy+limit — distributed, never a global
    # sort) + rank-keyed Lloyd's: the shared trainer kernel
    cent_rows = _sampled_centroid_rows(e, n_centroids, iters, train_per_cell)
    cents = spark.createDataFrame(
        [(int(r["cluster"]), [float(x) for x in r["c"]]) for r in cent_rows],
        "cluster int, c array<double>",
    )
    assignment = assign_to_centroids(e.select("vec_id", "emb"), cent_rows)
    tmp = os.path.join(root, ".__tmp_build__")
    shutil.rmtree(tmp, ignore_errors=True)
    assignment.write.mode("overwrite").partitionBy("cluster").parquet(
        os.path.join(tmp, "assign")
    )
    cents.write.mode("overwrite").parquet(os.path.join(tmp, "cents"))
    e.select(
        vec_bucket_expr(F.col("vec_id")).alias("vbucket"), "vec_id", "emb"
    ).write.mode("overwrite").partitionBy("vbucket").parquet(
        os.path.join(tmp, "vecs")
    )
    _write_build_stats(spark, tmp)
    name = vn.next_version_name(root)
    try:
        vn.publish_version(root, tmp, name, expected=None)
    except vn.ConcurrentWriterError:
        return (
            os.path.join(vn.current_dir(root), "assign"),
            os.path.join(vn.current_dir(root), "cents"),
        )
    cur = os.path.join(root, name)
    return os.path.join(cur, "assign"), os.path.join(cur, "cents")


def _ivf_serve_topk(
    spark: SparkSession,
    assign_p: str,
    cent_rows: list,
    query_vec_id: int,
    k: int,
    nprobe: int,
) -> DataFrame:
    """The shared trained-IVF probe tail: driver-side centroid cosine
    ranking (``round4`` — F.round/DuckDB midpoint semantics,
    ADVICE r6), nprobe LITERAL cell pruning on the stored assignment,
    exact vbucket-pruned rerank from the index's own vecs/ store."""
    from ..functions.vector import round4

    # Fully index-served (r9): the query vector and the rerank vectors
    # come from the index's own vecs/ store (vbucket-pruned point
    # lookup), so the source table is never read at query time.
    vecs = spark.read.schema(VECS_SCHEMA).parquet(
        os.path.join(os.path.dirname(assign_p), "vecs")
    )
    qrow = vecs.filter(
        (F.col("vbucket") == vec_bucket_py(query_vec_id))
        & (F.col("vec_id") == query_vec_id)
    ).select(F.col("emb").alias("q")).head()
    if qrow is None:
        raise ValueError(f"query vec_id {query_vec_id} not found")
    q = [float(x) for x in qrow["q"]]

    def cos(c: list) -> float:
        num = dd = qq = 0.0
        for a, b in zip(c, q):
            num += a * b
            dd += a * a
            qq += b * b
        import math

        return num / (math.sqrt(dd) * math.sqrt(qq))

    ranked = sorted(
        ((round4(cos(c)), cluster) for cluster, c in cent_rows),
        key=lambda t: (-t[0], t[1]),
    )
    top = [int(cluster) for _, cluster in ranked[:nprobe]]
    assignment = spark.read.schema(IVF_ASSIGN_SCHEMA).parquet(assign_p).filter(F.col("cluster").isin(top))
    qlit = F.expr("array(" + ",".join(_double_sql(x) for x in q) + ")")
    sim = F.round(cosine_similarity(F.col("emb"), qlit), 4).alias("sim")
    return (
        assignment.filter(F.col("vec_id") != query_vec_id)
        .join(vecs, "vec_id")
        .select("vec_id", "cluster", sim)
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(k)
    )


def ann_ivf_sampled_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 5,
    nprobe: int = 2,
    n_centroids: int = 8,
    iters: int = 2,
    train_per_cell: int = 32,
) -> DataFrame:
    """Trained-IVF serving over the SAMPLE-TRAINED index
    (``build_ivf_index_sampled``): driver-ranked centroids, literal
    nprobe cell pruning, vecs-store rerank (``_ivf_serve_topk``). The
    100 TB training cost stays flat: Lloyd's ran on the md5-top-(c × train_per_cell)
    sample instead of the whole corpus, and the full corpus got ONE
    frozen-centroid assignment pass. The DuckDB twin replays the
    sample selection (ORDER BY md5 LIMIT s), the rank re-keying, the
    Lloyd's chain over the sample, and the full-corpus assignment —
    hash-equal end-to-end."""
    cent_rows_d = _ivf_sampled_centroid_rows(
        spark, sf_dir, n_centroids, iters, train_per_cell
    )
    assign_p, _ = build_ivf_index_sampled(
        spark, sf_dir, n_centroids, iters, train_per_cell
    )
    cent_rows = [(r["cluster"], r["c"]) for r in cent_rows_d]
    return _ivf_serve_topk(spark, assign_p, cent_rows, query_vec_id, k, nprobe)


def _ivf_sampled_centroid_rows(
    spark: SparkSession,
    sf_dir: str,
    n_centroids: int,
    iters: int,
    train_per_cell: int,
) -> list:
    from ..memo import session_memo

    _, cents_p = build_ivf_index_sampled(
        spark, sf_dir, n_centroids, iters, train_per_cell
    )

    def _collect() -> list:
        return sorted(
            (
                {"cluster": r["cluster"], "c": list(r["c"])}
                for r in spark.read.parquet(cents_p).collect()
            ),
            key=lambda r: r["cluster"],
        )

    return session_memo(
        spark, sf_dir, "ivf_sampled_cent_rows", _collect,
        n_centroids, iters, train_per_cell,
    )


def cluster_kmeans(
    spark: SparkSession, sf_dir: str, k: int = 8, iters: int = 2
) -> DataFrame:
    """Lloyd's k-means over the embedding corpus — the clustering step of
    SemDeDup-style curation (cluster, then dedup/select within clusters)
    and of IVF index training.

    Deterministic and oracle-checkable: centroids initialize from the
    first ``k`` vectors by vec_id, run ``iters`` fixed assignment/update
    rounds, and output the final (vec_id, cluster) assignment — integer
    columns only. Cross-engine stability: squared L2 distances are
    ROUNDED to 6 dp with a cluster-id tie-break before the argmin, and
    centroid means are rounded to 6 dp per dimension, so both engines
    rank identical decimals.

    Scale shape (per round):
    - centroids are k x dim doubles — ALWAYS tiny: collected to the
      driver and embedded as a literal array (k <= 2^16 even for IVF
      training at 100 TB);
    - assignment is a pure projection (``array_min`` argmin over the
      literal centroid array) — ZERO sort, ZERO exchange; the corpus
      never shuffles for the ranking (plan-pinned in tests/test_plans.py);
    - the centroid update is one posexplode + map-side-combined
      (cluster, pos) average — output k*dim rows, tiny;
    - iterations chain lazily; at production scale each round's
      centroids would be checkpointed (the Pregel pattern of
      dedup.connected_components) — at k*dim this size, recomputation
      is cheaper than a checkpoint barrier.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    assignment, _ = _lloyd(e, k=k, iters=iters)
    return assignment


def _double_sql(x: float) -> str:
    """Spark-SQL double literal whose JVM parse is bit-identical to ``x``
    (repr is the shortest round-tripping decimal; Double.parseDouble is
    correctly rounded, so the round trip is exact). Non-finite doubles
    would render as 'infD'/'nanD' — unparseable SQL — so they fail here
    with a diagnosable data error instead of an opaque ParseException
    (ADVICE r5: a NaN/Inf sneaking in via testdata drift)."""
    import math

    x = float(x)
    if not math.isfinite(x):
        raise ValueError(
            f"non-finite double {x!r} cannot be rendered as a SQL literal "
            "(NaN/Inf in the input vectors?)"
        )
    return repr(x) + "D"


def _centroid_literal(rows) -> "F.Column":
    """The k x dim centroids as ONE parsed SQL literal array of
    (c, cc, cluster) structs. Building this with per-double ``F.lit``
    costs ~500 py4j round trips (~0.6 s per assignment at k=8 x dim=64,
    measured); a single ``F.expr`` parse is milliseconds for the same
    expression tree."""
    parts = []
    for r in rows:
        try:
            cs = ",".join(_double_sql(x) for x in r["c"])
            cc = _double_sql(_seq_self_dot(r["c"]))
        except ValueError as exc:
            raise ValueError(
                f"cluster {int(r['cluster'])}: {exc}"
            ) from exc
        parts.append(
            "named_struct('c',array({}),'cc',{},'cluster',{})".format(
                cs, cc, int(r["cluster"])
            )
        )
    return F.expr("array(" + ",".join(parts) + ")")


# k*dim above which the literal-centroid strategy stops winning. MEASURED
# (tools/bench_assign_literal_vs_broadcast.py, r7, n=10k rows, dim 64,
# local[32], best-of-2): the literal path's cost grows linearly in k —
# SQL parse of k*dim double literals plus a per-row O(k) interpreted
# `transform` — 0.46 s at k=8, 4.8 s at k=1024, 8.5 s at k=2048; the
# Arrow argmin is one BLAS matmul + np.partition, nearly flat: 0.5-0.8 s
# across k=16..4096. Crossover sits at k*dim ~ 1-4k, so the gate is 4096:
# the k=8 consumers (cluster_kmeans, IVF training) keep the
# in-plan literal (fastest there, and the plan the oracle mirrors
# term-for-term); anything bigger ships centroids via
# sparkContext.broadcast and runs the Arrow argmin kernel with the
# IDENTICAL ranking contract (equality pinned in tests/test_ann.py).
CENTROID_LITERAL_MAX_KDIM = 4_096


def centroid_arrays(rows) -> tuple:
    """(k x dim centroids, cluster ids, dot(c, c) folded left to right)
    of centroid rows ({cluster, c} mappings) — ``nearest_centroids``'s
    inputs."""
    import numpy as np

    cmat = np.stack([np.asarray(r["c"], dtype=np.float64) for r in rows])
    clusters = np.array([int(r["cluster"]) for r in rows], dtype=np.int64)
    ccs = np.array([_seq_self_dot(r["c"]) for r in rows], dtype=np.float64)
    return cmat, clusters, ccs


def nearest_centroids(mat, cmat, clusters, ccs, nprobe: int = 1):
    """n x ``nprobe`` cluster ids: each row of ``mat``'s ``nprobe``
    nearest centroids under the assignment contract — lexicographic
    (round(d2, 6), cluster), where round is Spark's double round (HALF_UP
    on the SHORTEST-REPR decimal, java.math.BigDecimal.valueOf
    semantics) and d2 = dot(e,e) - 2 dot(e,c) + dot(c,c) folds left to
    right in double. For nprobe = 1 the one column is the argmin; for
    nprobe > 1 a row's ids are its nearest SET, in no fixed order (with
    k <= nprobe centroids every row gets all of them). The one numpy
    kernel of the literal-centroid ranking: the Spark broadcast
    assignments run it per Arrow batch and the graph build
    (graph_ann.py) on the driver.

    - the bulk ranking runs vectorized in numpy (raw doubles, no
      rounding), in row blocks of about 4M distances;
    - numpy's BLAS/pairwise sums and the HOF fold differ only in the
      last ulps (~1e-12 absolute here), and 6-dp rounding can only
      reorder two distances within 1e-6 of each other, so ONLY rows
      whose rank-(nprobe-1) and rank-nprobe raw distances sit within a
      1.5e-6 ambiguity window can possibly differ from the literal
      path — for exactly those rows every candidate inside the window
      is re-ranked with the exact left-to-right fold and
      Decimal(repr(x)) HALF_UP key. Equality with the literal path is
      pinned in tests/test_ann.py."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    n, k = len(mat), len(cmat)
    if k <= nprobe:
        return np.tile(np.sort(clusters), (n, 1))
    six = Decimal("0.000001")

    def exact_key(emb, j):
        ee = _seq_self_dot(emb)
        dot = 0.0
        cj = cmat[j]
        for i, x in enumerate(emb):
            dot += float(x) * float(cj[i])
        d2 = ee - 2 * dot + float(ccs[j])
        return (
            Decimal(repr(d2)).quantize(six, rounding=ROUND_HALF_UP),
            int(clusters[j]),
        )

    out = np.empty((n, nprobe), np.int64)
    step = max(1, (1 << 22) // k)
    for lo in range(0, n, step):
        blk = mat[lo : lo + step]
        d2 = (blk * blk).sum(1)[:, None] - 2.0 * (blk @ cmat.T) + ccs[None, :]
        part = np.partition(d2, nprobe, axis=1)
        top = np.argpartition(d2, nprobe - 1, axis=1)[:, :nprobe]
        out[lo : lo + len(blk)] = clusters[top]
        for r in np.flatnonzero(part[:, nprobe] - part[:, nprobe - 1] < 1.5e-6):
            cand = np.flatnonzero(d2[r] <= part[r, nprobe - 1] + 1.5e-6)
            picked = sorted(exact_key(blk[r], j) for j in cand)[:nprobe]
            out[lo + r] = [c for _d, c in picked]
    return out


def _assign_broadcast(e: DataFrame, rows, with_emb: bool) -> DataFrame:
    """Broadcast + Arrow argmin twin of the literal-centroid assignment,
    used above CENTROID_LITERAL_MAX_KDIM: ``nearest_centroids`` per
    batch, under the SAME ranking contract as the literal path."""
    import numpy as np
    import pandas as pd

    bc = e.sparkSession.sparkContext.broadcast(centroid_arrays(rows))
    schema = "vec_id bigint, cluster int" + (
        ", emb array<double>" if with_emb else ""
    )

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["emb"]])
            cols = {
                "vec_id": pdf["vec_id"].to_numpy(),
                "cluster": nearest_centroids(mat, *bc.value)[:, 0].astype(np.int32),
            }
            if with_emb:
                cols["emb"] = pdf["emb"]
            yield pd.DataFrame(cols)

    src = e.select("vec_id", "emb")
    return src.mapInPandas(kernel, schema)


def assign_to_centroids(e: DataFrame, rows, with_emb: bool = False) -> DataFrame:
    """Shuffle-free nearest-centroid assignment of any (vec_id, emb)
    frame against FROZEN centroid rows ({cluster, c} mappings) — the
    Lloyd's-round kernel, exposed module-level: any frame assigns
    under the SAME 6-dp d2 / cluster-tie-break contract as the original
    training run (identical arithmetic => a re-assigned old vector
    lands in its original cell).
    Literal argmin below CENTROID_LITERAL_MAX_KDIM, Arrow broadcast
    kernel above — see ``_lloyd``'s docstring for the measured gate.
    """
    from ..functions.vector import dot_product

    if len(rows) * len(rows[0]["c"]) > CENTROID_LITERAL_MAX_KDIM:
        return _assign_broadcast(e, rows, with_emb)
    cent_lit = _centroid_literal(rows)
    ee = dot_product(F.col("emb"), F.col("emb"))
    dists = F.transform(
        cent_lit,
        lambda s: F.struct(
            F.round(
                ee - 2 * dot_product(F.col("emb"), s["c"]) + s["cc"], 6
            ).alias("d2"),
            s["cluster"].alias("cluster"),
        ),
    )
    cols = ["vec_id", F.array_min(dists)["cluster"].alias("cluster")]
    if with_emb:
        cols.append("emb")
    return e.select(*cols)


def assign_topn_to_centroids(e: DataFrame, rows, nprobe: int) -> DataFrame:
    """(vec_id, cluster) rows for each vector's ``nprobe`` NEAREST frozen
    centroids — the multi-probe analog of ``assign_to_centroids`` under
    the identical 6-dp d2 / cluster-tie-break contract (nprobe=1 emits
    exactly the argmin assignment). ``knn_join_ivf_topk``'s multi-probe
    source side: a vector on a cell BOUNDARY has true
    neighbors in the adjacent cell, and same-cell-only candidates make
    those edges unbuildable — probing the top-2 cells per SOURCE doubles
    candidate volume (still ~n x target_cell_size x nprobe, linear in n)
    without touching the per-source out-degree cap. Output is one row
    per (vector, probed cluster); clusters of one vector are distinct by
    construction. Shuffle-free: literal argsort below
    CENTROID_LITERAL_MAX_KDIM, Arrow top-n kernel above."""
    if nprobe <= 1:
        return assign_to_centroids(e, rows).select("vec_id", "cluster")
    if len(rows) * len(rows[0]["c"]) > CENTROID_LITERAL_MAX_KDIM:
        return _assign_topn_broadcast(e, rows, nprobe)
    from ..functions.vector import dot_product

    cent_lit = _centroid_literal(rows)
    ee = dot_product(F.col("emb"), F.col("emb"))
    dists = F.transform(
        cent_lit,
        lambda s: F.struct(
            F.round(
                ee - 2 * dot_product(F.col("emb"), s["c"]) + s["cc"], 6
            ).alias("d2"),
            s["cluster"].alias("cluster"),
        ),
    )
    # array_sort on (d2, cluster) structs IS the contract's lexicographic
    # ranking; slice keeps the nprobe nearest
    top = F.slice(F.array_sort(dists), 1, nprobe)
    return e.select("vec_id", F.explode(top).alias("t")).select(
        "vec_id", F.col("t")["cluster"].alias("cluster")
    )


def _assign_topn_broadcast(e: DataFrame, rows, nprobe: int) -> DataFrame:
    """Broadcast + Arrow top-``nprobe`` twin of the literal multi-probe
    assignment (used above CENTROID_LITERAL_MAX_KDIM):
    ``nearest_centroids`` per batch, one row per (vector, cluster)."""
    import numpy as np
    import pandas as pd

    bc = e.sparkSession.sparkContext.broadcast(centroid_arrays(rows))

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["emb"]])
            top = nearest_centroids(mat, *bc.value, nprobe)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), top.shape[1]),
                    "cluster": top.reshape(-1).astype(np.int32),
                }
            )

    return e.select("vec_id", "emb").mapInPandas(
        kernel, "vec_id bigint, cluster int"
    )


def _lloyd(e: DataFrame, k: int, iters: int) -> tuple[DataFrame, DataFrame]:
    """The deterministic Lloyd's kernel shared by ``cluster_kmeans`` and the
    sampled IVF trainer: ``e`` is any (vec_id, emb) frame;
    returns (final assignment (vec_id, cluster), final centroids
    (cluster, c)). Same rounding discipline as the module doc: 6-dp squared
    L2 with cluster tie-break, 6-dp centroid means.

    Assignment is a PURE PROJECTION: the k x dim centroids are collected
    to the driver and — below CENTROID_LITERAL_MAX_KDIM — embedded as a
    literal array of (c, cc, cluster) structs; the per-row argmin is
    ``array_min`` over a ``transform`` of that array, so the corpus never
    sorts or shuffles for the ranking (a ``Window.partitionBy(vec_id)``
    argmin — the previous shape — still plans Sort + Exchange
    hashpartitioning even after a broadcast join). Above the k*dim
    threshold (IVF training at 100 TB: k up to 2^16 would be ~4M doubles
    of SQL text — parse time and plan size hurt before broadcast memory
    does) the same ranking contract ships via ``sparkContext.broadcast``
    and an Arrow argmin kernel (``_assign_broadcast``) — still a narrow,
    shuffle-free projection.
    Struct comparison is lexicographic, so ``array_min`` over
    (d2, cluster) structs IS the 6-dp-rounded distance argmin with the
    cluster-id tie-break. ``cc`` = dot(c, c) is folded driver-side with
    the same left-to-right double summation as the HOF ``dot_product``,
    so values are bit-identical to an in-plan form.

    Per round the cluster ONLY runs: scan -> argmin projection ->
    posexplode -> map-side-combined (cluster, pos) average — ONE shuffle
    of k*dim partials. ``emb`` rides along in the assignment projection,
    so there is no re-join against ``e`` (a vec_id shuffle x2 in the
    previous shape), and the k*dim averaged components are assembled into
    centroid arrays DRIVER-side instead of a second collect_list shuffle.
    Each round materializes its centroids (collect), so round N+1's plan
    starts from literals — no quadratic lineage recompute across rounds.
    """
    rows = sorted(
        e.filter(F.col("vec_id") < k)
        .select(F.col("vec_id").cast("int").alias("cluster"), F.col("emb").alias("c"))
        .collect(),
        key=lambda r: r["cluster"],
    )

    def assign(rows, with_emb: bool = False) -> DataFrame:
        return assign_to_centroids(e, rows, with_emb)

    for _ in range(iters):
        partials = (
            assign(rows, with_emb=True)
            .select("cluster", F.posexplode("emb").alias("pos", "v"))
            .groupBy("cluster", "pos")
            .agg(F.round(F.avg("v"), 6).alias("v"))
            .collect()
        )
        by_cluster: dict[int, dict[int, float]] = {}
        for p in partials:
            by_cluster.setdefault(p["cluster"], {})[p["pos"]] = p["v"]
        rows = [
            {"cluster": c, "c": [dims[i] for i in range(len(dims))]}
            for c, dims in sorted(by_cluster.items())
        ]

    cents = e.sparkSession.createDataFrame(
        [(int(r["cluster"]), [float(x) for x in r["c"]]) for r in rows],
        "cluster int, c array<double>",
    )
    return assign(rows), cents


def cap_bucket_members(members: DataFrame, cap: int) -> DataFrame:
    """Skew guard for cell-blocked self-joins: keep at most ``cap``
    (vec_id, cluster) members per ``cluster``, selected by md5 of the
    vec_id (deterministic, corpus-order-independent — the house
    md5-derived-constant discipline) with the raw id as tie-break.

    Why: an equi self-join on a hot cell of m members materializes m²
    candidate pairs; a near-duplicate-heavy corpus concentrates mass in
    a few cells. Capping ONE side of the join bounds the per-cell
    intermediate at m_src x cap and the total at n x cap — linear in
    corpus size regardless of skew. One extra shuffle (the row_number
    window), over O(n) rows.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("cluster").orderBy(
        F.md5(F.col("vec_id").cast("string")), F.asc("vec_id")
    )
    return (
        members.withColumn("_m", F.row_number().over(w))
        .filter(F.col("_m") <= cap)
        .drop("_m")
    )


def derived_cell_count(
    n: int,
    target_cell_size: int = IVF_JOIN_TARGET_CELL,
    min_centroids: int = IVF_JOIN_MIN_CENTROIDS,
) -> int:
    """c = max(min, ceil(n / target)) — the c ∝ n sizing that keeps the
    cell join's candidate volume linear in corpus size (shared by the
    Spark path and, as the same arithmetic in SQL, the DuckDB oracle)."""
    return max(min_centroids, -(-n // target_cell_size))


def knn_join_ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 3,
    n_centroids: "int | None" = None,
    iters: int = 2,
    target_cell_size: int = IVF_JOIN_TARGET_CELL,
    cell_cap: int = IVF_JOIN_CELL_CAP,
    src_nprobe: int = 1,
) -> DataFrame:
    """Batch k-NN JOIN blocked by TRAINED IVF CELLS (the Spark form of
    the graph's layer 0, graph_ann.py). Candidates are SAME-CELL pairs
    only: on genuinely clustered data (the r10 fixture) a cell IS the
    neighborhood, so recall concentrates exactly where the candidates
    do. The trade is explicit and data-dependent: cross-cell neighbors
    are unreachable (SemDeDup makes the same within-cluster-only trade
    by design); ``src_nprobe`` > 1 widens the source side across cell
    boundaries.

    Scale shape (VERDICT r10 next #1 — this was the repo's one
    super-linear key): ``n_centroids`` defaults to DERIVED, c =
    max(8, ceil(n / target_cell_size)) from a cheap corpus count, so
    expected cell population stays ~target_cell_size and total
    candidates ~n × target_cell_size — linear in n, where the old fixed
    c=8 made them n²/8. Zipfian hot cells (real cluster-size skew) are
    additionally bounded by ``cell_cap``: the NEIGHBOR side keeps at
    most cell_cap md5-selected members per cell
    (``cap_bucket_members``), so a hot
    cluster contributes m × cell_cap pairs, never m². Every vector
    still appears as a SOURCE in its own cell, so the output covers the
    whole corpus; only its candidate list is capped.

    Index-served: cell membership from the trained IVF ``assign/``
    store, scoring vectors from the SAME version's ``vecs/`` store —
    the corpus-of-record contract. One shuffle for the cell self-join
    (co-partitioned on cluster), one rank window on src. Zero-norm
    vectors are excluded from both sides BEFORE the cap (cosine is
    undefined for them and they must not waste cap slots); determinism via the _COS 4-dp round and
    (sim desc, nbr) tie-break."""
    from pyspark.sql.window import Window

    from ..functions.vector import dot_product
    from ..sources.tables import load_table

    if n_centroids is None:
        # cheap corpus count (parquet footer metadata — no data scan)
        n = load_table(spark, sf_dir, "embeddings").count()
        n_centroids = derived_cell_count(n, target_cell_size)
    # sample-trained coarse quantizer: with the derived c ∝ n, training
    # must NOT scan the corpus per centroid (see IVF_JOIN_TRAIN_PER_CELL)
    assign_p, _ = build_ivf_index_sampled(
        spark, sf_dir, n_centroids, iters, IVF_JOIN_TRAIN_PER_CELL
    )
    ver = os.path.dirname(assign_p)
    assign = spark.read.schema(IVF_ASSIGN_SCHEMA).parquet(assign_p)
    emb = (
        spark.read.schema(VECS_SCHEMA)
        .parquet(os.path.join(ver, "vecs"))
        .select("vec_id", F.col("emb").alias("e"))
    )
    emb = emb.select(
        "vec_id", "e", F.sqrt(dot_product(F.col("e"), F.col("e"))).alias("nrm")
    ).filter(F.col("nrm") > 0)
    nz = emb.select("vec_id")

    nz_assign = assign.join(nz, "vec_id")
    if src_nprobe > 1:
        # multi-probe SOURCE side (the boundary fix): each
        # vector's candidates come from its src_nprobe nearest cells —
        # one extra shuffle-free projection pass under the frozen
        # centroids; the NEIGHBOR side stays the rn=1 membership, so a
        # (src, nbr) pair can only arise once (nbr has one home cell)
        cent_rows = sorted(
            (
                {"cluster": r["cluster"], "c": list(r["c"])}
                for r in spark.read.parquet(os.path.join(ver, "cents")).collect()
            ),
            key=lambda r: r["cluster"],
        )
        l = assign_topn_to_centroids(
            emb.select("vec_id", F.col("e").alias("emb")), cent_rows, src_nprobe
        ).select(F.col("vec_id").alias("src"), "cluster")
    else:
        l = nz_assign.select(F.col("vec_id").alias("src"), "cluster")
    r = cap_bucket_members(nz_assign, cell_cap).select(
        F.col("vec_id").alias("nbr"), "cluster"
    )
    cand = (
        l.join(r, "cluster")
        .filter(F.col("src") != F.col("nbr"))
        .select("src", "nbr")
    )
    es = emb.select(
        F.col("vec_id").alias("src"),
        F.col("e").alias("se"),
        F.col("nrm").alias("snrm"),
    )
    en = emb.select(
        F.col("vec_id").alias("nbr"),
        F.col("e").alias("ne"),
        F.col("nrm").alias("nnrm"),
    )
    sim = F.round(
        dot_product(F.col("se"), F.col("ne"))
        / (F.col("snrm") * F.col("nnrm")),
        4,
    )
    scored = (
        cand.join(es, "src")
        .join(en, "nbr")
        .select("src", "nbr", sim.alias("sim"))
    )
    w = Window.partitionBy("src").orderBy(F.desc("sim"), F.asc("nbr"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src", "nbr", "sim", F.col("rank").cast("int").alias("rank"))
    )
