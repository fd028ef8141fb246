"""Approximate nearest-neighbor paths — the 100 TB retrieval story.

The reference's ANN is ChromaDB's HNSW (untuned, in-process; reference:
coding_agent/tools/indexing_agent.py:55, vector_search_tool.py:42). HNSW is
a single-node graph structure that does not shard naturally; the Spark-first
equivalents are (SURVEY.md section 4):

- ``ann_lsh_topk``: MLlib BucketedRandomProjectionLSH — hash candidates
  into buckets, probe only matching buckets. Fixed seed -> deterministic.
- ``ann_ivf_topk``: inverted-file (IVF) index — partition vectors by
  nearest centroid, prune to the ``nprobe`` closest centroids at query
  time, exact search inside. At scale the centroid assignment is the
  partitioning key, so a query touches nprobe/k of the data. Here the
  testdata's cluster ``label`` provides the assignment and centroids are
  the per-label mean vectors (deterministic -> fully oracle-checkable).

Both prune candidates BEFORE the exact top-k kernel in knn.py; recall is
measured against brute force in tests (BASELINE.md target >= 0.9).

Measured caveat (BASELINE.md): the synthetic embeddings are ISOTROPIC —
same-label mean cosine equals cross-label (~0) — so partition pruning
cannot beat random on this data: IVF recall measures exactly nprobe/k.
The IVF plan shape is still the 100 TB design for real (clusterable)
embeddings; LSH's multi-table OR-amplification is the approximate path
that works regardless of cluster structure (measured recall@10 = 0.98).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vector import cosine_similarity
from ..sources.tables import load_table

LSH_SEED = 42
LSH_BUCKET_LENGTH = 1.0
LSH_NUM_TABLES = 8

# Engine-owned random-hyperplane (cosine) LSH — the oracle-checkable
# replacement for MLlib's BucketedRandomProjectionLSH (whose projections
# are Spark-ML-internal, hence unreproducible in SQL). Hyperplane p's
# component for dimension i is +1/-1 by the parity of the 60-bit md5
# prefix of "rp|{p}|{i}" (the dedup.py:md5_long seeding pattern applied
# to cosine LSH; Rademacher hyperplanes are a valid LSH family for
# angular distance — Charikar, STOC 2002). Sign bits are banded
# SIMHASH_BANDS-style: RP_PLANES sign bits -> RP_BANDS keys of
# RP_BAND_BITS bits; two vectors are candidates iff they share a band
# key with the query.
#
# Cross-engine exactness: the sign-determining dot product runs over
# FLOOR-SCALED INTEGER MICRO-UNITS (floor(x*1e6 + 0.5), the knn_pq_topk
# discipline). Products of micro-unit ints against +-1 are
# integer-valued and their 64-term sums stay far below 2^53, so the dot
# is EXACT in numpy int64, Spark, and DuckDB double alike — summation
# order cannot flip a sign bit, unlike a float dot whose last-ulp
# rounding differs between engines' fold orders.
RP_PLANES = 24
RP_BANDS = 6
RP_BAND_BITS = RP_PLANES // RP_BANDS
RP_DIM = 64  # testdata embedding dimensionality (asserted in the kernel)
# Default per-bucket neighbor cap for the batch k-NN join's skew guard —
# interpolated into the oracle SQL (__spark_entry__) so Spark and DuckDB
# share one source of truth (ADVICE r8).
KNN_JOIN_BUCKET_CAP = 256
# Cell-join sizing (VERDICT r10 next #1 — the one super-linear key).
# With the cell count FIXED, same-cell candidates are n²/c: quadratic.
# Deriving c = max(MIN, ceil(n / TARGET_CELL)) keeps the expected cell
# population at TARGET_CELL regardless of corpus size, so candidate
# volume is ~n × TARGET_CELL — linear in n. TARGET_CELL is the
# per-vector candidate budget (the cell IS the candidate list): 128
# same-cluster candidates for a top-k≤10 join is the same budget class
# as the band join's per-bucket cap, and on the clustered data this
# operator is FOR, the local neighborhood concentrates well inside it.
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


def ann_lsh_topk(
    spark: SparkSession, sf_dir: str, query_vec_id: int = 0, k: int = 10
) -> DataFrame:
    """Approximate top-k via BucketedRandomProjectionLSH (euclidean; on
    L2-normalized vectors euclidean and cosine rankings agree, SURVEY §2.8).

    Returns (vec_id, dist) — rows-only correctness check (no SQL oracle for
    LSH); the recall harness in tests compares against exact brute force.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    model = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=LSH_BUCKET_LENGTH,
        numHashTables=LSH_NUM_TABLES,
        seed=LSH_SEED,
    ).fit(emb)
    key = emb.filter(F.col("vec_id") == query_vec_id).head()
    if key is None:
        raise ValueError(f"query vec_id {query_vec_id} not found")
    neighbors = model.approxNearestNeighbors(
        emb.filter(F.col("vec_id") != query_vec_id), key["features"], k
    )
    return neighbors.select("vec_id", F.round(F.col("distCol"), 4).alias("dist"))


def _rp_plane_signs(planes: int = RP_PLANES, dim: int = RP_DIM) -> list[list[int]]:
    """The planes x dim +-1 hyperplane matrix, derived from md5 so the
    DuckDB oracle regenerates it bit-identically in SQL:
    ``CAST(('0x' || substr(md5('rp|' || p || '|' || i), 1, 15)) AS BIGINT) % 2``.
    """
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"rp|{p}|{i}".encode()).hexdigest()[:15], 16) % 2 == 0
            else -1
            for i in range(1, dim + 1)
        ]
        for p in range(planes)
    ]


def _rp_band_keys(mat, signs_t) -> "object":
    """n x RP_BANDS band keys from an n x dim float64 matrix: quantize to
    micro-units, integer dot against the +-1 planes, pack sign bits
    little-endian within each band. Shared by the distributed kernel and
    the driver-side query-signature path (identical arithmetic)."""
    import numpy as np

    q = np.floor(mat * RP_SCALE + 0.5).astype(np.int64)
    bits = (q @ signs_t >= 0).astype(np.int64)  # n x planes
    weights = (1 << np.arange(RP_BAND_BITS, dtype=np.int64))
    return bits.reshape(mat.shape[0], RP_BANDS, RP_BAND_BITS) @ weights


N_VEC_BUCKETS = 32


# Explicit component schemas: partitioned index components can be EMPTY
# (an all-zero-norm corpus bands nothing; deleting every vector empties
# assign/codes), and schema inference fails on a file-less directory —
# readers therefore always pass the schema (found by the r9 lifecycle
# property test).
RP_BANDS_SCHEMA = "vec_id bigint, band int, band_key int"
VECS_SCHEMA = "vec_id bigint, emb array<double>, vbucket int"


def _pair_eq(pairs):
    """(band, band_key) OR-probe as ONE parsed expression — the py4j
    round-trip killer shared by the serving probes and the update
    paths' rewrite filters (functions/predicates.py doc)."""
    from ..functions.predicates import pair_eq_any

    return pair_eq_any("band", "band_key", pairs)
IVF_ASSIGN_SCHEMA = "vec_id bigint, cluster int"
PQ_CODES_SCHEMA = "vec_id bigint, subspace int, code int, vbucket int"

# compact_index component specs — used by the update/delete
# auto-compaction hook (VERDICT r9 next #7) and ``compact_rp_index``.
RP_COMPONENTS = [("bands", ["band", "band_key"]), ("vecs", ["vbucket"])]
IVF_COMPONENTS = [("assign", ["cluster"]), ("vecs", ["vbucket"]), ("cents", [])]
PQ_COMPONENTS = [("codes", ["vbucket"]), ("vecs", ["vbucket"]), ("cents", [])]


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


def _nonzero_pred() -> F.Column:
    """True iff the ``emb`` array has any nonzero element (norm > 0
    without the sqrt/dot HOF — ``exists`` short-circuits)."""
    return F.exists(F.col("emb"), lambda x: x != F.lit(0.0))


def rp_index_root(sf_dir: str) -> str:
    from ..memo import index_root

    return index_root("rp_index_v2", sf_dir, RP_PLANES, RP_BANDS, N_VEC_BUCKETS)


def _rp_current_dir(spark: SparkSession, sf_dir: str) -> str:
    """Resolve (building if absent) the current RP index version dir —
    self-contained: ``bands/`` (the LSH table) + ``vecs/`` (the
    vector store the serving rerank reads, making the index the corpus
    of record exactly like the reference's ChromaDB collection)."""
    build_rp_index(spark, sf_dir)
    from ..sources import versioning as vn

    return vn.current_dir(rp_index_root(sf_dir))


def build_rp_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-once / serve-many for the RP-LSH band table: materialize
    ``rp_lsh_band_rows`` as parquet PARTITIONED BY (band, band_key) and
    return the band-table path. This is the 100 TB serving layout
    (VERDICT r6 next #1): a probe's RP_BANDS (band, band_key) literals
    become static partition filters, so the scan lists ONLY the probed
    bucket directories — at most RP_BANDS * 2^RP_BAND_BITS = 96
    partitions exist and a single-probe query touches 6 of them, never
    the corpus. Pruning is pinned in tests/test_plans.py.

    Since r9 the index is VERSIONED (sources/versioning.py — the atomic
    ``_CURRENT`` pointer lifecycle shared with the lexical index) and
    carries a second component: ``vecs/vbucket=*/`` holds every indexed
    (vec_id, emb) row partitioned by the md5 vec bucket, which makes the
    index self-contained — serving reranks and incremental updates
    (``update_rp_index``) read vectors from the index, never the source
    table. The directory tag hashes the dataset fingerprint
    (memo.index_root), so regenerated testdata gets a fresh build
    instead of a stale index (ADVICE r6).
    """
    from ..sources import versioning as vn

    root = rp_index_root(sf_dir)
    cur = vn.current_dir(root)
    if cur is not None:
        return os.path.join(cur, "bands")
    os.makedirs(root, exist_ok=True)
    tmp = os.path.join(root, ".__tmp_build__")
    shutil.rmtree(tmp, ignore_errors=True)
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    # Zero-norm vectors are excluded from the BAND TABLE at build time
    # (a zero vector has no direction — its cosine to anything is
    # undefined, so band membership is meaningless; and in the batch
    # k-NN join they would waste md5-top-cap slots, ADVICE r8). They
    # stay in vecs/ (point-lookupable, replaceable); `exists`
    # short-circuits at the first nonzero element — no dot-product HOF.
    rp_band_rows_for(e.filter(_nonzero_pred())).write.mode(
        "overwrite"
    ).partitionBy("band", "band_key").parquet(os.path.join(tmp, "bands"))
    e.select(
        vec_bucket_expr(F.col("vec_id")).alias("vbucket"), "vec_id", "emb"
    ).write.mode("overwrite").partitionBy("vbucket").parquet(
        os.path.join(tmp, "vecs")
    )
    name = vn.next_version_name(root)
    try:
        vn.publish_version(root, tmp, name, expected=None)
    except vn.ConcurrentWriterError:
        # an interleaved builder won the race to the initial version —
        # theirs is equivalent (same corpus fingerprint in the root tag)
        return os.path.join(vn.current_dir(root), "bands")
    return os.path.join(root, name, "bands")


def update_rp_index(
    spark: SparkSession,
    sf_dir: str,
    new_vecs: DataFrame,
    auto_compact_threshold: int = 16,
) -> str:
    """Incremental RP-LSH maintenance with vec-level REPLACE (upsert)
    semantics — the reference's core write path (indexing_agent.py:
    332-361 upserts changed files into ChromaDB, whose HNSW updates
    incrementally) for the band table. Returns the new current
    band-table path.

    A batch vector's band rows come from the SAME module-level kernel
    as the build (``rp_band_rows_for`` — byte-identical signatures).

    APPEND-MOSTLY discipline (the measured r9 finding,
    tools/bench_incremental_updates.py): the band table has only
    RP_BANDS * 2^RP_BAND_BITS = 96 partitions, so "rewrite affected
    buckets" degenerates to rewriting the WHOLE table for any diverse
    batch — the incremental path would cost O(corpus). Instead:

    - brand-NEW vec_ids (the bulk-ingest common case) have no stale
      rows to retract, so their band rows simply APPEND as new part
      files into hardlinked partitions — ZERO reads of existing band
      data, O(batch) total;
    - RE-submitted vec_ids (replace) force rewrites of exactly the
      partitions holding their stale rows — found by re-banding their
      OLD vectors from the index's ``vecs/`` store (the signature is a
      pure function of the stored vector, so ``vecs/`` doubles as the
      reverse map, pruned by the batch's literal vbucket set) — a
      per-partition anti-join bounded by resubmit_count * RP_BANDS
      partitions, never the batch's own (random, dense) bucket set.

    Appends accumulate small files; ``compact_rp_index`` folds them
    back single-file inside a normal versioned commit. The commit is
    the atomic ``_CURRENT`` swing (sources/versioning.py) either way,
    so a crash mid-update leaves every reader on the old version.

    Equality with a fresh rebuild over the combined corpus and
    served-probe convergence one batch after ingest are pinned in
    tests/test_ann.py. After an update the index represents
    ``sf_dir ∪ batch`` — the index, not the source table, is the
    corpus of record (the update_text_index contract).
    """
    from ..sources import versioning as vn

    cur = _rp_current_dir(spark, sf_dir)
    root = os.path.dirname(cur)

    emb_col = "embedding" if "embedding" in new_vecs.columns else "emb"
    batch = (
        new_vecs.select(
            "vec_id", F.col(emb_col).cast("array<double>").alias("emb")
        )
        .dropDuplicates(["vec_id"])
        .localCheckpoint(eager=True)
    )
    # band rows only for directional (nonzero) vectors — the build-time
    # exclusion contract; zero-norm batch vectors still land in vecs/.
    batch_bands = rp_band_rows_for(batch.filter(_nonzero_pred())).localCheckpoint(
        eager=True
    )
    batch_ids = batch.select("vec_id")
    vbuckets = sorted(
        r["b"]
        for r in batch_ids.select(
            vec_bucket_expr(F.col("vec_id")).alias("b")
        ).distinct().collect()
    )
    if not vbuckets:
        return os.path.join(cur, "bands")

    # Re-submitted ids and their stale locations (pruned reverse-map
    # read; empty for a pure-ADD batch, which then touches no old data).
    old_vecs_aff = spark.read.schema(VECS_SCHEMA).parquet(os.path.join(cur, "vecs")).filter(
        F.col("vbucket").isin(vbuckets)
    )
    resub = (
        old_vecs_aff.join(batch_ids, "vec_id", "leftsemi")
        .select("vbucket", "vec_id", "emb")
        .localCheckpoint(eager=True)
    )
    resub_ids = resub.select("vec_id")
    rw_pairs = {
        (r["band"], r["band_key"])
        for r in rp_band_rows_for(
            resub.select("vec_id", "emb").filter(_nonzero_pred())
        )
        .select("band", "band_key")
        .distinct()
        .collect()
    }
    rw_vb = sorted(
        r["vbucket"] for r in resub.select("vbucket").distinct().collect()
    )

    # bands: rewrite ONLY partitions holding stale rows; link the rest;
    # append every batch band row (adds land beside linked files,
    # replacements beside their rewritten partition's files).
    band_writes = []
    if rw_pairs:
        pair_pred = _pair_eq(sorted(rw_pairs))
        band_writes.append(
            spark.read.schema(RP_BANDS_SCHEMA)
            .parquet(os.path.join(cur, "bands"))
            .filter(pair_pred)
            .join(resub_ids, "vec_id", "left_anti")
            .select("band", "band_key", "vec_id")
        )
    band_writes.append(batch_bands.select("band", "band_key", "vec_id"))
    # vecs: same discipline on the vbucket axis.
    vec_writes = []
    if rw_vb:
        vec_writes.append(
            spark.read.schema(VECS_SCHEMA)
            .parquet(os.path.join(cur, "vecs"))
            .filter(F.col("vbucket").isin(rw_vb))
            .join(resub_ids, "vec_id", "left_anti")
            .select("vbucket", "vec_id", "emb")
        )
    vec_writes.append(
        batch.select(
            vec_bucket_expr(F.col("vec_id")).alias("vbucket"), "vec_id", "emb"
        )
    )
    new_cur = vn.commit_version(
        spark,
        root,
        [
            vn.Component(
                "bands",
                ("band", "band_key"),
                frozenset(f"band={b}/band_key={k}" for b, k in rw_pairs),
                tuple(band_writes),
            ),
            vn.Component(
                "vecs",
                ("vbucket",),
                frozenset(f"vbucket={b}" for b in rw_vb),
                tuple(vec_writes),
            ),
        ],
        expected=os.path.basename(cur),
        compact=RP_COMPONENTS,
        compact_threshold=auto_compact_threshold,
    )
    return os.path.join(new_cur, "bands")


def rp_lsh_band_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, band, band_key) for every corpus vector — the LSH index
    kernel. One narrow Arrow pass (the _minhash_wide shape): no explode,
    no shuffle. ``build_rp_index`` materializes this frame to parquet
    partitioned by (band, band_key) — the build-once/serve-many layout
    the probe path scans with static partition pruning."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    return rp_band_rows_for(e)


def rp_band_rows_for(e: DataFrame) -> DataFrame:
    """The banding kernel over ANY (vec_id, emb) frame — shared by the
    full build and the incremental ``update_rp_index`` path, so batch
    signatures are byte-identical to build-time signatures."""
    import numpy as np
    import pandas as pd

    signs_t = np.array(_rp_plane_signs(), dtype=np.int64).T  # dim x planes

    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["emb"]])
            if mat.shape[1] != RP_DIM:
                raise ValueError(
                    f"rp_lsh expects dim={RP_DIM}, got {mat.shape[1]}"
                )
            keys = _rp_band_keys(mat, signs_t)  # n x bands
            ids = pdf["vec_id"].to_numpy()
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, RP_BANDS),
                    "band": np.tile(
                        np.arange(RP_BANDS, dtype=np.int32), len(ids)
                    ),
                    "band_key": keys.reshape(-1).astype(np.int32),
                }
            )

    return e.mapInPandas(batches, "vec_id bigint, band int, band_key int")


def ann_rp_lsh_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
    multiprobe_hamming: int = 0,
) -> DataFrame:
    """Approximate top-k by engine-owned random-hyperplane LSH: probe the
    query's RP_BANDS band buckets of the ON-DISK partitioned index for
    candidates, then exact cosine rerank (round 4 dp, vec_id tie-break)
    of the candidate set only.

    Fully oracle-checkable (unlike the MLlib ``ann_lsh_topk`` twin, kept
    as the recall harness): hyperplanes are md5-derived, sign bits are
    integer-exact, and the rerank is the established _COS discipline.

    ``multiprobe_hamming=1`` additionally probes, per band, every key at
    Hamming distance 1 from the query's key (flip each of RP_BAND_BITS
    sign bits) — the multiprobe LSH recall knob (Lv et al., VLDB 2007):
    a near neighbor that lost ONE sign vote in a band still lands in a
    probed bucket, so recall rises (measured 1.00 on the isotropic
    worst case at 6x4+hamming-1, BASELINE.md) without re-banding the
    index; the probe grows to RP_BANDS*(1+RP_BAND_BITS)=30 of the 96
    partitions, still never the corpus. Default 0 keeps the original
    key's arithmetic byte-identical.

    Scale shape: FULLY index-served (since r9 the rerank vectors come
    from the index's own ``vecs/`` store, not the source table — the
    index is the corpus of record, so vectors ingested through
    ``update_rp_index`` are immediately servable). The query signature
    is computed CLIENT-side from one vbucket-pruned point lookup + 24
    tiny integer dots — no corpus job; the probe pairs are LITERAL
    predicates on the band table's partition columns, so the scan lists
    only the probed bucket directories (static partition pruning,
    pinned in tests/test_plans.py — no job even touches the other
    buckets); the rerank touches only candidates
    (TakeOrderedAndProject caps the sort at k). Candidate volume
    ~= corpus * (1 - (1 - 2^-RP_BAND_BITS)^RP_BANDS) for isotropic
    data, far less for genuinely clustered neighbors.
    """
    vecs, cand, qlit = _rp_probe(spark, sf_dir, query_vec_id, multiprobe_hamming)
    sim = F.round(
        cosine_similarity(F.col("emb"), qlit), 4
    ).alias("sim")
    return (
        vecs.join(cand, "vec_id")
        .select("vec_id", sim)
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(k)
    )


def _rp_probe(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int,
    multiprobe_hamming: int = 0,
):
    """The shared RP-LSH probe: (index vecs store, distinct candidate
    ids from the statically pruned band-table probe, query-vector
    literal) — exactly the ``ann_rp_lsh_topk`` front half, factored so
    the filtered variant cannot drift from it."""
    from functools import reduce
    from operator import or_

    import numpy as np

    ver = _rp_current_dir(spark, sf_dir)
    vecs = spark.read.schema(VECS_SCHEMA).parquet(os.path.join(ver, "vecs"))
    qrow = vecs.filter(
        (F.col("vbucket") == vec_bucket_py(query_vec_id))
        & (F.col("vec_id") == query_vec_id)
    ).select(F.col("emb").alias("q_emb")).head()
    if qrow is None:
        raise ValueError(f"query vec_id {query_vec_id} not found")
    signs_t = np.array(_rp_plane_signs(), dtype=np.int64).T
    qkeys = _rp_band_keys(
        np.asarray(qrow["q_emb"], dtype=np.float64)[None, :], signs_t
    )[0]
    pairs = []
    for b in range(RP_BANDS):
        keys = {int(qkeys[b])}
        if multiprobe_hamming >= 1:
            keys |= {int(qkeys[b]) ^ (1 << bit) for bit in range(RP_BAND_BITS)}
        pairs.extend((b, key) for key in sorted(keys))
    bands = spark.read.schema(RP_BANDS_SCHEMA).parquet(os.path.join(ver, "bands"))
    probe_pred = _pair_eq(pairs)
    cand = (
        bands.filter(probe_pred)
        .filter(F.col("vec_id") != query_vec_id)
        .select("vec_id")
        .distinct()
    )
    qlit = F.expr(
        "array(" + ",".join(_double_sql(x) for x in qrow["q_emb"]) + ")"
    )
    return vecs, cand, qlit


def ann_rp_lsh_batch_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec_ids: tuple[int, ...] = (0, 3, 9),
    k: int = 5,
) -> DataFrame:
    """Batched ANN: M queries against the RP index in ONE probe + ONE
    rerank pass — the index-served twin of ``knn_topk_batch`` (and the
    lexical ``bm25_batch_topk_served``): the reference loops
    ``collection.query`` per query; here the band table is probed once
    with every query's (band, band_key) pairs tagged by query id.

    Plan: query signatures come client-side from one vbucket-pruned
    point lookup per query (M tiny lookups, no corpus job); the tagged
    probe-pair frame broadcasts against the band table (the scan still
    prunes to the UNION of probed partitions); candidates dedup per
    (query, vec_id); the rerank joins the vecs store once and ranks
    with a single row_number window partitioned by query_id.

    Output: (query_id, vec_id, sim, rank) — top-k per query.
    """
    import numpy as np

    ver = _rp_current_dir(spark, sf_dir)
    vecs = spark.read.schema(VECS_SCHEMA).parquet(os.path.join(ver, "vecs"))
    signs_t = np.array(_rp_plane_signs(), dtype=np.int64).T
    probe_rows = []
    q_embs = {}
    for qid in query_vec_ids:
        qrow = vecs.filter(
            (F.col("vbucket") == vec_bucket_py(qid))
            & (F.col("vec_id") == qid)
        ).select(F.col("emb").alias("q_emb")).head()
        if qrow is None:
            raise ValueError(f"query vec_id {qid} not found")
        q_embs[qid] = qrow["q_emb"]
        qkeys = _rp_band_keys(
            np.asarray(qrow["q_emb"], dtype=np.float64)[None, :], signs_t
        )[0]
        probe_rows.extend(
            (qid, b, int(qkeys[b])) for b in range(RP_BANDS)
        )
    probes = spark.createDataFrame(
        probe_rows, "query_id bigint, band int, band_key int"
    )
    bands = spark.read.schema(RP_BANDS_SCHEMA).parquet(
        os.path.join(ver, "bands")
    )
    # partition pruning over the union of probed (band, band_key) pairs
    union_pred = _pair_eq(sorted({(b, key) for _q, b, key in probe_rows}))
    cand = (
        bands.filter(union_pred)
        .join(F.broadcast(probes), ["band", "band_key"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    # one rerank pass: per-query literal embedding via a CASE chain
    # (M tiny literal arrays — the batched form of the qlit broadcast)
    qcase = None
    for qid in query_vec_ids:
        arr = F.expr(
            "array(" + ",".join(_double_sql(x) for x in q_embs[qid]) + ")"
        )
        qcase = (
            F.when(F.col("query_id") == qid, arr)
            if qcase is None
            else qcase.when(F.col("query_id") == qid, arr)
        )
    sim = F.round(cosine_similarity(F.col("emb"), qcase), 4)
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        cand.join(vecs, "vec_id")
        .select("query_id", "vec_id", sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "vec_id", "sim", F.col("rank").cast("int").alias("rank")
        )
    )


def ann_rp_lsh_filtered_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    label: int = 1,
    k: int = 10,
    multiprobe_hamming: int = 1,
) -> DataFrame:
    """Metadata-filtered ANN — the reference's ``where``-filtered vector
    query (``collection.query(where={...})``, coding_agent/tools/
    vector_search_tool.py:39-46), index-served: candidates come from the
    on-disk band-table probe (static partition pruning, never the
    corpus); the metadata PREDICATE comes from a NARROW (vec_id, label)
    projection of the metadata table — filter AND column pruning pushed
    into that scan, so at 100 TB the filter reads two thin columns, not
    the vector payload (metadata lives beside the index, not inside it
    — the Lucene docvalues split); the exact rerank reads the index's
    own vecs store for the surviving candidates only.

    Post-filtering (probe, then filter) is the right order here: LSH
    buckets are metadata-blind, so pre-filtering would still scan the
    same band partitions. The multiprobe default widens the candidate
    pool because filtering thins it — the standard filtered-ANN recall
    compensation.
    """
    vecs, cand, qlit = _rp_probe(spark, sf_dir, query_vec_id, multiprobe_hamming)
    meta = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("label") == label)
        .select("vec_id")
    )
    sim = F.round(cosine_similarity(F.col("emb"), qlit), 4).alias("sim")
    return (
        vecs.join(cand.join(meta, "vec_id"), "vec_id")
        .select("vec_id", sim)
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(k)
    )


ANN_WHERE_DEMO = {"$or": [{"label": {"$in": [1, 2, 3]}}, {"label": {"$gte": 8}}]}


def ann_rp_lsh_where_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    where: "dict | None" = None,
    k: int = 10,
    multiprobe_hamming: int = 1,
) -> DataFrame:
    """``collection.query(where={...})`` with ChromaDB's FULL filter
    grammar ($and/$or/$in/$gte/..., functions/where_dsl.py) instead of
    the single-field equality of ``ann_rp_lsh_filtered_topk`` — the
    rest of the reference's filtered vector query, same serving plan:
    band-table probe for candidates (static partition pruning), the
    compiled predicate pushed into a NARROW metadata projection, exact
    rerank from the index's own vecs store. The DSL tree is shared with
    the DuckDB oracle via where_to_sql (one filter, two engines)."""
    from ..functions.where_dsl import compile_where

    vecs, cand, qlit = _rp_probe(spark, sf_dir, query_vec_id, multiprobe_hamming)
    meta = (
        load_table(spark, sf_dir, "embeddings")
        .filter(compile_where(where or ANN_WHERE_DEMO))
        .select("vec_id")
    )
    sim = F.round(cosine_similarity(F.col("emb"), qlit), 4).alias("sim")
    return (
        vecs.join(cand.join(meta, "vec_id"), "vec_id")
        .select("vec_id", sim)
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(k)
    )


def ann_grouped_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 3,
    multiprobe_hamming: int = 1,
) -> DataFrame:
    """Per-GROUP top-k from ONE probe — the multi-tenant serving shape
    (top-k within every label/tenant/source in a single query instead
    of one filtered query per group): shared RP multiprobe for
    candidates, vecs-store rerank, narrow (vec_id, label) metadata
    join, one rank window partitioned by group. At 100 TB the window
    shuffles only candidate rows (probe-sized), never the corpus, and
    replaces G sequential filtered queries with one plan."""
    from pyspark.sql.window import Window

    vecs, cand, qlit = _rp_probe(spark, sf_dir, query_vec_id, multiprobe_hamming)
    meta = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    sim = F.round(cosine_similarity(F.col("emb"), qlit), 4).alias("sim")
    w = Window.partitionBy("label").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        vecs.join(cand, "vec_id")
        .join(meta, "vec_id")
        .select("label", "vec_id", sim)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .orderBy("label", "rank")
    )


def ivf_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-label centroid in exploded (label, pos, c) form: elementwise mean.

    Exploded form (not an array column) keeps the whole computation in
    hash-agg land and mirrors the DuckDB oracle expression exactly.
    """
    ex = embeddings.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v")
    )
    return ex.groupBy("label", "pos").agg(F.avg("v").alias("c"))


def ann_ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF search: rank centroids by cosine to the query, keep ``nprobe``
    partitions, exact top-k inside them.

    Plan shape at scale: the centroid ranking touches k_centroids rows (a
    broadcastable table); the candidate scan reads only the nprobe matching
    partitions (partition pruning on the assignment key); the exact kernel
    is the same TakeOrderedAndProject as knn_topk.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == query_vec_id).select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "qv")
    )
    cent = ivf_centroids(emb)
    # cosine(centroid, query) per label from the exploded join
    joined = cent.join(F.broadcast(q), "pos")
    scored = joined.groupBy("label").agg(
        (
            F.sum(F.col("c") * F.col("qv"))
            / (
                F.sqrt(F.sum(F.col("c") * F.col("c")))
                * F.sqrt(F.sum(F.col("qv") * F.col("qv")))
            )
        ).alias("csim")
    )
    top_labels = (
        scored.select("label", F.round("csim", 4).alias("csim_r"))
        .orderBy(F.desc("csim_r"), F.asc("label"))
        .limit(nprobe)
        .select("label")
    )
    # prune to nprobe partitions, then exact search (broadcast query row)
    qrow = emb.filter(F.col("vec_id") == query_vec_id).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    cand = emb.join(F.broadcast(top_labels), "label").filter(
        F.col("vec_id") != query_vec_id
    )
    sim = F.round(cosine_similarity(F.col("embedding"), F.col("q_emb")), 4)
    return (
        cand.crossJoin(F.broadcast(qrow))
        .select("vec_id", "label", sim.alias("sim"))
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(k)
    )


def ivf_index_root(sf_dir: str, n_centroids: int, iters: int) -> str:
    from ..memo import index_root

    return index_root(
        "ivf_index_v2", sf_dir, n_centroids, iters, N_VEC_BUCKETS
    )


def _ivf_current_dir(
    spark: SparkSession, sf_dir: str, n_centroids: int, iters: int
) -> str:
    build_ivf_index(spark, sf_dir, n_centroids, iters)
    from ..sources import versioning as vn

    return vn.current_dir(ivf_index_root(sf_dir, n_centroids, iters))


def build_ivf_index(
    spark: SparkSession, sf_dir: str, n_centroids: int = 8, iters: int = 2
) -> "tuple[str, str]":
    """Train-once / serve-many for the trained-IVF index: run Lloyd's
    once, materialize the (vec_id, cluster) assignment as parquet
    PARTITIONED BY cluster plus the (cluster, c) centroids, and return
    (assignment_path, centroids_path). At query time the nprobe cell ids
    are LITERALS (the centroid ranking happens driver-side over k tiny
    rows), so the assignment scan statically prunes to nprobe of the
    n_centroids partition directories — the IVF cell-pruning story as an
    on-disk demonstrated fact rather than an in-memory memo (VERDICT r6
    next #1).

    Since r9 the index is VERSIONED (sources/versioning.py — atomic
    ``_CURRENT`` pointer commits, the invindex lifecycle) and carries a
    ``vecs/vbucket=*/`` vector store so serving reranks and incremental
    updates (``update_ivf_index``) never read the source table: the
    index is the corpus of record. Fingerprint-tagged root as ever
    (ADVICE r6).
    """
    from ..sources import versioning as vn

    root = ivf_index_root(sf_dir, n_centroids, iters)
    cur = vn.current_dir(root)
    if cur is not None:
        return os.path.join(cur, "assign"), os.path.join(cur, "cents")
    os.makedirs(root, exist_ok=True)
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    assignment, cents = _lloyd(e, k=n_centroids, iters=iters)
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
        # an interleaved builder won the race to the initial version —
        # theirs is equivalent (same corpus fingerprint in the root tag)
        cur = vn.current_dir(root)
        return os.path.join(cur, "assign"), os.path.join(cur, "cents")
    cur = os.path.join(root, name)
    return os.path.join(cur, "assign"), os.path.join(cur, "cents")


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
    md5-top-s rank-keyed sample + ``_lloyd`` chain factored out of
    ``build_ivf_index_sampled`` so ``rebalance_ivf_index`` retrains on
    the index's OWN vecs store with byte-identical arithmetic (the
    equality-with-rebuild pin depends on this being one code path).
    Returns sorted centroid row dicts ({cluster, c})."""
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
    the whole chain replays exactly cross-engine. Same versioned
    on-disk layout as ``build_ivf_index`` (assign/cluster=*,
    cents, vecs/vbucket=*)."""
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


def update_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    new_vecs: DataFrame,
    n_centroids: int = 8,
    iters: int = 2,
    auto_compact_threshold: int = 16,
) -> "tuple[str, str]":
    """Incremental IVF maintenance under FROZEN centroids with
    vec-level REPLACE semantics — the classic IVF ingest path (FAISS
    ``add`` after ``train``; the reference's ChromaDB upsert,
    indexing_agent.py:332-361): the coarse quantizer is NOT retrained,
    the batch is assigned to existing cells by the SAME module-level
    kernel as training (``assign_to_centroids`` — identical 6-dp d2 /
    cluster tie-break arithmetic), and the write is APPEND-MOSTLY (the
    update_rp_index discipline): brand-new ids append into hardlinked
    cell partitions with zero reads of existing assignment data; only
    re-submitted vec_ids rewrite their OLD cells — recovered by
    re-assigning their OLD vectors from the index's ``vecs/`` store
    (assignment is a pure function of the stored vector under frozen
    centroids — ``vecs/`` doubles as the reverse map). Auto-compaction
    past ``auto_compact_threshold`` folds the accumulated append files
    back. Periodic full retrains (``build_ivf_index`` on a fresh root) remain
    the answer to centroid drift, exactly as in any production IVF.

    Atomic versioned commit (sources/versioning.py): untouched cells
    hardlink into the new version, the ``_CURRENT`` swing publishes.
    Equality with a frozen-centroid re-assignment of the combined
    corpus and served-query convergence one batch after ingest are
    pinned in tests/test_ann.py. Returns the new (assign, cents) paths.
    """
    from ..sources import versioning as vn

    assign_p, cents_p = build_ivf_index(spark, sf_dir, n_centroids, iters)
    cur = os.path.dirname(assign_p)
    root = os.path.dirname(cur)
    cent_rows = sorted(
        (
            {"cluster": r["cluster"], "c": list(r["c"])}
            for r in spark.read.parquet(cents_p).collect()
        ),
        key=lambda r: r["cluster"],
    )

    emb_col = "embedding" if "embedding" in new_vecs.columns else "emb"
    batch = (
        new_vecs.select(
            "vec_id", F.col(emb_col).cast("array<double>").alias("emb")
        )
        .dropDuplicates(["vec_id"])
        .localCheckpoint(eager=True)
    )
    batch_ids = batch.select("vec_id")
    vbuckets = sorted(
        r["b"]
        for r in batch_ids.select(
            vec_bucket_expr(F.col("vec_id")).alias("b")
        ).distinct().collect()
    )
    if not vbuckets:
        return assign_p, cents_p
    batch_assign = assign_to_centroids(batch, cent_rows).localCheckpoint(
        eager=True
    )
    # Append-mostly (the update_rp_index discipline — with n_centroids
    # cells, "rewrite affected cells" degenerates to the whole table
    # for any diverse batch): adds APPEND into hardlinked cell
    # partitions with zero reads of existing assignment data; only
    # re-submitted ids rewrite their OLD cells (recovered by
    # re-assigning their old vectors from vecs/ under the frozen
    # centroids) with a per-cell anti-join.
    old_vecs_aff = spark.read.schema(VECS_SCHEMA).parquet(os.path.join(cur, "vecs")).filter(
        F.col("vbucket").isin(vbuckets)
    )
    resub = (
        old_vecs_aff.join(batch_ids, "vec_id", "leftsemi")
        .select("vbucket", "vec_id", "emb")
        .localCheckpoint(eager=True)
    )
    resub_ids = resub.select("vec_id")
    rw_cells = sorted(
        r["cluster"]
        for r in assign_to_centroids(resub.select("vec_id", "emb"), cent_rows)
        .select("cluster")
        .distinct()
        .collect()
    )
    rw_vb = sorted(
        r["vbucket"] for r in resub.select("vbucket").distinct().collect()
    )

    assign_writes = []
    if rw_cells:
        assign_writes.append(
            spark.read.schema(IVF_ASSIGN_SCHEMA)
            .parquet(os.path.join(cur, "assign"))
            .filter(F.col("cluster").isin(rw_cells))
            .join(resub_ids, "vec_id", "left_anti")
            .select("vec_id", "cluster")
        )
    assign_writes.append(batch_assign.select("vec_id", "cluster"))
    vec_writes = []
    if rw_vb:
        vec_writes.append(
            spark.read.schema(VECS_SCHEMA)
            .parquet(os.path.join(cur, "vecs"))
            .filter(F.col("vbucket").isin(rw_vb))
            .join(resub_ids, "vec_id", "left_anti")
            .select("vbucket", "vec_id", "emb")
        )
    vec_writes.append(
        batch.select(
            vec_bucket_expr(F.col("vec_id")).alias("vbucket"), "vec_id", "emb"
        )
    )
    new_cur = vn.commit_version(
        spark,
        root,
        [
            vn.Component(
                "assign",
                ("cluster",),
                frozenset(f"cluster={c}" for c in rw_cells),
                tuple(assign_writes),
            ),
            vn.Component(
                "vecs",
                ("vbucket",),
                frozenset(f"vbucket={b}" for b in rw_vb),
                tuple(vec_writes),
            ),
            vn.Component("cents", link_from=cents_p),
        ],
        expected=os.path.basename(cur),
        compact=IVF_COMPONENTS,
        compact_threshold=auto_compact_threshold,
    )
    return os.path.join(new_cur, "assign"), os.path.join(new_cur, "cents")


DRIFT_RESIDUAL_THRESHOLD = 1.5  # mean residual d2 growth vs train time
DRIFT_SKEW_THRESHOLD = 3.0  # max cell population vs perfectly even


def ivf_drift_metrics(
    spark: SparkSession, sf_dir: str, n_centroids: int = 8, iters: int = 2
) -> dict:
    """Centroid-drift detector for the streamed-ingest IVF index
    (VERDICT r11 next #4): ``update_ivf_index``/``stream_ivf_index_
    ingest`` assign new vectors under FROZEN centroids forever, so a
    drifting corpus silently degrades recall — cells stretch (mean
    residual distance to the assigned centroid grows) and bloat (the
    populations skew). Compares the CURRENT version's population/
    residual snapshot against the ``build_stats.json`` frozen at
    (re)train time (carried version-to-version by the commit kernel)
    and fires ``drifted`` when either ratio crosses its threshold —
    the signal to run ``rebalance_ivf_index``.

    Cost: two aggregate jobs over the narrow assign table + one
    residual pass (a projection against the centroid literal — no
    shuffle beyond the aggregates). Returns diagnostics; never raises
    on a legacy version without build stats (drifted=None: unknown)."""
    cur = _ivf_current_dir(spark, sf_dir, n_centroids, iters)
    now = _ivf_stats_of_version(spark, cur)
    out: dict = {"now": now, "built": None, "drifted": None}
    p = os.path.join(cur, "build_stats.json")
    if not os.path.exists(p):
        return out
    import json as _json

    with open(p) as f:
        built = _json.load(f)
    out["built"] = built
    growth = (
        now["mean_d2"] / built["mean_d2"] if built["mean_d2"] > 0 else None
    )
    even = now["n"] / built["cells"] if built["cells"] else None
    skew = now["max_cell"] / even if even else None
    out["residual_growth"] = growth
    out["cell_skew"] = skew
    out["drifted"] = bool(
        (growth is not None and growth > DRIFT_RESIDUAL_THRESHOLD)
        or (skew is not None and skew > DRIFT_SKEW_THRESHOLD)
    )
    return out


def fsck_ivf_index(
    spark: SparkSession, sf_dir: str, n_centroids: int = 8, iters: int = 2
) -> list:
    """IVF-family integrity + drift check: the generic versioned-root
    invariants, assign<->vecs id agreement, every assigned cell backed
    by a centroid, plus the centroid-drift metrics as advisory rows (a
    drifted index is not corrupt — the row's detail says what to run).
    Returns (check, ok, detail) tuples; never raises."""
    from ..sources import versioning as vn

    root = ivf_index_root(sf_dir, n_centroids, iters)
    _ivf_current_dir(spark, sf_dir, n_centroids, iters)
    out = vn.fsck_index(
        spark,
        root,
        [
            ("assign", ["cluster"], IVF_ASSIGN_SCHEMA),
            ("vecs", ["vbucket"], VECS_SCHEMA),
            ("cents", [], "cluster int, c array<double>"),
        ],
    )
    cur = vn.current_dir(root)
    assign = spark.read.schema(IVF_ASSIGN_SCHEMA).parquet(
        os.path.join(cur, "assign")
    )
    vecs = spark.read.schema(VECS_SCHEMA).parquet(os.path.join(cur, "vecs"))
    a = assign.join(vecs, "vec_id", "left_anti").count()
    b = vecs.join(assign, "vec_id", "left_anti").count()
    out.append(
        ("assign_vecs_same_ids", a == 0 and b == 0, f"assign_only={a} vecs_only={b}")
    )
    cents = {
        r["cluster"]
        for r in spark.read.parquet(os.path.join(cur, "cents")).collect()
    }
    orphan = (
        assign.select("cluster")
        .distinct()
        .filter(~F.col("cluster").isin(sorted(cents)))
        .count()
    )
    out.append(
        ("assigned_cells_have_centroids", orphan == 0, f"orphan_cells={orphan}")
    )
    m = ivf_drift_metrics(spark, sf_dir, n_centroids, iters)
    if m["drifted"] is None:
        out.append(("centroid_drift", True, "no build_stats.json (legacy build)"))
    else:
        out.append(
            (
                "centroid_drift",
                not m["drifted"],
                f"residual_growth={m['residual_growth'] and round(m['residual_growth'], 3)} "
                f"cell_skew={m['cell_skew'] and round(m['cell_skew'], 3)}"
                + (" — run rebalance_ivf_index" if m["drifted"] else ""),
            )
        )
    return out


def rebalance_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    n_centroids: int = 8,
    iters: int = 2,
    train_per_cell: int = 64,
) -> "tuple[str, str]":
    """Retrain the drifted coarse quantizer and re-partition the index
    — the maintenance op ``ivf_drift_metrics`` points at (VERDICT r11
    next #4). Centroids retrain via the SAMPLED trainer on the index's
    OWN ``vecs/`` store (the corpus of record after ingest — training
    cost stays independent of n), the whole corpus re-assigns in one
    frozen pass, and the commit rewrites ONLY the cells whose
    membership changed (unchanged cells hardlink; the fat ``vecs/``
    store always hardlinks — a rebalance never moves vector bytes,
    only the narrow (vec_id, cluster) rows and the tiny centroids).
    CAS-committed under the shared kernel; ``build_stats.json``
    refreshes atomically with the new centroids, so the drift baseline
    resets to the retrain.

    Equality-with-rebuild (pinned in tests/test_ann.py): the sampled
    trainer is the SAME code path as ``build_ivf_index_sampled``, and
    the vecs store holds exactly the ingested corpus — so a rebalanced
    index equals a fresh sampled build over the combined corpus, row
    for row (centroids AND assignment)."""
    import json as _json

    from ..sources import versioning as vn

    assign_p, cents_p = build_ivf_index(spark, sf_dir, n_centroids, iters)
    cur = os.path.dirname(assign_p)
    root = os.path.dirname(cur)
    vecs = spark.read.schema(VECS_SCHEMA).parquet(os.path.join(cur, "vecs"))
    e = vecs.select("vec_id", "emb")
    cent_rows = _sampled_centroid_rows(e, n_centroids, iters, train_per_cell)
    new_assign = assign_to_centroids(e, cent_rows).localCheckpoint(eager=True)
    old_assign = spark.read.schema(IVF_ASSIGN_SCHEMA).parquet(
        os.path.join(cur, "assign")
    )
    moved = (
        old_assign.select("vec_id", F.col("cluster").alias("oc"))
        .join(
            new_assign.select("vec_id", F.col("cluster").alias("nc")), "vec_id"
        )
        .filter(F.col("oc") != F.col("nc"))
        .localCheckpoint(eager=True)
    )
    rw = sorted(
        {r["c"] for r in moved.select(F.col("oc").alias("c")).distinct().collect()}
        | {r["c"] for r in moved.select(F.col("nc").alias("c")).distinct().collect()}
    )
    if not rw:
        return assign_p, cents_p  # nothing moved: same basin, no-op
    cents_df = spark.createDataFrame(
        [(int(r["cluster"]), [float(x) for x in r["c"]]) for r in cent_rows],
        "cluster int, c array<double>",
    )
    stats = _ivf_stats_of(e, new_assign, cent_rows)
    writes = new_assign.filter(F.col("cluster").isin(rw)).select(
        "vec_id", "cluster"
    )
    new_cur = vn.commit_version(
        spark,
        root,
        [
            vn.Component(
                "assign",
                ("cluster",),
                frozenset(f"cluster={c}" for c in rw),
                (writes,),
            ),
            vn.Component("vecs", link_from=os.path.join(cur, "vecs")),
            vn.Component("cents", (), writes=(cents_df,)),
        ],
        expected=os.path.basename(cur),
        compact=IVF_COMPONENTS,
        extra_files={"build_stats.json": _json.dumps(stats)},
    )
    return os.path.join(new_cur, "assign"), os.path.join(new_cur, "cents")


def _ivf_centroid_rows(
    spark: SparkSession, sf_dir: str, n_centroids: int, iters: int
) -> "tuple[str, list]":
    """(assignment_path, sorted centroid rows) for the trained index —
    the centroid collect (k tiny rows) is session-memoized so repeated
    queries skip even that one small job."""
    from ..memo import session_memo

    assign_p, cents_p = build_ivf_index(spark, sf_dir, n_centroids, iters)

    def _collect() -> list:
        return sorted(
            (
                (r["cluster"], list(r["c"]))
                for r in spark.read.parquet(cents_p).collect()
            ),
            key=lambda t: t[0],
        )

    # keyed on the VERSION too: a rebalance_ivf_index within one session
    # replaces the centroids without changing the dataset fingerprint,
    # and serving must pick the new basin up immediately
    cent_rows = session_memo(
        spark, sf_dir, "ivf_cent_rows", _collect, n_centroids, iters,
        os.path.basename(os.path.dirname(cents_p)),
    )
    return assign_p, cent_rows


def ann_ivf_trained_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 5,
    nprobe: int = 2,
    n_centroids: int = 8,
    iters: int = 2,
) -> DataFrame:
    """IVF with a TRAINED coarse quantizer — the full 100 TB lifecycle in
    one operator: Lloyd's k-means trains the centroids (``_lloyd``, the
    shuffle-free argmin assignment), ``build_ivf_index`` materializes the
    assignment ON DISK partitioned by cluster (at scale: the partitioning
    key of the stored table), queries rank the k centroids by cosine
    DRIVER-side (k tiny rows), prune to ``nprobe`` cells via LITERAL
    partition filters on the stored assignment (static partition pruning,
    pinned in tests/test_plans.py — the unprobed cells' files are never
    listed), and rerank exactly inside them. Unlike ``ann_ivf_topk``
    (whose cells come from the testdata's label column), nothing here
    depends on pre-clustered input — this is the index you build when
    the data has no labels.

    Fully oracle-checkable: the DuckDB twin replays the same unrolled
    Lloyd's CTEs (the cluster_kmeans oracle machinery) plus the same
    rounded centroid ranking and rerank. The driver-side centroid cosine
    rounds via Decimal HALF_UP (not Python's half-even ``round``) to
    match F.round/DuckDB semantics on dyadic midpoints (ADVICE r6).
    """
    assign_p, cent_rows = _ivf_centroid_rows(spark, sf_dir, n_centroids, iters)
    return _ivf_serve_topk(spark, assign_p, cent_rows, query_vec_id, k, nprobe)


def _ivf_serve_topk(
    spark: SparkSession,
    assign_p: str,
    cent_rows: list,
    query_vec_id: int,
    k: int,
    nprobe: int,
) -> DataFrame:
    """The shared trained-IVF probe tail: driver-side centroid cosine
    ranking (Decimal HALF_UP — F.round/DuckDB midpoint semantics,
    ADVICE r6), nprobe LITERAL cell pruning on the stored assignment,
    exact vbucket-pruned rerank from the index's own vecs/ store."""
    from decimal import ROUND_HALF_UP, Decimal

    # Fully index-served (r9): the query vector and the rerank vectors
    # come from the index's own vecs/ store (vbucket-pruned point
    # lookup), so vectors ingested via update_ivf_index serve without
    # the source table ever being read at query time.
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

    four = Decimal("0.0001")
    ranked = sorted(
        (
            (Decimal(repr(cos(c))).quantize(four, rounding=ROUND_HALF_UP), cluster)
            for cluster, c in cent_rows
        ),
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
    (``build_ivf_index_sampled``) — identical probe discipline to
    ``ann_ivf_trained_topk`` (driver-ranked centroids, literal nprobe
    cell pruning, vecs-store rerank); the difference is the 100 TB
    training cost: Lloyd's ran on the md5-top-(c × train_per_cell)
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
# the k=8 consumers (cluster_kmeans, PQ codebooks, IVF training) keep the
# in-plan literal (fastest there, and the plan the oracle mirrors
# term-for-term); anything bigger ships centroids via
# sparkContext.broadcast and runs the Arrow argmin kernel with the
# IDENTICAL ranking contract (equality pinned in tests/test_ann.py).
CENTROID_LITERAL_MAX_KDIM = 4_096


def _assign_broadcast(e: DataFrame, rows, with_emb: bool) -> DataFrame:
    """Broadcast + Arrow argmin twin of the literal-centroid assignment,
    used above CENTROID_LITERAL_MAX_KDIM. The ranking contract is the
    SAME as the literal path — argmin over (round(d2, 6), cluster)
    lexicographic, where round is Spark's double round (HALF_UP on the
    SHORTEST-REPR decimal, java.math.BigDecimal.valueOf semantics) and d2
    folds left-to-right in double — reproduced exactly:

    - the bulk argmin runs vectorized in numpy (raw doubles, no rounding);
    - numpy's pairwise summation and the HOF fold differ only in the last
      ulps (~1e-12 absolute here), and 6-dp rounding can only reorder two
      distances within 1e-6 of each other, so ONLY rows whose top-2 raw
      distances sit within a 1.5e-6 ambiguity window can possibly differ
      from the literal path — for exactly those rows the kernel recomputes
      the candidates with the exact left-to-right fold and
      Decimal(repr(x)) HALF_UP rounding and applies the cluster tie-break.
      Equality with the literal path is pinned in tests/test_ann.py.
    """
    import numpy as np
    import pandas as pd

    cmat = np.stack([np.asarray(r["c"], dtype=np.float64) for r in rows])
    clusters = np.array([int(r["cluster"]) for r in rows], dtype=np.int64)
    ccs = np.array([_seq_self_dot(r["c"]) for r in rows], dtype=np.float64)
    bc = e.sparkSession.sparkContext.broadcast((cmat, clusters, ccs))
    schema = "vec_id bigint, cluster int" + (
        ", emb array<double>" if with_emb else ""
    )

    def kernel(batches):
        from decimal import ROUND_HALF_UP, Decimal

        six = Decimal("0.000001")
        cmat, clusters, ccs = bc.value

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

        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["emb"]])
            d2 = (
                (mat * mat).sum(1)[:, None]
                - 2.0 * (mat @ cmat.T)
                + ccs[None, :]
            )
            # O(k) min + second-min per row (argsort would be O(k log k)
            # per row — this path exists precisely for large k). argmin's
            # lowest-index tie rule is irrelevant: raw ties have gap 0 and
            # take the exact re-check branch below.
            best = np.argmin(d2, axis=1)
            if cmat.shape[0] > 1:
                top2 = np.partition(d2, 1, axis=1)
                gap = top2[:, 1] - top2[:, 0]
            else:
                gap = np.full(len(mat), np.inf)
            out = clusters[best].copy()
            for ridx in np.nonzero(gap < 1.5e-6)[0]:
                cand = np.nonzero(d2[ridx] < d2[ridx].min() + 1.5e-6)[0]
                emb = mat[ridx]
                out[ridx] = min(exact_key(emb, j) for j in cand)[1]
            cols = {
                "vec_id": pdf["vec_id"].to_numpy(),
                "cluster": out.astype(np.int32),
            }
            if with_emb:
                cols["emb"] = pdf["emb"]
            yield pd.DataFrame(cols)

    src = e.select("vec_id", "emb")
    return src.mapInPandas(kernel, schema)


def assign_to_centroids(e: DataFrame, rows, with_emb: bool = False) -> DataFrame:
    """Shuffle-free nearest-centroid assignment of any (vec_id, emb)
    frame against FROZEN centroid rows ({cluster, c} mappings) — the
    Lloyd's-round kernel, exposed module-level so the incremental
    ``update_ivf_index`` path assigns a batch under the SAME 6-dp d2 /
    cluster-tie-break contract as the original training run (identical
    arithmetic => a re-assigned old vector lands in its original cell).
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
    exactly the argmin assignment). The graph build's edge-candidate
    generator (graph_ann.py): a vector on a cell BOUNDARY has true
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
    assignment (used above CENTROID_LITERAL_MAX_KDIM). Bulk selection is
    a raw-double numpy partition; only rows whose rank-(nprobe-1) /
    rank-nprobe raw distances sit within the 1.5e-6 ambiguity window (6-dp
    rounding can only reorder distances closer than that) re-rank their
    window candidates with the exact left-to-right fold + Decimal HALF_UP
    key — the `_assign_broadcast` equality argument, applied to the top-n
    BOUNDARY instead of the argmin."""
    import numpy as np
    import pandas as pd

    cmat = np.stack([np.asarray(r["c"], dtype=np.float64) for r in rows])
    clusters = np.array([int(r["cluster"]) for r in rows], dtype=np.int64)
    ccs = np.array([_seq_self_dot(r["c"]) for r in rows], dtype=np.float64)
    if len(rows) <= nprobe:
        # fewer centroids than probes: every (vec, cluster) pair
        arr = "array({})".format(
            ",".join(str(int(c)) for c in sorted(clusters))
        )
        return e.select(
            "vec_id", F.explode(F.expr(arr)).cast("int").alias("cluster")
        )
    bc = e.sparkSession.sparkContext.broadcast((cmat, clusters, ccs))

    def kernel(batches):
        from decimal import ROUND_HALF_UP, Decimal

        six = Decimal("0.000001")
        cmat, clusters, ccs = bc.value

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

        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["emb"]])
            d2 = (
                (mat * mat).sum(1)[:, None]
                - 2.0 * (mat @ cmat.T)
                + ccs[None, :]
            )
            part = np.partition(d2, nprobe, axis=1)
            gap = part[:, nprobe] - part[:, nprobe - 1]
            topn = np.argpartition(d2, nprobe - 1, axis=1)[:, :nprobe]
            out_ids = []
            out_cl = []
            ids = pdf["vec_id"].to_numpy()
            for ridx in range(len(mat)):
                if gap[ridx] < 1.5e-6:
                    # boundary ambiguity: exact-rank every candidate
                    # within the window of the nprobe-th raw distance
                    thresh = part[ridx, nprobe - 1] + 1.5e-6
                    cand = np.nonzero(d2[ridx] <= thresh)[0]
                    emb = mat[ridx]
                    picked = sorted(
                        ((exact_key(emb, j), j) for j in cand)
                    )[:nprobe]
                    cl = [int(clusters[j]) for _k, j in picked]
                else:
                    cl = [int(clusters[j]) for j in topn[ridx]]
                out_ids.extend([ids[ridx]] * len(cl))
                out_cl.extend(cl)
            yield pd.DataFrame(
                {
                    "vec_id": np.array(out_ids, dtype=np.int64),
                    "cluster": np.array(out_cl, dtype=np.int32),
                }
            )

    return e.select("vec_id", "emb").mapInPandas(
        kernel, "vec_id bigint, cluster int"
    )


def _lloyd(e: DataFrame, k: int, iters: int) -> tuple[DataFrame, DataFrame]:
    """The deterministic Lloyd's kernel shared by ``cluster_kmeans`` and the
    product-quantization codebook trainer: ``e`` is any (vec_id, emb) frame;
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


PQ_M = 4  # subspaces; dim 64 -> 16-dim sub-vectors
PQ_K = 8  # codes per subspace codebook
PQ_DIM = 64  # testdata embedding dimensionality (asserted at runtime)


def _pq_codebooks(
    spark: SparkSession, sf_dir: str, m: int, k: int, iters: int
) -> tuple[DataFrame, DataFrame]:
    """Train one deterministic Lloyd's codebook per subspace.

    Returns (codes, cents): ``codes`` = (vec_id, subspace, code) — the PQ
    encoding of every vector; ``cents`` = (subspace, code, c) — the
    codebooks. Both are unions of ``m`` independent broadcast-centroid
    Lloyd's runs over ``dim/m``-wide slices, so nothing here shuffles the
    corpus; the codebooks total m*k*(dim/m) = k*dim doubles — always
    broadcastable.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    return _pq_codebooks_for(e, m, k, iters)


def _pq_codebooks_for(
    e: DataFrame, m: int, k: int, iters: int
) -> tuple[DataFrame, DataFrame]:
    """The codebook-training kernel over ANY (vec_id, emb) frame —
    split out (r10) so the residual-encoding IVFPQ index trains its
    codebooks on ``vector - cell centroid`` residuals with the exact
    same per-subspace Lloyd's arithmetic as the raw-vector PQ index."""
    d = PQ_DIM // m
    codes = None
    cents = None
    for s in range(m):
        sub = e.select("vec_id", F.slice("emb", s * d + 1, d).alias("emb"))
        a, c = _lloyd(sub, k=k, iters=iters)
        a = a.select("vec_id", F.lit(s).alias("subspace"), F.col("cluster").alias("code"))
        c = c.select(F.lit(s).alias("subspace"), F.col("cluster").alias("code"), "c")
        codes = a if codes is None else codes.unionByName(a)
        cents = c if cents is None else cents.unionByName(c)
    return codes, cents


def _pq_index_root(sf_dir: str, m: int, k: int, iters: int) -> str:
    """On-disk PQ index root — tagged by params AND the dataset
    fingerprint (memo.index_root), so an index built by a previous
    driver run against older testdata is never served against
    regenerated data (ADVICE r6)."""
    from ..memo import index_root

    return index_root("pq_index_v2", sf_dir, m, k, iters, N_VEC_BUCKETS)


def build_pq_index(
    spark: SparkSession,
    sf_dir: str,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = 2,
) -> tuple[str, str]:
    """Train-once / serve-many: materialize the PQ codes table and the
    codebooks as parquet (keyed by (sf_dir, m, k, iters)) and return
    their paths. Serving queries (``knn_pq_topk`` / ``knn_pq_rerank``)
    read the stored codes instead of re-running Lloyd's per query — the
    production PQ lifecycle (train on a sample, encode once, serve from
    codes; SCALE.md "Product quantization").

    Since r9 the index is VERSIONED (sources/versioning.py, the
    rp/ivf/text lifecycle): codes are partitioned by the md5 vec bucket
    (the ADC scan reads every bucket — partitioning costs it nothing —
    while ``update_pq_index`` prunes a re-submitted vec's stale codes
    to one literal partition), and a ``vecs/`` store makes the index
    self-contained for the exact-rerank stage and the query point
    lookup.
    """
    from ..sources import versioning as vn

    root = _pq_index_root(sf_dir, m, k, iters)
    cur = vn.current_dir(root)
    if cur is not None:
        return os.path.join(cur, "codes"), os.path.join(cur, "cents")
    os.makedirs(root, exist_ok=True)
    codes, cents = _pq_codebooks(spark, sf_dir, m, k, iters)
    tmp = os.path.join(root, ".__tmp_build__")
    shutil.rmtree(tmp, ignore_errors=True)
    codes.select(
        vec_bucket_expr(F.col("vec_id")).alias("vbucket"),
        "vec_id",
        "subspace",
        "code",
    ).write.mode("overwrite").partitionBy("vbucket").parquet(
        os.path.join(tmp, "codes")
    )
    cents.write.mode("overwrite").parquet(os.path.join(tmp, "cents"))
    load_table(spark, sf_dir, "embeddings").select(
        vec_bucket_expr(F.col("vec_id")).alias("vbucket"),
        "vec_id",
        F.col("embedding").cast("array<double>").alias("emb"),
    ).write.mode("overwrite").partitionBy("vbucket").parquet(
        os.path.join(tmp, "vecs")
    )
    name = vn.next_version_name(root)
    try:
        vn.publish_version(root, tmp, name, expected=None)
    except vn.ConcurrentWriterError:
        # an interleaved builder won the race to the initial version —
        # theirs is equivalent (same corpus fingerprint in the root tag)
        cur = vn.current_dir(root)
        return os.path.join(cur, "codes"), os.path.join(cur, "cents")
    cur = os.path.join(root, name)
    return os.path.join(cur, "codes"), os.path.join(cur, "cents")


def pq_encode_for(batch: DataFrame, cent_rows, m: int) -> DataFrame:
    """Encode ANY (vec_id, emb) frame under FROZEN codebooks — the
    incremental-path kernel (the ``rp_band_rows_for`` /
    ``assign_to_centroids`` discipline): per subspace, the slice is
    assigned to its nearest codebook entry by the SAME 6-dp d2 /
    id tie-break arithmetic as training, so batch codes are
    byte-identical to build-time codes. ``cent_rows`` is the collected
    (subspace, code, c) codebook list."""
    d = len(cent_rows[0]["c"])
    out = None
    for s in sorted({r["subspace"] for r in cent_rows}):
        rows = sorted(
            (
                {"cluster": r["code"], "c": list(r["c"])}
                for r in cent_rows
                if r["subspace"] == s
            ),
            key=lambda r: r["cluster"],
        )
        sub = batch.select(
            "vec_id", F.slice("emb", s * d + 1, d).alias("emb")
        )
        a = assign_to_centroids(sub, rows).select(
            "vec_id",
            F.lit(s).alias("subspace"),
            F.col("cluster").alias("code"),
        )
        out = a if out is None else out.unionByName(a)
    return out


def update_pq_index(
    spark: SparkSession,
    sf_dir: str,
    new_vecs: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = 2,
    auto_compact_threshold: int = 16,
) -> tuple[str, str]:
    """Incremental PQ maintenance under FROZEN codebooks with vec-level
    REPLACE semantics — FAISS ``add`` after ``train`` for the PQ tier,
    completing the index family (text/RP/IVF/PQ all updatable). The
    batch encodes through ``pq_encode_for`` (identical arithmetic to
    the build); append-mostly like the others: brand-new ids append
    code and vector rows into hardlinked vbucket partitions with zero
    reads of existing data, and only re-submitted ids rewrite their own
    vbucket partitions — found DIRECTLY (vbucket is a pure function of
    vec_id, so stale codes/vecs prune to the batch's literal buckets —
    no reverse derivation needed). Atomic ``_CURRENT`` commit;
    auto-compaction folds append files back. Codebook drift is
    answered by periodic retrains, as everywhere in this family.
    """
    from ..sources import versioning as vn

    codes_p, cents_p = build_pq_index(spark, sf_dir, m, k, iters)
    cur = os.path.dirname(codes_p)
    root = os.path.dirname(cur)
    cent_rows = [
        {"subspace": r["subspace"], "code": r["code"], "c": list(r["c"])}
        for r in spark.read.parquet(cents_p).collect()
    ]

    emb_col = "embedding" if "embedding" in new_vecs.columns else "emb"
    batch = (
        new_vecs.select(
            "vec_id", F.col(emb_col).cast("array<double>").alias("emb")
        )
        .dropDuplicates(["vec_id"])
        .localCheckpoint(eager=True)
    )
    batch_ids = batch.select("vec_id")
    vbuckets = sorted(
        r["b"]
        for r in batch_ids.select(
            vec_bucket_expr(F.col("vec_id")).alias("b")
        ).distinct().collect()
    )
    if not vbuckets:
        return codes_p, cents_p
    batch_codes = pq_encode_for(batch, cent_rows, m).localCheckpoint(
        eager=True
    )
    # resubmitted ids: direct pruned lookup — stale codes/vecs live in
    # the batch's own literal vbuckets.
    resub_ids = (
        spark.read.schema(VECS_SCHEMA).parquet(os.path.join(cur, "vecs"))
        .filter(F.col("vbucket").isin(vbuckets))
        .join(batch_ids, "vec_id", "leftsemi")
        .select("vec_id")
        .localCheckpoint(eager=True)
    )
    rw_vb = sorted(
        r["b"]
        for r in resub_ids.select(
            vec_bucket_expr(F.col("vec_id")).alias("b")
        ).distinct().collect()
    )

    plans = []
    for comp, frame, cols in (
        (
            "codes",
            batch_codes.select(
                vec_bucket_expr(F.col("vec_id")).alias("vbucket"),
                "vec_id",
                "subspace",
                "code",
            ),
            ["vbucket", "vec_id", "subspace", "code"],
        ),
        (
            "vecs",
            batch.select(
                vec_bucket_expr(F.col("vec_id")).alias("vbucket"),
                "vec_id",
                "emb",
            ),
            ["vbucket", "vec_id", "emb"],
        ),
    ):
        writes = []
        if rw_vb:
            writes.append(
                spark.read.schema(
                    PQ_CODES_SCHEMA if comp == "codes" else VECS_SCHEMA
                )
                .parquet(os.path.join(cur, comp))
                .filter(F.col("vbucket").isin(rw_vb))
                .join(resub_ids, "vec_id", "left_anti")
                .select(*cols)
            )
        writes.append(frame)
        plans.append(
            vn.Component(
                comp,
                ("vbucket",),
                frozenset(f"vbucket={b}" for b in rw_vb),
                tuple(writes),
            )
        )
    plans.append(vn.Component("cents", link_from=cents_p))
    new_cur = vn.commit_version(
        spark,
        root,
        plans,
        expected=os.path.basename(cur),
        compact=PQ_COMPONENTS,
        compact_threshold=auto_compact_threshold,
    )
    return os.path.join(new_cur, "codes"), os.path.join(new_cur, "cents")


def pq_encode_rows(
    spark: SparkSession, sf_dir: str, m: int = PQ_M, k: int = PQ_K, iters: int = 2
) -> DataFrame:
    """Product-quantization encoding (Jégou et al. 2011, TPAMI 33(1)):
    each vector is represented by ``m`` codebook ids, one per ``dim/m``-wide
    subspace — here 4 x 3 bits against 64 x 64-bit doubles, a ~170x
    compression of the scan payload (vs int8's 4x). Output is one row per
    (vec_id, subspace): (vec_id, subspace, code) — integer columns only,
    oracle-checked against the same unrolled Lloyd's CTEs per subspace.

    Scale shape: codebook training samples/iterates over literal
    centroids exactly like ``cluster_kmeans`` (at 100 TB you train on a
    sample, then encoding is ONE shuffle-free projection pass); the
    encoded table is MATERIALIZED via ``build_pq_index`` (train-once /
    encode-once) and is what the PQ serving layer scans — m small ints
    per row.
    """
    codes_p, _ = build_pq_index(spark, sf_dir, m, k, iters)
    return (
        spark.read.schema(PQ_CODES_SCHEMA).parquet(codes_p)
        .select("vec_id", "subspace", "code")
        .orderBy("vec_id", "subspace")
    )


def knn_pq_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
    m: int = PQ_M,
    codebook_k: int = PQ_K,
    iters: int = 2,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over the PQ codes: the query stays
    exact; each subspace contributes the squared L2 between the query's
    sub-vector and the code's centroid, looked up from an m x k distance
    table. approx_d2(q, v) = sum_s dtab[s, code_s(v)].

    Distances travel as FLOOR-SCALED BIGINT micro-units
    (floor(d2*1e6 + 0.5)) so the 4-term sum is integer-exact on any
    engine — the float-sum-then-round tie class documented in SCALE.md
    never arises. Ties break on vec_id.

    Scale shape: the distance table is m*k rows (BROADCAST); the scan side
    reads ONLY the STORED (vec_id, subspace, code) parquet built once by
    ``build_pq_index`` — 4 small ints per vector instead of 64 doubles —
    one broadcast join + a map-side-combined sum + TakeOrderedAndProject.
    Codebooks are never retrained at query time (the train-once /
    serve-many lifecycle); rerank the ADC top-C with exact float distance
    (the knn_int8_rerank pattern) when recall must be exact.
    """
    codes_p, cents_p = build_pq_index(spark, sf_dir, m, codebook_k, iters)
    # r17 (VERDICT r16 next #7): memoized component handles for the
    # immutable PQ version dir — the per-query relation rebuild (and the
    # cents read's per-query schema inference) is paid once per session
    from ..memo import component_df

    ver = os.path.dirname(codes_p)
    codes = component_df(spark, ver, "codes", PQ_CODES_SCHEMA)
    cents = component_df(
        spark, ver, "cents", "subspace int, code int, c array<double>"
    )
    # index-served (r9): the query vector comes from the index's vecs/
    # store via a vbucket-pruned point lookup — no source-table read.
    vecs = component_df(spark, ver, "vecs", VECS_SCHEMA)
    q_vec = vecs.filter(
        (F.col("vbucket") == vec_bucket_py(query_vec_id))
        & (F.col("vec_id") == query_vec_id)
    )
    d = PQ_DIM // m
    qsubs = None
    for s in range(m):
        qs = q_vec.select(
            F.lit(s).alias("subspace"), F.slice("emb", s * d + 1, d).alias("q")
        )
        qsubs = qs if qsubs is None else qsubs.unionByName(qs)

    from ..functions.vector import dot_product

    d2 = (
        dot_product(F.col("q"), F.col("q"))
        - 2 * dot_product(F.col("q"), F.col("c"))
        + dot_product(F.col("c"), F.col("c"))
    )
    dtab = (
        cents.join(F.broadcast(qsubs), "subspace")
        .select(
            "subspace",
            "code",
            F.floor(d2 * F.lit(1000000.0) + F.lit(0.5)).cast("bigint").alias("d2_micro"),
        )
    )
    return (
        codes.filter(F.col("vec_id") != query_vec_id)
        .join(F.broadcast(dtab), ["subspace", "code"])
        .groupBy("vec_id")
        .agg(F.sum("d2_micro").alias("adc_d2_micro"))
        .orderBy(F.asc("adc_d2_micro"), F.asc("vec_id"))
        .limit(k)
    )


def knn_pq_rerank(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
    candidates: int = 100,
    m: int = PQ_M,
    codebook_k: int = PQ_K,
    iters: int = 2,
) -> DataFrame:
    """Two-stage PQ serving (the knn_int8_rerank pattern, one tier coarser):
    ADC over the 4-small-int codes cuts the corpus to ``candidates`` rows,
    then ONLY those rows are reranked by exact squared L2 on the float
    vectors. Exact distances travel as the same floor-scaled BIGINT
    micro-units as the ADC stage (cross-engine integer-exact).

    Scale: stage 1 scans m ints/vector (the 170x payload cut); stage 2
    touches ``candidates`` full vectors — constant, not corpus-sized.
    Recall is bounded by stage 1's candidate containment, measured in
    tests/test_ann.py and honestly data-limited on the isotropic testdata
    (BASELINE.md — same caveat as IVF).
    """
    from ..functions.vector import dot_product

    cand = knn_pq_topk(
        spark,
        sf_dir,
        query_vec_id=query_vec_id,
        k=candidates,
        m=m,
        codebook_k=codebook_k,
        iters=iters,
    ).select("vec_id")
    # index-served (r9): rerank vectors and the query vector both come
    # from the PQ index's own vecs/ store — the exact-rerank stage never
    # reads the source table, so vectors ingested via update_pq_index
    # serve one batch after ingest.
    codes_p, _ = build_pq_index(spark, sf_dir, m, codebook_k, iters)
    from ..memo import component_df

    e = component_df(
        spark, os.path.dirname(codes_p), "vecs", VECS_SCHEMA
    ).select("vec_id", "emb")
    qrow = e.filter(F.col("vec_id") == query_vec_id).select(
        F.col("emb").alias("q_emb")
    )
    d2 = (
        dot_product(F.col("emb"), F.col("emb"))
        - 2 * dot_product(F.col("emb"), F.col("q_emb"))
        + dot_product(F.col("q_emb"), F.col("q_emb"))
    )
    return (
        e.join(F.broadcast(cand), "vec_id")
        .crossJoin(F.broadcast(qrow))
        .select(
            "vec_id",
            F.floor(d2 * F.lit(1000000.0) + F.lit(0.5)).cast("bigint").alias("d2_micro"),
        )
        .orderBy(F.asc("d2_micro"), F.asc("vec_id"))
        .limit(k)
    )


def cap_bucket_members(
    bands: DataFrame,
    cap: int,
    member_col: str = "vec_id",
    bucket_cols: "tuple[str, ...]" = ("band", "band_key"),
) -> DataFrame:
    """Skew guard for bucketed self-joins (VERDICT r7 next #4): keep at
    most ``cap`` members per (band, band_key) bucket, selected by md5 of
    the member id (deterministic, corpus-order-independent — the house
    md5-derived-constant discipline) with the raw id as tie-break.

    Why: an equi self-join on a hot bucket of m members materializes m²
    candidate pairs. Isotropic testdata spreads mass evenly, but a
    near-duplicate-heavy 100 TB corpus concentrates it — one bucket with
    10⁷ members is 10¹⁴ pairs, a job-killer. Capping ONE side of the
    join bounds the per-bucket intermediate at m_src x cap and the total
    at n x RP_BANDS x cap — linear in corpus size regardless of skew.

    Recall impact (documented, measured in tests/test_ann.py): a true
    neighbor is lost only if it falls outside the md5-top-``cap`` in
    EVERY band it shares with the source; with RP_BANDS=6 independent
    buckets and cap >> k the loss is negligible. The default cap=256
    exceeds the benchmark corpus's largest bucket (183 at sf0.1), so
    the capped top-k is IDENTICAL to uncapped there — measured, and the
    binding case (cap=128 at sf0.1 changes ~12% of top-3 rows) is the
    documented recall/robustness trade a 100 TB deployment tunes.

    One extra shuffle (the row_number window over the band table), but
    it is O(n x RP_BANDS) rows and replaces an unbounded blow-up.

    ``bucket_cols`` generalizes the bucket identity: the RP band table
    caps on (band, band_key); the IVF cell join caps on ("cluster",) —
    same md5 discipline, same skew bound (VERDICT r10 next #1).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(*bucket_cols).orderBy(
        F.md5(F.col(member_col).cast("string")), F.asc(member_col)
    )
    return (
        bands.withColumn("_m", F.row_number().over(w))
        .filter(F.col("_m") <= cap)
        .drop("_m")
    )


def knn_join_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 3,
    bucket_cap: int = KNN_JOIN_BUCKET_CAP,
) -> DataFrame:
    """Batch k-NN JOIN: top-k approximate neighbors for EVERY corpus
    vector in one job — the all-pairs similarity join behind SemDeDup /
    near-dup mining / recommendation candidate generation, where the
    single-query probe shape (ann_rp_lsh_topk) would mean n driver
    round-trips.

    Candidates come from the on-disk RP-LSH band table's EQUI SELF-JOIN
    on (band, band_key) — the O(n²) pair space is never materialized;
    only same-bucket pairs survive (the minhash banding shape applied
    to embeddings). The exact cosine rerank touches candidates only,
    and the per-source rank window shuffles once on src. Isotropic
    test vectors make candidates ~1/3 of all pairs (the documented
    worst case, BASELINE.md recall curve); clustered real embeddings
    collapse that to near-linear — same contract as every LSH key.

    Skew guard: the NEIGHBOR side of the self-join is capped at
    ``bucket_cap`` members per bucket (cap_bucket_members) — every
    vector still probes ALL its buckets as a source, but a hot bucket
    contributes at most m_src x cap pairs instead of m². The oracle
    mirrors the cap (same md5 ordering); cap=256 exceeds every
    benchmark bucket (max 183 at sf0.1), so results equal uncapped.

    Determinism: the established _COS discipline (4-dp round, neighbor
    id tie-break); rank ties impossible after (sim, nbr) ordering.
    Zero-norm embeddings are excluded from the BAND TABLE before the
    cap (ADVICE r8): a 0/0 sim is NaN in Spark ANSI / NULL in DuckDB so
    such rows can never appear in a top-k, and filtering them only
    after candidate generation let them waste md5-top-cap slots and
    evict real neighbors from hot buckets.
    """
    from pyspark.sql.window import Window

    from ..functions.vector import dot_product

    # FULLY index-served (ADVICE r9, medium): candidates AND scoring
    # vectors come from the SAME resolved index version — bands/ for the
    # bucket self-join, vecs/ for the exact rerank. Scoring from the
    # source table contradicted the corpus-of-record contract every
    # other serving path honors: after update_rp_index a replaced vector
    # was scored against its stale source embedding, and newly ingested
    # vectors produced candidates that silently vanished in the inner
    # join. One version resolve keeps the two components consistent.
    ver = _rp_current_dir(spark, sf_dir)

    # Norms are projected ONCE per vector (n rows), not once per pair
    # (the SCALE.md r6 HOF finding applied to the pair join: the naive
    # cosine re-derives both norms for every candidate — 3x the HOF
    # work). sqrt(dot(v,v)) here has the same bits as _COS's inline
    # form, so the rounded value is unchanged.
    emb = spark.read.schema(VECS_SCHEMA).parquet(
        os.path.join(ver, "vecs")
    ).select("vec_id", F.col("emb").alias("e"))
    emb = emb.select(
        "vec_id", "e", F.sqrt(dot_product(F.col("e"), F.col("e"))).alias("nrm")
    ).filter(F.col("nrm") > 0)

    # Zero-norm vectors never reach the cap window or the candidate set:
    # since r9 they are excluded from the band table AT BUILD/UPDATE
    # time (build_rp_index — a zero vector has no direction, so
    # cosine-LSH membership is meaningless for it), which closes the
    # ADVICE r8 cap-slot-waste finding with ZERO query-time cost.
    bands = spark.read.schema(RP_BANDS_SCHEMA).parquet(os.path.join(ver, "bands"))
    a = bands.select("band", "band_key", F.col("vec_id").alias("src"))
    b = cap_bucket_members(bands, bucket_cap).select(
        "band", "band_key", F.col("vec_id").alias("nbr")
    )
    cand = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("src") != F.col("nbr"))
        .select("src", "nbr")
        .distinct()
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
    # r17 negative result (VERDICT r16 next #5, guide §4.2): a BIT-EXACT
    # Arrow twin of this fold (functions/vector_arrow.dot_seq_arrow,
    # commit c93496f — sequential column-wise accumulation, proven
    # bit-identical) was measured 0.76x HERE: serializing both 64-dim
    # arrays for ~1.3M pairs across the JVM->Python boundary costs more
    # than the interpreted HOF fold saves (A/B: 2.98 -> 3.94 s at
    # sf0.1, calibration-adjusted worse). The fold stays — at this
    # dimensionality the pair volume, not the per-pair kernel, is the
    # cost, and the §3 candidate bounds already cap that.
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


def compact_rp_index(
    spark: SparkSession, sf_dir: str, threshold: int = 4
) -> str:
    """Small-file compaction for the RP-LSH index — the invindex
    ``compact_text_index`` chore applied to bands/vecs. Returns the
    current version dir."""
    from ..sources import versioning as vn

    build_rp_index(spark, sf_dir)
    return vn.compact_index(spark, rp_index_root(sf_dir), RP_COMPONENTS, threshold)


def rp_index_vec_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RP index's ``vecs/`` store as driver-checkable rows
    (vec_id, vbucket) — validates the r9 index-resident vector store
    (the component serving reranks and replace-path reverse lookups
    read) against a DuckDB oracle re-deriving the md5 vec bucket."""
    ver = _rp_current_dir(spark, sf_dir)
    vecs = spark.read.schema(VECS_SCHEMA).parquet(os.path.join(ver, "vecs"))
    return vecs.select(
        "vec_id", F.col("vbucket").cast("int").alias("vbucket")
    )


def delete_from_rp_index(
    spark: SparkSession,
    sf_dir: str,
    vec_ids: DataFrame,
    auto_compact_threshold: int = 16,
) -> str:
    """Targeted vector DELETION from the RP-LSH index (the
    right-to-be-forgotten path; the retraction half of the reference's
    upsert, indexing_agent.py:332-361). O(deleted vecs + their
    partitions): each victim's band rows are re-derived from its stored
    vector in ``vecs/`` (pruned by the literal vbucket set) and exactly
    those partitions rewrite with an anti-join; atomic versioned
    commit. Deleting an absent vec_id is a no-op. Returns the current
    band-table path."""
    from functools import reduce
    from operator import or_

    from ..sources import versioning as vn

    cur = _rp_current_dir(spark, sf_dir)
    root = os.path.dirname(cur)

    ids = vec_ids.select("vec_id").dropDuplicates(["vec_id"])
    vbuckets = sorted(
        r["b"]
        for r in ids.select(vec_bucket_expr(F.col("vec_id")).alias("b"))
        .distinct()
        .collect()
    )
    if not vbuckets:
        return os.path.join(cur, "bands")
    victims = (
        spark.read.schema(VECS_SCHEMA).parquet(os.path.join(cur, "vecs"))
        .filter(F.col("vbucket").isin(vbuckets))
        .join(ids, "vec_id", "leftsemi")
        .localCheckpoint(eager=True)
    )
    victim_ids = victims.select("vec_id")
    rw_vb = sorted(
        r["vbucket"] for r in victims.select("vbucket").distinct().collect()
    )
    if not rw_vb:
        return os.path.join(cur, "bands")
    rw_pairs = {
        (r["band"], r["band_key"])
        for r in rp_band_rows_for(
            victims.select("vec_id", "emb").filter(_nonzero_pred())
        )
        .select("band", "band_key")
        .distinct()
        .collect()
    }

    band_writes = []
    if rw_pairs:
        pair_pred = _pair_eq(sorted(rw_pairs))
        band_writes.append(
            spark.read.schema(RP_BANDS_SCHEMA)
            .parquet(os.path.join(cur, "bands"))
            .filter(pair_pred)
            .join(victim_ids, "vec_id", "left_anti")
            .select("band", "band_key", "vec_id")
        )
    new_cur = vn.commit_version(
        spark,
        root,
        [
            vn.Component(
                "bands",
                ("band", "band_key"),
                frozenset(f"band={b}/band_key={k}" for b, k in rw_pairs),
                tuple(band_writes),
            ),
            vn.Component(
                "vecs",
                ("vbucket",),
                frozenset(f"vbucket={b}" for b in rw_vb),
                (
                    spark.read.schema(VECS_SCHEMA)
                    .parquet(os.path.join(cur, "vecs"))
                    .filter(F.col("vbucket").isin(rw_vb))
                    .join(victim_ids, "vec_id", "left_anti")
                    .select("vbucket", "vec_id", "emb"),
                ),
            ),
        ],
        expected=os.path.basename(cur),
        compact=RP_COMPONENTS,
        compact_threshold=auto_compact_threshold,
    )
    return os.path.join(new_cur, "bands")


def delete_from_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    vec_ids: DataFrame,
    n_centroids: int = 8,
    iters: int = 2,
    auto_compact_threshold: int = 16,
) -> "tuple[str, str]":
    """Targeted vector deletion from the trained-IVF index — victims'
    cells re-derived from their stored vectors under the frozen
    centroids (the update_ivf_index reverse-map trick); only those cell
    and vbucket partitions rewrite; atomic versioned commit. Returns
    the current (assign, cents) paths."""
    from ..sources import versioning as vn

    assign_p, cents_p = build_ivf_index(spark, sf_dir, n_centroids, iters)
    cur = os.path.dirname(assign_p)
    root = os.path.dirname(cur)
    cent_rows = sorted(
        (
            {"cluster": r["cluster"], "c": list(r["c"])}
            for r in spark.read.parquet(cents_p).collect()
        ),
        key=lambda r: r["cluster"],
    )

    ids = vec_ids.select("vec_id").dropDuplicates(["vec_id"])
    vbuckets = sorted(
        r["b"]
        for r in ids.select(vec_bucket_expr(F.col("vec_id")).alias("b"))
        .distinct()
        .collect()
    )
    if not vbuckets:
        return assign_p, cents_p
    victims = (
        spark.read.schema(VECS_SCHEMA).parquet(os.path.join(cur, "vecs"))
        .filter(F.col("vbucket").isin(vbuckets))
        .join(ids, "vec_id", "leftsemi")
        .localCheckpoint(eager=True)
    )
    victim_ids = victims.select("vec_id")
    rw_vb = sorted(
        r["vbucket"] for r in victims.select("vbucket").distinct().collect()
    )
    if not rw_vb:
        return assign_p, cents_p
    rw_cells = sorted(
        r["cluster"]
        for r in assign_to_centroids(
            victims.select("vec_id", "emb"), cent_rows
        )
        .select("cluster")
        .distinct()
        .collect()
    )

    assign_writes = []
    if rw_cells:
        assign_writes.append(
            spark.read.schema(IVF_ASSIGN_SCHEMA)
            .parquet(os.path.join(cur, "assign"))
            .filter(F.col("cluster").isin(rw_cells))
            .join(victim_ids, "vec_id", "left_anti")
            .select("vec_id", "cluster")
        )
    new_cur = vn.commit_version(
        spark,
        root,
        [
            vn.Component(
                "assign",
                ("cluster",),
                frozenset(f"cluster={c}" for c in rw_cells),
                tuple(assign_writes),
            ),
            vn.Component(
                "vecs",
                ("vbucket",),
                frozenset(f"vbucket={b}" for b in rw_vb),
                (
                    spark.read.schema(VECS_SCHEMA)
                    .parquet(os.path.join(cur, "vecs"))
                    .filter(F.col("vbucket").isin(rw_vb))
                    .join(victim_ids, "vec_id", "left_anti")
                    .select("vbucket", "vec_id", "emb"),
                ),
            ),
            vn.Component("cents", link_from=cents_p),
        ],
        expected=os.path.basename(cur),
        compact=IVF_COMPONENTS,
        compact_threshold=auto_compact_threshold,
    )
    return os.path.join(new_cur, "assign"), os.path.join(new_cur, "cents")


def delete_from_pq_index(
    spark: SparkSession,
    sf_dir: str,
    vec_ids: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = 2,
    auto_compact_threshold: int = 16,
) -> "tuple[str, str]":
    """Targeted vector deletion from the PQ index — victims' stale
    codes and vectors live in their own literal vbucket partitions
    (vbucket is a pure function of vec_id), so exactly those rewrite;
    frozen codebooks link through; atomic versioned commit. Returns the
    current (codes, cents) paths."""
    from ..sources import versioning as vn

    codes_p, cents_p = build_pq_index(spark, sf_dir, m, k, iters)
    cur = os.path.dirname(codes_p)
    root = os.path.dirname(cur)

    ids = vec_ids.select("vec_id").dropDuplicates(["vec_id"])
    vbuckets = sorted(
        r["b"]
        for r in ids.select(vec_bucket_expr(F.col("vec_id")).alias("b"))
        .distinct()
        .collect()
    )
    if not vbuckets:
        return codes_p, cents_p
    victim_ids = (
        spark.read.schema(VECS_SCHEMA).parquet(os.path.join(cur, "vecs"))
        .filter(F.col("vbucket").isin(vbuckets))
        .join(ids, "vec_id", "leftsemi")
        .select("vec_id")
        .localCheckpoint(eager=True)
    )
    rw_vb = sorted(
        r["b"]
        for r in victim_ids.select(
            vec_bucket_expr(F.col("vec_id")).alias("b")
        ).distinct().collect()
    )
    if not rw_vb:
        return codes_p, cents_p

    plans = [
        vn.Component(
            comp,
            ("vbucket",),
            frozenset(f"vbucket={b}" for b in rw_vb),
            (
                spark.read.schema(
                    PQ_CODES_SCHEMA if comp == "codes" else VECS_SCHEMA
                )
                .parquet(os.path.join(cur, comp))
                .filter(F.col("vbucket").isin(rw_vb))
                .join(victim_ids, "vec_id", "left_anti")
                .select(*cols),
            ),
        )
        for comp, cols in (
            ("codes", ["vbucket", "vec_id", "subspace", "code"]),
            ("vecs", ["vbucket", "vec_id", "emb"]),
        )
    ]
    plans.append(vn.Component("cents", link_from=cents_p))
    new_cur = vn.commit_version(
        spark,
        root,
        plans,
        expected=os.path.basename(cur),
        compact=PQ_COMPONENTS,
        compact_threshold=auto_compact_threshold,
    )
    return os.path.join(new_cur, "codes"), os.path.join(new_cur, "cents")


# ---------------------------------------------------------------------------
# IVF+PQ composed index (r10) — the FAISS IVFADC layout: per-cell posting
# lists of PQ codes. The r10 clustered-recall measurement (BASELINE.md)
# showed the split empirically: IVF cells capture BETWEEN-cluster
# structure (recall 1.00 at nprobe=1 on clustered data) while PQ codes
# alone saturate ranking WITHIN a cluster — composing them probes nprobe
# cells and reads m small ints per member vector, the standard
# billion-scale serving layout (Jégou et al. 2011 §IV; reference parity:
# ChromaDB's HNSW fills the same serve-k-of-the-corpus role,
# coding_agent/tools/vector_search_tool.py:33-79).
# ---------------------------------------------------------------------------

IVFPQ_PLIST_SCHEMA = "vec_id bigint, subspace int, code int, cluster int"

# compact_index component spec — used by the update/delete
# auto-compaction hook.
IVFPQ_COMPONENTS = [
    ("plist", ["cluster"]),
    ("vecs", ["vbucket"]),
    ("cents", []),
    ("pqcents", []),
]


def ivfpq_index_root(
    sf_dir: str, n_centroids: int, ivf_iters: int, m: int, k: int, pq_iters: int
) -> str:
    from ..memo import index_root

    return index_root(
        "ivfpq_index", sf_dir, n_centroids, ivf_iters, m, k, pq_iters,
        N_VEC_BUCKETS,
    )


def _residual_frame(
    vecs: DataFrame, assign: DataFrame, cents: DataFrame
) -> DataFrame:
    """(vec_id, emb) residuals ``vector - its cell centroid`` — the
    quantity residual PQ encodes (Jégou 2011 §IV.A: within-cell offsets
    are small and isotropic-ish, so a fixed bit budget ranks them far
    better than raw positions — the fix for the r10 measured PQ
    saturation on clustered data, BASELINE.md). Exact elementwise
    IEEE subtraction (zip_with), centroids enter as a k-row broadcast."""
    return (
        vecs.select("vec_id", "emb")
        .join(assign, "vec_id")
        .join(F.broadcast(cents.select("cluster", "c")), "cluster")
        .select(
            "vec_id",
            F.zip_with("emb", "c", lambda a, b: a - b).alias("emb"),
        )
    )


def build_ivfpq_index(
    spark: SparkSession,
    sf_dir: str,
    n_centroids: int = 8,
    ivf_iters: int = 2,
    m: int = PQ_M,
    k: int = PQ_K,
    pq_iters: int = 2,
) -> str:
    """Materialize the composed index and return the current version dir.
    Coarse centroids and the vector store come from ``build_ivf_index``
    (train-once/serve-many); the codebooks are trained HERE on the
    RESIDUALS (vector − cell centroid) — the canonical IVFADC — and the
    new component is ``plist/cluster=*/`` = per-cell posting lists of
    residual codes, which a probe scans with a literal cluster
    partition filter. cents/vecs enter as hardlinks of the IVF index's
    current version (immutable files, metadata-only)."""
    from ..sources import versioning as vn

    root = ivfpq_index_root(sf_dir, n_centroids, ivf_iters, m, k, pq_iters)
    cur = vn.current_dir(root)
    if cur is not None:
        return cur
    assign_p, ivf_cents_p = build_ivf_index(spark, sf_dir, n_centroids, ivf_iters)
    ivf_dir = os.path.dirname(assign_p)
    assign = spark.read.schema(IVF_ASSIGN_SCHEMA).parquet(assign_p)
    vecs = spark.read.schema(VECS_SCHEMA).parquet(os.path.join(ivf_dir, "vecs"))
    cents = spark.read.parquet(ivf_cents_p)
    resid = _residual_frame(vecs, assign, cents).localCheckpoint(eager=True)
    codes, pqcents = _pq_codebooks_for(resid, m, k, pq_iters)
    pqcents = pqcents.localCheckpoint(eager=True)
    plist = codes.join(assign, "vec_id").select(
        "vec_id", "subspace", "code", "cluster"
    ).localCheckpoint(eager=True)
    import json as _json

    stats = _ivfpq_stats_of(resid, plist, pqcents, m)
    try:
        return vn.commit_version(
            spark,
            root,
            [
                vn.Component("plist", ("cluster",), frozenset(), (plist,)),
                vn.Component("pqcents", writes=(pqcents,)),
                vn.Component("vecs", link_from=os.path.join(ivf_dir, "vecs")),
                vn.Component("cents", link_from=ivf_cents_p),
            ],
            expected=None,
            extra_files={"build_stats.json": _json.dumps(stats)},
        )
    except vn.ConcurrentWriterError:
        # an interleaved builder won the race to the initial version —
        # theirs is equivalent (same corpus fingerprint in the root tag)
        return vn.current_dir(root)


def _ivfpq_trained_rows(spark: SparkSession, cur: str):
    """(coarse centroid rows, pq codebook rows) collected from the
    index's own frozen components — k and m*k tiny rows."""
    cents = sorted(
        ((r["cluster"], list(r["c"])) for r in
         spark.read.parquet(os.path.join(cur, "cents")).collect()),
        key=lambda t: t[0],
    )
    pqcents = [
        {"subspace": r["subspace"], "code": r["code"], "c": list(r["c"])}
        for r in spark.read.parquet(os.path.join(cur, "pqcents")).collect()
    ]
    return cents, pqcents


def ann_ivfpq_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    topk: int = 10,
    nprobe: int = 2,
    candidates: int = 50,
    n_centroids: int = 8,
    ivf_iters: int = 2,
    m: int = PQ_M,
    codebook_k: int = PQ_K,
    pq_iters: int = 2,
) -> DataFrame:
    """IVFADC serving: rank the k coarse centroids DRIVER-side (4-dp
    ROUND_HALF_UP cosine, cluster tie-break — the ann_ivf_trained_topk
    contract), statically prune the posting list to the nprobe literal
    cells, rank members by PER-CELL residual ADC tables (the query's
    residual against each probed cell's centroid — nprobe x m x k tiny
    rows, driver-computed, one broadcast), then exact-rerank the top
    ``candidates`` from the index's vecs/ store. 100 TB shape: the scan
    reads nprobe/k of the corpus at m small ints per vector; full
    vectors are touched only for ``candidates`` rows; every distance
    travels as floor-scaled BIGINT micro-units (integer-exact
    cross-engine)."""
    from ..memo import session_memo

    cur = build_ivfpq_index(
        spark, sf_dir, n_centroids, ivf_iters, m, codebook_k, pq_iters
    )
    cent_rows, pqcent_rows = session_memo(
        spark, sf_dir, "ivfpq_trained_rows",
        lambda: _ivfpq_trained_rows(spark, cur),
        n_centroids, ivf_iters, m, codebook_k, pq_iters,
    )
    return _ivfpq_serve(
        spark, cur, cent_rows, pqcent_rows, query_vec_id, topk, nprobe,
        candidates, m,
    )


def _ivfpq_serve(
    spark: SparkSession,
    cur: str,
    cent_rows: list,
    pqcent_rows: list,
    query_vec_id: int,
    topk: int,
    nprobe: int,
    candidates: int,
    m: int,
) -> DataFrame:
    """The shared IVFADC serve tail (full-trained and sample-trained
    indexes share one layout, so they share one probe): driver-ranked
    coarse centroids, literal nprobe cell pruning on the plist, per-cell
    residual ADC tables, exact micro-unit rerank from vecs/."""
    from decimal import ROUND_HALF_UP, Decimal

    from ..functions.vector import dot_product

    # r17 (VERDICT r16 next #7): memoized handles + scoped-AQE point
    # read — the graph family's r16 serving discipline applied to the
    # IVFPQ probe (the query-vector head() is a single-stage pruned
    # collect; AQE only adds a driver round-trip to it)
    from ..memo import component_df

    vecs = component_df(spark, cur, "vecs", VECS_SCHEMA)
    aqe_was = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        qrow = vecs.filter(
            (F.col("vbucket") == vec_bucket_py(query_vec_id))
            & (F.col("vec_id") == query_vec_id)
        ).select(F.col("emb").alias("q")).head()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_was)
    if qrow is None:
        raise ValueError(f"query vec_id {query_vec_id} not found")
    q = [float(x) for x in qrow["q"]]

    import math

    def cos(c: list) -> float:
        num = dd = 0.0
        for a, b in zip(c, q):
            num += a * b
            dd += a * a
        return num / (math.sqrt(dd) * math.sqrt(sum(b * b for b in q)))

    four = Decimal("0.0001")
    ranked = sorted(
        (
            (Decimal(repr(cos(c))).quantize(four, rounding=ROUND_HALF_UP), cl)
            for cl, c in cent_rows
        ),
        key=lambda t: (-t[0], t[1]),
    )
    cells = [int(cl) for _, cl in ranked[:nprobe]]

    # Per-cell residual ADC tables: for each probed cell, the query's
    # RESIDUAL against that cell's centroid, sliced per subspace against
    # the frozen residual codebooks — nprobe x m x k rows, all
    # driver-known, one broadcast. Keyed by (cluster, subspace, code),
    # so a member vector's distance uses its OWN cell's table.
    d = PQ_DIM // m
    cent_by_id = dict(cent_rows)
    dtab_rows = []
    for cell in cells:
        cc = cent_by_id[cell]
        qr = [a - b for a, b in zip(q, cc)]
        qsub = {s: qr[s * d : (s + 1) * d] for s in range(m)}
        for row in pqcent_rows:
            s, code, c = row["subspace"], row["code"], row["c"]
            qs = qsub[s]
            d2 = (
                sum(a * a for a in qs)
                - 2 * sum(a * b for a, b in zip(qs, c))
                + sum(b * b for b in c)
            )
            dtab_rows.append(
                (cell, s, code, int(math.floor(d2 * 1000000.0 + 0.5)))
            )
    dtab = spark.createDataFrame(
        dtab_rows, "cluster int, subspace int, code int, d2_micro bigint"
    )

    plist = component_df(spark, cur, "plist", IVFPQ_PLIST_SCHEMA)
    cand = (
        plist.filter(
            F.col("cluster").isin(cells) & (F.col("vec_id") != query_vec_id)
        )
        .join(F.broadcast(dtab), ["cluster", "subspace", "code"])
        .groupBy("vec_id")
        .agg(F.sum("d2_micro").alias("adc_d2_micro"))
        .orderBy(F.asc("adc_d2_micro"), F.asc("vec_id"))
        .limit(candidates)
        .select("vec_id")
    )
    qlit = F.expr("array(" + ",".join(_double_sql(x) for x in q) + ")")
    d2x = (
        dot_product(F.col("emb"), F.col("emb"))
        - 2 * dot_product(F.col("emb"), qlit)
        + F.lit(sum(x * x for x in q))
    )
    return (
        vecs.join(F.broadcast(cand), "vec_id")
        .select(
            "vec_id",
            F.floor(d2x * F.lit(1000000.0) + F.lit(0.5))
            .cast("bigint")
            .alias("d2_micro"),
        )
        .orderBy(F.asc("d2_micro"), F.asc("vec_id"))
        .limit(topk)
    )


def ivfpq_sampled_root(
    sf_dir: str, n_centroids: int, ivf_iters: int, m: int, k: int,
    pq_iters: int, train_per_cell: int,
) -> str:
    from ..memo import index_root

    return index_root(
        "ivfpq_index_sampled", sf_dir, n_centroids, ivf_iters, m, k,
        pq_iters, train_per_cell, N_VEC_BUCKETS,
    )


def build_ivfpq_index_sampled(
    spark: SparkSession,
    sf_dir: str,
    n_centroids: int = 8,
    ivf_iters: int = 2,
    m: int = PQ_M,
    k: int = PQ_K,
    pq_iters: int = 2,
    train_per_cell: int = 32,
) -> str:
    """IVFADC with BOTH trainers on the sample — the complete FAISS
    train/add split for the composed index (SCALE.md r11: full-corpus
    Lloyd's with c ∝ n is quadratic; production trains coarse centroids
    AND residual codebooks on one ~O(100)·c sample, then encodes the
    corpus in one frozen pass). Coarse stage reuses
    ``build_ivf_index_sampled`` (md5-top-s sample, rank re-keying, one
    full-corpus ``assign_to_centroids`` pass); the residual codebooks
    train on the SAME sample's residuals (vector − its assigned cell
    centroid from the FULL assignment), rank-keyed again so the
    per-subspace ``_lloyd`` seeding is deterministic and
    SQL-mirrorable; the full corpus then encodes through
    ``pq_encode_for`` under the frozen codebooks. Training cost:
    O(s·c·ivf_iters + s·m·k·pq_iters) — independent of corpus size;
    the corpus pays exactly one assignment pass and one encode pass.
    Same component layout as ``build_ivfpq_index`` (plist/pqcents +
    hardlinked vecs/cents), so serving is byte-for-byte the shared
    ``_ivfpq_serve`` probe."""
    from pyspark.sql.window import Window

    from ..sources import versioning as vn

    root = ivfpq_sampled_root(
        sf_dir, n_centroids, ivf_iters, m, k, pq_iters, train_per_cell
    )
    cur = vn.current_dir(root)
    if cur is not None:
        return cur
    assign_p, ivf_cents_p = build_ivf_index_sampled(
        spark, sf_dir, n_centroids, ivf_iters, train_per_cell
    )
    ivf_dir = os.path.dirname(assign_p)
    assign = spark.read.schema(IVF_ASSIGN_SCHEMA).parquet(assign_p)
    vecs = spark.read.schema(VECS_SCHEMA).parquet(os.path.join(ivf_dir, "vecs"))
    cents = spark.read.parquet(ivf_cents_p)

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    s = n_centroids * train_per_cell
    md = F.md5(F.col("vec_id").cast("string"))
    sample = (
        e.select("vec_id", "emb", md.alias("_md"))
        .orderBy("_md", "vec_id")
        .limit(s)
        .localCheckpoint(eager=True)
    )
    w = Window.orderBy("_md", "vec_id")
    ranks = sample.select(
        "vec_id", (F.row_number().over(w) - 1).cast("bigint").alias("rk")
    )
    samp_resid = _residual_frame(
        sample.select("vec_id", "emb"), assign, cents
    )
    ranked_resid = samp_resid.join(ranks, "vec_id").select(
        F.col("rk").alias("vec_id"), "emb"
    )
    _, pqcents = _pq_codebooks_for(ranked_resid, m, k, pq_iters)
    pqcents = pqcents.localCheckpoint(eager=True)
    pqcent_rows = [
        {"subspace": r["subspace"], "code": r["code"], "c": list(r["c"])}
        for r in pqcents.collect()
    ]
    resid_full = _residual_frame(vecs, assign, cents).localCheckpoint(
        eager=True
    )
    codes = pq_encode_for(resid_full, pqcent_rows, m)
    plist = codes.join(assign, "vec_id").select(
        "vec_id", "subspace", "code", "cluster"
    ).localCheckpoint(eager=True)
    import json as _json

    stats = _ivfpq_stats_of(resid_full, plist, pqcents, m)
    try:
        return vn.commit_version(
            spark,
            root,
            [
                vn.Component("plist", ("cluster",), frozenset(), (plist,)),
                vn.Component("pqcents", writes=(pqcents,)),
                vn.Component("vecs", link_from=os.path.join(ivf_dir, "vecs")),
                vn.Component("cents", link_from=ivf_cents_p),
            ],
            expected=None,
            extra_files={"build_stats.json": _json.dumps(stats)},
        )
    except vn.ConcurrentWriterError:
        return vn.current_dir(root)


def ann_ivfpq_sampled_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    topk: int = 10,
    nprobe: int = 2,
    candidates: int = 50,
    n_centroids: int = 8,
    ivf_iters: int = 2,
    m: int = PQ_M,
    codebook_k: int = PQ_K,
    pq_iters: int = 2,
    train_per_cell: int = 32,
) -> DataFrame:
    """IVFADC serving over the fully SAMPLE-TRAINED composed index
    (``build_ivfpq_index_sampled``) — the identical ``_ivfpq_serve``
    probe as ``ann_ivfpq_topk``; the DuckDB twin replays the sampled
    coarse chain, the sampled residual codebooks, the frozen-codebook
    full-corpus encode, and the ADC + exact rerank, hash-equal."""
    from ..memo import session_memo

    cur = build_ivfpq_index_sampled(
        spark, sf_dir, n_centroids, ivf_iters, m, codebook_k, pq_iters,
        train_per_cell,
    )
    cent_rows, pqcent_rows = session_memo(
        spark, sf_dir, "ivfpq_sampled_rows",
        lambda: _ivfpq_trained_rows(spark, cur),
        n_centroids, ivf_iters, m, codebook_k, pq_iters, train_per_cell,
    )
    return _ivfpq_serve(
        spark, cur, cent_rows, pqcent_rows, query_vec_id, topk, nprobe,
        candidates, m,
    )


def update_ivfpq_index(
    spark: SparkSession,
    sf_dir: str,
    new_vecs: DataFrame,
    n_centroids: int = 8,
    ivf_iters: int = 2,
    m: int = PQ_M,
    k: int = PQ_K,
    pq_iters: int = 2,
    auto_compact_threshold: int = 16,
) -> str:
    """Incremental IVFPQ maintenance under FROZEN coarse centroids and
    codebooks (FAISS ``add`` after ``train``), vec-level REPLACE:
    the batch assigns through ``assign_to_centroids`` and encodes
    through ``pq_encode_for`` (identical arithmetic to the build);
    append-mostly — new ids append plist/vecs rows into hardlinked
    partitions with zero reads of existing index data; re-submitted
    ids rewrite exactly their OLD cells (re-derived from the stored
    vectors under the frozen centroids) and vbuckets. Shared-kernel
    CAS commit; drift is answered by periodic retrains as everywhere
    in this family. Returns the new current version dir."""
    from ..sources import versioning as vn

    cur = build_ivfpq_index(
        spark, sf_dir, n_centroids, ivf_iters, m, k, pq_iters
    )
    root = os.path.dirname(cur)
    cent_rows, pqcent_rows = _ivfpq_trained_rows(spark, cur)
    cents_dicts = [{"cluster": cl, "c": c} for cl, c in cent_rows]

    emb_col = "embedding" if "embedding" in new_vecs.columns else "emb"
    batch = (
        new_vecs.select(
            "vec_id", F.col(emb_col).cast("array<double>").alias("emb")
        )
        .dropDuplicates(["vec_id"])
        .localCheckpoint(eager=True)
    )
    batch_ids = batch.select("vec_id")
    vbuckets = sorted(
        r["b"]
        for r in batch_ids.select(
            vec_bucket_expr(F.col("vec_id")).alias("b")
        ).distinct().collect()
    )
    if not vbuckets:
        return cur
    # residual encoding under the frozen centroids + codebooks — the
    # same _residual_frame/pq_encode_for kernels as the build, so batch
    # codes are byte-identical to build-time codes.
    cents_df = spark.createDataFrame(
        [(int(cl), [float(x) for x in c]) for cl, c in cent_rows],
        "cluster int, c array<double>",
    )
    batch_assign = (
        assign_to_centroids(batch, cents_dicts)
        .select("vec_id", "cluster")
        .localCheckpoint(eager=True)
    )
    batch_resid = _residual_frame(batch, batch_assign, cents_df)
    batch_plist = (
        pq_encode_for(batch_resid, pqcent_rows, m)
        .join(batch_assign, "vec_id")
        .select("vec_id", "subspace", "code", "cluster")
        .localCheckpoint(eager=True)
    )

    old_vecs_aff = spark.read.schema(VECS_SCHEMA).parquet(
        os.path.join(cur, "vecs")
    ).filter(F.col("vbucket").isin(vbuckets))
    resub = (
        old_vecs_aff.join(batch_ids, "vec_id", "leftsemi")
        .select("vbucket", "vec_id", "emb")
        .localCheckpoint(eager=True)
    )
    resub_ids = resub.select("vec_id")
    rw_cells = sorted(
        r["cluster"]
        for r in assign_to_centroids(
            resub.select("vec_id", "emb"), cents_dicts
        )
        .select("cluster")
        .distinct()
        .collect()
    )
    rw_vb = sorted(
        r["vbucket"] for r in resub.select("vbucket").distinct().collect()
    )

    plist_writes = []
    if rw_cells:
        plist_writes.append(
            spark.read.schema(IVFPQ_PLIST_SCHEMA)
            .parquet(os.path.join(cur, "plist"))
            .filter(F.col("cluster").isin(rw_cells))
            .join(resub_ids, "vec_id", "left_anti")
            .select("vec_id", "subspace", "code", "cluster")
        )
    plist_writes.append(
        batch_plist.select("vec_id", "subspace", "code", "cluster")
    )
    vec_writes = []
    if rw_vb:
        vec_writes.append(
            spark.read.schema(VECS_SCHEMA)
            .parquet(os.path.join(cur, "vecs"))
            .filter(F.col("vbucket").isin(rw_vb))
            .join(resub_ids, "vec_id", "left_anti")
            .select("vbucket", "vec_id", "emb")
        )
    vec_writes.append(
        batch.select(
            vec_bucket_expr(F.col("vec_id")).alias("vbucket"), "vec_id", "emb"
        )
    )
    return vn.commit_version(
        spark,
        root,
        [
            vn.Component(
                "plist",
                ("cluster",),
                frozenset(f"cluster={c}" for c in rw_cells),
                tuple(plist_writes),
            ),
            vn.Component(
                "vecs",
                ("vbucket",),
                frozenset(f"vbucket={b}" for b in rw_vb),
                tuple(vec_writes),
            ),
            vn.Component("cents", link_from=os.path.join(cur, "cents")),
            vn.Component("pqcents", link_from=os.path.join(cur, "pqcents")),
        ],
        expected=os.path.basename(cur),
        compact=IVFPQ_COMPONENTS,
        compact_threshold=auto_compact_threshold,
    )


def delete_from_ivfpq_index(
    spark: SparkSession,
    sf_dir: str,
    vec_ids: DataFrame,
    n_centroids: int = 8,
    ivf_iters: int = 2,
    m: int = PQ_M,
    k: int = PQ_K,
    pq_iters: int = 2,
    auto_compact_threshold: int = 16,
) -> str:
    """Targeted vector deletion from the composed index — victims'
    cells re-derived from their stored vectors under the frozen coarse
    centroids; only those cell and vbucket partitions rewrite; frozen
    cents/pqcents link through; CAS commit. Returns the current dir."""
    from ..sources import versioning as vn

    cur = build_ivfpq_index(
        spark, sf_dir, n_centroids, ivf_iters, m, k, pq_iters
    )
    root = os.path.dirname(cur)
    cent_rows, _ = _ivfpq_trained_rows(spark, cur)
    cents_dicts = [{"cluster": cl, "c": c} for cl, c in cent_rows]

    ids = vec_ids.select("vec_id").dropDuplicates(["vec_id"])
    vbuckets = sorted(
        r["b"]
        for r in ids.select(vec_bucket_expr(F.col("vec_id")).alias("b"))
        .distinct()
        .collect()
    )
    if not vbuckets:
        return cur
    victims = (
        spark.read.schema(VECS_SCHEMA)
        .parquet(os.path.join(cur, "vecs"))
        .filter(F.col("vbucket").isin(vbuckets))
        .join(ids, "vec_id", "leftsemi")
        .localCheckpoint(eager=True)
    )
    victim_ids = victims.select("vec_id")
    rw_vb = sorted(
        r["vbucket"] for r in victims.select("vbucket").distinct().collect()
    )
    if not rw_vb:
        return cur
    rw_cells = sorted(
        r["cluster"]
        for r in assign_to_centroids(
            victims.select("vec_id", "emb"), cents_dicts
        )
        .select("cluster")
        .distinct()
        .collect()
    )

    plist_writes = []
    if rw_cells:
        plist_writes.append(
            spark.read.schema(IVFPQ_PLIST_SCHEMA)
            .parquet(os.path.join(cur, "plist"))
            .filter(F.col("cluster").isin(rw_cells))
            .join(victim_ids, "vec_id", "left_anti")
            .select("vec_id", "subspace", "code", "cluster")
        )
    return vn.commit_version(
        spark,
        root,
        [
            vn.Component(
                "plist",
                ("cluster",),
                frozenset(f"cluster={c}" for c in rw_cells),
                tuple(plist_writes),
            ),
            vn.Component(
                "vecs",
                ("vbucket",),
                frozenset(f"vbucket={b}" for b in rw_vb),
                (
                    spark.read.schema(VECS_SCHEMA)
                    .parquet(os.path.join(cur, "vecs"))
                    .filter(F.col("vbucket").isin(rw_vb))
                    .join(victim_ids, "vec_id", "left_anti")
                    .select("vbucket", "vec_id", "emb"),
                ),
            ),
            vn.Component("cents", link_from=os.path.join(cur, "cents")),
            vn.Component("pqcents", link_from=os.path.join(cur, "pqcents")),
        ],
        expected=os.path.basename(cur),
        compact=IVFPQ_COMPONENTS,
        compact_threshold=auto_compact_threshold,
    )


def _ivfpq_stats_of(
    resid: DataFrame, plist: DataFrame, pqcents: DataFrame, m: int
) -> dict:
    """Population/quantization-error snapshot of an IVFADC index — the
    composed-index analog of ``_ivf_stats_of``: row count, largest cell
    population, and the MEAN SQUARED RESIDUAL-QUANTIZATION ERROR
    (||residual_subvector − its codeword||² averaged over (vector,
    subspace) rows). Coarse drift stretches residuals; codebook
    staleness shows up directly as qerr growth — the signal
    ``update_ivfpq_index``'s frozen train/add split cannot see.
    One broadcast-joined corpus pass + one tiny population aggregate;
    diagnostic doubles (not oracle-checked)."""
    d = PQ_DIM // m
    sub = F.slice(F.col("emb"), F.col("subspace") * d + 1, F.lit(d))
    e2 = F.aggregate(
        F.zip_with(sub, F.col("c"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    row = (
        resid.join(plist.select("vec_id", "subspace", "code"), "vec_id")
        .join(F.broadcast(pqcents.select("subspace", "code", "c")),
              ["subspace", "code"])
        .agg(F.count(F.lit(1)).alias("rows"), F.avg(e2).alias("qerr"))
        .head()
    )
    asg = plist.select("vec_id", "cluster").distinct()
    pop = (
        asg.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.count(F.lit(1)).alias("cells"),
            F.max("n").alias("mx"),
            F.sum("n").alias("total"),
        )
        .head()
    )
    return {
        "n": int(pop["total"] or 0),
        "cells": int(pop["cells"] or 0),
        "max_cell": int(pop["mx"] or 0),
        "mean_qerr": float(row["qerr"]) if row["qerr"] is not None else 0.0,
    }


def _ivfpq_stats_of_version(spark: SparkSession, ver_dir: str, m: int) -> dict:
    plist = spark.read.schema(IVFPQ_PLIST_SCHEMA).parquet(
        os.path.join(ver_dir, "plist")
    )
    vecs = spark.read.schema(VECS_SCHEMA).parquet(os.path.join(ver_dir, "vecs"))
    cents = spark.read.parquet(os.path.join(ver_dir, "cents"))
    pqcents = spark.read.parquet(os.path.join(ver_dir, "pqcents"))
    assign = plist.select("vec_id", "cluster").distinct()
    resid = _residual_frame(vecs, assign, cents)
    return _ivfpq_stats_of(resid, plist, pqcents, m)


def ivfpq_drift_metrics(
    spark: SparkSession,
    sf_dir: str,
    n_centroids: int = 8,
    ivf_iters: int = 2,
    m: int = PQ_M,
    k: int = PQ_K,
    pq_iters: int = 2,
) -> dict:
    """Drift detector for the streamed-ingest IVFADC index — the
    composed-index half of VERDICT r11 next #4 (``ivf_drift_metrics``
    covers the plain IVF root): ``update_ivfpq_index`` /
    ``stream_ivfpq_index_ingest`` encode new vectors under FROZEN
    coarse centroids AND codebooks forever, so a drifting corpus
    degrades ADC ranking quality invisibly. Compares the current
    version's mean residual-quantization error + cell skew against the
    ``build_stats.json`` frozen at (re)train time; fires ``drifted``
    past the shared thresholds — the signal to run
    ``rebalance_ivfpq_index``. Returns diagnostics; drifted=None on a
    legacy version without build stats."""
    import json as _json

    cur = build_ivfpq_index(spark, sf_dir, n_centroids, ivf_iters, m, k, pq_iters)
    now = _ivfpq_stats_of_version(spark, cur, m)
    out: dict = {"now": now, "built": None, "drifted": None}
    p = os.path.join(cur, "build_stats.json")
    if not os.path.exists(p):
        return out
    with open(p) as f:
        built = _json.load(f)
    out["built"] = built
    growth = (
        now["mean_qerr"] / built["mean_qerr"]
        if built.get("mean_qerr", 0) > 0
        else None
    )
    even = now["n"] / built["cells"] if built.get("cells") else None
    skew = now["max_cell"] / even if even else None
    out["qerr_growth"] = growth
    out["cell_skew"] = skew
    out["drifted"] = bool(
        (growth is not None and growth > DRIFT_RESIDUAL_THRESHOLD)
        or (skew is not None and skew > DRIFT_SKEW_THRESHOLD)
    )
    return out


def fsck_ivfpq_index(
    spark: SparkSession,
    sf_dir: str,
    n_centroids: int = 8,
    ivf_iters: int = 2,
    m: int = PQ_M,
    k: int = PQ_K,
    pq_iters: int = 2,
) -> list:
    """IVFADC integrity + drift: the generic versioned-root checks,
    plist<->vecs id agreement, exactly ``m`` codes per vector, every
    (subspace, code) backed by a codebook entry, every assigned cell
    backed by a coarse centroid, plus the drift metrics as an advisory
    row. Returns (check, ok, detail); never raises."""
    from ..sources import versioning as vn

    cur = build_ivfpq_index(spark, sf_dir, n_centroids, ivf_iters, m, k, pq_iters)
    root = os.path.dirname(cur)
    out = vn.fsck_index(
        spark,
        root,
        [
            ("plist", ["cluster"], IVFPQ_PLIST_SCHEMA),
            ("pqcents", [], "subspace int, code int, c array<double>"),
            ("vecs", ["vbucket"], VECS_SCHEMA),
            ("cents", [], "cluster int, c array<double>"),
        ],
    )
    plist = spark.read.schema(IVFPQ_PLIST_SCHEMA).parquet(
        os.path.join(cur, "plist")
    )
    vecs = spark.read.schema(VECS_SCHEMA).parquet(os.path.join(cur, "vecs"))
    p_only = (
        plist.select("vec_id").distinct().join(vecs, "vec_id", "left_anti").count()
    )
    v_only = (
        vecs.select("vec_id").join(plist.select("vec_id"), "vec_id", "left_anti")
        .count()
    )
    out.append(
        ("plist_vecs_same_ids", p_only == 0 and v_only == 0,
         f"plist_only={p_only} vecs_only={v_only}")
    )
    bad_m = (
        plist.groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") != m)
        .count()
    )
    out.append(("m_codes_per_vector", bad_m == 0, f"bad={bad_m} m={m}"))
    pqcents = spark.read.parquet(os.path.join(cur, "pqcents"))
    orphan_code = (
        plist.select("subspace", "code")
        .distinct()
        .join(pqcents.select("subspace", "code"), ["subspace", "code"],
              "left_anti")
        .count()
    )
    out.append(
        ("codes_have_codebook_entries", orphan_code == 0,
         f"orphans={orphan_code}")
    )
    cents = {
        r["cluster"]
        for r in spark.read.parquet(os.path.join(cur, "cents")).collect()
    }
    orphan_cell = (
        plist.select("cluster")
        .distinct()
        .filter(~F.col("cluster").isin(sorted(cents)))
        .count()
    )
    out.append(
        ("assigned_cells_have_centroids", orphan_cell == 0,
         f"orphan_cells={orphan_cell}")
    )
    dm = ivfpq_drift_metrics(spark, sf_dir, n_centroids, ivf_iters, m, k, pq_iters)
    if dm["drifted"] is None:
        out.append(("codebook_drift", True, "no build_stats.json (legacy build)"))
    else:
        out.append(
            (
                "codebook_drift",
                not dm["drifted"],
                f"qerr_growth={dm['qerr_growth'] and round(dm['qerr_growth'], 3)} "
                f"cell_skew={dm['cell_skew'] and round(dm['cell_skew'], 3)}"
                + (" — run rebalance_ivfpq_index" if dm["drifted"] else ""),
            )
        )
    return out


def rebalance_ivfpq_index(
    spark: SparkSession,
    sf_dir: str,
    n_centroids: int = 8,
    ivf_iters: int = 2,
    m: int = PQ_M,
    k: int = PQ_K,
    pq_iters: int = 2,
    train_per_cell: int = 32,
) -> str:
    """Retrain the drifted composed index — coarse centroids AND
    residual codebooks — on the index's OWN ``vecs/`` store (the corpus
    of record after ingest), then re-encode everything in one frozen
    pass: the ``build_ivfpq_index_sampled`` arithmetic replayed over
    the ingested corpus (sampled trainers, so retrain cost stays
    independent of n; the corpus pays one assignment + one encode
    pass — the same price a fresh build pays, because retrained
    codebooks change EVERY code; there is no reassign-only fast path
    for ADC, unlike ``rebalance_ivf_index``). The commit rewrites
    plist/cents/pqcents, hardlinks the fat vecs/, and refreezes
    ``build_stats.json`` so the drift baseline resets. CAS under the
    shared kernel. Returns the new current version dir."""
    import json as _json

    from pyspark.sql.window import Window

    from ..sources import versioning as vn

    cur = build_ivfpq_index(spark, sf_dir, n_centroids, ivf_iters, m, k, pq_iters)
    root = os.path.dirname(cur)
    vecs = spark.read.schema(VECS_SCHEMA).parquet(os.path.join(cur, "vecs"))
    e = vecs.select("vec_id", "emb")
    cent_rows = _sampled_centroid_rows(e, n_centroids, ivf_iters, train_per_cell)
    assign = assign_to_centroids(e, cent_rows).localCheckpoint(eager=True)
    cents_df = spark.createDataFrame(
        [(int(r["cluster"]), [float(x) for x in r["c"]]) for r in cent_rows],
        "cluster int, c array<double>",
    )
    # codebooks on the sample's residuals, rank-keyed (the sampled
    # build's exact discipline — deterministic _lloyd seeding)
    s = n_centroids * train_per_cell
    md = F.md5(F.col("vec_id").cast("string"))
    sample = (
        e.select("vec_id", "emb", md.alias("_md"))
        .orderBy("_md", "vec_id")
        .limit(s)
        .localCheckpoint(eager=True)
    )
    w = Window.orderBy("_md", "vec_id")
    ranks = sample.select(
        "vec_id", (F.row_number().over(w) - 1).cast("bigint").alias("rk")
    )
    samp_resid = _residual_frame(sample.select("vec_id", "emb"), assign, cents_df)
    ranked_resid = samp_resid.join(ranks, "vec_id").select(
        F.col("rk").alias("vec_id"), "emb"
    )
    _, pqcents = _pq_codebooks_for(ranked_resid, m, k, pq_iters)
    pqcents = pqcents.localCheckpoint(eager=True)
    pqcent_rows = [
        {"subspace": r["subspace"], "code": r["code"], "c": list(r["c"])}
        for r in pqcents.collect()
    ]
    resid_full = _residual_frame(vecs, assign, cents_df)
    codes = pq_encode_for(resid_full, pqcent_rows, m)
    plist = codes.join(assign, "vec_id").select(
        "vec_id", "subspace", "code", "cluster"
    )
    stats = _ivfpq_stats_of(resid_full, plist, pqcents, m)
    old_cells = frozenset(
        d for d in os.listdir(os.path.join(cur, "plist"))
        if d.startswith("cluster=")
    )
    return vn.commit_version(
        spark,
        root,
        [
            vn.Component("plist", ("cluster",), old_cells, (plist,)),
            vn.Component("pqcents", writes=(pqcents,)),
            vn.Component("vecs", link_from=os.path.join(cur, "vecs")),
            vn.Component("cents", writes=(cents_df,)),
        ],
        expected=os.path.basename(cur),
        compact=IVFPQ_COMPONENTS,
        extra_files={"build_stats.json": _json.dumps(stats)},
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
    """Batch k-NN JOIN blocked by TRAINED IVF CELLS — the clustered-data
    fast path ``knn_join_topk``'s contract promises (BASELINE.md: the
    band self-join's candidate volume is the documented isotropic worst
    case; "clustered real embeddings collapse it"). Candidates are
    SAME-CELL pairs only: on genuinely clustered data (the r10 fixture)
    a cell IS the neighborhood, so recall concentrates exactly where
    the candidates do. The trade is explicit and data-dependent:
    cross-cell neighbors are unreachable (SemDeDup makes the same
    within-cluster-only trade by design), so isotropic data prefers the
    band join and clustered data this one.

    Scale shape (VERDICT r10 next #1 — this was the repo's one
    super-linear key): ``n_centroids`` defaults to DERIVED, c =
    max(8, ceil(n / target_cell_size)) from a cheap corpus count, so
    expected cell population stays ~target_cell_size and total
    candidates ~n × target_cell_size — linear in n, where the old fixed
    c=8 made them n²/8. Zipfian hot cells (real cluster-size skew) are
    additionally bounded by ``cell_cap``: the NEIGHBOR side keeps at
    most cell_cap md5-selected members per cell (the exact
    ``cap_bucket_members`` discipline of the band join), so a hot
    cluster contributes m × cell_cap pairs, never m². Every vector
    still appears as a SOURCE in its own cell, so the output covers the
    whole corpus; only its candidate list is capped.

    Index-served: cell membership from the trained IVF ``assign/``
    store, scoring vectors from the SAME version's ``vecs/`` store —
    the corpus-of-record contract. One shuffle for the cell self-join
    (co-partitioned on cluster), one rank window on src. Zero-norm
    vectors are excluded from both sides BEFORE the cap (cosine is
    undefined for them and they must not waste cap slots — the
    knn_join_topk discipline); determinism via the _COS 4-dp round and
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
        # multi-probe SOURCE side (the graph build's boundary fix): each
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
    r = cap_bucket_members(nz_assign, cell_cap, bucket_cols=("cluster",)).select(
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
    # r17: the Arrow sequential-fold twin was tried and reverted here
    # too — see the knn_join_topk negative-result note
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
