"""Batch embedding stage — Arrow-vectorized pandas_udf.

The reference batch-encodes searchable documents with a SentenceTransformer
(all-MiniLM-L6-v2, 384-dim; reference: coding_agent/tools/indexing_agent.py:
50,353 and vector_search_tool.py:37). The Spark-native shape is a
``pandas_udf`` over Arrow record batches with a per-executor model singleton
— one model load per executor process, thousands of rows per encode() call,
exactly the batching the reference does manually (SURVEY.md §2.11, §4).

The container has no sentence-transformers/torch, so the model behind the
UDF is a deterministic hash-projection embedder (the documented fallback,
SURVEY.md §7 step 5): token -> md5 -> signed bucket, L2-normalized. Every
piece of Spark plumbing — Arrow batch transfer, schema, normalization, the
downstream k-NN — is identical to what a real model would use; swapping in
SentenceTransformer changes only ``_encode_batch``.
"""

from __future__ import annotations

import hashlib
import os

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType

from ..functions.predicates import pair_eq_any
from ..memo import component_df
from ..sources.tables import load_table

EMBED_DIM = 64

# Per-executor "model" handle (lazy; a SentenceTransformer would be loaded
# here on first use — one load per executor, not per batch).
_MODEL = None


def _get_model():
    """Per-executor model singleton.

    Set ``SPARK_GRAFT_EMBED_MODEL`` (e.g. ``all-MiniLM-L6-v2``) to load a
    real SentenceTransformer (the reference's encoder, indexing_agent.py:
    50,353) — a GPU environment is a one-env-var swap, no code change.
    Unset (the default, and the only option in this container: no torch),
    the deterministic hash-projection embedder runs instead; it is the
    oracle-checked path, so the env gate also keeps CI deterministic.
    """
    global _MODEL
    if _MODEL is None:
        import os

        model_name = os.environ.get("SPARK_GRAFT_EMBED_MODEL")
        if model_name:
            _MODEL = _SentenceTransformerModel(model_name)
        else:
            _MODEL = _HashProjectionModel(EMBED_DIM)
    return _MODEL


class _SentenceTransformerModel:
    """Real-model adapter: same ``encode(list[str]) -> list[list[float]]``
    surface as the fallback, normalized embeddings for cosine-as-dot."""

    def __init__(self, model_name: str):
        from sentence_transformers import SentenceTransformer

        self._model = SentenceTransformer(model_name)
        self.dim = self._model.get_sentence_embedding_dimension()

    def encode(self, texts: list[str]) -> list[list[float]]:
        vecs = self._model.encode(list(texts), normalize_embeddings=True)
        return [v.tolist() for v in vecs]


class _HashProjectionModel:
    """Deterministic stand-in for SentenceTransformer.encode().

    token -> 60-bit md5 prefix h; bucket = h % dim; sign = bit 6 of h;
    vector = L2-normalized signed bucket counts. Matches the DuckDB oracle
    expression in __spark_entry__ exactly (same md5 prefix arithmetic).
    """

    def __init__(self, dim: int):
        self.dim = dim

    def encode(self, texts: list[str]) -> list[list[float]]:
        import numpy as np

        out = []
        for t in texts:
            vec = np.zeros(self.dim, dtype="float64")
            for w in t.split(" "):
                h = int(hashlib.md5(w.encode("utf-8")).hexdigest()[:15], 16)
                vec[h % self.dim] += 1.0 if (h >> 6) & 1 else -1.0
            norm = float(np.sqrt((vec * vec).sum()))
            if norm > 0:
                vec = vec / norm
            out.append(vec.tolist())
        return out


def make_embed_udf():
    """Build the Arrow-batched embedding UDF (constructed lazily so importing
    this module never requires an active SparkSession)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(ArrayType(DoubleType()))
    def embed_batch(texts: pd.Series) -> pd.Series:
        model = _get_model()
        return pd.Series(model.encode(texts.tolist()))

    return embed_batch


# Per-spec model instances (executor- or driver-side): one model per
# distinct spec per process — the per-executor-singleton discipline,
# widened to several coexisting per-collection embedders.
_SPEC_MODELS: dict = {}


def resolve_model(spec: "dict | None" = None):
    """Embedder from a PER-COLLECTION spec (ChromaDB's per-collection
    ``embedding_function``, persisted in the collection sidecar like
    ``space``): ``{"kind": "hash_projection", "dim": N}`` or
    ``{"kind": "sentence_transformer", "model": name}``. ``None``
    falls back to the env-gated global singleton (``_get_model``) —
    the pre-r12 behavior, unchanged."""
    if spec is None:
        return _get_model()
    import json as _json

    key = _json.dumps(spec, sort_keys=True)
    if key not in _SPEC_MODELS:
        kind = spec.get("kind")
        if kind == "hash_projection":
            _SPEC_MODELS[key] = _HashProjectionModel(int(spec.get("dim", EMBED_DIM)))
        elif kind == "sentence_transformer":
            _SPEC_MODELS[key] = _SentenceTransformerModel(spec["model"])
        else:
            raise ValueError(
                f"unknown embedder kind {kind!r} — expected "
                f"'hash_projection' or 'sentence_transformer'"
            )
    return _SPEC_MODELS[key]


def make_embed_udf_for(spec: "dict | None" = None):
    """Arrow-batched embedding UDF bound to a per-collection spec: the
    (small) spec dict ships in the UDF closure; each executor resolves
    its model once per spec (``_SPEC_MODELS``)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(ArrayType(DoubleType()))
    def embed_batch(texts: pd.Series) -> pd.Series:
        model = resolve_model(spec)
        return pd.Series(model.encode(texts.tolist()))

    return embed_batch


def embed_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, embedding) through the Arrow batch path."""
    d = load_table(spark, sf_dir, "documents")
    embed = make_embed_udf()
    return d.select("doc_id", embed(F.col("text")).alias("embedding"))


DEFAULT_QUERY_TEXT = "spark query filter join"


def knn_text_query(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = DEFAULT_QUERY_TEXT,
    k: int = 5,
) -> DataFrame:
    """The reference's flagship semantic-search flow end-to-end (SURVEY.md
    §3.2): embed the natural-language query, embed the corpus, rank by
    cosine, top-k.

    The query embeds driver-side (one row — reference does the same,
    vector_search_tool.py:37) and enters the plan as a broadcast literal;
    documents embed executor-side through the Arrow batch path. Cosine of
    the two normalized vectors is their dot product.
    """
    qvec = _get_model().encode([query_text])[0]
    docs = embed_documents(spark, sf_dir)
    q = F.array(*[F.lit(float(x)) for x in qvec])
    dot = F.aggregate(
        F.zip_with(F.col("embedding"), q, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        docs.select("doc_id", F.round(dot, 4).alias("sim"))
        .orderBy(F.desc("sim"), F.asc("doc_id"))
        .limit(k)
    )


def chunked_maxsim_topk(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = DEFAULT_QUERY_TEXT,
    chunk_size: int = 8,
    k: int = 5,
) -> DataFrame:
    """Multi-vector (parent-document) retrieval: chunk-granular
    embeddings, document-granular results — each doc is represented by
    ALL its chunk vectors and scores as the MAX chunk similarity (the
    late-interaction max-sim reduction, one vector per chunk instead of
    ColBERT's one per token). This is what a reference user actually
    runs: the reference chunks files before embedding
    (indexing_agent.py:290-312), so a file-level answer needs exactly
    this chunk→max→doc fold on top of its chunk-level collection.

    Plan shape: the shared fixed-word chunker → ONE Arrow embed pass
    over chunks → broadcast query literal dot → per-doc max, which is a
    map-side-combinable aggregate (max commutes), then
    TakeOrderedAndProject. At 100 TB the chunk vectors live in the RP
    index and the candidate set comes from a probe; the fold here is
    the same groupBy-max over candidates only.
    """
    from .chunking import chunk_fixed_words

    qvec = _get_model().encode([query_text])[0]
    chunks = chunk_fixed_words(spark, sf_dir, chunk_size)
    embed = make_embed_udf()
    emb = chunks.select(
        "doc_id", embed(F.col("chunk_text")).alias("embedding")
    )
    q = F.array(*[F.lit(float(x)) for x in qvec])
    dot = F.aggregate(
        F.zip_with(F.col("embedding"), q, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        emb.select("doc_id", F.round(dot, 4).alias("sim"))
        .groupBy("doc_id")
        .agg(
            F.max("sim").alias("max_sim"),
            F.count(F.lit(1)).alias("n_chunks"),
        )
        .orderBy(F.desc("max_sim"), F.asc("doc_id"))
        .limit(k)
    )


def late_interaction_topk(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = DEFAULT_QUERY_TEXT,
    chunk_size: int = 8,
    k: int = 5,
) -> DataFrame:
    """TRUE late-interaction retrieval (the ColBERT scoring function,
    Khattab & Zaharia SIGIR 2020): the query decomposes into per-TOKEN
    vectors and score(doc) = Σ_i max_chunks cos(q_i, chunk) — sum of
    per-token MaxSim, NOT the single-query-vector parent-doc max of
    ``chunked_maxsim_topk``. A doc that matches different query tokens
    in different chunks outranks one that matches them all weakly in a
    single chunk — the property the late-interaction literature buys
    over pooled single-vector retrieval.

    Plan shape: ONE Arrow embed pass over the shared fixed-word chunks;
    each query token enters as a broadcast literal vector and its dot
    is a Catalyst fold (zip_with/aggregate, whole-stage codegen); the
    per-doc reduction is m max aggregates + one sum — map-side
    combinable, one shuffle on doc_id, TakeOrderedAndProject for the
    top-k. At 100 TB the chunk vectors come from the RP/IVF index and
    candidates from a probe; the fold here is the identical groupBy.

    Cross-engine determinism: each per-token max is rounded to 4 dp
    (tie-free for normalized one-hot token dots: s/k with k = sqrt of a
    chunk's ≤64 sum-of-squares can never land on a 4-dp half-tie) and
    the score is summed as EXACT scaled integers (×10⁴, bigint), so no
    float-sum ordering can flip the final rounding; both engines emit
    score = Σ round(max_i,4) exactly.
    """
    from .chunking import chunk_fixed_words

    qtokens = query_text.split(" ")
    qvecs = _get_model().encode(qtokens)
    chunks = chunk_fixed_words(spark, sf_dir, chunk_size)
    embed = make_embed_udf()
    emb = chunks.select(
        "doc_id", embed(F.col("chunk_text")).alias("embedding")
    )
    for i, qv in enumerate(qvecs):
        q = F.array(*[F.lit(float(x)) for x in qv])
        dot = F.aggregate(
            F.zip_with(F.col("embedding"), q, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        emb = emb.withColumn(f"d{i}", dot)
    grouped = emb.groupBy("doc_id").agg(
        *[F.max(f"d{i}").alias(f"m{i}") for i in range(len(qvecs))]
    )
    score_e4 = None
    for i in range(len(qvecs)):
        term = F.round(F.round(F.col(f"m{i}"), 4) * 10000).cast("bigint")
        score_e4 = term if score_e4 is None else score_e4 + term
    return (
        grouped.select(
            "doc_id", (score_e4 / F.lit(10000.0)).alias("score")
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Served late interaction (VERDICT r15 next #1): the chunk-level vector
# index that turns the ColBERT scorer from scan-time into build-once /
# serve-many — the same discipline every other retrieval family here
# follows (bm25_topk -> bm25_topk_served, scan kNN -> Collection.query).
# The reference's anti-pattern this replaces: its tool re-constructs the
# model and re-reads the collection PER CALL (vector_search_tool.py:13-31).
# ---------------------------------------------------------------------------

# vec_id for a chunk packs (doc_id, chunk_id) into one bigint so the
# index reuses the RP banding kernel's (vec_id, emb) contract; 2^16
# chunks per doc is the documented cap (a chunk_size-8 doc would need
# >500k words to overflow — tests pin the fixture headroom), and
# doc_id * 2^16 stays far under the 2^62 ANSI-overflow guard for any
# plausible doc_id space.
LI_CHUNK_FACTOR = 65536
LI_BANDS_SCHEMA = "vec_id bigint, band int, band_key int"
# v3 layout: vecs/ carries the parent doc's metadata (lang — the
# filtered serve path never reads the source corpus, the ACORN
# vecs-label-fold discipline) and partitions by the DOC bucket, so the
# admit path's doc-level replace locates a resubmitted doc's chunk rows
# with one pruned partition read (the minhash sigs/ discipline; LI serve
# joins on vec_id and never point-looks-up, so nothing needed the old
# vec-hash bucketing). Root tag bumps with each layout, so pre-fold
# versions never resolve.
LI_VECS_SCHEMA = (
    "vec_id bigint, doc_id bigint, lang string, "
    "emb array<double>, dbucket int"
)
LI_COMPONENTS = [("bands", ["band", "band_key"]), ("vecs", ["dbucket"])]


def li_index_root(sf_dir: str, chunk_size: int = 8, tag: str = "") -> str:
    from ..memo import index_root
    from .ann import RP_BANDS, RP_PLANES
    from .invindex import N_DOC_BUCKETS

    # tag (only-when-set, the graph-root discipline): keys that MUTATE
    # their index (the ingested lifecycle) never share a root with the
    # read-only serve keys
    extra = (tag,) if tag else ()
    return index_root(
        "li_index_v3", sf_dir, *extra,
        chunk_size, RP_PLANES, RP_BANDS, N_DOC_BUCKETS,
    )


def _li_vec_rows_for(d: DataFrame, chunk_size: int = 8) -> DataFrame:
    """The chunk-vector kernel over ANY (doc_id, text, lang) frame —
    shared by the full build and the incremental ``update_li_index``
    path, so batch chunk vectors are byte-identical to build-time ones
    (chunker kernel + the same Arrow embed UDF + the same packing)."""
    from .chunking import chunk_fixed_words_for
    from .invindex import doc_bucket_expr

    chunks = chunk_fixed_words_for(d.select("doc_id", "text"), chunk_size)
    embed = make_embed_udf()
    vid = (
        F.col("doc_id").cast("bigint") * LI_CHUNK_FACTOR
        + F.col("chunk_id").cast("bigint")
    )
    return (
        chunks.select(
            vid.alias("vec_id"),
            F.col("doc_id").cast("bigint").alias("doc_id"),
            embed(F.col("chunk_text")).alias("emb"),
        )
        .join(d.select(F.col("doc_id").cast("bigint").alias("doc_id"), "lang"), "doc_id")
        .select("vec_id", "doc_id", "lang", "emb")
        .withColumn("dbucket", doc_bucket_expr(F.col("doc_id")))
    )


def build_li_index(
    spark: SparkSession, sf_dir: str, chunk_size: int = 8, tag: str = ""
) -> str:
    """Build the chunk-level late-interaction index: ONE chunker + Arrow
    embed pass materializes ``vecs/dbucket=*/`` (the chunk-vector store,
    doc-bucket-partitioned so the admit path's doc-level replace prunes),
    then ``bands/`` RP-bands THE STORED VECTORS (read back from the
    just-written component, so band signatures derive from the index's
    own corpus of record — the embed UDF runs exactly once per chunk).
    Versioned via the shared atomic ``_CURRENT`` lifecycle; the root tag
    hashes the dataset fingerprint + chunk_size, so regenerated testdata
    or a different chunker granularity gets a fresh build. Returns the
    version dir.

    Scale shape: both writes are partitioned appends-at-build (bands by
    (band, band_key) — at most RP_BANDS * 2^RP_BAND_BITS = 96 leaf dirs;
    vecs by 32 dbuckets), repartitioned on the partition columns first
    (the build_containment_index discipline: without it every task
    leaves a sliver in every dir — 3k files whose open/footer overhead
    dominated the probe; measured 2.9 s -> 1.2 s at sf0.1). Zero-norm
    chunks stay in vecs/ but band nothing (no direction — the
    Collection's bands/ discipline).
    """
    import os
    import shutil

    from ..sources import versioning as vn
    from .ann import _nonzero_pred, rp_band_rows_for

    root = li_index_root(sf_dir, chunk_size, tag)
    cur = vn.current_dir(root)
    if cur is not None:
        return cur
    os.makedirs(root, exist_ok=True)
    tmp = os.path.join(root, ".__tmp_build__")
    shutil.rmtree(tmp, ignore_errors=True)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    vecs = _li_vec_rows_for(d, chunk_size)
    vecs.repartition(F.col("dbucket")).write.mode("overwrite").partitionBy(
        "dbucket"
    ).parquet(os.path.join(tmp, "vecs"))
    stored = spark.read.schema(LI_VECS_SCHEMA).parquet(os.path.join(tmp, "vecs"))
    rp_band_rows_for(
        stored.filter(_nonzero_pred()).select("vec_id", "emb")
    ).repartition(F.col("band"), F.col("band_key")).write.mode(
        "overwrite"
    ).partitionBy("band", "band_key").parquet(
        os.path.join(tmp, "bands")
    )
    name = vn.next_version_name(root)
    try:
        vn.publish_version(root, tmp, name, expected=None)
    except vn.ConcurrentWriterError:
        return vn.current_dir(root)
    return os.path.join(root, name)



def _li_dot_expr(qvecs, tok_col: "F.Column") -> "F.Column":
    """Per-candidate-row dot of the stored chunk vector (``emb``)
    against ITS token's query vector, selected by ``tok_col``.

    Sparse fast path: hash-projection query TOKENS are 1-sparse (a
    single word hashes to one signed bucket), so the dot collapses to
    ``val * emb[idx]`` — exactly the value the generic fold produces
    (the fold's other 63 terms are exact ±0.0 products that cannot
    perturb an IEEE sum), so parity with the one-hot oracle twins is
    unconditional. Measured: the fold over ~300k candidate rows was the
    served keys' dominant term; the sparse path removes it. A dense
    (real-model) query vector falls back to the generic
    zip_with/aggregate fold over an element_at-indexed literal matrix.
    """
    from .ann import _double_sql

    nz = [
        [(i, v) for i, v in enumerate(qv) if v != 0.0] for qv in qvecs
    ]
    if all(len(t) <= 4 for t in nz):
        sim = None
        for j, terms in enumerate(nz):
            dot = None
            for idx, val in terms:
                term = F.lit(float(val)) * F.element_at(
                    F.col("emb"), idx + 1
                )
                dot = term if dot is None else dot + term
            if dot is None:
                dot = F.lit(0.0)  # zero-norm token: cos contribution 0
            cond = tok_col == j
            sim = F.when(cond, dot) if sim is None else sim.when(cond, dot)
        return sim
    qmat = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(_double_sql(x) for x in qv) + ")"
            for qv in qvecs
        )
        + ")"
    )
    return F.aggregate(
        F.zip_with(
            F.col("emb"),
            F.element_at(qmat, tok_col + 1),
            lambda a, b: a * b,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def late_interaction_topk_served(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = DEFAULT_QUERY_TEXT,
    chunk_size: int = 8,
    k: int = 5,
    multiprobe_hamming: int = 1,
    lang: "str | None" = None,
    where: "dict | None" = None,
    tag: str = "",
) -> DataFrame:
    """Index-served ColBERT late interaction: the identical
    sum-of-MaxSim fold as ``late_interaction_topk``, but over PROBED
    candidates only — zero corpus scans and zero re-embeds at query
    time.

    Per query TOKEN: the token embeds driver-side (m tiny vectors), its
    RP band keys come from the same ``_rp_band_keys`` kernel the build
    used, expanded Hamming-1 per band (the multiprobe recall knob, Lv et
    al. VLDB 2007), and its candidate chunks are the band-table rows in
    the probed buckets — LITERAL (band, band_key) predicates, so the
    scan statically prunes to at most m * RP_BANDS * (1 + RP_BAND_BITS)
    of the 96 partition dirs (plan-pinned in tests/test_plans.py). A
    tiny broadcast (tok, band, band_key) frame tags which token(s) each
    probed row serves. The rerank joins candidates against the index's
    own ``vecs/`` store, folds each candidate's dot against its token's
    literal vector (Catalyst zip_with/aggregate, codegen), and reduces
    per doc with m conditional max aggregates + the exact scaled-integer
    sum — map-side combinable, ONE shuffle on doc_id,
    TakeOrderedAndProject.

    Served semantics vs the scan key: a (doc, token) pair whose chunks
    all missed that token's probe contributes 0 to the sum (the scan key
    computes a true max over ALL the doc's chunks, which can be
    negative) — the standard served-ColBERT approximation; measured
    top-k agreement vs the scan key is pinned >= 0.9 in
    tests/test_retrieval.py.
    """
    grouped, n_tokens = _li_served_grouped(
        spark,
        sf_dir,
        query_text,
        chunk_size,
        multiprobe_hamming,
        lang,
        where,
        tag,
    )
    return (
        grouped.select(
            "doc_id", (_li_score_e4(n_tokens) / F.lit(10000.0)).alias("score")
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def _li_score_e4(n_tokens: int) -> "F.Column":
    """The exact scaled-integer sum-of-MaxSim over the grouped per-token
    max columns ``m0..m{n-1}`` — THE scoring expression the served solo,
    filtered, where-DSL, and explain keys all share (the ``_bm25_part``
    discipline: one arithmetic, no drift between total and breakdown)."""
    score_e4 = None
    for i in range(n_tokens):
        term = F.coalesce(
            F.round(F.round(F.col(f"m{i}"), 4) * 10000).cast("bigint"),
            F.lit(0).cast("bigint"),
        )
        score_e4 = term if score_e4 is None else score_e4 + term
    return score_e4


def _li_served_grouped(
    spark: SparkSession,
    sf_dir: str,
    query_text: str,
    chunk_size: int = 8,
    multiprobe_hamming: int = 1,
    lang: "str | None" = None,
    where: "dict | None" = None,
    tag: str = "",
):
    """The shared served-ColBERT candidate fold: band probe → vecs
    rerank → per-doc conditional max aggregates. Returns ``(grouped,
    n_tokens)`` where grouped has doc_id + ``m0..m{n-1}`` (the
    per-token MaxSim arms the score sums and ``explain`` unpivots)."""
    import numpy as np

    from ..sources import versioning as vn
    from .ann import (
        RP_BAND_BITS,
        RP_BANDS,
        _rp_band_keys,
        _rp_plane_signs,
    )

    build_li_index(spark, sf_dir, chunk_size, tag)
    ver = vn.current_dir(li_index_root(sf_dir, chunk_size, tag))
    qtokens = query_text.split(" ")
    qvecs = _get_model().encode(qtokens)
    signs_t = np.array(_rp_plane_signs(), dtype=np.int64).T
    qkeys = _rp_band_keys(np.asarray(qvecs, dtype=np.float64), signs_t)
    tok_pairs: list[tuple[int, int, int]] = []
    for i in range(len(qtokens)):
        for b in range(RP_BANDS):
            keys = {int(qkeys[i][b])}
            if multiprobe_hamming >= 1:
                keys |= {
                    int(qkeys[i][b]) ^ (1 << bit) for bit in range(RP_BAND_BITS)
                }
            tok_pairs.extend((i, b, key) for key in sorted(keys))
    distinct_pairs = sorted({(b, key) for _, b, key in tok_pairs})
    # r16: memoized component handle (memo.component_df) — the version
    # dir is immutable, so the relation rebuild + partition listing is
    # paid once per session across the served LI keys
    bands = component_df(spark, ver, "bands", LI_BANDS_SCHEMA)
    # r17: ONE parsed expression instead of per-pair py4j Column ops —
    # 0.6-0.7 s of driver gateway chat per serve removed for the ~77
    # probe pairs (functions/predicates.py doc); identical Catalyst
    # tree, partition pruning unchanged (pinned in test_plans.py)
    probe_pred = pair_eq_any("band", "band_key", distinct_pairs)
    tokmap = spark.createDataFrame(
        tok_pairs, "tok int, band int, band_key int"
    )
    # NO dedup of (tok, vec_id): a chunk matching a token in several
    # bands appears several times, but every downstream reduction is a
    # MAX (duplicate-insensitive) — skipping the distinct saves a full
    # candidate shuffle; the duplicate factor is bounded by RP_BANDS.
    # (A literal CASE-map tag was tried and reverted: evaluating a
    # 77-branch predicate per band row loses to the broadcast hash
    # lookup.)
    cand = (
        bands.filter(probe_pred)
        .join(F.broadcast(tokmap), ["band", "band_key"])
        .select("tok", "vec_id")
    )
    vecs = component_df(spark, ver, "vecs", LI_VECS_SCHEMA)
    if lang is not None:
        # metadata filter served from the index's own vecs/ metadata
        # fold (never the source corpus); the equality pushes down to
        # the parquet scan (plan-pinned in tests/test_plans.py)
        vecs = vecs.filter(F.col("lang") == lang)
    joined = vecs.join(cand, "vec_id")
    if where is not None:
        # full ChromaDB where grammar over the DOC metadata: the
        # compiled predicate pushes
        # into a NARROW column-pruned projection of the metadata table
        # (doc_id + referenced fields only), and enters the rerank as a
        # doc_id SEMI join, so non-matching docs never reach the maxes
        from ..functions.where_dsl import compile_where

        meta = (
            load_table(spark, sf_dir, "documents")
            .filter(compile_where(where))
            .select("doc_id")
        )
        joined = joined.join(meta, "doc_id", "left_semi")
    scored = joined.select(
        "doc_id", "tok", _li_dot_expr(qvecs, F.col("tok")).alias("sim")
    )
    grouped = scored.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("tok") == i, F.col("sim"))).alias(f"m{i}")
            for i in range(len(qvecs))
        ]
    )
    return grouped, len(qvecs)


def late_interaction_filtered_topk_served(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = DEFAULT_QUERY_TEXT,
    lang: str = "en",
    chunk_size: int = 8,
    k: int = 5,
) -> DataFrame:
    """Metadata-filtered served ColBERT — the family-completeness twin
    of a ``Collection.query`` with ``where``: the candidate probe is unchanged
    and the rerank intersects with a metadata predicate served from the
    index's OWN ``vecs/`` lang fold (v2 layout), so a filtered query
    still reads zero corpus rows. Documents outside the filter simply
    never enter the per-token maxes."""
    return late_interaction_topk_served(
        spark,
        sf_dir,
        query_text=query_text,
        chunk_size=chunk_size,
        k=k,
        lang=lang,
    )


def late_interaction_explain_served(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = DEFAULT_QUERY_TEXT,
    chunk_size: int = 8,
    k: int = 3,
) -> DataFrame:
    """Lucene-style ``explain`` for the late-interaction family (the
    ``bm25_explain_served`` analog): the per-TOKEN MaxSim breakdown for
    the top-k served documents — (doc_id, tok, token, contrib) with
    contrib the EXACT arm of the total (``_li_score_e4`` sums the same
    rounded values the rows show), so a doc's contribs added reproduce
    its ``late_interaction_topk_served`` score. Tokens whose probe
    found no candidate chunk for the doc contribute 0 and are omitted
    (the BM25 explain's ``tf > 0`` convention). One extra unpivot over
    the SAME grouped frame — the probe and rerank run once."""
    grouped, n_tokens = _li_served_grouped(
        spark, sf_dir, query_text, chunk_size
    )
    qtokens = query_text.split(" ")
    top = (
        grouped.select(
            "doc_id",
            *[F.col(f"m{i}") for i in range(n_tokens)],
            (_li_score_e4(n_tokens) / F.lit(10000.0)).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
    slices = [
        top.filter(F.col(f"m{i}").isNotNull()).select(
            "doc_id",
            F.lit(i).alias("tok"),
            F.lit(qtokens[i]).alias("token"),
            F.round(F.col(f"m{i}"), 4).alias("contrib"),
        )
        for i in range(n_tokens)
    ]
    out = slices[0]
    for s in slices[1:]:
        out = out.unionAll(s)
    return out


# compound demo tree exercising $and/$or/$in/$gte over three metadata
# fields
LI_WHERE_DEMO = {
    "$and": [
        {"lang": {"$in": ["en", "de"]}},
        {
            "$or": [
                {"n_chars": {"$gte": 300}},
                {"source": {"$in": ["src1", "src2", "src3"]}},
            ]
        },
    ]
}


def late_interaction_where_topk_served(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = DEFAULT_QUERY_TEXT,
    where: "dict | None" = None,
    chunk_size: int = 8,
    k: int = 5,
) -> DataFrame:
    """``collection.query(where={...})`` for the late-interaction
    family — ChromaDB's FULL filter grammar ($and/$or/$in/$gte/...,
    functions/where_dsl.py) instead of ``late_interaction_filtered_
    topk_served``'s single-field lang equality, completing the where-DSL
    symmetry the vector families already have (the collection facade's
    where= path, the graph ACORN where tree). Same serving plan: per-token band probe (static partition
    pruning), the compiled predicate pushed into a narrow column-pruned
    metadata projection, doc_id semi-join into the exact rerank. The
    DSL tree is shared with the DuckDB oracle via where_to_sql (one
    filter, two engines)."""
    return late_interaction_topk_served(
        spark,
        sf_dir,
        query_text=query_text,
        chunk_size=chunk_size,
        k=k,
        where=where or LI_WHERE_DEMO,
    )


def update_li_index(
    spark: SparkSession,
    sf_dir: str,
    new_docs: DataFrame,
    chunk_size: int = 8,
    tag: str = "",
    auto_compact_threshold: int = 16,
) -> str:
    """ADMIT a document batch into the li_index with DOC-level REPLACE
    (the ``Collection.upsert`` discipline lifted to document granularity):
    a batch doc's chunk vectors come from the SAME kernel as the build
    (``_li_vec_rows_for`` — byte-identical chunks, embeddings, packing),
    brand-new docs APPEND beside hardlinked partitions with zero reads
    of existing data, and RE-submitted doc_ids retract their stale rows
    — located by ONE dbucket-pruned read of ``vecs/`` (the doc-bucket
    layout exists for exactly this), their stale band rows found by
    re-banding the stored old vectors (the signature is a pure function
    of the vector, so ``vecs/`` doubles as the reverse map) — rewriting
    only the touched (band, band_key) and dbucket partitions. Atomic
    CAS commit; a crash mid-update leaves every reader on the old
    version. Unlike the containment index there is NO frozen coarse
    structure (band keys are per-vector functions), so an updated index
    equals a fresh build over the combined corpus EXACTLY (pinned in
    tests/test_retrieval.py)."""
    import os

    from ..sources import versioning as vn
    from .ann import _nonzero_pred, rp_band_rows_for

    cur = build_li_index(spark, sf_dir, chunk_size, tag)
    root = os.path.dirname(cur)
    batch = new_docs.select("doc_id", "text", "lang").dropDuplicates(
        ["doc_id"]
    )
    bvecs = _li_vec_rows_for(batch, chunk_size).localCheckpoint(eager=True)
    if not bvecs.head(1):
        return cur
    batch_ids = bvecs.select("doc_id").distinct()
    dbs = sorted(
        r["dbucket"]
        for r in bvecs.select("dbucket").distinct().collect()
    )
    old_aff = spark.read.schema(LI_VECS_SCHEMA).parquet(
        os.path.join(cur, "vecs")
    ).filter(F.col("dbucket").isin(dbs))
    resub = (
        old_aff.join(batch_ids, "doc_id", "leftsemi")
        .localCheckpoint(eager=True)
    )
    resub_vids = resub.select("vec_id")
    rw_pairs = {
        (r["band"], r["band_key"])
        for r in rp_band_rows_for(
            resub.select("vec_id", "emb").filter(_nonzero_pred())
        )
        .select("band", "band_key")
        .distinct()
        .collect()
    }
    rw_db = sorted(
        r["dbucket"] for r in resub.select("dbucket").distinct().collect()
    )
    batch_bands = rp_band_rows_for(
        bvecs.filter(_nonzero_pred()).select("vec_id", "emb")
    )
    band_writes = []
    if rw_pairs:
        pair_pred = pair_eq_any("band", "band_key", sorted(rw_pairs))
        band_writes.append(
            spark.read.schema(LI_BANDS_SCHEMA)
            .parquet(os.path.join(cur, "bands"))
            .filter(pair_pred)
            .join(resub_vids, "vec_id", "left_anti")
            .select("band", "band_key", "vec_id")
        )
    band_writes.append(batch_bands.select("band", "band_key", "vec_id"))
    vec_writes = []
    if rw_db:
        vec_writes.append(
            spark.read.schema(LI_VECS_SCHEMA)
            .parquet(os.path.join(cur, "vecs"))
            .filter(F.col("dbucket").isin(rw_db))
            .join(batch_ids, "doc_id", "left_anti")
            .select("dbucket", "vec_id", "doc_id", "lang", "emb")
        )
    vec_writes.append(
        bvecs.select("dbucket", "vec_id", "doc_id", "lang", "emb")
    )
    return vn.commit_version(
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
                ("dbucket",),
                frozenset(f"dbucket={b}" for b in rw_db),
                tuple(vec_writes),
            ),
        ],
        expected=os.path.basename(cur),
        compact=LI_COMPONENTS,
        compact_threshold=auto_compact_threshold,
    )


def delete_from_li_index(
    spark: SparkSession,
    sf_dir: str,
    doc_ids: "list[int]",
    chunk_size: int = 8,
    tag: str = "",
    auto_compact_threshold: int = 16,
) -> str:
    """Retract documents from the li_index — the delete side of the
    admit lifecycle (the ``Collection.delete`` discipline at doc
    granularity): the victims' chunk rows are located by ONE
    dbucket-pruned ``vecs/`` read, their band rows by re-banding the
    stored vectors (vecs/ doubles as the reverse map), and only the
    touched partitions rewrite with anti-joined survivors. A doc absent
    from the index is a no-op. Atomic CAS commit; returns the new (or
    unchanged) current version dir."""
    import os

    from ..sources import versioning as vn
    from .ann import _nonzero_pred, rp_band_rows_for
    from .invindex import doc_bucket_expr

    cur = build_li_index(spark, sf_dir, chunk_size, tag)
    root = os.path.dirname(cur)
    if not doc_ids:
        return cur
    ids = spark.createDataFrame(
        [(int(d),) for d in sorted(set(doc_ids))], "doc_id bigint"
    )
    dbs = sorted(
        r["b"]
        for r in ids.select(
            doc_bucket_expr(F.col("doc_id")).alias("b")
        ).distinct().collect()
    )
    victims = (
        spark.read.schema(LI_VECS_SCHEMA)
        .parquet(os.path.join(cur, "vecs"))
        .filter(F.col("dbucket").isin(dbs))
        .join(ids, "doc_id", "leftsemi")
        .localCheckpoint(eager=True)
    )
    if not victims.head(1):
        return cur
    victim_vids = victims.select("vec_id")
    rw_pairs = {
        (r["band"], r["band_key"])
        for r in rp_band_rows_for(
            victims.select("vec_id", "emb").filter(_nonzero_pred())
        )
        .select("band", "band_key")
        .distinct()
        .collect()
    }
    rw_db = sorted(
        r["dbucket"] for r in victims.select("dbucket").distinct().collect()
    )
    band_writes = []
    if rw_pairs:
        pair_pred = pair_eq_any("band", "band_key", sorted(rw_pairs))
        band_writes.append(
            spark.read.schema(LI_BANDS_SCHEMA)
            .parquet(os.path.join(cur, "bands"))
            .filter(pair_pred)
            .join(victim_vids, "vec_id", "left_anti")
            .select("band", "band_key", "vec_id")
        )
    vec_writes = [
        spark.read.schema(LI_VECS_SCHEMA)
        .parquet(os.path.join(cur, "vecs"))
        .filter(F.col("dbucket").isin(rw_db))
        .join(ids, "doc_id", "left_anti")
        .select("dbucket", "vec_id", "doc_id", "lang", "emb")
    ]
    return vn.commit_version(
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
                ("dbucket",),
                frozenset(f"dbucket={b}" for b in rw_db),
                tuple(vec_writes),
            ),
        ],
        expected=os.path.basename(cur),
        compact=LI_COMPONENTS,
        compact_threshold=auto_compact_threshold,
    )


def fsck_li_index(
    spark: SparkSession, sf_dir: str, chunk_size: int = 8, tag: str = ""
) -> list:
    """Semantic integrity check for the li_index: the generic
    versioned-root checks plus the invariants the serve and admit paths
    rely on — every nonzero-norm vector banded EXACTLY RP_BANDS times
    (zero-norm: zero band rows; no orphan band vec_ids), the
    (doc_id, chunk) packing round-trips (doc_id = vec_id div 2^16, the
    chunk part in range), per-doc chunk_ids contiguous from 0 (the
    chunker's contract — a gap means a partial replace), and the stored
    dbucket matches the md5 doc bucket. Returns (check, ok, detail)
    tuples; never raises."""
    import os

    from ..sources import versioning as vn
    from .ann import RP_BANDS, _nonzero_pred
    from .invindex import doc_bucket_expr

    cur = build_li_index(spark, sf_dir, chunk_size, tag)
    root = os.path.dirname(cur)
    out = vn.fsck_index(
        root,
        [
            ("bands", ["band", "band_key"], LI_BANDS_SCHEMA),
            ("vecs", ["dbucket"], LI_VECS_SCHEMA),
        ],
    )
    try:
        bands = spark.read.schema(LI_BANDS_SCHEMA).parquet(
            os.path.join(cur, "bands")
        )
        vecs = spark.read.schema(LI_VECS_SCHEMA).parquet(
            os.path.join(cur, "vecs")
        )
        per_vec = bands.groupBy("vec_id").agg(
            F.count(F.lit(1)).alias("nb")
        )
        joined = vecs.select(
            "vec_id", _nonzero_pred().alias("nonzero")
        ).join(per_vec, "vec_id", "full")
        bad_band = joined.filter(
            F.when(F.col("nonzero").isNull(), F.lit(True))  # orphan band id
            .when(F.col("nonzero"), F.coalesce(F.col("nb"), F.lit(0)) != RP_BANDS)
            .otherwise(F.col("nb").isNotNull())  # zero-norm must not band
        ).count()
        out.append(
            ("bands_cover_nonzero_vecs_exactly", bad_band == 0, f"bad={bad_band}")
        )
        bad_pack = vecs.filter(
            (F.col("vec_id") - F.col("vec_id") % LI_CHUNK_FACTOR)
            / LI_CHUNK_FACTOR
            != F.col("doc_id")
        ).count()
        out.append(("vec_id_packing_roundtrips", bad_pack == 0, f"bad={bad_pack}"))
        chunkpart = (F.col("vec_id") % LI_CHUNK_FACTOR).cast("bigint")
        bad_chunks = (
            vecs.select("doc_id", chunkpart.alias("c"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n"), F.max("c").alias("mx"))
            .filter(F.col("mx") != F.col("n") - 1)
            .count()
        )
        out.append(
            ("doc_chunks_contiguous", bad_chunks == 0, f"bad_docs={bad_chunks}")
        )
        bad_db = vecs.filter(
            F.col("dbucket") != doc_bucket_expr(F.col("doc_id"))
        ).count()
        out.append(("dbucket_matches_md5", bad_db == 0, f"bad={bad_db}"))
    except Exception as ex:  # noqa: BLE001 — diagnose, don't die
        out.append(("semantic_checks", False, repr(ex)[:200]))
    return out


def late_interaction_topk_ingested(
    spark: SparkSession, sf_dir: str, k: int = 5
) -> DataFrame:
    """The li_index ADMIT lifecycle as an oracle-checked driver key (the
    ``dedup_containment_gate_ingested`` discipline): clone every 10th
    document under a fresh id into a TAGGED root (mutating keys never
    share a root with the read-only serve keys), then serve the default
    query from the updated index. The clone of a top-scoring doc appears
    in the top-k beside its original with the IDENTICAL score — a row
    class that exists only if the admit advanced the index (the %10==3
    slice contains a top-5 doc at sf0.001 AND the driver's sf0.01; pinned
    in tests/test_retrieval.py).
    Replay-idempotent: re-admitting the same batch is a doc-level
    REPLACE that rewrites identical rows — so a repeat run detects the
    fully-admitted batch via ONE dbucket-pruned vecs/ probe and skips
    the commit entirely (r16; the ``dedup_containment_gate_ingested``
    replay discipline: the batch derives deterministically from the
    fingerprint-keyed corpus, so all-ids-present ⇒ identical content ⇒
    the rewrite would be a byte-level no-op. Also bounds the version
    count — the former shape re-REPLACEd on every invocation, paying
    the full embed + commit (~3/4 of the key's runtime) to produce an
    identical index). A mixed state raises, exactly as the containment
    twin does."""
    import os

    from .invindex import doc_bucket_expr

    batch = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 3)
        .select(
            (F.col("doc_id") + 4_000_000).alias("doc_id"), "text", "lang"
        )
    )
    cur = build_li_index(spark, sf_dir, tag="ing")
    a_ids = batch.select(F.col("doc_id").cast("bigint").alias("doc_id"))
    dbs = sorted(
        r["b"]
        for r in a_ids.select(
            doc_bucket_expr(F.col("doc_id")).alias("b")
        ).distinct().collect()
    )
    present = (
        component_df(spark, cur, "vecs", LI_VECS_SCHEMA)
        .filter(F.col("dbucket").isin(dbs))
        .join(a_ids, "doc_id", "leftsemi")
        .select("doc_id")
        .distinct()
        .count()
    )
    # r17 (ADVICE r16): compare against docs that PRODUCE chunk rows —
    # a NULL-text doc yields nothing from the chunker (posexplode of
    # split(null) emits no rows; split('') still emits one token), so
    # it can never appear in vecs/ and must count as admitted, not as
    # "missing" (the former batch.count() made every replay of such a
    # batch raise the mixed-state error). text-is-not-null is exactly
    # update_li_index's bvecs-membership predicate, minus the embed.
    n_batch = batch.filter(F.col("text").isNotNull()).count()
    if present == 0:
        update_li_index(spark, sf_dir, batch, tag="ing")
    elif present != n_batch:
        raise ValueError(
            f"li ingested root in a mixed state: {present}/{n_batch} of "
            f"the admit batch indexed"
        )
    return late_interaction_topk_served(spark, sf_dir, k=k, tag="ing")


LI_BATCH_QUERIES = (
    DEFAULT_QUERY_TEXT,
    "data pipeline shuffle",
    "aggregate window events",
)


def late_interaction_batch_topk_served(
    spark: SparkSession,
    sf_dir: str,
    query_texts: "tuple[str, ...]" = LI_BATCH_QUERIES,
    chunk_size: int = 8,
    k: int = 5,
    multiprobe_hamming: int = 1,
) -> DataFrame:
    """Batched index-served ColBERT — M queries against the li_index in
    ONE probe + ONE rerank pass (the ``bm25_batch_topk_served``
    discipline): every (query, token) pair
    gets a global token index j, all tokens embed in ONE driver-side
    encode call, the union of their Hamming-1 probe pairs scans the
    band table once (static partition pruning over the DISTINCT pairs),
    a tiny broadcast (j, band, band_key) frame fans matches back out to
    tokens, and the per-token MaxSim folds reduce in two map-side-
    combinable aggregates — (doc, j) max, then (query, doc) exact
    scaled-integer sum — before one rank window cuts per-query top-k.

    Batch ≡ solo is pinned in tests/test_retrieval.py: each query's
    slice equals ``late_interaction_topk_served`` run alone (same
    candidate semantics — a (doc, token) pair with no probed chunk
    contributes nothing either way).

    Output: (query_id, doc_id, score, rank), rank ≤ k per query.
    """
    import numpy as np

    from pyspark.sql.window import Window

    from ..sources import versioning as vn
    from .ann import (
        RP_BAND_BITS,
        RP_BANDS,
        _rp_band_keys,
        _rp_plane_signs,
    )

    build_li_index(spark, sf_dir, chunk_size)
    ver = vn.current_dir(li_index_root(sf_dir, chunk_size))
    jq: list[int] = []  # j -> query_id
    toks: list[str] = []
    for qid, text in enumerate(query_texts):
        for w in text.split(" "):
            jq.append(qid)
            toks.append(w)
    qvecs = _get_model().encode(toks)
    signs_t = np.array(_rp_plane_signs(), dtype=np.int64).T
    qkeys = _rp_band_keys(np.asarray(qvecs, dtype=np.float64), signs_t)
    tok_pairs: list[tuple[int, int, int]] = []
    for j in range(len(toks)):
        for b in range(RP_BANDS):
            keys = {int(qkeys[j][b])}
            if multiprobe_hamming >= 1:
                keys |= {
                    int(qkeys[j][b]) ^ (1 << bit) for bit in range(RP_BAND_BITS)
                }
            tok_pairs.extend((j, b, key) for key in sorted(keys))
    distinct_pairs = sorted({(b, key) for _, b, key in tok_pairs})
    # r16: memoized component handle (memo.component_df) — the version
    # dir is immutable, so the relation rebuild + partition listing is
    # paid once per session across the served LI keys
    bands = component_df(spark, ver, "bands", LI_BANDS_SCHEMA)
    # r17: ONE parsed expression instead of per-pair py4j Column ops —
    # 0.6-0.7 s of driver gateway chat per serve removed for the ~77
    # probe pairs (functions/predicates.py doc); identical Catalyst
    # tree, partition pruning unchanged (pinned in test_plans.py)
    probe_pred = pair_eq_any("band", "band_key", distinct_pairs)
    tokmap = spark.createDataFrame(tok_pairs, "j int, band int, band_key int")
    cand = (
        bands.filter(probe_pred)
        .join(F.broadcast(tokmap), ["band", "band_key"])
        .select("j", "vec_id")
    )
    vecs = component_df(spark, ver, "vecs", LI_VECS_SCHEMA)
    joined = vecs.join(cand, "vec_id")
    permax = (
        joined.select(
            "doc_id", "j", _li_dot_expr(qvecs, F.col("j")).alias("sim")
        )
        .groupBy("doc_id", "j")
        .agg(F.max("sim").alias("m"))
    )
    qmap = spark.createDataFrame(
        list(enumerate(jq)), "j int, query_id int"
    )
    sc = (
        permax.join(F.broadcast(qmap), "j")
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum(
                F.round(F.round(F.col("m"), 4) * 10000).cast("bigint")
            ).alias("s4")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        sc.select(
            "query_id", "doc_id", (F.col("s4") / 10000.0).alias("score")
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def embed_projection_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-comparable exploded view of the embedding output:
    (doc_id, bucket, weight) for nonzero buckets. Proves the pandas_udf
    Arrow path end-to-end against a pure-SQL DuckDB twin."""
    e = embed_documents(spark, sf_dir)
    x = e.select(
        "doc_id", F.posexplode("embedding").alias("bucket", "w")
    ).filter(F.col("w") != 0.0)
    return x.select("doc_id", "bucket", F.round("w", 4).alias("weight"))


def knn_file_summary_query(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = "code elements",
    k: int = 5,
) -> DataFrame:
    """The reference's SECOND retrieval surface: semantic search over the
    file_summaries collection (search_files / find_files_by_content,
    vector_search_tool.py:81-147; same trace as §3.2 against the other
    collection).

    Summary documents are derived from the corpus rollup (one row per
    file), embedded through the same Arrow batch path, ranked by cosine
    against the embedded query.
    """
    from ..operators.indexing import agg_file_summary

    summaries = agg_file_summary(spark, sf_dir).select(
        "path", F.col("summary").alias("text")
    )
    embed = make_embed_udf()
    docs = summaries.select("path", embed(F.col("text")).alias("embedding"))
    qvec = _get_model().encode([query_text])[0]
    q = F.array(*[F.lit(float(x)) for x in qvec])
    dot = F.aggregate(
        F.zip_with(F.col("embedding"), q, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        docs.select("path", F.round(dot, 4).alias("sim"))
        .orderBy(F.desc("sim"), F.asc("path"))
        .limit(k)
    )


def embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance profile of the embedding matrix —
    the diagnostics pass every embedding pipeline runs before choosing a
    compression (dead dimensions, scale imbalance, variance mass).

    Scale shape: posexplode fans each vector into (pos, val) rows, but
    the groupBy(pos) PARTIAL aggregate collapses every partition to
    EMBED_DIM rows before the exchange — the shuffle carries
    O(dim x partitions) rows, never O(dim x vectors). At 100 TB that is
    the same communication bound as a tree-reduced numpy kernel, with
    Catalyst handling the combine.

    Determinism: mean/var_pop are floor-scaled to integer micros (the
    lm_perplexity_score discipline — floor of near-identical doubles has
    no .xx5 tie concept; merge-order float noise is ~1e-15 relative,
    9 orders below the 1e-6 grid).
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "val"
        )
    )
    return e.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.floor(F.avg("val") * 1e6).cast("bigint").alias("mean_micro"),
        F.floor(F.var_pop("val") * 1e6).cast("bigint").alias("var_micro"),
    )


def embed_topvar_project(
    spark: SparkSession, sf_dir: str, n_dims: int = 8
) -> DataFrame:
    """Axis-aligned dimensionality reduction: keep the ``n_dims``
    highest-variance dimensions (variance-ranked feature selection, the
    cheap cousin of PCA that needs no rotation matrix) and project every
    vector onto them — the storage/scan shape for a coarse first-stage
    filter in two-stage retrieval.

    The selection ranks by the FLOORED micro-variance with position
    tie-break (deterministic cross-engine); the projection itself is
    pure element extraction — no arithmetic touches the values, so the
    output doubles are bit-identical to the stored embeddings.

    Scale shape: the ranked dimension list is n_dims rows (broadcast
    collect-free: it stays a TakeOrderedAndProject frame joined back by
    crossJoin-broadcast as a struct array literal would be overkill);
    the projection is one narrow map over the vectors.

    Output shape: scalar rows ``(vec_id, rank, component)`` — NOT an
    ``array<double>`` column.  The driver's pandas canonicalizer cannot
    sort list cells (a crash first catalogued in r2 and repeated here
    in r7); every registry output schema is now pinned
    flat by ``tests/test_oracle_parity.py::test_no_nested_output_types``.
    Consumers wanting the packed vector regroup with
    ``groupBy("vec_id").agg(array_sort(collect_list(struct(rank,
    component))))`` — one extra shuffle they only pay when they need it.
    """
    from pyspark.sql.window import Window

    stats = embed_dim_stats(spark, sf_dir)
    top = (
        stats.orderBy(F.desc("var_micro"), F.asc("pos"))
        .limit(n_dims)
        .select(
            "pos",
            F.row_number()
            .over(Window.orderBy(F.desc("var_micro"), F.asc("pos")))
            .alias("rank"),
        )
    )
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    # element_at is 1-based; pos from posexplode is 0-based.
    return e.crossJoin(F.broadcast(top)).select(
        "vec_id",
        "rank",
        F.element_at(F.col("emb"), F.col("pos") + 1).alias("component"),
    )
