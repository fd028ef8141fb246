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
