"""Parquet table registry over the driver testdata layout.

The reference stores its two collections (`code_elements`, `file_summaries`)
in a ChromaDB directory (reference: coding_agent/tools/indexing_agent.py:53-72);
a collection is just a named (id, document, embedding, metadata) table, which
here is a Parquet-backed DataFrame per table (SURVEY.md section 1.1).

Columnar Parquet (instead of the reference's sqlite+hnswlib directory) is what
makes the 100 TB path work at all: predicate pushdown + column pruning reach
the row-group level, and scans parallelize per file split.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def events_time_exprs(schema):
    """Schema-adaptive ``(ts, ts_ns)`` projection columns for ``events``.

    Upstream testdata has shipped ``events.ts`` two ways across
    regenerations: parquet TIMESTAMP(NANOS) — which Spark 4 only reads with
    ``legacy.parquet.nanosAsLong``, arriving as a ns-since-epoch bigint —
    and plain ``timestamp[us]``, arriving as TIMESTAMP_NTZ. Branching on the
    post-read dtype normalizes both to one downstream contract:

    - ``ts``:    microsecond-precision TIMESTAMP
    - ``ts_ns``: bigint epoch nanoseconds, µs-truncated — DuckDB's parquet
      reader drops sub-µs digits, so µs is the cross-engine contract and
      any ns-granular comparison would silently disagree with the oracle.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    if isinstance(schema["ts"].dataType, LongType):
        # NANOS variant, read as raw ns bigint: integer ``div`` keeps the
        # µs truncation exact (a double round-trip would not).
        return (
            F.timestamp_micros(F.expr("ts div 1000")),
            F.expr("ts div 1000 * 1000"),
        )
    # timestamp[us] variant (TIMESTAMP or TIMESTAMP_NTZ): already µs, so no
    # truncation; the cast is a no-op for TIMESTAMP and reinterprets NTZ
    # wall-clock in the (UTC) session timezone — the same instants DuckDB
    # assigns the naive values.
    ts = F.col("ts").cast("timestamp")
    return ts, F.unix_micros(ts) * F.lit(1000)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame (lazy parquet scan).

    ``events`` gets a schema-adaptive time projection (see
    ``events_time_exprs``): ``ts`` is always a µs TIMESTAMP and ``ts_ns``
    the µs-truncated epoch nanos, whichever physical type the parquet
    carries.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # SESSION-WIDE side effect, deliberate: nanosAsLong changes how any
        # nanos-timestamp parquet in this session is read (as bigint).
        # session.get_spark sets it at build time; this runtime set covers
        # externally created sessions (the driver's vanilla one). It is a
        # no-op for the timestamp[us] data variant — only TIMESTAMP(NANOS)
        # files parse differently under it.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.read.parquet(path)
        ts, ts_ns = events_time_exprs(raw.schema)
        return raw.select(
            "event_id",
            ts.alias("ts"),
            ts_ns.alias("ts_ns"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
    return spark.read.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


# On-disk parquet size above which a dimension table is NOT hinted for
# broadcast. An explicit broadcast() hint is honored by Spark REGARDLESS of
# size — AQE demotes auto-planned broadcasts, but never hinted ones — so an
# unconditional hint on an SF-proportional table (customer, part) OOMs the
# driver/executors at 100x scale. 32 MB compressed parquet is ~3x the AQE
# auto-threshold and decompresses to ~100-150 MB in memory: comfortably
# broadcastable, conservatively below executor working memory.
BROADCAST_MAX_BYTES = 32 * 1024 * 1024


def maybe_broadcast(
    df: DataFrame, size_bytes: int, max_bytes: int = BROADCAST_MAX_BYTES
) -> DataFrame:
    """Size-gated broadcast hint: hint only when the side is provably small.

    Above the gate the join is left unhinted — Catalyst/AQE then picks
    shuffle-hash or sort-merge from runtime statistics, which is the correct
    (and only memory-safe) plan for a dimension that grew with the dataset.
    """
    from pyspark.sql import functions as F

    if size_bytes <= max_bytes:
        return F.broadcast(df)
    return df


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Spread a narrow scan across the cluster before CPU-dense map work.

    Parquet cannot split below a row group, so a small/single-row-group file
    scans as ONE task no matter how many cores exist — and every downstream
    narrow transformation (explode, hash, vector math) serializes on it.
    This round-robins the rows up to ``defaultParallelism`` ONLY when the
    scan is under-partitioned; on a real multi-split table (the 100 TB
    case, thousands of row groups) it is a no-op and costs no shuffle.

    Use it on the input of compute-bound derivation pipelines (shingling,
    similarity scoring), never on pure filter/point-lookup paths where the
    extra exchange would just delay predicate evaluation. Measured note
    (r6): for cheap kernels the exchange costs more than it saves, but for
    the CPU-dense minhash kernel (shingle + md5 per doc) the ~0.1 s
    round-robin bought back ~2 s of single-core time at sf0.1/local[32]
    (dedup._minhash_wide is the canonical caller) — the deciding factor is
    per-row kernel cost, not input size.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
