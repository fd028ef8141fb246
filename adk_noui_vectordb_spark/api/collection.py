"""ChromaDB-compatible ``Collection`` over the versioned index family.

The reference's entire storage surface is a ChromaDB collection:
``collection.upsert(ids, documents, embeddings, metadatas)`` on the
write path (coding_agent/tools/indexing_agent.py:332-361),
``collection.query(query_embeddings, n_results, where={...})`` /
``collection.get(where={...})`` / ``collection.count()`` on the read
path (coding_agent/tools/vector_search_tool.py:33-46,149-232). This
module IS that surface, Spark-first: a ``Collection`` is one versioned
index root (sources/versioning.py — atomic ``_CURRENT`` commits, CAS
single-writer enforcement, hardlinked unchanged partitions,
auto-compaction) holding two components:

    vecs/ vbucket=*  (vec_id, emb)                          — vector store
    meta/ mbucket=*  (vec_id, id, document, <metadata cols>)

The RP-LSH band keys the probe matches are not stored: they are a pure
function of each stored vector, derived when its vecs partition is read
and memoized with it. (A version written before this layout also holds
a ``bands/`` dir; reads ignore it and its next commit drops it.)

ChromaDB ids are STRINGS; every distributed structure keys on a 60-bit
md5 surrogate (``sid``) so joins stay BIGINT and point lookups prune to
one md5 bucket directory. A surrogate collision (two distinct ids, one
sid) is detected at write time and rejected — at 2^60 the birthday
bound passes ~10^8 ids per collection comfortably; beyond that, shard
into multiple collections (documented contract, enforced, never
silent).

Metadata is SCHEMA-ON-FIRST-WRITE: the first batch's non-reserved
columns become typed parquet columns (not a string map), so a
``where`` DSL filter (functions/where_dsl.py) compiles to a pyarrow
mask over them for reads and deletes. The schema and embedding dim persist in a root-level
``collection.json`` sidecar and later batches must match.

Scale shape — a served collection lives in driver memory (every read
below holds its partitions there), so every commit and every read is
planned on the driver too:
- Writes (``add``, ``upsert``, ``update``, ``delete`` and a conflicted
  ``merge_from``) are driver COPY-ON-WRITE of the partitions they
  touch: the batch is collected once, as it is (a pandas or Arrow
  batch is a LocalRelation, so zero Spark jobs), and checked in numpy
  (a partial ``update`` first fills its omitted columns from the
  stored rows); the rows it replaces or deletes are found with the
  read path's partition readers; and every touched vecs and meta
  partition is rewritten as ONE pyarrow file of its surviving plus
  added rows, which the commit hands, already decoded, to the read
  memos of the version it publishes. Untouched partitions hardlink
  into the new version, so each partition dir holds one data file (a
  disjoint ``merge_from`` links the source's files beside it;
  ``compact`` folds those). Only compaction still writes through
  Spark.
- Reads (``query``, ``get``, ``count``, ``peek``) serve the resolved
  version on the DRIVER with zero Spark jobs and, warm, zero py4j
  calls: each version dir is listed once per session
  (``_version_parts``) and each partition read once with pyarrow
  (``_read_partition``, memoized on its data files' unique names, so a
  partition a commit hardlinked unchanged is not read again), then
  filtered and scored in numpy. The answer is a ``LocalResult``, valid
  after its version is garbage collected: ``collect``, ``count``,
  ``columns``, ``schema``, ``head``, ``first`` and ``take`` answer from
  its Arrow table on the driver, and any other DataFrame method
  builds the Spark DataFrame once. A probe ``query`` matches the
  query's band keys against the keys held with each vecs partition and
  opens the meta dirs of its candidates; ``count`` sums the meta
  partitions' footer row counts, memoized per partition. Online top-k
  over one small snapshot does not fit a job scheduler — each Spark
  job costs more than the whole driver-side read.
- Readers never see a partial write: every mutation is one ``_CURRENT``
  swing; concurrent writers serialize on the root's writer lock and a
  stale plan raises ``ConcurrentWriterError`` instead of clobbering.
"""

from __future__ import annotations

import contextlib
import functools
import hashlib
import json
import os
import re

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vector import np_round4, np_scores
from ..functions.where_dsl import where_document_mask, where_mask
from ..operators.ann import (
    N_VEC_BUCKETS,
    RP_BAND_BITS,
    RP_BANDS,
    RP_PLANES,
    _rp_band_keys,
    _rp_plane_signs,
    vec_bucket_py,
)
from ..sources import versioning as vn

N_META_BUCKETS = 32
VECS_SCHEMA = "vec_id bigint, emb array<double>, vbucket int"
_RESERVED = ("id", "document", "embedding", "emb", "vec_id", "mbucket", "vbucket")
# the types a write batch's reserved columns are stored in
_STORED = {"id": "string", "embedding": "array<double>", "document": "string"}

_COMPONENTS = [
    ("vecs", ["vbucket"]),
    ("meta", ["mbucket"]),
]


# Demo filter trees for the driver-checked serving keys — shared with
# the DuckDB oracles via where_to_sql (one filter, two engines).
# r15 (VERDICT r14 next #3): below this estimated filter selectivity the
# graph strategy auto-enables ACORN predicate expansion — the measured
# crossover (BASELINE.md r14 recall table: blind emission-filtering reads
# 0.69/0.57/0.41 at selectivity 0.5/0.2/0.1 while ACORN reads
# 0.88/0.92/0.94; at ~0.5 the two curves meet). A Chroma-parity caller
# passing query(where=...) gets the recall-correct traversal without
# knowing the knob exists; passing graph_predicate_expansion=True/False
# still forces either path.
GRAPH_AUTO_EXPANSION_SELECTIVITY = 0.5
COLLECTION_WHERE_DEMO = {"lang": {"$in": ["en", "de", "fr"]}}
COLLECTION_GET_WHERE_DEMO = {
    "$or": [{"lang": "es"}, {"n_chars": {"$gt": 900}}],
}
COLLECTION_GET_WDOC_DEMO = {"$contains": "the"}


class DuplicateIDError(ValueError):
    """``add`` of an id that already exists (ChromaDB's add contract —
    use ``upsert`` for replace semantics)."""


class SurrogateCollisionError(RuntimeError):
    """Two distinct string ids hashed to one 60-bit surrogate."""


def _sid_py(doc_id: str) -> int:
    """60-bit md5 surrogate of a string id — the string-id analog of
    vec_bucket_py's md5 discipline; fits a BIGINT with headroom (no sign
    bit)."""
    return int(hashlib.md5(doc_id.encode()).hexdigest()[:15], 16)


def _mbucket_py(sid: int) -> int:
    return int(hashlib.md5(str(sid).encode()).hexdigest()[:8], 16) % N_META_BUCKETS


def _check_ids(ids: list) -> None:
    """A NULL or repeated id in a write batch raises ``ValueError``."""
    if None in ids:
        raise ValueError(f"NULL id in {ids.count(None)} batch row(s)")
    if len(set(ids)) != len(ids):
        raise ValueError("duplicate ids within one batch")


def _id_list(ids) -> list:
    """``ids`` as a list of strings: a bare ``str`` is one id (the
    ChromaDB contract), and a non-``str`` element raises ``ValueError``."""
    ids = [ids] if isinstance(ids, str) else list(ids)
    bad = [i for i in ids if not isinstance(i, str)]
    if bad:
        raise ValueError(f"ids must be strings, got {bad[:3]!r}")
    return ids


def _require_int(name: str, val, lo: int, hi: "int | None" = None) -> None:
    """Call-time check of a count argument: an int (not a bool) in
    [lo, hi] (no upper bound when ``hi`` is None)."""
    if (
        isinstance(val, bool)
        or not isinstance(val, int)
        or val < lo
        or (hi is not None and val > hi)
    ):
        bound = f">= {lo}" if hi is None else f"in [{lo}, {hi}]"
        raise ValueError(f"{name} must be an int {bound}, got {val!r}")


# ------------------------------------------------------- driver reads
# Serving reads a committed version on the driver: each version dir is
# listed and each partition dir read once per session with pyarrow (a
# published version never changes), filtered and scored in numpy, and
# the answer handed back as a ``LocalResult`` — no Spark job and no
# py4j call per read.


class LocalResult:
    """The answer of a read, held on the driver: its pyarrow ``table``
    and Spark ``schema``. ``collect``, ``count``, ``columns``,
    ``schema``, ``head``, ``first`` and ``take`` answer locally, with no
    py4j call, and return the Rows Spark's ``collect`` would. Any other
    attribute builds ``spark.createDataFrame(table, schema)`` once and
    delegates to it."""

    def __init__(self, spark: SparkSession, table: pa.Table, schema):
        self._spark, self._table, self.schema = spark, table, schema

    @functools.cached_property
    def _df(self) -> DataFrame:
        return self._spark.createDataFrame(self._table, self.schema)

    def __getattr__(self, name: str):
        return getattr(self._df, name)

    @property
    def columns(self) -> list:
        return self.schema.fieldNames()

    def collect(self) -> list:
        # classic collect's own path: the JVM pickles each row's internal
        # values (timestamps as epoch micros, dates as epoch days) and
        # StructType.fromInternal builds the Row. (Spark Connect's Arrow
        # converter drops the fold of an ambiguous local time, so a
        # fall-back hour's timestamp would not round-trip.)
        def internal(col):
            if pa.types.is_timestamp(col.type):
                return col.cast(pa.int64())
            return col.cast(pa.int32()) if pa.types.is_date32(col.type) else col

        cols = [internal(c).to_pylist() for c in self._table.columns]
        return [self.schema.fromInternal(v) for v in zip(*cols)]

    def count(self) -> int:
        return self._table.num_rows

    def take(self, num: int) -> list:
        _require_int("num", num, 0)
        return LocalResult(self._spark, self._table.slice(0, num), self.schema).collect()

    def head(self, n: "int | None" = None):
        if n is not None:
            return self.take(n)
        rows = self.take(1)
        return rows[0] if rows else None

    def first(self):
        return self.head()


def _list_parts(ver: str) -> dict:
    """{partition dir relative to ``ver``: its data file names, sorted}
    for every dir below the version dir that holds a data file (a
    partition no row hashed to is never written)."""
    out = {}
    skip = len(os.path.join(ver, ""))
    for d, _, files in os.walk(ver):
        # _SUCCESS markers, .crc files
        names = tuple(sorted(f for f in files if not f.startswith(("_", "."))))
        if names and d != ver:
            out[d[skip:]] = names
    return out


def _version_parts(spark: SparkSession, ver: str) -> dict:
    """``_list_parts`` of a published version dir, listed once per
    session: memoized on its path and identity, so a warm read costs one
    ``stat`` of the version dir."""
    from ..memo import version_memo

    return version_memo(
        spark, ver, "coll_parts", lambda: _list_parts(ver), _dir_id(ver)
    )


def _dir_id(path: str) -> "tuple | None":
    """(inode, mtime_ns) of a directory, None when it is absent. A
    published version never changes, but after a rollback the next
    commit publishes new content under the swept orphan's name, so read
    memos key on a dir's identity as well as its path."""
    try:
        st = os.stat(path)
    except FileNotFoundError:
        return None
    return st.st_ino, st.st_mtime_ns


def _read_files(part: str, names, columns: list) -> pa.Table:
    """The ``columns`` of the data files ``names`` of one partition dir,
    concatenated."""
    import pyarrow.parquet as pq

    def read(f):
        # ParquetFile.read skips the dataset layer read_table goes
        # through: ~8x less CPU on these few-KB files
        with pq.ParquetFile(os.path.join(part, f)) as pf:
            return pf.read(columns=columns, use_threads=False)

    return pa.concat_tables([read(f) for f in names])


def _part_memo(spark: SparkSession, kind: str, rel: str, names: tuple, build, *extra):
    """The ``kind`` memo entry of the partition dir ``rel`` whose data
    files are ``names``, ``build()`` on a miss. Those names are unique
    and a hardlink keeps them, so a partition a commit carried over
    unchanged hits across versions, and a commit seeds the entries of
    the partitions it wrote (``Collection._commit_rows``)."""
    from ..memo import files_memo

    return files_memo(spark, kind, build, rel, names, *extra)


def _read_partition(
    spark: SparkSession, ver: str, rel: str, names: tuple, columns: list, convert
):
    """``convert`` of the pyarrow table of the partition dir ``rel`` of
    the published version dir ``ver``, whose data files are ``names``
    (from ``_version_parts``; ``convert(None)`` when there are none).
    Every collection read goes through here, memoized by ``_part_memo``
    on ``rel``, ``names`` and ``columns``."""
    if not names:
        return convert(None)
    return _part_memo(
        spark,
        "coll_partition",
        rel,
        names,
        lambda: convert(_read_files(os.path.join(ver, rel), names, columns)),
        tuple(columns),
    )


def _reader(spark: SparkSession, ver: "str | None"):
    """``read(rel, columns, convert)``: ``_read_partition`` over the
    version dir ``ver``, with the file names of its one listing."""
    if ver is None:  # nothing committed yet: every partition is empty
        return lambda rel, columns, convert: convert(None)
    parts = _version_parts(spark, ver)

    def read(rel: str, columns: list, convert):
        return _read_partition(spark, ver, rel, parts.get(rel, ()), columns, convert)

    return read


_VEC_COLUMNS = ["vec_id", "emb"]


def _vec_entry(ids, emb, dim: int) -> tuple:
    """The decoded form of vecs rows, as read and as a commit writes
    them: (vec_id, n x dim embeddings, n x RP_BANDS band keys, mbucket).
    The band keys and mbuckets are derived from the stored rows, row by
    row (integer arithmetic), so a commit derives them only for the rows
    it adds; a zero vector's keys are -1 (it has none)."""
    import numpy as np

    mb = np.array([_mbucket_py(int(i)) for i in ids], np.int64)
    return ids, emb, _band_keys(emb, dim), mb


def _vec_parts(read, dim: int, vbuckets) -> list:
    """``_vec_entry`` of each of the ``vbuckets`` partitions, sorted,
    memoized with the partition's read."""
    import numpy as np

    def convert(t):
        if t is None:
            return _vec_entry(np.empty(0, np.int64), np.empty((0, dim)), dim)
        emb = t.column("emb").combine_chunks().flatten().to_numpy()
        return _vec_entry(
            t.column("vec_id").to_numpy(), emb.reshape(t.num_rows, dim), dim
        )

    return [
        read(f"vecs/vbucket={vb}", _VEC_COLUMNS, convert) for vb in sorted(vbuckets)
    ]


def _vec_rows(read, dim: int, vbuckets) -> tuple:
    """(vec_id, n x dim embeddings) of the ``vbuckets`` partitions."""
    import numpy as np

    parts = [(np.empty(0, np.int64), np.empty((0, dim)))] + _vec_parts(
        read, dim, vbuckets
    )
    return np.concatenate([p[0] for p in parts]), np.concatenate(
        [p[1] for p in parts]
    )


def _meta_entry(t, schema: pa.Schema) -> pa.Table:
    """The decoded form of a meta partition's table ``t`` (None when
    the partition is empty), as read and as a commit writes it: cast to
    the collection's meta ``schema``."""
    return schema.empty_table() if t is None else t.cast(schema)


def _meta_rows(read, info: dict, mbuckets):
    """pyarrow table of the meta rows of the ``mbuckets`` partitions."""
    schema = _meta_arrow(info["meta_schema"])[1]
    return pa.concat_tables(
        [schema.empty_table()]
        + [
            read(f"meta/mbucket={mb}", schema.names, lambda t: _meta_entry(t, schema))
            for mb in sorted(mbuckets)
        ]
    )


_PLAIN_NAME = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _ddl_name(name: str) -> str:
    """A metadata column name as it is spliced into ``meta_schema``:
    as is when it is a plain identifier (the string every stored root
    holds), else backtick-quoted with any backtick in it doubled."""
    if _PLAIN_NAME.fullmatch(name):
        return name
    return "`" + name.replace("`", "``") + "`"


@functools.lru_cache(maxsize=64)
def _meta_arrow(meta_schema: str) -> tuple:
    """({name: Spark field}, pyarrow schema) of the meta rows of a
    collection's ``meta_schema`` DDL, without the mbucket partition
    column."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    fields = [f for f in StructType.fromDDL(meta_schema).fields if f.name != "mbucket"]
    return {f.name: f for f in fields}, to_arrow_schema(StructType(fields))


def _arrow_column(values: list, typ):
    """pyarrow array of collected Spark row values. A collected
    timestamp is a naive local-time datetime; it is made aware so the
    UTC column stores the instant Spark held."""
    import datetime

    if pa.types.is_timestamp(typ):
        values = [
            v.astimezone(datetime.timezone.utc)
            if isinstance(v, datetime.datetime) and v.tzinfo is None
            else v
            for v in values
        ]
    return pa.array(values, typ)


def _list_array(mat):
    """The rows of an n x dim float64 matrix as an ``array<double>``
    column (the vecs store's ``emb``)."""
    import numpy as np

    n, dim = mat.shape
    offsets = dim * np.arange(n + 1, dtype=np.int32)
    return pa.ListArray.from_arrays(offsets, pa.array(mat.reshape(-1), pa.float64()))


@functools.lru_cache(maxsize=None)
def _signs_t(dim: int):
    """The dim x RP_PLANES +-1 hyperplane matrix the band keys dot
    (shared, hence read-only)."""
    import numpy as np

    signs = np.array(_rp_plane_signs(RP_PLANES, dim), np.int64).T
    signs.flags.writeable = False
    return signs


def _band_keys(mat, dim: int):
    """n x RP_BANDS band keys of an n x ``dim`` float64 matrix of stored
    vectors, -1 for a zero vector (it has none)."""
    keys = _rp_band_keys(mat, _signs_t(dim))
    keys[~(mat != 0).any(axis=1)] = -1
    return keys


def _probe(keys, qkeys, multiprobe: bool) -> list:
    """One row mask per query over the stored ``keys`` (n x RP_BANDS,
    -1 for none): a row is a candidate when in some band its key equals
    the query's ``qkeys`` row or, with ``multiprobe``, a Hamming-1 flip
    of it."""
    import numpy as np

    flips = [0] + [1 << b for b in range(RP_BAND_BITS) if multiprobe]
    bands = np.arange(RP_BANDS)
    out = []
    for qk in qkeys:
        probed = np.zeros((RP_BANDS, 1 << RP_BAND_BITS), bool)
        for b in bands:
            probed[b, [int(qk[b]) ^ f for f in flips]] = True
        out.append((probed[bands, keys] & (keys >= 0)).any(axis=1))
    return out


def _sims4(q, ids, rows: dict) -> dict:
    """{id: 4-dp cosine of ``rows[id]`` against the query ``q``} for
    the ``ids`` that have a row, scored in one ``np_scores`` call — the
    Catalyst fold every other strategy scores with."""
    import numpy as np

    have = [i for i in ids if i in rows]
    if not have:
        return {}
    mat = np.stack([rows[i] for i in have]).astype(np.float64, copy=False)
    qs = np.asarray(q, dtype=np.float64)[None, :]
    return dict(zip(have, np_round4(np_scores(mat, qs, "cosine"))[:, 0].tolist()))


def _row_mask(meta, where, where_document):
    """The meta rows ``where`` and ``where_document`` keep."""
    import numpy as np

    keep = np.ones(meta.num_rows, bool)
    if where is not None:
        keep &= where_mask(where, meta)
    if where_document is not None:
        keep &= where_document_mask(where_document, meta, "document")
    return keep


class Collection:
    """One ChromaDB-style collection rooted at ``root`` (a directory
    this class owns). All reads resolve the current committed version;
    all writes are atomic versioned commits."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        space: str = "cosine",
        embedder: "dict | None" = None,
    ):
        """``space`` is ChromaDB's ``hnsw:space`` — 'cosine' (default),
        'l2', or 'ip' — fixed at creation (persisted in the sidecar; a
        later open with a different value raises rather than silently
        reranking in the wrong metric — the r10 recall-measurement
        lesson: distance must be measured in the index's own metric).
        Candidates always come from the angular RP-LSH probe; for the
        normalized embeddings the reference stores, all three spaces
        rank identically, and for unnormalized data l2/ip still rerank
        EXACTLY in their own metric over the probed candidates.

        ``embedder`` (r12, ChromaDB's per-collection
        ``embedding_function``): an operators/embed.py spec dict
        ({'kind': 'hash_projection', 'dim': N} or {'kind':
        'sentence_transformer', 'model': name}) persisted in the
        sidecar like ``space`` — ``query_texts`` and documents-only
        ``add``/``upsert`` batches route through THIS collection's
        embedder instead of the global env-gated singleton, so two
        collections with different encoders coexist. A later open
        passing a DIFFERENT spec raises (the space guard discipline);
        opening with None adopts whatever the sidecar holds."""
        if space not in ("cosine", "l2", "ip"):
            raise ValueError(f"unknown space {space!r}")
        if embedder is not None and not isinstance(embedder, dict):
            raise ValueError("embedder: expected a spec dict or None")
        self.spark = spark
        self.root = root
        self.space = space
        self._embedder = embedder
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------ state

    def _sidecar_path(self) -> str:
        return os.path.join(self.root, "collection.json")

    def _check_info(self, info: dict) -> dict:
        stored = info.get("space", "cosine")
        if stored != self.space:
            raise ValueError(
                f"collection {self.root} was created with space="
                f"{stored!r}; reopen with that space (metric mismatch "
                f"silently corrupts rankings)"
            )
        stored_emb = info.get("embedder")
        if (
            self._embedder is not None
            and stored_emb is not None
            and stored_emb != self._embedder
        ):
            raise ValueError(
                f"collection {self.root} was created with embedder="
                f"{stored_emb!r}; reopen with that spec (or None to "
                f"adopt it) — a different encoder silently corrupts "
                f"query_texts rankings"
            )
        return info

    def _load_sidecar(self) -> "dict | None":
        p = self._sidecar_path()
        if not os.path.exists(p):
            return None
        with open(p) as f:
            info = json.load(f)
        return self._check_info(info)

    def _save_sidecar(self, info: dict) -> dict:
        """Exclusive-create; a racing creator must agree on the config
        (same first-batch schema) or the loser errors out loudly."""
        p = self._sidecar_path()
        try:
            fd = os.open(p, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
        except FileExistsError:
            existing = self._load_sidecar()
            if existing != info:
                raise ValueError(
                    f"collection {self.root}: config mismatch with a "
                    f"concurrent creator: {existing} != {info}"
                )
            return existing
        with os.fdopen(fd, "w") as f:
            json.dump(info, f)
        return info

    def _cur(self) -> "str | None":
        if getattr(self, "_pin", None) is None:
            return vn.current_dir(self.root)
        pinned = os.path.join(self.root, self._pin)
        if not os.path.isdir(pinned):
            raise ValueError(
                f"pinned version {self._pin!r} is gone (gc keeps only the "
                f"trailing versions); versions() lists "
                f"{[v['name'] for v in self.versions()]}"
            )
        return pinned

    def _version_info(self, cur: "str | None") -> "dict | None":
        """Config persisted INSIDE the version dir (ADVICE r11): commits
        carry ``collection.json`` with the data it describes, so a
        reader/writer that resolved ``cur`` always sees a schema
        consistent with the rows it reads — no window where a schema
        evolution has committed data but not yet swapped the root
        sidecar (and an ``at()`` snapshot reads with ITS version's
        schema, not today's). None for pre-r12 versions (root sidecar
        remains the fallback)."""
        if cur is None:
            return None
        p = os.path.join(cur, "collection.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            info = json.load(f)
        return self._check_info(info)

    def _info(self, cur: "str | None") -> "dict | None":
        """Authoritative config for the resolved version: the version-
        scoped copy when present, else the root sidecar (legacy
        versions / empty collection)."""
        vinfo = self._version_info(cur)
        return vinfo if vinfo is not None else self._load_sidecar()

    def _embedder_spec(self) -> "dict | None":
        """The collection's effective embedder spec: the persisted
        sidecar value wins (creation-time contract), the constructor
        arg covers the not-yet-created window, None = the env-gated
        global singleton."""
        info = self._info(self._cur())
        if info is not None and info.get("embedder") is not None:
            return info["embedder"]
        return self._embedder

    def at(self, version: str) -> "Collection":
        """Read-only snapshot view pinned to ``version`` (a name from
        ``versions()``) — time-travel READS without moving ``_CURRENT``
        (``rollback`` is the write-side tool; this one lets a reader
        keep serving yesterday's index while writers continue).
        Committed version dirs are immutable, so the view is a true
        snapshot; note gc retains only the trailing versions (keep=2),
        so pin only versions ``versions()`` still lists. Writes through
        a pinned view raise."""
        names = {v["name"] for v in self.versions()}
        if version not in names:
            raise ValueError(
                f"unknown version {version!r}; on disk: {sorted(names)}"
            )
        snap = Collection(self.spark, self.root, space=self.space)
        snap._pin = version
        return snap

    def _require(self) -> tuple[str, dict]:
        cur = self._cur()
        info = self._info(cur)
        if cur is None or info is None:
            raise ValueError(f"collection {self.root} is empty — add() first")
        return cur, info

    def _frame(self, info, inc, page, lead=(), embeddings=None) -> LocalResult:
        """The ``LocalResult`` a read returns: the ``lead`` (field,
        array) columns, then ``id`` and the ``inc`` projection of the
        meta rows ``page``, then ``embeddings`` when asked for."""
        from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

        fields = _meta_arrow(info["meta_schema"])[0]
        cols = ["id"] + (["document"] if "documents" in inc else [])
        cols += self._meta_cols(info) if "metadatas" in inc else []
        struct = [f for f, _ in lead] + [fields[c] for c in cols]
        arrays = [a for _, a in lead] + [page.column(c) for c in cols]
        if "embeddings" in inc:
            struct.append(StructField("embedding", ArrayType(DoubleType())))
            arrays.append(pa.array(embeddings, pa.list_(pa.float64())))
        return LocalResult(
            self.spark,
            pa.Table.from_arrays(arrays, names=[f.name for f in struct]),
            StructType(struct),
        )

    def _graph(self, cur: str, dim: int) -> tuple:
        """(``graph_ann.build_graph`` of the version ``cur``'s vectors,
        {id: embedding row}). A pure function of the vectors, so it is
        memoized on the version's ``vecs/`` data-file names: every graph
        query of one version shares one build, a version that hardlinked
        the same files shares it too, and a commit that changed a vector
        (a recommit after a rollback included) wrote new uuid names and
        builds again."""
        from ..memo import files_memo
        from ..operators import graph_ann

        files = tuple(
            sorted(
                (rel, names)
                for rel, names in _version_parts(self.spark, cur).items()
                if rel.startswith("vecs" + os.sep)
            )
        )

        def build():
            read = _reader(self.spark, cur)
            # rows are views of the memoized partition arrays, not copies
            payload = {
                i: row
                for ids, emb, *_ in _vec_parts(read, dim, range(N_VEC_BUCKETS))
                for i, row in zip(ids.tolist(), emb)
            }
            ids, mat = _vec_rows(read, dim, range(N_VEC_BUCKETS))
            return graph_ann.build_graph(ids, mat), payload

        return files_memo(self.spark, "coll_graph", build, files)

    def _graph_batch_state(self, cur: str, qvecs: list) -> tuple:
        """The prologue shared by the blind and the ACORN beams: each
        query's seeds are the md5-min entry hub plus the hubs of its
        GRAPH_SEED_CELLS nearest cells (``_seed_hubs``), scored against
        the version's vectors (NO self-exclusion: a stored vector
        identical to a query surfaces at distance 0, Chroma semantics).
        Returns (fetch_adj, payload, visited); ``payload`` maps every
        stored id to its vector."""
        from ..operators.graph_ann import _seed_hubs

        (adjacency, entry, cent_rows, hub_of), payload = self._graph(
            cur, len(qvecs[0])
        )
        seeds_per_q = [
            {int(h) for h in _seed_hubs(cent_rows, hub_of, q)}
            | ({entry} if entry is not None else set())
            for q in qvecs
        ]
        visited = [_sims4(q, ss, payload) for q, ss in zip(qvecs, seeds_per_q)]

        def fetch_adj(srcs) -> dict:
            """{src: {nbr, ...}} of the frontier. NO per-source
            expansion cap — a sim-ranked cap was measured to sever hub
            star-doors into interleaved sub-clusters (graph_ann.py
            GRAPH_SEED_CELLS doc); volume is already bounded by the
            build's per-source reversal cap."""
            return {s: set(adjacency[s].tolist()) for s in srcs if s in adjacency}

        return fetch_adj, payload, visited

    def _graph_beam_batch(
        self, cur: str, qvecs: list, beam: int, rounds: int
    ) -> list:
        """Beam searches for M RAW query vectors over the graph of the
        version ``cur``, expanding the union of all frontiers once per
        round. Per-query visited state is untouched, so each query's
        evolution equals its solo run. Returns one {id: 4-dp sim} per
        query, in input order."""
        fetch_adj, payload, visited = self._graph_batch_state(cur, qvecs)
        frontier = [
            sorted(v, key=lambda x: (-v[x], x))[:beam] for v in visited
        ]
        for _ in range(rounds):
            all_srcs = {s for fr in frontier for s in fr}
            if not all_srcs:
                break
            adj = fetch_adj(all_srcs)
            new_per_q = [
                {n for s in frontier[qi] for n in adj.get(s, ())}
                - set(visited[qi])
                for qi in range(len(qvecs))
            ]
            need = set().union(*new_per_q) if new_per_q else set()
            if not need:
                break  # every query at its fixed point
            for qi, q in enumerate(qvecs):
                visited[qi].update(_sims4(q, new_per_q[qi], payload))
                frontier[qi] = sorted(
                    visited[qi], key=lambda x: (-visited[qi][x], x)
                )[:beam]
        return visited

    def _graph_beam_batch_acorn(
        self, cur: str, qvecs: list, beam: int, rounds: int, pass_of
    ) -> "tuple[list, set]":
        """Predicate-aware beams (after ACORN, SIGMOD'24): per query,
        the frontier ranks PASSING visited nodes first (failing ones
        fill only when passing are scarce), and hop-1's failing members
        get their own neighbors expanded (hop 2) — so a selective
        ``where`` keeps recall instead of thinning an oblivious pool
        (BASELINE.md r12b: 0.15 at 10% selectivity). Per round: two
        fused expansions (frontiers; failing hop-1) plus two ``pass_of``
        calls on the meta rows. ~2× the blind beam's work, the
        documented opt-in cost. Returns (visited list, passing id
        set)."""
        fetch_adj, payload, visited = self._graph_batch_state(cur, qvecs)
        passing: set = set(pass_of({s for v in visited for s in v}))
        for _ in range(rounds):
            frontier = [
                sorted(
                    v, key=lambda x: (x not in passing, -v[x], x)
                )[:beam]
                for v in visited
            ]
            all_srcs = {s for fr in frontier for s in fr}
            if not all_srcs:
                break
            adj = fetch_adj(all_srcs)
            new1_per_q = [
                {n for s in frontier[qi] for n in adj.get(s, ())}
                - set(visited[qi])
                for qi in range(len(qvecs))
            ]
            need1 = set().union(*new1_per_q) if new1_per_q else set()
            pass1 = set(pass_of(need1 - passing)) if need1 else set()
            passing |= pass1
            # hop 2 through the failing hop-1 members, fused across
            # queries (each query only adopts hop-2 nodes reached
            # through ITS OWN failing neighbors — per-query state stays
            # solo-equivalent)
            fail_per_q = [
                {n for n in new1_per_q[qi] if n not in passing}
                for qi in range(len(qvecs))
            ]
            all_fail = set().union(*fail_per_q) if fail_per_q else set()
            adj2 = fetch_adj(all_fail)
            new2_per_q = [
                {n for s in fail_per_q[qi] for n in adj2.get(s, ())}
                - set(visited[qi])
                - new1_per_q[qi]
                for qi in range(len(qvecs))
            ]
            need2 = set().union(*new2_per_q) if new2_per_q else set()
            pass2 = set(pass_of(need2 - passing)) if need2 else set()
            passing |= pass2
            need = need1 | need2
            if not need:
                break
            for qi, q in enumerate(qvecs):
                visited[qi].update(
                    _sims4(q, new1_per_q[qi] | new2_per_q[qi], payload)
                )
        return visited, passing

    # ----------------------------------------------------------- writes
    # Every add/upsert/update/delete/merge commit is planned on the
    # driver (``_commit_rows``): the batch is collected once and checked
    # in numpy, the rows it replaces or deletes are found with the read
    # path's partition readers, and each partition the commit touches
    # is rewritten as ONE pyarrow file — its old rows minus those ids,
    # plus the batch's rows for it. vn.commit_version hardlinks every
    # other partition and publishes. A local batch runs no Spark job.

    @staticmethod
    def _intake(batch: DataFrame) -> tuple[list, dict]:
        """(fields, {name: values}) of a write batch: its Spark fields
        and each column's values as ``collect`` gives them, with ``id``,
        ``embedding`` and ``document`` in the stored types. The batch is
        collected as it is unless one of those columns needs a cast,
        which a Spark ``select`` makes first (a pandas or Arrow batch is
        a LocalRelation, which collects without a job; any other plan
        runs its own job here, once)."""
        fields = batch.schema.fields
        if any(
            f.name in _STORED and f.dataType.simpleString() != _STORED[f.name]
            for f in fields
        ):
            batch = batch.select(
                *[
                    F.col(f.name).cast(_STORED[f.name]).alias(f.name)
                    if f.name in _STORED
                    else F.col(_ddl_name(f.name))
                    for f in fields
                ]
            )
            fields = batch.schema.fields
        rows = batch.collect()
        return fields, {f.name: [r[j] for r in rows] for j, f in enumerate(fields)}

    def add(self, batch: DataFrame) -> str:
        """Insert-only (ChromaDB ``add``): any id already present
        raises ``DuplicateIDError``."""
        return self._write(batch, replace=False)

    def upsert(self, batch: DataFrame) -> str:
        """Insert-or-replace (the reference's write path,
        indexing_agent.py:332-361): a resubmitted id's vector, document
        and metadata are replaced atomically across all components."""
        return self._write(batch, replace=True)

    def update(self, batch: DataFrame) -> str:
        """Update-only (ChromaDB ``update`` — distinct from ``upsert``):
        every id in the batch must already exist; an absent id raises
        ``KeyError`` and nothing commits.

        Partial batches (r11, the Chroma ``update(ids, metadatas=...)``
        shape): the batch may OMIT ``embedding``, ``document``, and/or
        any metadata column — omitted fields keep their stored values,
        read from the current version's partitions on the driver BEFORE
        the atomic replace (Chroma replaces the whole metadata dict;
        with schema-on-first-write typed columns, the column subset is
        the equivalent contract). Provided columns replace. A
        full-schema batch is an upsert that requires every id present;
        a partial one is collected once and completed on the driver,
        then commits through the same driver write path (no Spark job
        for a local batch either way).

        Lost-update fence (ADVICE r11): the carried-forward old values
        are a snapshot; the commit CASes on exactly that snapshot's
        version, so a concurrent commit landing mid-assembly raises
        ``ConcurrentWriterError`` instead of silently reverting the
        interleaved writer's changes to omitted columns — this method
        then re-derives the assembly from the new current version and
        retries (bounded)."""
        cols = set(batch.columns)
        if "id" not in cols:
            raise ValueError("batch needs an 'id' column")
        cur = self._cur()
        info = self._info(cur)
        if cur is None or info is None:
            some = [r["id"] for r in batch.select("id").limit(3).collect()]
            raise KeyError(
                f"update(): collection is empty — ids {some} absent; "
                f"use add() or upsert()"
            )
        meta_cols = self._meta_cols(info)
        full = {"embedding", "document", *meta_cols}
        provided = cols - {"id"}
        unknown = provided - full
        if unknown:
            raise ValueError(
                f"update(): unknown columns {sorted(unknown)} — collection "
                f"schema is {sorted(full)}"
            )
        if provided >= full:
            return self._write(batch, replace=True, require_present=True)

        self._assert_writable()
        fields, values = self._intake(batch)
        _check_ids(values["id"])
        if not values["id"]:
            return cur
        last = None
        for _ in range(3):
            try:
                return self._update_partial(fields, values, cur, info)
            except vn.ConcurrentWriterError as ex:
                last = ex
                cur = self._cur()
                info = self._info(cur)
                if cur is None or info is None:
                    raise
        raise last

    def _update_partial(self, fields, values, cur, info) -> str:
        """One partial-update attempt against the ``cur`` snapshot: the
        columns the collected batch (``_intake``'s ``fields`` and
        ``values``) omits are filled from ``cur``'s stored rows, and the
        completed batch commits with the CAS expected pinned to ``cur``
        (``_commit_batch(expected_version=...)``) so a stale assembly
        loses loudly, never silently."""
        import numpy as np
        import pandas as pd

        read = _reader(self.spark, cur)
        ids = values["id"]
        sids = np.array([_sid_py(i) for i in ids], np.int64)
        old = _meta_rows(read, info, {_mbucket_py(int(s)) for s in sids})
        pos = pd.Index(old.column("vec_id").to_numpy()).get_indexer(sids)
        given = {f.name: f for f in fields}
        if "embedding" not in given:
            vids, vmat = _vec_rows(
                read, info["dim"], {vec_bucket_py(int(s)) for s in sids}
            )
            vpos = pd.Index(vids).get_indexer(sids)
            pos[vpos < 0] = -1
        absent = [i for i, p in zip(ids, pos) if p < 0]
        if absent:
            raise KeyError(
                f"update(): ids not present: {absent[:3]} — use upsert() to "
                f"insert-or-replace"
            )
        old = old.take(pa.array(pos))
        stored = _meta_arrow(info["meta_schema"])[0]

        def column(c):
            return values[c] if c in given else old.column(c).to_pylist()

        # in the COLLECTION's column order: the commit derives the meta
        # schema from the metadata columns' order
        return self._commit_batch(
            ids,
            values["embedding"] if "embedding" in given else list(vmat[vpos]),
            column("document"),
            [(given.get(c, stored[c]), column(c)) for c in self._meta_cols(info)],
            replace=True,
            require_present=True,
            expected_version=os.path.basename(cur),
        )

    def _assert_writable(self) -> None:
        if getattr(self, "_pin", None) is not None:
            raise ValueError(
                f"collection view pinned to {self._pin} is read-only — "
                f"write through the unpinned Collection"
            )

    def _write(self, batch: DataFrame, replace: bool, require_present: bool = False) -> str:
        """Commit a whole write batch: ``_intake`` collects it, then
        ``_commit_batch`` checks and commits its rows."""
        self._assert_writable()
        if "embedding" not in batch.columns and "document" in batch.columns:
            # ChromaDB add(documents=...): embeddings computed by THE
            # COLLECTION's embedder (sidecar spec; global singleton
            # when unset) through the Arrow batch path (r12)
            from ..operators.embed import make_embed_udf_for

            batch = batch.withColumn(
                "embedding",
                make_embed_udf_for(self._embedder_spec())(
                    F.col("document").cast("string")
                ),
            )
        if "id" not in batch.columns or "embedding" not in batch.columns:
            raise ValueError("batch needs 'id' and 'embedding' columns")
        atomic = ("string", "bigint", "int", "smallint", "tinyint",
                  "double", "float", "boolean", "date", "timestamp",
                  "decimal")
        for f in batch.schema.fields:
            if f.name not in _RESERVED and not f.dataType.simpleString().startswith(atomic):
                raise ValueError(
                    f"metadata column {f.name!r} must be a scalar "
                    f"(ChromaDB metadata values are str/int/float/bool), "
                    f"got {f.dataType.simpleString()}"
                )
        fields, values = self._intake(batch)
        ids = values["id"]
        return self._commit_batch(
            ids,
            values["embedding"],
            values.get("document", [None] * len(ids)),
            [(f, values[f.name]) for f in fields if f.name not in _RESERVED],
            replace,
            require_present,
        )

    def _commit_batch(
        self,
        ids: list,
        embs: list,
        docs: list,
        meta: list,
        replace: bool,
        require_present: bool = False,
        expected_version: "str | None" = None,
    ) -> str:
        """Check and commit the rows of a collected batch: their
        ``ids``, ``embs`` (a sequence of floats or None each) and
        ``docs``, and ``meta``, one (Spark field, values) pair per
        metadata column, in the order that fixes the meta schema on the
        first write.

        ``expected_version`` (ADVICE r11): the version name the batch
        was ASSEMBLED against (partial update's carried-forward old
        values). When set, the resolved current version must still be
        it — and the commit CASes on it under the lock — so a
        concurrent commit between assembly and here raises
        ``ConcurrentWriterError`` instead of silently reverting the
        interleaved writer's columns."""
        import numpy as np

        if not ids:
            cur = self._cur()
            return cur if cur is not None else ""
        _check_ids(ids)
        sids = [_sid_py(i) for i in ids]
        if len(set(sids)) != len(sids):
            # two DISTINCT ids sharing one 60-bit surrogate would write
            # two rows under one vec_id (ADVICE r11) — rejected like a
            # collision with a stored row
            by_sid: dict = {}
            for i, s in zip(ids, sids):
                by_sid.setdefault(s, []).append(i)
            s, grp = min((s, g) for s, g in by_sid.items() if len(g) > 1)
            raise SurrogateCollisionError(
                f"ids {min(grp)!r} and {max(grp)!r} in one batch share "
                f"surrogate {s} — shard into another collection"
            )
        # a NULL or non-finite embedding (a NULL element reads as NaN
        # here) has no cosine and breaks the graph's centroid
        # training: rejected, with the dims checked, before any commit
        embs = [None if e is None else np.asarray(e, np.float64) for e in embs]
        bad = [i for i, e in zip(ids, embs) if e is None or not np.isfinite(e).all()]
        if bad:
            raise ValueError(
                f"embedding of id {min(bad)!r} is NULL or holds a NULL, NaN "
                f"or infinite element"
            )
        lo, hi = min(len(e) for e in embs), max(len(e) for e in embs)
        if lo != hi:
            raise ValueError(f"mixed embedding dims {lo}..{hi}")
        meta_schema = ", ".join(
            ["vec_id bigint", "id string", "document string"]
            + [f"{_ddl_name(f.name)} {f.dataType.simpleString()}" for f, _ in meta]
            + ["mbucket int"]
        )
        # parsed before the first batch saves it: a schema Spark cannot
        # read back must never reach the sidecar
        schema = _meta_arrow(meta_schema)[1]
        cur = self._cur()
        if expected_version is not None and (
            cur is None or os.path.basename(cur) != expected_version
        ):
            raise vn.ConcurrentWriterError(
                f"{self.root}: batch assembled against {expected_version} "
                f"but _CURRENT is "
                f"{None if cur is None else os.path.basename(cur)!r} — "
                f"re-derive"
            )
        # validate against the VERSION-scoped config when the resolved
        # version carries one (schema consistent with the data by
        # construction — ADVICE r11); root sidecar covers first-write
        # and legacy versions.
        info = self._version_info(cur) if cur is not None else None
        if info is None:
            desired = {"dim": lo, "meta_schema": meta_schema, "space": self.space}
            if self._embedder is not None:
                desired["embedder"] = self._embedder
            info = self._save_sidecar(desired)
        if info["meta_schema"] != meta_schema:
            raise ValueError(
                f"metadata schema mismatch: collection has "
                f"{info['meta_schema']!r}, batch brings {meta_schema!r}"
            )
        if info["dim"] != lo:
            raise ValueError(f"dim mismatch: {info['dim']} != {lo}")
        extra = {"collection.json": json.dumps(info)}
        # the meta fields after vec_id: id, document, metadata columns
        add = pa.Table.from_arrays(
            [pa.array(sids, pa.int64())]
            + [
                _arrow_column(v, f.type)
                for v, f in zip([ids, docs] + [v for _, v in meta], list(schema)[1:])
            ],
            schema=schema,
        )
        mat = np.stack(embs)
        if cur is None:
            if require_present:
                raise KeyError(
                    f"update(): collection is empty — ids {ids[:3]} absent; "
                    f"use add() or upsert()"
                )
            try:
                return self._commit_rows(None, info, (), add, mat, extra)
            except vn.ConcurrentWriterError:
                # a racing creator won the initial commit; replay this
                # batch on top of theirs with the CALLER's semantics —
                # a losing add() must still raise DuplicateIDError if the
                # winner carried overlapping ids (VERDICT r10 next #4)
                return self._commit_batch(
                    ids, embs, docs, meta, replace, require_present
                )
        victims = self._stored_ids(cur, info, add, replace, require_present)
        return self._commit_rows(cur, info, victims, add, mat, extra)

    def _stored_ids(self, cur, info, add, replace, require_present):
        """The vec_ids of the ``add`` rows that ``cur`` already stores,
        read from their mbucket partitions: a stored row under another
        id is a surrogate collision, ``require_present`` rejects an
        absent id and an insert-only write (not ``replace``) any
        stored one."""
        import numpy as np

        sids = add.column("vec_id").to_numpy()
        old = _meta_rows(
            _reader(self.spark, cur), info, {_mbucket_py(int(s)) for s in sids}
        )
        old = old.filter(pc.is_in(old.column("vec_id"), value_set=pa.array(sids)))
        stored = dict(
            zip(old.column("vec_id").to_pylist(), old.column("id").to_pylist())
        )
        pairs = list(zip(sids.tolist(), add.column("id").to_pylist()))
        for s, i in pairs:
            if stored.get(s, i) != i:
                raise SurrogateCollisionError(
                    f"ids {stored[s]!r} and {i!r} share surrogate {s} — "
                    f"shard into another collection"
                )
        absent = [i for s, i in pairs if s not in stored]
        if require_present and absent:
            raise KeyError(
                f"update(): ids not present: {absent[:3]} — use upsert() to "
                f"insert-or-replace"
            )
        if not replace and stored:
            raise DuplicateIDError(
                f"add(): ids already present (surrogates {sorted(stored)[:3]}) "
                f"— use upsert()"
            )
        return np.array(sorted(stored), np.int64)

    def _commit_rows(self, cur, info, victims, add=None, mat=None, extra=None) -> str:
        """Copy-on-write commit on ``cur`` (None for the initial build):
        remove the ``victims`` vec_ids and add the ``add`` rows (meta
        schema) with their ``mat`` embeddings. Every vecs and meta
        partition that holds a victim or receives a row becomes one new
        file of its surviving and added rows. The commit CASes on
        ``cur``; once it has published, each file it wrote is seeded
        into the read memos in the decoded form a read of it gives (the
        kept rows' entries sliced from the old partition's, band keys
        derived only for the added rows), so the reads that follow open
        no file. A commit that raises seeds nothing."""
        import numpy as np

        dim = info["dim"]
        schema = _meta_arrow(info["meta_schema"])[1]
        if add is None:
            add, mat = schema.empty_table(), np.empty((0, dim))
        sids = add.column("vec_id").to_numpy()
        # the victims grouped by the partition that holds each: only
        # those partitions mask, every other one keeps all its rows
        gone_vb, gone_mb = {}, {}
        for v in np.asarray(victims, np.int64).tolist():
            gone_vb.setdefault(vec_bucket_py(v), []).append(v)
            gone_mb.setdefault(_mbucket_py(v), []).append(v)
        read = _reader(self.spark, cur)
        add_vb = np.array([vec_bucket_py(int(s)) for s in sids], np.int64)
        add_mb = np.array([_mbucket_py(int(s)) for s in sids], np.int64)
        # {partition rel: (columns, decoded entry)} of every file written
        seeds = {}
        vecs = {}
        for vb in sorted(gone_vb.keys() | set(add_vb.tolist())):
            (old,) = _vec_parts(read, dim, [vb])
            keep = ~np.isin(old[0], gone_vb[vb]) if vb in gone_vb else slice(None)
            new = add_vb == vb
            entry = tuple(
                np.concatenate([o[keep], a])
                for o, a in zip(old, _vec_entry(sids[new], mat[new], dim))
            )
            spec = f"vbucket={vb}"
            vecs[spec] = pa.table({"vec_id": entry[0], "emb": _list_array(entry[1])})
            seeds[f"vecs/{spec}"] = (_VEC_COLUMNS, entry)
        meta = {}
        for mb in sorted(gone_mb.keys() | set(add_mb.tolist())):
            rows = _meta_rows(read, info, [mb])
            if mb in gone_mb:
                gone = np.isin(rows.column("vec_id").to_numpy(), gone_mb[mb])
                rows = rows.filter(pa.array(~gone))
            spec = f"mbucket={mb}"
            meta[spec] = pa.concat_tables(
                [rows, add.filter(pa.array(add_mb == mb))]
            ).combine_chunks()
            seeds[f"meta/{spec}"] = (schema.names, _meta_entry(meta[spec], schema))
        new_ver = vn.commit_version(
            self.spark,
            self.root,
            [
                vn.Component("vecs", ("vbucket",), tables=vecs),
                vn.Component("meta", ("mbucket",), tables=meta),
            ],
            expected=None if cur is None else os.path.basename(cur),
            extra_files=extra,
        )
        parts = _version_parts(self.spark, new_ver)
        for rel, (columns, entry) in seeds.items():
            names = parts.get(rel)
            if not names:  # an emptied partition wrote no file
                continue
            _part_memo(
                self.spark, "coll_partition", rel, names, lambda: entry, tuple(columns)
            )
            if rel.startswith("meta/"):
                _part_memo(self.spark, "coll_count", rel, names, lambda: entry.num_rows)
        return new_ver

    def delete(
        self,
        ids: "str | list[str] | None" = None,
        where: "dict | None" = None,
        where_document: "dict | None" = None,
    ) -> str:
        """Targeted deletion (ChromaDB ``delete(ids=..., where=...)``):
        the victims are the rows ``get`` with the same selectors returns
        (``_selected``, on the driver); only victim partitions rewrite,
        inside one atomic commit."""
        self._assert_writable()
        if ids is None and where is None and where_document is None:
            raise ValueError("delete(): pass ids and/or where/where_document")
        cur, info = self._require()
        meta, keep = self._selected(
            _reader(self.spark, cur), info, ids, where, where_document
        )
        vids = meta.column("vec_id").to_numpy()[keep]
        if not vids.size:
            return cur
        return self._commit_rows(cur, info, vids)

    @staticmethod
    def _meta_cols(info: dict) -> list[str]:
        # parsed, not split on commas: a decimal(p,s) type holds one
        names = _meta_arrow(info["meta_schema"])[0]
        return [n for n in names if n not in ("vec_id", "id", "document")]

    def merge_from(self, other: "Collection", on_conflict: str = "error") -> str:
        """Merge another collection's contents into this one — the
        distributed-build pattern: shard the corpus, build per-shard
        collections IN PARALLEL (each an independent root with its own
        writer lock), then fold them together. Because every partition
        value is content-derived by SHARED kernels (vbucket/mbucket from
        md5 of the sid; the band keys are derived from the stored
        vectors on read), the source's component rows are valid in the
        destination AS-IS: a disjoint merge is pure file appends into
        hardlinked partitions — ZERO re-hashing, zero reads of
        destination data.

        ``on_conflict`` for ids present in both: 'error' (default),
        'keep_self' (destination wins; an upsert of the source's other
        rows), 'replace' (source wins; an upsert of all its rows).
        Cross-collection surrogate collisions (same sid, different id)
        always raise. Overlap is found on the driver from the source's
        meta rows and the destination's matching mbucket partitions.

        DISJOINT merges (and merges into an empty root) take the
        METADATA-ONLY fast path: the source's parquet files HARDLINK
        into the new version's partition dirs (Component.
        merge_from_paths) — O(number of files) directory ops, zero row
        data read or written; a conflicted merge reads the source's rows
        with its driver readers and commits them through the same
        copy-on-write planner as ``upsert``."""
        import numpy as np
        import pandas as pd

        self._assert_writable()
        if on_conflict not in ("error", "keep_self", "replace"):
            raise ValueError(f"on_conflict: unknown mode {on_conflict!r}")
        ocur, oinfo = other._require()
        if oinfo.get("space", "cosine") != self.space:
            raise ValueError(
                f"merge_from: source space {oinfo.get('space', 'cosine')!r} "
                f"!= destination space {self.space!r}"
            )

        def _link_comps():
            return [
                vn.Component(
                    "vecs", ("vbucket",),
                    merge_from_paths=(os.path.join(ocur, "vecs"),),
                ),
                vn.Component(
                    "meta", ("mbucket",),
                    merge_from_paths=(os.path.join(ocur, "meta"),),
                ),
            ]

        cur = self._cur()
        info = self._info(cur)
        if cur is None:
            info = self._save_sidecar(dict(oinfo))
            return vn.commit_version(
                self.spark, self.root, _link_comps(), expected=None,
                extra_files={"collection.json": json.dumps(info)},
            )

        if info != oinfo:
            raise ValueError(
                f"merge_from: config mismatch {info} != {oinfo} "
                f"(same dim and metadata schema required)"
            )
        oread = _reader(self.spark, ocur)
        src = _meta_rows(oread, oinfo, range(N_META_BUCKETS))
        overlap = self._stored_ids(cur, info, src, replace=True, require_present=False)
        if overlap.size and on_conflict == "error":
            raise DuplicateIDError(
                f"merge_from: ids present in both collections "
                f"(surrogates {overlap[:3].tolist()}) — pass on_conflict="
                f"'keep_self' or 'replace'"
            )
        if not overlap.size:
            # disjoint: the metadata-only fast path (zero row IO)
            return vn.commit_version(
                self.spark,
                self.root,
                _link_comps(),
                expected=os.path.basename(cur),
                compact=_COMPONENTS,
            )
        if on_conflict == "keep_self":
            src = src.filter(
                pa.array(~np.isin(src.column("vec_id").to_numpy(), overlap))
            )
            overlap = overlap[:0]
            if not src.num_rows:
                return cur
        vids, emb = _vec_rows(oread, oinfo["dim"], range(N_VEC_BUCKETS))
        pos = pd.Index(vids).get_indexer(src.column("vec_id").to_numpy())
        return self._commit_rows(cur, info, overlap, src, emb[pos])

    def fsck(self) -> list:
        """Integrity check: the generic versioned-root invariants
        (pointer, orphans, locks, component readability —
        versioning.fsck_index) plus the facade's semantic invariants:
        vecs↔meta surrogate sets agree and no surrogate maps to two ids
        — checked on the driver, in numpy over pyarrow reads of the
        version's files. Returns (check, ok, detail) tuples, never
        raises."""
        import numpy as np

        cur = self._cur()
        info = self._info(cur)
        comps = [("vecs", ["vbucket"], VECS_SCHEMA)] + (
            [("meta", ["mbucket"], info["meta_schema"])] if info else []
        )
        out = vn.fsck_index(self.root, comps)
        if cur is None or info is None:
            return out
        # the read path's readers over fresh pyarrow reads, past the
        # memos: a file damaged in place keeps its name
        parts = _list_parts(cur)

        def fresh(rel, columns, convert):
            if rel not in parts:
                return convert(None)
            return convert(_read_files(os.path.join(cur, rel), parts[rel], columns))

        try:
            meta = _meta_rows(fresh, info, range(N_META_BUCKETS))
            v_ids, _ = _vec_rows(fresh, info["dim"], range(N_VEC_BUCKETS))
        except (OSError, TypeError, ValueError, pa.ArrowException) as ex:
            out.append(("semantic_reads", False, f"{type(ex).__name__}: {ex}"))
            return out
        m_ids = meta.column("vec_id").to_numpy()
        a = int((~np.isin(v_ids, m_ids)).sum())
        b = int((~np.isin(m_ids, v_ids)).sum())
        out.append(
            ("vecs_meta_same_ids", a == 0 and b == 0, f"vecs_only={a} meta_only={b}")
        )
        ids_per_sid = meta.group_by("vec_id").aggregate([("id", "count_distinct")])
        dup = int((ids_per_sid.column("id_count_distinct").to_numpy() > 1).sum())
        out.append(("surrogates_unique", dup == 0, f"collisions={dup}"))
        return out

    def versions(self) -> "list[dict]":
        """Time-travel catalog (versioning.list_versions)."""
        return vn.list_versions(self.root)

    def describe(self) -> dict:
        """Operational metadata (versioning.describe_index) plus the
        collection config — the ops dashboard row."""
        d = vn.describe_index(self.root)
        d["config"] = self._load_sidecar()
        return d

    def compact(self, threshold: int = 1) -> "str | None":
        """Fold accumulated append files (mutations auto-compact past
        the kernel threshold; this is the explicit maintenance call for
        a tighter bound before a read-heavy phase)."""
        self._assert_writable()
        return vn.compact_index(self.spark, self.root, _COMPONENTS, threshold)

    def rollback(self, to: "str | None" = None) -> str:
        """Undo the last mutation (or roll back to a named on-disk
        version): one pointer swing under the writer lock — the next
        read serves the restored state, the abandoned version becomes
        an orphan the next commit sweeps (versioning.rollback_index)."""
        self._assert_writable()
        return vn.rollback_index(self.root, to)

    # ------------------------------------------------------------ reads

    def modify(self, name: "str | None" = None, metadata: "dict | None" = None) -> None:
        """ChromaDB ``collection.modify(name=..., metadata=...)``:
        rename the collection and/or replace its COLLECTION-LEVEL user
        metadata (a small descriptive dict — distinct from per-row
        metadata). The user dict lives in its own sidecar file so the
        config sidecar's racing-creator equality check is untouched;
        rename is one atomic ``os.rename`` of the root directory (same
        filesystem by construction — the new name is a sibling)."""
        self._assert_writable()
        if metadata is not None:
            if not isinstance(metadata, dict):
                raise ValueError("metadata: expected a dict")
            tmp = os.path.join(self.root, ".user_meta.tmp")
            with open(tmp, "w") as f:
                json.dump(metadata, f)
            os.replace(tmp, os.path.join(self.root, "user_meta.json"))
        if name is not None:
            if not name or "/" in name or name.startswith("."):
                raise ValueError(f"invalid collection name {name!r}")
            new_root = os.path.join(os.path.dirname(self.root), name)
            if os.path.exists(new_root):
                raise ValueError(f"collection {name!r} already exists")
            os.rename(self.root, new_root)
            self.root = new_root

    @property
    def metadata(self) -> dict:
        """Collection-level user metadata set via ``modify`` ({} if unset)."""
        p = os.path.join(self.root, "user_meta.json")
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

    @property
    def name(self) -> str:
        return os.path.basename(self.root)

    def add_metadata_column(
        self, name: str, sql_type: str, default=None
    ) -> str:
        """Schema evolution for the typed metadata store (r11): ChromaDB
        metadata is schemaless per row, so a migrant WILL eventually add
        a field — under schema-on-first-write that needs an explicit
        ALTER. Adds ``name sql_type`` to the metadata schema, filled
        with ``default`` (NULL when omitted) on every existing row.

        Cost shape: rewrites the META component only — the narrow
        sidecar table, never the vector store (it hardlinks through
        unchanged); one atomic commit, planned on the driver like every
        other write: each meta partition is widened in pyarrow and
        written as one file. Spark only casts ``default`` to
        ``sql_type`` (one 1-row job, skipped for NULL), so the stored
        value is Spark's cast (``1.5`` into an ``int`` column is 1).
        The new schema commits ATOMICALLY with the data — persisted
        inside the version dir (ADVICE r11: the old post-commit root
        sidecar swap left a window where a concurrent upsert normalized
        against the OLD schema and rewrote victim partitions without
        the new column; writers now validate against the version-scoped
        schema and CAS on the version, so that upsert loses loudly and
        re-derives). The root sidecar refreshes after as a convenience
        cache; a crash between the two is harmless — the version copy
        is authoritative. Subsequent batches must carry the new column
        (the schema-on-write contract, now including it)."""
        self._assert_writable()
        cur, info = self._require()
        atomic = ("string", "bigint", "int", "smallint", "tinyint",
                  "double", "float", "boolean", "date", "timestamp")
        if sql_type not in atomic:
            raise ValueError(f"unsupported metadata type {sql_type!r}")
        taken = set(self._meta_cols(info)) | set(_RESERVED)
        if name in taken:
            raise ValueError(f"column {name!r} already exists or is reserved")
        old_schema = info["meta_schema"]
        assert old_schema.endswith(", mbucket int")
        new_schema = old_schema.replace(
            ", mbucket int", f", {_ddl_name(name)} {sql_type}, mbucket int"
        )
        value = None
        if default is not None:
            (value,) = (
                self.spark.range(1, numPartitions=1)
                .select(F.lit(default).cast(sql_type))
                .collect()[0]
            )
        field = _meta_arrow(new_schema)[1].field(name)
        read = _reader(self.spark, cur)
        meta = {}
        for mb in range(N_META_BUCKETS):
            rows = _meta_rows(read, info, [mb])
            meta[f"mbucket={mb}"] = rows.append_column(
                field, _arrow_column([value] * rows.num_rows, field.type)
            ).combine_chunks()
        new_info = dict(info)
        new_info["meta_schema"] = new_schema
        new = vn.commit_version(
            self.spark,
            self.root,
            [
                vn.Component("meta", ("mbucket",), tables=meta),
                vn.Component("vecs", link_from=os.path.join(cur, "vecs")),
            ],
            expected=os.path.basename(cur),
            extra_files={"collection.json": json.dumps(new_info)},
        )
        tmp = self._sidecar_path() + ".__tmp__"
        with open(tmp, "w") as f:
            json.dump(new_info, f)
        os.replace(tmp, self._sidecar_path())
        return new

    def fork(self, dst_root: str) -> "Collection":
        """Copy-on-write clone (ChromaDB ``collection.fork``): hardlink
        the current version into a fresh independent root — O(files)
        directory ops, zero row data copied; both sides then mutate
        freely (every write creates new files in new version dirs, so
        shared inodes never diverge in place). Config + user-metadata
        sidecars are copied (not linked — they are replaced in place by
        ``modify``).

        Forking an ``at()``-pinned snapshot view clones THE PINNED
        version (ADVICE r11 — the old path silently cloned the latest,
        contradicting the snapshot abstraction), and the fork's root
        sidecar comes from the pinned version's own config (schema as
        of that version, not today's)."""
        import shutil as _sh

        pin = getattr(self, "_pin", None)
        vn.fork_index(self.root, dst_root, version=pin)
        vinfo = self._version_info(self._cur())
        if vinfo is not None:
            tmp = os.path.join(dst_root, "collection.json.__tmp__")
            with open(tmp, "w") as f:
                json.dump(vinfo, f)
            os.replace(tmp, os.path.join(dst_root, "collection.json"))
        elif os.path.exists(self._sidecar_path()):
            _sh.copyfile(
                self._sidecar_path(), os.path.join(dst_root, "collection.json")
            )
        p = os.path.join(self.root, "user_meta.json")
        if os.path.exists(p):
            _sh.copyfile(p, os.path.join(dst_root, "user_meta.json"))
        return Collection(self.spark, dst_root, space=self.space)

    def count(self) -> int:
        """Row count of the resolved version, summed from the meta
        files' parquet footers (no data page is read), memoized per meta
        partition (``_part_memo``): a commit seeds the counts of the
        partitions it wrote, so the count after it reads no footer."""
        import pyarrow.parquet as pq

        cur = self._cur()
        if cur is None or self._info(cur) is None:
            return 0

        def rows(rel: str, names: tuple) -> int:
            return sum(
                pq.read_metadata(os.path.join(cur, rel, f)).num_rows for f in names
            )

        return sum(
            _part_memo(self.spark, "coll_count", rel, names, lambda: rows(rel, names))
            for rel, names in _version_parts(self.spark, cur).items()
            if rel.startswith("meta" + os.sep)
        )

    def peek(self, n: int = 10) -> LocalResult:
        """The first ``n`` rows by id, as a ``LocalResult``."""
        _require_int("n", n, 0)
        cur, info = self._require()
        meta = _meta_rows(_reader(self.spark, cur), info, range(N_META_BUCKETS))
        page = meta.take(pc.sort_indices(meta, [("id", "ascending")])[:n])
        return self._frame(info, {"documents", "metadatas"}, page)

    def _selected(self, read, info, ids, where, where_document) -> tuple:
        """(meta rows, mask) of the rows the ``ids``/``where``/
        ``where_document`` selectors pick: literal ids read only their
        mbucket partitions, the filters mask on the driver."""
        import numpy as np

        if ids is not None:
            sids = sorted({_sid_py(i) for i in _id_list(ids)})
            meta = _meta_rows(read, info, {_mbucket_py(s) for s in sids})
            keep = np.isin(meta.column("vec_id").to_numpy(), sids)
        else:
            meta = _meta_rows(read, info, range(N_META_BUCKETS))
            keep = np.ones(meta.num_rows, bool)
        return meta, keep & _row_mask(meta, where, where_document)

    def get(
        self,
        ids: "str | list[str] | None" = None,
        where: "dict | None" = None,
        where_document: "dict | None" = None,
        limit: "int | None" = None,
        offset: "int | None" = None,
        after_id: "str | None" = None,
        include: "list[str] | None" = None,
    ) -> LocalResult:
        """ChromaDB ``get``, ordered by id: literal ids read only their
        mbucket partitions; ``where``/``where_document`` filter the meta
        rows on the driver (functions/where_dsl.py's mask).

        Pagination: ``offset`` is ChromaDB's positional contract (skip N
        rows of the id-ordered result). ``after_id`` is the keyset path
        (the rows with ``id > after_id`` — the BM25 search_after
        discipline); pass one or the other, not both.

        ``include`` is ChromaDB's projection switch, any subset of
        {'documents', 'metadatas', 'embeddings'} (default: documents +
        metadatas, embeddings opt-in — the fat column never rides along
        unasked, the docvalues split). Asked, embeddings are read from
        the page's vbucket partitions only.

        Returns a ``LocalResult``: its collect() runs on the driver with
        no Spark job and no py4j call, and it stays valid after gc
        removes its version."""
        import pandas as pd

        cur, info = self._require()
        read = _reader(self.spark, cur)
        if offset is not None and after_id is not None:
            raise ValueError("pass offset OR after_id, not both")
        if after_id is not None and not isinstance(after_id, str):
            raise ValueError(f"after_id must be a str id, got {after_id!r}")
        for name, val in (("limit", limit), ("offset", offset)):
            if val is not None:
                _require_int(name, val, 0)
        inc = {"documents", "metadatas"} if include is None else set(include)
        unknown = inc - {"documents", "metadatas", "embeddings"}
        if unknown:
            raise ValueError(f"include: unknown items {sorted(unknown)}")
        meta, keep = self._selected(read, info, ids, where, where_document)
        if after_id is not None:
            keep &= pc.greater(meta.column("id"), after_id).to_numpy()
        page = meta.filter(pa.array(keep))
        page = page.take(pc.sort_indices(page, [("id", "ascending")]))
        page = page.slice(offset or 0, limit)
        emb = None
        if "embeddings" in inc:
            sids = page.column("vec_id").to_numpy()
            vids, vmat = _vec_rows(
                read, info["dim"], {vec_bucket_py(int(s)) for s in sids}
            )
            pos = pd.Index(vids).get_indexer(sids)
            emb = [vmat[p] if p >= 0 else None for p in pos]
        return self._frame(info, inc, page, embeddings=emb)

    def query(
        self,
        query_embeddings=None,
        n_results: int = 10,
        where: "dict | None" = None,
        where_document: "dict | None" = None,
        multiprobe_hamming: int = 1,
        query_texts=None,
        include: "list[str] | None" = None,
        filter_strategy: str = "probe",
        prefilter_threshold: int = 10_000,
        graph_beam: "int | None" = None,
        graph_rounds: "int | None" = None,
        graph_predicate_expansion: "bool | None" = None,
    ) -> LocalResult:
        """ChromaDB ``query``: RP-LSH probe (the query's band keys
        matched against those derived from the stored vectors), exact
        rerank of the candidates, ``where``/``where_document`` on their
        meta rows, top n_results per query by (distance, id).
        Runs on the driver over partitions read once per version, with
        zero Spark jobs; distances equal the Catalyst expressions bit
        for bit (functions/vector.py's numpy twins and ``round4``).

        ``include`` (r11, the ChromaDB projection switch): any subset of
        {'documents', 'metadatas', 'embeddings', 'distances'} — default
        documents + metadatas + distances (the Chroma default);
        embeddings opt-in. ``id`` and ``query_idx`` always ride along
        (they key the result).

        ``filter_strategy`` (r11, the adaptive pre-filter plan every
        production vector DB ships): 'probe' (default) = LSH candidates
        then post-filter — right when filters keep most of the corpus
        (multiprobe holds recall@10 >= 0.98 down to 10% selectivity,
        BASELINE.md r11). 'exact' = skip the probe and rerank EXACTLY
        over the filter's survivors (zero vectors skipped under cosine)
        — right when the filter is ultra-selective (at 0.1% selectivity
        the survivors of ANY probe thin below k by construction).
        'auto' = exact iff the filter keeps <= ``prefilter_threshold``
        rows. 'auto' is OPT-IN so the default plan stays probe-pinned:
        a plan that silently depends on a cardinality is the wrong
        default for a reproducibility-first engine. 'graph' walks the
        navigable graph of the version's vectors (``_graph_beam_batch``)
        and scores its pool like any other candidates. The graph is
        built on the driver by the version's first graph query and
        memoized on its ``vecs/`` data files (``_graph``), so later
        queries of the version reuse it; no Spark job either way.

        ``query_texts`` is the reference's primary entry
        (``semantic_search(query: str)``, vector_search_tool.py:33-46):
        the text embeds DRIVER-side through the collection's embedder
        (operators/embed.py — env-gated SentenceTransformer,
        deterministic hash-projection fallback). The embedder's dim
        must match the collection's (a collection built with a
        different encoder fails loudly, never serves garbage). A query
        row holding a NaN or infinite element raises.

        ``graph_predicate_expansion`` (tri-state, r15): ``True`` forces
        the ACORN predicate-aware walk, ``False`` forces the blind
        walk + emission filter, ``None`` (default) takes the ACORN beam
        when the filter keeps at most
        ``GRAPH_AUTO_EXPANSION_SELECTIVITY`` of the rows.

        Returns (query_idx, distance, id, document, <metadata>), with
        ``distance = 1 - round(cos, 4)`` (cosine space), as a
        ``LocalResult``: its collect() runs on the driver with no Spark
        job and no py4j call, and it stays valid after gc removes its
        version. Post-filtering is the right order for LSH (buckets are
        metadata-blind); the multiprobe default widens candidates
        because filters thin them.
        """
        import numpy as np

        cur, info = self._require()
        read = _reader(self.spark, cur)
        dim = info["dim"]
        inc = (
            {"documents", "metadatas", "distances"}
            if include is None
            else set(include)
        )
        unknown = inc - {"documents", "metadatas", "embeddings", "distances"}
        if unknown:
            raise ValueError(f"include: unknown items {sorted(unknown)}")
        _require_int("n_results", n_results, 1)
        _require_int("multiprobe_hamming", multiprobe_hamming, 0, 1)
        _require_int("prefilter_threshold", prefilter_threshold, 0)
        for name, val in (
            ("graph_beam", graph_beam),
            ("graph_rounds", graph_rounds),
        ):
            if val is not None:
                _require_int(name, val, 1)
        if (query_embeddings is None) == (query_texts is None):
            raise ValueError(
                "pass exactly one of query_embeddings / query_texts"
            )
        if query_texts is not None:
            from ..operators.embed import resolve_model

            # the COLLECTION's embedder (sidecar spec — r12), falling
            # back to the env-gated global singleton when unset
            model = resolve_model(info.get("embedder"))
            texts = (
                [query_texts] if isinstance(query_texts, str) else list(query_texts)
            )
            if not texts:
                raise ValueError("query_texts: pass at least one text")
            query_embeddings = model.encode(texts)
            if len(query_embeddings[0]) != dim:
                raise ValueError(
                    f"embedder dim {len(query_embeddings[0])} != "
                    f"collection dim {dim} — this collection was not "
                    f"built with the active embedder"
                )
        qs = query_embeddings
        if hasattr(qs, "tolist"):
            qs = qs.tolist()  # accept numpy input without ambiguous-truth traps
        if qs and isinstance(qs[0], (int, float)):
            qs = [qs]
        mat = np.asarray(qs, dtype=np.float64)
        if mat.ndim != 2 or mat.shape[1] != dim:
            raise ValueError(f"query_embeddings must be n x {dim}")
        bad = np.flatnonzero(~np.isfinite(mat).all(axis=1))
        if bad.size:
            raise ValueError(
                f"query_embeddings: row {int(bad[0])} holds a NaN or "
                f"infinite element"
            )
        if self.space == "cosine" and not mat.any(axis=1).all():
            raise ValueError(
                "query_embeddings: a zero vector has no cosine distance"
            )
        if filter_strategy not in ("auto", "probe", "exact", "graph"):
            raise ValueError(
                "filter_strategy: 'auto'|'probe'|'exact'|'graph', "
                f"got {filter_strategy!r}"
            )
        has_filter = where is not None or where_document is not None
        strategy = filter_strategy
        if strategy == "exact" and not has_filter:
            raise ValueError(
                "filter_strategy='exact' needs a where/where_document filter"
            )
        if has_filter and strategy in ("auto", "exact"):
            # the filter over the whole meta store: exact scores its
            # survivors, auto counts them
            meta = _meta_rows(read, info, range(N_META_BUCKETS))
            keep = _row_mask(meta, where, where_document)
        if strategy == "auto":
            auto_exact = has_filter and keep.sum() <= prefilter_threshold
            strategy = "exact" if auto_exact else "probe"
        if strategy == "exact":
            # ultra-selective filter: the survivor set is SMALLER than
            # any probe's candidate set — score all of it exactly
            sids = np.sort(meta.column("vec_id").to_numpy()[keep])
            cands = [sids] * len(mat)
        elif strategy == "graph":
            # the reference's ACTUAL serving structure: beam search over
            # the navigable graph of this version's vectors (built on
            # the first graph query of the version, ``_graph``).
            # Candidates are each query's visited pool (the
            # hnswlib candidate set); the meta filter applies at
            # emission on the pool, never during traversal (the filter-
            # functor discipline — restricting the walk would
            # disconnect the graph). The pool is scored below like
            # every strategy's candidates.
            if self.space != "cosine":
                # the graph's edges and beam scoring are cosine-built;
                # routing an l2/ip ranking through a cosine graph is the
                # r10 metric-mismatch trap (recall must be measured in
                # the index's own metric) — refuse loudly, like the
                # space sidecar guard, instead of serving blurred recall
                raise ValueError(
                    "filter_strategy='graph' serves cosine collections "
                    f"only (this collection's space is {self.space!r}); "
                    "use the probe strategies for l2/ip"
                )
            # graph_beam/graph_rounds are the search-budget knob
            # (hnswlib's ef): noisy corpora and selective filters thin
            # the visited pool, and the remedy is a wider walk — the
            # measured curve lives in tools/collection_recall_sweep.py
            # + BASELINE.md. None = the module defaults (r14: blind
            # walks at GRAPH_BEAM with the multi-cell seed doors; the
            # ACORN opt-in keeps its measured raise-ef-for-filters
            # GRAPH_ACORN_BEAM budget)
            from ..operators.graph_ann import (
                GRAPH_ACORN_BEAM,
                GRAPH_BEAM,
                GRAPH_ROUNDS,
            )

            if graph_predicate_expansion is None:
                # r15 AUTO (VERDICT r14 next #3): a selective filter
                # thins the blind walk's emission pool silently — the
                # exact case a Chroma-parity caller hits with
                # query(where=...). Measure the filter's selectivity on
                # the meta store and switch to the ACORN beam below the
                # measured crossover. Explicit True/False still forces
                # a path — the oracle-pinned driver keys pass one, so
                # their walk never depends on a cardinality.
                if has_filter:
                    meta = _meta_rows(read, info, range(N_META_BUCKETS))
                    # inclusive: at exactly half selectivity the r14
                    # table still reads ACORN 0.88 vs blind 0.69
                    graph_predicate_expansion = bool(
                        _row_mask(meta, where, where_document).sum()
                        <= GRAPH_AUTO_EXPANSION_SELECTIVITY * max(1, meta.num_rows)
                    )
                else:
                    graph_predicate_expansion = False
            if graph_beam is None:
                graph_beam = (
                    GRAPH_ACORN_BEAM
                    if (graph_predicate_expansion and has_filter)
                    else GRAPH_BEAM
                )
            if graph_rounds is None:
                graph_rounds = GRAPH_ROUNDS
            qlist = [
                [float(x) for x in mat[qi]] for qi in range(mat.shape[0])
            ]
            if graph_predicate_expansion and has_filter:
                # opt-in ACORN traversal: the where predicate steers the
                # frontier and failing neighbors expand an extra hop
                # (see _graph_beam_batch_acorn); a pass lookup masks the
                # meta rows of the pool ids' mbuckets
                def pass_of(ids) -> set:
                    if not ids:
                        return set()
                    meta = _meta_rows(read, info, {_mbucket_py(s) for s in ids})
                    vid = meta.column("vec_id").to_numpy()
                    keep = _row_mask(meta, where, where_document)
                    return set(vid[keep & np.isin(vid, list(ids))].tolist())

                pools, passing = self._graph_beam_batch_acorn(
                    cur,
                    qlist,
                    beam=graph_beam,
                    rounds=graph_rounds,
                    pass_of=pass_of,
                )
                pools = [passing.intersection(v) for v in pools]
            else:
                pools = self._graph_beam_batch(
                    cur, qlist, beam=graph_beam, rounds=graph_rounds
                )
            cands = [np.array(sorted(v), np.int64) for v in pools]
            sids = np.unique(np.concatenate(cands))
            meta = _meta_rows(read, info, {_mbucket_py(int(s)) for s in sids})
            keep = _row_mask(meta, where, where_document)
        else:
            # probe: every stored row's band keys are read with its vecs
            # partition and matched against the query's
            parts = _vec_parts(read, dim, range(N_VEC_BUCKETS))
            vids, keys, mbk = (
                np.concatenate([p[j] for p in parts]) for j in (0, 2, 3)
            )
            vbk = np.repeat(np.arange(N_VEC_BUCKETS), [len(p[0]) for p in parts])
            qkeys = _rp_band_keys(mat, _signs_t(dim))
            hits = _probe(keys, qkeys, multiprobe_hamming)
            cands = [np.unique(vids[h]) for h in hits]
            hit = np.logical_or.reduce(hits)
            vbs = set(vbk[hit].tolist())
            meta = _meta_rows(read, info, set(mbk[hit].tolist()))
            keep = _row_mask(meta, where, where_document)
        if strategy != "probe":
            vbs = {vec_bucket_py(int(s)) for s in np.unique(np.concatenate(cands))}
        return self._rank(
            read, info, mat, cands, vbs, meta, keep, n_results, inc,
            nonzero=strategy == "exact" and self.space == "cosine",
        )

    def _rank(
        self, read, info, mat, cands, vbs, meta, keep, n_results, inc, nonzero
    ) -> LocalResult:
        """Score each query's candidate sids that are stored (in the
        ``vbs`` partitions) and kept (``keep`` over ``meta``), and emit
        the top ``n_results`` per query by (distance, id)."""
        import numpy as np
        import pandas as pd
        from pyspark.sql.types import DoubleType, IntegerType, StructField

        vids, vmat = _vec_rows(read, info["dim"], vbs)
        vix = pd.Index(vids)
        mpos = np.flatnonzero(keep)
        mix = pd.Index(meta.column("vec_id").to_numpy()[mpos])
        ids = meta.column("id").to_numpy(zero_copy_only=False)
        out_q, out_d, out_m, out_v = [], [], [], []
        for qi, c in enumerate(cands):
            pv, pm = vix.get_indexer(c), mix.get_indexer(c)
            ok = (pv >= 0) & (pm >= 0)
            pv, pm = pv[ok], mpos[pm[ok]]
            if nonzero:
                # a zero vector is stored but has no band keys: probe
                # and graph never reach it, and its cosine is undefined
                nz = vmat[pv].any(axis=1)
                pv, pm = pv[nz], pm[nz]
            r = np_round4(np_scores(vmat[pv], mat[qi : qi + 1], self.space)[:, 0])
            dist = r if self.space == "l2" else 1.0 - r
            # Spark's ascending order: NaN last, ties by id
            top = np.lexsort((ids[pm], dist))[:n_results]
            out_q += [qi] * len(top)
            out_d += dist[top].tolist()
            out_m += pm[top].tolist()
            out_v += pv[top].tolist()
        lead = [(StructField("query_idx", IntegerType()), pa.array(out_q, pa.int32()))]
        if "distances" in inc:
            lead.append((StructField("distance", DoubleType()), pa.array(out_d, pa.float64())))
        return self._frame(
            info, inc, meta.take(pa.array(out_m, pa.int64())), lead,
            embeddings=[vmat[v] for v in out_v],
        )


def _stored_space(root: str, default: str = "cosine") -> str:
    """The space persisted in a collection's sidecar, or ``default`` for
    a collection that has never been written (no sidecar yet)."""
    p = os.path.join(root, "collection.json")
    if not os.path.exists(p):
        return default
    with open(p) as f:
        return json.load(f).get("space", "cosine")


class Client:
    """``chromadb.PersistentClient`` analog — the last piece of the
    reference's storage bootstrap (indexing_agent.py:55-70 creates or
    opens 'code_elements' and 'file_summaries' by name;
    vector_search_tool.py:22-27 reopens them): NAMED collections under
    one base directory, each an independent versioned root with its own
    writer lock (so two collections ingest concurrently without
    contention — the reference's two-collection layout maps 1:1)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)

    def _root(self, name: str) -> str:
        if not name or "/" in name or name.startswith("."):
            raise ValueError(f"invalid collection name {name!r}")
        return os.path.join(self.path, name)

    def create_collection(
        self,
        name: str,
        space: str = "cosine",
        embedder: "dict | None" = None,
    ) -> Collection:
        """Create a NEW named collection — raises if it exists (the
        ChromaDB contract; the mkdir is the atomic claim, so racing
        creators get exactly one winner). ``space`` is ChromaDB's
        ``hnsw:space`` metadata and is persisted in the collection
        sidecar on first write (VERDICT r10 next #3: an l2/ip collection
        is fully reachable through the Client facade). ``embedder``
        (r12) is the per-collection embedding-function spec, likewise
        sidecar-persisted."""
        root = self._root(name)
        try:
            os.makedirs(root)
        except FileExistsError:
            raise ValueError(f"collection {name!r} already exists") from None
        return Collection(self.spark, root, space=space, embedder=embedder)

    def get_collection(self, name: str) -> Collection:
        """Reopen by name. The metric is READ FROM THE SIDECAR — never
        guessed — so an l2/ip collection round-trips through the Client
        without the caller restating it (the sidecar guard still rejects
        a direct Collection(root, space=wrong) open)."""
        root = self._root(name)
        if not os.path.isdir(root):
            raise ValueError(f"collection {name!r} does not exist")
        return Collection(self.spark, root, space=_stored_space(root))

    def get_or_create_collection(
        self,
        name: str,
        space: str = "cosine",
        embedder: "dict | None" = None,
    ) -> Collection:
        """The reference's actual bootstrap idiom (indexing_agent.py:
        58-70 is a get/except/create) as the one-call ChromaDB API.
        An existing collection's persisted space wins over the argument
        (get semantics); a fresh one is created with ``space``/
        ``embedder``. An existing collection whose persisted embedder
        CONFLICTS with the argument raises (the sidecar guard)."""
        root = self._root(name)
        os.makedirs(root, exist_ok=True)
        return Collection(
            self.spark,
            root,
            space=_stored_space(root, default=space),
            embedder=embedder,
        )

    def list_collections(self) -> "list[str]":
        return sorted(
            d
            for d in os.listdir(self.path)
            if os.path.isdir(os.path.join(self.path, d)) and not d.startswith(".")
        )

    def count_collections(self) -> int:
        return len(self.list_collections())

    def heartbeat(self) -> int:
        """ChromaDB liveness probe: current time in nanoseconds."""
        import time

        return time.time_ns()

    def reset(self) -> bool:
        """ChromaDB ``reset``: delete EVERY collection under this client
        (the destructive test-teardown verb — deliberately not wired to
        any query path)."""
        for name in self.list_collections():
            self.delete_collection(name)
        return True

    def fork_collection(self, name: str, new_name: str) -> Collection:
        """ChromaDB ``fork``: clone an existing named collection into a
        new name under this client (hardlink copy-on-write — see
        ``Collection.fork``)."""
        src = self.get_collection(name)
        return src.fork(self._root(new_name))

    def modify_collection(
        self,
        name: str,
        new_name: "str | None" = None,
        metadata: "dict | None" = None,
    ) -> Collection:
        """Client-side spelling of ``Collection.modify`` (rename and/or
        collection-level metadata); returns the (re-opened) collection."""
        coll = self.get_collection(name)
        coll.modify(name=new_name, metadata=metadata)
        return coll

    def delete_collection(self, name: str) -> None:
        import shutil

        root = self._root(name)
        if not os.path.isdir(root):
            raise ValueError(f"collection {name!r} does not exist")
        shutil.rmtree(root)


# --------------------------------------------------------------- serving
# Driver-checked keys: a build-once/serve-many demo collection over the
# sf_dir corpus (documents INNER JOIN embeddings on doc_id = vec_id —
# the collection holds exactly the embedded documents), memoized like
# every other index root.


def _demo_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The demo corpus as a write batch, plus ``par`` = doc_id % 2 for
    the two-commit lifecycle keys."""
    from ..sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    return e.join(d, e["vec_id"] == d["doc_id"]).select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
        F.col("text").alias("document"),
        "lang",
        "source",
        "n_chars",
        (F.col("doc_id") % 2).alias("par"),
    )


def _demo_query(spark: SparkSession, sf_dir: str, vec_id: int) -> list:
    """The stored embedding of ``vec_id`` as a query vector."""
    from ..sources.tables import load_table

    row = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == vec_id)
        .select(F.col("embedding").cast("array<double>").alias("e"))
        .head()
    )
    return [float(x) for x in row["e"]]


def _demo_root(spark: SparkSession, sf_dir: str, tag: str, space="cosine"):
    """The memoized demo collection root ``tag`` (created empty)."""
    from ..memo import index_root

    root = index_root(tag, sf_dir, RP_PLANES, RP_BANDS, N_META_BUCKETS)
    return Collection(spark, root, space=space)


def demo_collection(spark: SparkSession, sf_dir: str, space="cosine") -> Collection:
    """The whole demo corpus in one collection of ``space`` (own
    memoized root per space — the space is fixed at creation)."""
    tag = "collection_v1" if space == "cosine" else f"collection_{space}_v1"
    coll = _demo_root(spark, sf_dir, tag, space)
    if coll._cur() is None:
        coll.add(_demo_batch(spark, sf_dir).drop("par"))
    return coll


def collection_query_ip_topk(
    spark: SparkSession, sf_dir: str, query_vec_id: int = 0, k: int = 10
) -> DataFrame:
    """The facade's inner-product space end-to-end (r11): same probe and
    post-filter as collection_query_topk, but the collection was CREATED
    with space='ip' and distances follow ChromaDB's value contract
    ``1 - <a,b>`` (the ADVICE r11 fix, oracle-locked here — rankings
    alone would not catch a constant shift)."""
    return demo_collection(spark, sf_dir, "ip").query(
        _demo_query(spark, sf_dir, query_vec_id),
        n_results=k,
        where=COLLECTION_WHERE_DEMO,
    ).select("id", "distance", "lang", "n_chars")


def collection_query_topk(
    spark: SparkSession, sf_dir: str, query_vec_id: int = 0, k: int = 10
) -> DataFrame:
    """The reference's ``collection.query(query_embeddings, n_results,
    where={...})`` (vector_search_tool.py:33-46) end-to-end on the
    facade: the query's band keys matched against the stored vectors'
    -> exact rerank -> DSL post-filter -> top-k. Includes the query's own document
    (ChromaDB does not exclude self-matches)."""
    return demo_collection(spark, sf_dir).query(
        _demo_query(spark, sf_dir, query_vec_id),
        n_results=k,
        where=COLLECTION_WHERE_DEMO,
    ).select("id", "distance", "lang", "n_chars")


def collection_query_graph_topk(
    spark: SparkSession, sf_dir: str, query_vec_id: int = 0, k: int = 10
) -> DataFrame:
    """``collection.query`` served by the navigable graph — the
    reference's ACTUAL index structure (ChromaDB's backend is
    hnswlib; every other facade strategy approximates it with LSH):
    beam search over the graph built from the collection's own vectors,
    meta filter at emission (predicate-blind traversal), self-match
    included at distance 0. The oracle reconstructs the whole graph
    over the collection's md5-surrogate ids and replays the raw-vector
    beam (entry hub + query-cell hub seeds, no self-exclusion)."""
    return demo_collection(spark, sf_dir).query(
        _demo_query(spark, sf_dir, query_vec_id),
        n_results=k,
        where=COLLECTION_WHERE_DEMO,
        filter_strategy="graph",
        # pinned blind: the oracle replays the predicate-blind beam, so
        # this key must not depend on the auto selectivity estimate
        # (the demo where keeps ~70% of the corpus — auto would resolve
        # to blind anyway, but a driver key's plan stays explicit)
        graph_predicate_expansion=False,
    ).select("id", "distance", "lang", "n_chars")


def collection_query_graph_acorn_topk(
    spark: SparkSession, sf_dir: str, query_vec_id: int = 0, k: int = 10
) -> DataFrame:
    """``collection.query`` with the opt-in ACORN traversal (r13): a
    selective where (lang='fr', ~14% of the demo collection) steers the
    beam — passing nodes rank first in the frontier and failing hop-1
    neighbors expand one extra hop — at the ACORN default budget
    (GRAPH_ACORN_BEAM/GRAPH_ROUNDS, r13's measured raise-ef-for-filters
    setting). The oracle replays the pass-flagged beam over the
    surrogate keyspace."""
    return demo_collection(spark, sf_dir).query(
        _demo_query(spark, sf_dir, query_vec_id),
        n_results=k,
        where={"lang": {"$eq": "fr"}},
        filter_strategy="graph",
        graph_predicate_expansion=True,
    ).select("id", "distance", "lang")


def collection_query_graph_batch_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec_ids: tuple = (0, 9),
    k: int = 5,
) -> DataFrame:
    """Batched facade graph serving: M queries through ONE fused beam
    (`_graph_beam_batch` — one edges read per round for the union of
    frontiers); per-query state untouched, so each query's rows equal its solo run
    (pinned) and the oracle replays M solo chains over the shared
    surrogate-keyspace graph."""
    qs = [_demo_query(spark, sf_dir, qid) for qid in query_vec_ids]
    coll = demo_collection(spark, sf_dir)
    return coll.query(qs, n_results=k, filter_strategy="graph").select(
        "query_idx", "id", "distance"
    )


def collection_get_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``collection.get(where=..., where_document=...)`` on the facade
    (vector_search_tool.py:149-232's element/file lookups, full DSL)."""
    coll = demo_collection(spark, sf_dir)
    return coll.get(
        where=COLLECTION_GET_WHERE_DEMO,
        where_document=COLLECTION_GET_WDOC_DEMO,
        limit=20,
    ).select("id", "lang", "source", "n_chars")


def collection_get_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel READ through the facade (r13 — the MVCC story
    end-to-end as a driver key): a two-commit lifecycle on its OWN
    tagged root (even doc_ids commit as v_000000, odd ones as v_000001
    — mutating keys never share a root with other serving keys), then ``snapshot('v_000000').get(...)``
    serves YESTERDAY'S corpus while ``_CURRENT`` points at today's:
    the rows are exactly the FIRST commit's filter survivors, proving
    committed version dirs are immutable snapshots. Replays detect the
    target state (both versions present) and serve directly."""
    coll = _demo_root(spark, sf_dir, "collection_snap_v1")
    base = _demo_batch(spark, sf_dir)
    if coll._cur() is None:
        coll.add(base.filter(F.col("par") == 0).drop("par"))
    if os.path.basename(coll._cur()) == "v_000000":
        coll.add(base.filter(F.col("par") == 1).drop("par"))
    snap = coll.at("v_000000")
    return snap.get(where={"lang": {"$in": ["en", "de"]}}, limit=20).select(
        "id", "lang", "n_chars"
    )


@contextlib.contextmanager
def _demo_fork(spark: SparkSession, sf_dir: str, tag: str, batch: DataFrame):
    """A private ``fork`` of the demo collection root ``tag`` (which
    holds ``batch``, committed on first use), in a temp dir removed on
    exit. A key that rolls back or recommits replays on its own fork,
    so replays in other threads or processes sharing the root never
    meet; the shared root is written only by its first commit."""
    import shutil
    import tempfile

    coll = _demo_root(spark, sf_dir, tag)
    if coll._cur() is None:
        # an upsert: a concurrent first use commits the same rows again
        coll.upsert(batch)
    tmp = tempfile.mkdtemp(prefix=f"adk_{tag}_")
    try:
        yield coll.fork(os.path.join(tmp, "fork"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def collection_rollback_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-side time travel (r13 — ``rollback``'s pointer swing as a
    driver key, complementing ``collection_get_snapshot``'s read-side
    pin): on a private fork of the even doc_ids (v_000000), add the odd
    ones (v_000001), then ``rollback('v_000000')`` — one atomic
    ``_CURRENT`` swing under the writer lock — and serve ``get`` from
    the RESTORED state: rows are exactly the first commit's filter
    survivors, the second commit's rows gone without any data rewrite
    (the abandoned version is an orphan the next commit sweeps)."""
    base = _demo_batch(spark, sf_dir)
    even = base.filter(F.col("par") == 0).drop("par")
    with _demo_fork(spark, sf_dir, "collection_rollback_v2", even) as coll:
        coll.add(base.filter(F.col("par") == 1).drop("par"))
        coll.rollback("v_000000")
        return coll.get(where={"lang": {"$in": ["es", "zh"]}}, limit=20).select(
            "id", "lang", "n_chars"
        )


def collection_replace_graph_topk(
    spark: SparkSession, sf_dir: str, k: int = 10
) -> DataFrame:
    """Vector REPLACE served by the graph strategy, end-to-end as a
    driver key: on a private fork of the whole demo corpus (v_000000),
    a graph query serves the graph of v_000000's vectors; v_000001
    ``update``s doc-3's embedding to embeddings[7]'s vector; the next
    graph query builds the graph of v_000001's vectors (new data files)
    and, queried AT the new vector, surfaces both doc-7 and the replaced
    doc-3 at distance 0. The oracle is the standard graph chain over
    the demo corpus with doc-3's embedding swapped."""
    base = _demo_batch(spark, sf_dir).drop("par")
    with _demo_fork(spark, sf_dir, "collection_replace_graph_v2", base) as coll:
        qv = _demo_query(spark, sf_dir, 7)
        coll.query(qv, n_results=1, filter_strategy="graph").collect()
        coll.update(
            spark.createDataFrame([("doc-3", qv)], "id string, embedding array<double>")
        )
        return coll.query(qv, n_results=k, filter_strategy="graph").select(
            "id", "distance"
        )


def collection_get_page2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset pagination through the facade (r11): page 2 of the
    filtered ``get`` via ``after_id`` — the cursor is the last id of
    page 1, so the page-2 read is a pushed-down ``id > cursor``
    predicate (O(page) at any depth; the positional ``offset``
    alternative sorts-and-discards the prefix). Cursor derived
    DRIVER-side from page 1 (one k-row job), the search_after
    discipline of the BM25 serving layer."""
    coll = demo_collection(spark, sf_dir)
    page1 = coll.get(where=COLLECTION_GET_WHERE_DEMO, limit=10).select("id")
    rows = page1.collect()
    if not rows:
        return coll.get(where=COLLECTION_GET_WHERE_DEMO, limit=10).select(
            "id", "lang", "source", "n_chars"
        )
    cursor = rows[-1]["id"]
    return coll.get(
        where=COLLECTION_GET_WHERE_DEMO, limit=10, after_id=cursor
    ).select("id", "lang", "source", "n_chars")
