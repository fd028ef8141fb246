"""Collection facade: the ChromaDB-compatible surface (add/upsert/query/
get/delete/count/peek) over the versioned component kernel — lifecycle,
filter semantics, and a python-model parity check for query()."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from adk_noui_vectordb_spark.api.collection import (
    Collection,
    DuplicateIDError,
    _sid_py,
)
from adk_noui_vectordb_spark.operators.ann import (
    RP_BAND_BITS,
    RP_BANDS,
    RP_PLANES,
    _rp_band_keys,
    _rp_plane_signs,
)

DIM = 8


# The Spark twins of the driver writer's surrogate and meta-bucket hashes
# (``_sid_py``, ``_mbucket_py``) and of the RP-LSH band keys the reads
# derive (``_rp_band_keys``), which
# test_driver_writer_matches_spark_hash_twins checks the stored rows
# against; test_legacy_band_store_is_ignored_then_dropped writes the old
# ``bands/`` table with the band twin.
def _sid_expr(id_col):
    """60-bit md5 surrogate of a string id column, as a BIGINT."""
    return F.conv(F.substring(F.md5(id_col), 1, 15), 16, 10).cast("bigint")


def _mbucket_expr(sid_col):
    """The meta bucket of a surrogate column."""
    from adk_noui_vectordb_spark.api.collection import N_META_BUCKETS

    return (
        F.conv(F.substring(F.md5(sid_col.cast("string")), 1, 8), 16, 10).cast(
            "bigint"
        )
        % N_META_BUCKETS
    ).cast("int")


def _nonzero_pred():
    """True iff the ``emb`` array has any nonzero element."""
    return F.exists(F.col("emb"), lambda x: x != F.lit(0.0))


def rp_band_rows_for(e):
    """(vec_id, band, band_key) rows of a (vec_id, emb) frame at the
    engine table's RP_DIM, in one Arrow pass."""
    import pandas as pd

    from adk_noui_vectordb_spark.operators.ann import RP_DIM

    signs_t = np.array(_rp_plane_signs(), dtype=np.int64).T  # dim x planes

    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["emb"]])
            assert mat.shape[1] == RP_DIM
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


def _vecs(seed: int, n: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.normal(size=(n, DIM)).round(3)


def _batch(spark, ids, mat, langs=None, stars=None, docs=None):
    langs = langs or ["en"] * len(ids)
    stars = stars or list(range(len(ids)))
    docs = docs or [f"text of {i}" for i in ids]
    rows = [
        (i, [float(x) for x in mat[j]], docs[j], langs[j], int(stars[j]))
        for j, i in enumerate(ids)
    ]
    return spark.createDataFrame(
        rows, "id string, embedding array<double>, document string, lang string, stars int"
    )


def _local_batch(spark, ids, mat, langs=None, stars=None, docs=None):
    """``_batch`` built from pandas, as a client sends it: a
    LocalRelation, which the writer collects without a Spark job."""
    import pandas as pd

    n = len(ids)
    pdf = pd.DataFrame(
        {
            "id": ids,
            "embedding": [np.asarray(v, np.float64) for v in mat],
            "document": docs or [f"text of {i}" for i in ids],
            "lang": langs or ["en"] * n,
            "stars": pd.array(stars or list(range(n)), dtype="int32"),
        }
    )
    return spark.createDataFrame(
        pdf, "id string, embedding array<double>, document string, lang string, stars int"
    )


@pytest.fixture()
def coll(spark, tmp_path):
    return Collection(spark, str(tmp_path / "coll"))


def test_add_count_get_roundtrip(spark, coll):
    mat = _vecs(1, 6)
    coll.add(_batch(spark, [f"d{i}" for i in range(6)], mat, langs=["en", "de"] * 3))
    assert coll.count() == 6
    got = coll.get(ids=["d2", "d4"]).collect()
    assert [r["id"] for r in got] == ["d2", "d4"]
    assert got[0]["document"] == "text of d2"
    assert got[0]["lang"] == "en" and got[0]["stars"] == 2
    assert coll.peek(3).count() == 3
    # a bare string is ONE id (ChromaDB), never iterated per character
    coll.add(_batch(spark, ["a", "b", "ab"], _vecs(7, 3)))
    assert [r["id"] for r in coll.get(ids="ab").collect()] == ["ab"]
    with pytest.raises(ValueError, match="ids must be strings"):
        coll.get(ids=[None])


def test_add_rejects_existing_and_batch_dups(spark, coll):
    mat = _vecs(2, 3)
    coll.add(_batch(spark, ["a", "b", "c"], mat))
    with pytest.raises(DuplicateIDError):
        coll.add(_batch(spark, ["b", "x"], _vecs(3, 2)))
    with pytest.raises(ValueError, match="duplicate ids"):
        coll.add(_batch(spark, ["y", "y"], _vecs(4, 2)))
    # a NULL id is rejected before anything commits, on add and upsert
    for ids in ([None], [None, "z"]):
        for write in (coll.add, coll.upsert):
            with pytest.raises(ValueError, match="NULL id"):
                write(_batch(spark, ids, _vecs(5, len(ids))))
    # so is an embedding that is NULL or holds a NULL, NaN or infinite
    # element: one such row fails the whole batch, on add and upsert
    good = [float(x) for x in _vecs(6, 1)[0]]
    schema = (
        "id string, embedding array<double>, document string, lang string, "
        "stars int"
    )
    for emb in (
        None,
        [None] + good[1:],
        [float("nan")] + good[1:],
        [float("inf")] + good[1:],
        [float("-inf")] + good[1:],
    ):
        batch = spark.createDataFrame(
            [("ok", good, "fine", "en", 0), ("bad", emb, "broken", "en", 1)],
            schema,
        )
        for write in (coll.add, coll.upsert):
            with pytest.raises(ValueError, match="embedding of id 'bad'"):
                write(batch)
    assert coll.count() == 3
    assert [c for c, ok, _ in coll.fsck() if not ok] == []


def test_upsert_replaces_everything(spark, coll):
    mat = _vecs(5, 4)
    coll.add(_batch(spark, ["a", "b", "c", "d"], mat))
    new = _vecs(6, 1)
    coll.upsert(
        _batch(spark, ["b"], new, langs=["fr"], stars=[99], docs=["rewritten"])
    )
    assert coll.count() == 4
    row = coll.get(ids=["b"]).head()
    assert (row["lang"], row["stars"], row["document"]) == ("fr", 99, "rewritten")
    # the new vector serves: querying exactly it returns b at distance 0
    top = coll.query([float(x) for x in new[0]], n_results=1).head()
    assert top["id"] == "b" and top["distance"] == 0.0
    # resubmitting the identical batch is a no-op (doc-level replace)
    before = coll.count()
    coll.upsert(_batch(spark, ["b"], new, langs=["fr"], stars=[99], docs=["rewritten"]))
    assert coll.count() == before


def _model_query(coll_rows, q, where_lang=None, k=3):
    """Python twin of query(): same banding kernel, exact cosine rerank,
    post-filter, (distance, id) order."""
    signs_t = np.array(_rp_plane_signs(RP_PLANES, DIM), dtype=np.int64).T
    mat = np.stack([r[1] for r in coll_rows])
    keys = _rp_band_keys(mat, signs_t)
    qk = _rp_band_keys(np.asarray(q, dtype=np.float64)[None, :], signs_t)[0]
    probed = set()
    for b in range(RP_BANDS):
        ks = {int(qk[b])} | {int(qk[b]) ^ (1 << bit) for bit in range(RP_BAND_BITS)}
        probed |= {(b, key) for key in ks}
    out = []
    for j, (i, v, lang) in enumerate(coll_rows):
        if not any((b, int(keys[j][b])) in probed for b in range(RP_BANDS)):
            continue
        if where_lang is not None and lang != where_lang:
            continue
        cos = round(
            float(np.dot(v, q) / (np.linalg.norm(v) * np.linalg.norm(q))), 4
        )
        out.append((1.0 - cos, i))
    return sorted(out)[:k]


def test_query_matches_python_model(spark, coll):
    mat = _vecs(7, 30)
    ids = [f"v{i}" for i in range(30)]
    langs = ["en" if i % 3 else "de" for i in range(30)]
    coll.add(_batch(spark, ids, mat, langs=langs))
    q = _vecs(8, 1)[0]
    rows = coll.query([float(x) for x in q], n_results=5).collect()
    model = _model_query(
        [(ids[j], mat[j], langs[j]) for j in range(30)], q, k=5
    )
    assert [(r["distance"], r["id"]) for r in rows] == [
        (pytest.approx(d), i) for d, i in model
    ]
    # filtered: the where DSL thins the SAME candidate set
    rows_f = coll.query(
        [float(x) for x in q], n_results=5, where={"lang": "de"}
    ).collect()
    model_f = _model_query(
        [(ids[j], mat[j], langs[j]) for j in range(30)], q, where_lang="de", k=5
    )
    assert [(r["distance"], r["id"]) for r in rows_f] == [
        (pytest.approx(d), i) for d, i in model_f
    ]
    assert all(r["lang"] == "de" for r in rows_f)


def test_query_batch_is_per_query_topk(spark, coll):
    mat = _vecs(9, 20)
    coll.add(_batch(spark, [f"v{i}" for i in range(20)], mat))
    qs = [[float(x) for x in mat[3]], [float(x) for x in mat[11]]]
    rows = coll.query(qs, n_results=2).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_idx"], []).append(r)
    assert set(by_q) == {0, 1}
    assert by_q[0][0]["id"] == "v3" and by_q[0][0]["distance"] == 0.0
    assert by_q[1][0]["id"] == "v11" and by_q[1][0]["distance"] == 0.0
    # a non-positive n_results fails at call time, single and batch alike
    for bad in (0, -1):
        with pytest.raises(ValueError, match="n_results"):
            coll.query(qs[0], n_results=bad)
        with pytest.raises(ValueError, match="n_results"):
            coll.query(qs, n_results=bad)
    # and so does a count that is not an int (a bool is not a count)
    for bad in (True, 2.5):
        with pytest.raises(ValueError, match="n_results"):
            coll.query(qs[0], n_results=bad)
        with pytest.raises(ValueError, match="n_results"):
            coll.query(qs, n_results=bad)
    # out-of-range search options fail at call time too
    for name, bad in (
        ("multiprobe_hamming", 2),
        ("multiprobe_hamming", -1),
        ("graph_beam", 0),
        ("graph_rounds", 0),
        ("prefilter_threshold", -1),
    ):
        with pytest.raises(ValueError, match=name):
            coll.query(qs[0], **{name: bad})


def test_get_where_document_and_limit(spark, coll):
    mat = _vecs(10, 5)
    coll.add(
        _batch(
            spark,
            ["a", "b", "c", "d", "e"],
            mat,
            docs=["alpha beta", "beta gamma", "alpha", "delta", "beta"],
        )
    )
    got = coll.get(where_document={"$contains": "beta"}).collect()
    assert [r["id"] for r in got] == ["a", "b", "e"]
    got2 = coll.get(
        where={"stars": {"$gte": 1}},
        where_document={"$not_contains": "beta"},
        limit=1,
    ).collect()
    assert [r["id"] for r in got2] == ["c"]


def test_delete_by_ids_where_and_all(spark, coll):
    mat = _vecs(11, 8)
    ids = [f"d{i}" for i in range(8)]
    coll.add(_batch(spark, ids, mat, langs=["en", "de"] * 4))
    coll.delete(ids=["d0", "d5"])
    assert coll.count() == 6
    assert coll.get(ids=["d0", "d5"]).count() == 0
    coll.delete(where={"lang": "de"})
    assert sorted(r["id"] for r in coll.get().collect()) == ["d2", "d4", "d6"]
    # deleted vectors stop serving
    got = coll.query([float(x) for x in mat[5]], n_results=8).collect()
    assert "d5" not in {r["id"] for r in got}
    # delete everything -> legal empty state that still serves
    coll.delete(where={"stars": {"$gte": 0}})
    assert coll.count() == 0
    assert coll.query([float(x) for x in mat[0]], n_results=3).count() == 0
    assert coll.get().count() == 0
    # and repopulates
    coll.add(_batch(spark, ["z1"], _vecs(12, 1)))
    assert coll.count() == 1


def test_delete_requires_a_selector(spark, coll):
    coll.add(_batch(spark, ["a", "b", "ab", "c"], _vecs(13, 4)))
    with pytest.raises(ValueError):
        coll.delete()
    # a bare string is ONE id: "ab" goes, "a" and "b" stay
    coll.delete(ids="ab")
    assert sorted(r["id"] for r in coll.get().collect()) == ["a", "b", "c"]
    with pytest.raises(ValueError, match="ids must be strings"):
        coll.delete(ids=[None])
    assert [c for c, ok, _ in coll.fsck() if not ok] == []


def test_delete_removes_exactly_the_rows_get_selects(spark, coll):
    """``delete(where=w)`` removes exactly the ids ``get(where=w)``
    returns, on metadata with NULL values: ``$or`` keeps a row whose
    every branch is NULL, while ``$nin``/``$ne`` match a NULL field
    (the DSL's negation semantics)."""
    langs = ["en", "de", None, "fr", "en", None, "de", "fr", "de", None, "es", "de"]
    stars = [1, None, 3, None, 5, 6, 2, 8, 4, None, 11, 1]
    mat = _vecs(15, len(langs))
    coll.add(
        spark.createDataFrame(
            [
                (f"r{i}", [float(x) for x in mat[i]], f"doc {i}", langs[i], stars[i])
                for i in range(len(langs))
            ],
            "id string, embedding array<double>, document string, "
            "lang string, stars int",
        )
    )
    trees = [
        ({"$or": [{"lang": {"$eq": "en"}}, {"stars": {"$gt": 5}}]},
         {"r0", "r4", "r5", "r7", "r10"}),
        ({"stars": {"$nin": [1, 2]}}, {"r1", "r2", "r3", "r8", "r9"}),
        ({"stars": {"$ne": 1}}, {"r6"}),
    ]
    for w, expect in trees:
        before = {r["id"] for r in coll.get().collect()}
        want = {r["id"] for r in coll.get(where=w).collect()}
        assert want == expect, (w, want)
        coll.delete(where=w)
        after = {r["id"] for r in coll.get().collect()}
        assert before - after == want, (w, before - after, want)
    assert after == {"r11"}


def test_schema_and_dim_are_enforced(spark, coll):
    coll.add(_batch(spark, ["a"], _vecs(14, 1)))
    # different metadata schema
    bad = spark.createDataFrame(
        [("b", [0.0] * DIM, "x", 1.5)],
        "id string, embedding array<double>, document string, score double",
    )
    with pytest.raises(ValueError, match="mismatch"):
        coll.add(bad)
    # different dim
    bad_dim = _batch(spark, ["c"], np.zeros((1, DIM + 2)))
    with pytest.raises(ValueError, match="dim"):
        coll.add(bad_dim)
    # non-scalar metadata
    arr = spark.createDataFrame(
        [("d", [0.0] * DIM, "x", [1, 2])],
        "id string, embedding array<double>, document string, tags array<int>",
    )
    with pytest.raises(ValueError, match="scalar"):
        coll.add(arr)


def test_components_stay_consistent_across_lifecycle(spark, coll, stored):
    """Invariant fsck: meta count == vecs count; surrogates in every
    component agree."""
    mat = _vecs(15, 10)
    mat[4] = 0.0  # zero-norm: stored, never banded
    ids = [f"k{i}" for i in range(10)]
    coll.add(_batch(spark, ids, mat))
    coll.upsert(_batch(spark, ["k1", "k7"], _vecs(16, 2)))
    coll.delete(ids=["k2"])
    cur, info = coll._require()
    meta = stored.meta(cur, info)
    vecs = stored.vecs(cur)
    assert meta.count() == 9 and vecs.count() == 9
    assert (
        vecs.join(meta, "vec_id", "left_anti").count() == 0
        and meta.join(vecs, "vec_id", "left_anti").count() == 0
    )
    # surrogate mapping is the documented md5 contract
    sids = {r["vec_id"] for r in meta.select("vec_id").collect()}
    assert sids == {_sid_py(i) for i in ids if i != "k2"}


def test_empty_batch_is_noop(spark, coll):
    coll.add(_batch(spark, ["a"], _vecs(17, 1)))
    empty = _batch(spark, ["a"], _vecs(17, 1)).limit(0)
    coll.add(empty)
    assert coll.count() == 1


def test_query_probe_prunes_band_partitions(spark, coll, opened_dirs):
    """A probe opens only vecs/ and meta/ dirs: its candidates are the
    rows whose band keys, derived from their stored vectors, meet the
    query's key or a Hamming-1 flip of it in some band (``_model_query``'s
    banded set), and it opens the mbucket= dirs of exactly those."""
    import os

    from adk_noui_vectordb_spark.api.collection import _mbucket_py

    mat = _vecs(18, 12)
    mat[5] = 0.0  # zero-norm: no band keys, never a candidate
    ids = [f"p{i}" for i in range(12)]
    coll.add(_batch(spark, ids, mat))
    seen = opened_dirs
    q = mat[0] + 0.5 * _vecs(19, 1)[0]
    rows = coll.query([float(x) for x in q], n_results=len(ids)).collect()
    cur = coll._cur()
    stored = [(i, mat[j], "en") for j, i in enumerate(ids) if j != 5]
    model = _model_query(stored, q, k=len(ids))
    assert [(r["distance"], r["id"]) for r in rows] == [
        (pytest.approx(d), i) for d, i in model
    ]
    assert 0 < len(model) < len(ids) - 1  # the probe prunes some rows
    rel = {os.path.relpath(p, cur) for p in seen}
    assert {r.split(os.sep)[0] for r in rel} == {"vecs", "meta"}, rel
    assert {r for r in rel if r.startswith("meta/")} == {
        f"meta/mbucket={_mbucket_py(_sid_py(i))}" for _, i in model
    }


def test_query_rejects_non_finite_query_vector(spark, coll):
    """A NaN or infinite query element fails at call time with one
    ValueError naming the row, whatever the strategy."""
    mat = _vecs(19, 6)
    coll.add(_batch(spark, [f"n{i}" for i in range(6)], mat))
    for bad in (float("nan"), float("inf"), float("-inf")):
        q = [float(x) for x in mat[1]]
        q[2] = bad
        for strategy in ("probe", "exact", "auto", "graph"):
            with pytest.raises(ValueError, match="row 1 .*NaN or infinite"):
                coll.query(
                    [[float(x) for x in mat[0]], q],
                    n_results=2,
                    where={"lang": "en"},
                    filter_strategy=strategy,
                )


def test_results_outlive_later_commits(spark, coll):
    """query() and get() results are materialized: they still collect
    after gc removed the version they were read from, through the live
    collection and through an at() view alike."""
    import os

    mat = _vecs(23, 8)
    coll.add(_batch(spark, [f"r{i}" for i in range(4)], mat[:4]))
    v0 = os.path.basename(coll._cur())
    q = [float(x) for x in mat[1]]
    snap = coll.at(v0)
    taken = {
        "query": coll.query(q, n_results=2),
        "get": coll.get(where={"lang": "en"}),
        "at_query": snap.query(q, n_results=2),
        "at_get": snap.get(ids=["r2"]),
    }
    for i in range(4, 7):
        coll.upsert(_batch(spark, [f"r{i}"], mat[i : i + 1]))
    assert v0 not in {v["name"] for v in coll.versions()}
    assert [r["id"] for r in taken["query"].collect()][0] == "r1"
    assert [r["id"] for r in taken["at_query"].collect()][0] == "r1"
    assert [r["id"] for r in taken["get"].collect()] == ["r0", "r1", "r2", "r3"]
    assert [r["id"] for r in taken["at_get"].collect()] == ["r2"]


def _reads(coll, q):
    """What a reader sees: count, every row with its embedding, and one
    query's scored top 5."""
    return (
        coll.count(),
        [
            tuple(r)
            for r in coll.get(
                include=["documents", "metadatas", "embeddings"]
            ).collect()
        ],
        [tuple(r) for r in coll.query(q, n_results=5).collect()],
    )


@pytest.mark.parametrize("op", ["upsert", "delete", "compact"])
@pytest.mark.parametrize(
    "point",
    [
        "_carry_version_files",  # the first step after the tmp component writes
        "_write_extra_files",
        "publish_version",
        "point_current",
        "gc_versions",
    ],
)
def test_crash_before_current_swing_keeps_serving_last_commit(
    spark, coll, tmp_path, monkeypatch, point, op
):
    """A writer that dies at any step of a commit — after staging its
    partitions, writing the version's config files, publishing, swinging
    ``_CURRENT`` or collecting old versions — leaves a root on which a
    fresh Collection serves the last completed commit: the old one, or
    the new one once ``_CURRENT`` swung (a raise in gc). Re-running the
    op lands, and fsck is clean after it."""
    from adk_noui_vectordb_spark.sources import versioning

    mat = _vecs(31, 8)
    coll.add(_batch(spark, [f"c{i}" for i in range(8)], mat))
    q = [float(x) for x in mat[0]]
    new = _vecs(32, 2)
    batch = _batch(spark, ["c0", "fresh"], new, docs=["moved", "new row"])
    run = {
        "upsert": lambda c: c.upsert(batch),
        "delete": lambda c: c.delete(ids=["c1", "c2"]),
        "compact": lambda c: c.compact(threshold=0),
    }[op]
    before = _reads(coll, q)
    twin = coll.fork(str(tmp_path / "twin"))
    run(twin)
    after = _reads(twin, q)

    def boom(*args, **kwargs):
        raise RuntimeError(f"injected crash in {point}")

    real = getattr(versioning, point)
    monkeypatch.setattr(versioning, point, boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        run(coll)
    monkeypatch.setattr(versioning, point, real)

    fresh = Collection(spark, coll.root)
    assert _reads(fresh, q) == (after if point == "gc_versions" else before)
    if point in ("point_current", "gc_versions"):
        # the staged dir was already renamed: no orphan for fsck to flag
        assert [c for c, ok, _ in fresh.fsck() if not ok] == []
    run(fresh)  # recovery is a re-run
    assert _reads(fresh, q) == after
    assert [c for c, ok, _ in fresh.fsck() if not ok] == []


def test_compact_preserves_reads(spark, coll, tmp_path):
    """Compaction is a content-preserving commit: after several disjoint
    merges left partitions holding more than one file,
    ``compact(threshold=0)`` folds each partition dir to at most one
    file and every read returns what it returned before."""
    import os

    mat = _vecs(33, 16)
    ids = [f"k{i:02d}" for i in range(16)]
    coll.add(_batch(spark, ids[:4], mat[:4]))
    for s in range(4, 16, 4):
        shard = Collection(spark, str(tmp_path / f"shard{s}"))
        shard.add(_batch(spark, ids[s : s + 4], mat[s : s + 4]))
        coll.merge_from(shard)
    q = [float(x) for x in mat[5]]
    before = _reads(coll, q)

    def files_per_partition(ver):
        out = []
        for top, dirs, files in os.walk(ver):
            if not dirs and "=" in os.path.basename(top):
                out.append(sum(1 for f in files if f.startswith("part-")))
        return out

    assert max(files_per_partition(coll._cur())) > 1
    coll.compact(threshold=0)
    assert max(files_per_partition(coll._cur())) == 1
    assert _reads(coll, q) == before
    assert [c for c, ok, _ in coll.fsck() if not ok] == []


def test_driver_writes_run_no_spark_job(spark, coll):
    """add, upsert with replacements, full-schema update and delete by
    ids and by where, each of a local 20-row batch into an existing
    collection, run no Spark job; afterwards every read matches a numpy
    model of the ledger and fsck is clean."""
    sc = spark.sparkContext
    model = {}

    def apply(ids, mat, langs, stars, docs=None):
        docs = docs or [f"text of {i}" for i in ids]
        for j, i in enumerate(ids):
            model[i] = (list(mat[j]), docs[j], langs[j], stars[j])

    base = [f"m{i:02d}" for i in range(40)]
    m0, langs0 = _vecs(41, 40), ["en", "de"] * 20
    coll.add(_batch(spark, base, m0, langs=langs0))
    apply(base, m0, langs0, list(range(40)))

    def jobs(name, call):
        group = f"driver-write-{name}"
        sc.setJobGroup(group, name)
        try:
            call()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    new_ids = [f"n{i:02d}" for i in range(20)]
    m1, l1, s1 = _vecs(42, 20), ["fr"] * 20, list(range(100, 120))
    assert jobs("add", lambda: coll.add(_local_batch(spark, new_ids, m1, l1, s1))) == 0
    apply(new_ids, m1, l1, s1)

    up_ids = base[:10] + [f"u{i:02d}" for i in range(10)]
    m2, l2, s2 = _vecs(43, 20), ["de", "es"] * 10, list(range(200, 220))
    assert jobs("upsert", lambda: coll.upsert(_local_batch(spark, up_ids, m2, l2, s2))) == 0
    apply(up_ids, m2, l2, s2)

    m3, l3, s3 = _vecs(44, 20), ["en"] * 20, list(range(300, 320))
    d3 = [f"updated {i}" for i in new_ids]
    assert jobs(
        "update", lambda: coll.update(_local_batch(spark, new_ids, m3, l3, s3, d3))
    ) == 0
    apply(new_ids, m3, l3, s3, d3)

    def stars_only(ids, stars):
        import pandas as pd

        pdf = pd.DataFrame({"id": ids, "stars": pd.array(stars, dtype="int32")})
        return spark.createDataFrame(pdf, "id string, stars int")

    s4 = list(range(400, 410))
    assert jobs("update_partial", lambda: coll.update(stars_only(new_ids[5:15], s4))) == 0
    for i, s in zip(new_ids[5:15], s4):
        model[i] = model[i][:3] + (s,)

    victims = base[10:20]
    assert jobs("delete_ids", lambda: coll.delete(ids=victims)) == 0
    for i in victims:
        del model[i]
    assert jobs("delete_where", lambda: coll.delete(where={"lang": "de"})) == 0
    for i in [i for i, r in model.items() if r[2] == "de"]:
        del model[i]

    got = {
        r["id"]: (list(r["embedding"]), r["document"], r["lang"], r["stars"])
        for r in coll.get(include=["documents", "metadatas", "embeddings"]).collect()
    }
    assert got == model
    assert coll.count() == len(model)
    rows = [(i, np.array(r[0]), r[2]) for i, r in sorted(model.items())]
    for q in (m2[0], m3[5], _vecs(45, 1)[0]):
        top = coll.query([float(x) for x in q], n_results=5).collect()
        assert [(r["distance"], r["id"]) for r in top] == [
            (pytest.approx(d), i) for d, i in _model_query(rows, q, k=5)
        ]
    assert [c for c, ok, _ in coll.fsck() if not ok] == []


def test_repeat_query_rereads_only_rewritten_partitions(
    spark, coll, opened_dirs, monkeypatch
):
    """Partition reads are memoized on their data files' names, which a
    commit's hardlinks keep, and a commit seeds the memo with the
    partitions it wrote: after a 1-row upsert, the committing session's
    repeated query reads both rewritten and carried-over partitions and
    opens no parquet file."""
    import os

    import pyarrow.parquet as pq

    mat = _vecs(34, 12)
    coll.add(_batch(spark, [f"w{i}" for i in range(12)], mat))
    q = [float(x) for x in mat[0]]
    coll.query(q, n_results=3).collect()
    old = coll._cur()
    coll.upsert(_batch(spark, ["w00"], _vecs(35, 1)))
    cur = coll._cur()

    opened = []

    class CountingParquetFile(pq.ParquetFile):
        def __init__(self, source, *args, **kwargs):
            opened.append(source)
            super().__init__(source, *args, **kwargs)

    opened_dirs.clear()
    monkeypatch.setattr(pq, "ParquetFile", CountingParquetFile)
    coll.query(q, n_results=3).collect()
    monkeypatch.undo()

    def files(ver, rel):
        d = os.path.join(ver, rel)
        return sorted(os.listdir(d)) if os.path.isdir(d) else []

    read = {os.path.relpath(p, cur) for p in opened_dirs if files(cur, os.path.relpath(p, cur))}
    rewritten = {r for r in read if files(cur, r) != files(old, r)}
    assert rewritten and read - rewritten
    assert opened == []


def test_driver_writer_matches_spark_hash_twins(spark, tmp_path):
    """One batch through the driver writer — non-ASCII ids, a zero
    vector, a NULL document and every metadata type ``_normalize``
    accepts — reads back through Spark as the Spark kernels would have
    placed it: ``vec_id`` is ``_sid_expr(id)``, every row sits in the
    vbucket/mbucket dir the Spark expressions assign, the band keys the
    engine derives from the stored vecs equal ``rp_band_rows_for``'s,
    and values and types round-trip (with the read schema and with the
    one Spark infers from the files)."""
    import datetime
    import decimal
    import os

    from adk_noui_vectordb_spark.api.collection import (
        VECS_SCHEMA,
        _reader,
        _vec_parts,
    )
    from adk_noui_vectordb_spark.operators.ann import (
        N_VEC_BUCKETS,
        RP_DIM,
        vec_bucket_expr,
    )

    ddl = (
        "id string, embedding array<double>, document string, s string, "
        "b bigint, i int, sm smallint, t tinyint, d double, f float, "
        "ok boolean, day date, ts timestamp, amt decimal(10,2)"
    )
    ids = ["naïve", "日本語", "emoji 🚀", "plain", "Ωmega", "zero"]
    mat = np.random.default_rng(46).normal(size=(len(ids), RP_DIM)).round(4)
    mat[-1] = 0.0
    rows = [
        (
            i,
            [float(x) for x in mat[j]],
            None if j == 2 else f"doc {i}",
            f"s{j}",
            2**40 + j,
            -j,
            j * 100,
            j - 3,
            j / 3,
            j * 0.5,
            j % 2 == 0,
            datetime.date(2020, 1, 1 + j),
            datetime.datetime(2021, 6, 1, 12, j, 30, 250000),
            decimal.Decimal(f"{j}.{j}5"),
        )
        for j, i in enumerate(ids)
    ]
    batch = spark.createDataFrame(rows, ddl)
    coll = Collection(spark, str(tmp_path / "twins"))
    coll.add(batch)
    cur, info = coll._require()

    meta = spark.read.schema(info["meta_schema"]).parquet(os.path.join(cur, "meta"))
    vecs = spark.read.schema(VECS_SCHEMA).parquet(os.path.join(cur, "vecs"))
    assert meta.filter(
        (F.col("vec_id") != _sid_expr(F.col("id")))
        | (F.col("mbucket") != _mbucket_expr(F.col("vec_id")))
    ).count() == 0
    assert vecs.filter(F.col("vbucket") != vec_bucket_expr(F.col("vec_id"))).count() == 0
    derived = {
        (int(v), b, int(k[b]))
        for p in _vec_parts(_reader(spark, cur), RP_DIM, range(N_VEC_BUCKETS))
        for v, k in zip(p[0], p[2])
        for b in range(RP_BANDS)
        if k[b] >= 0
    }
    zero = _sid_py("zero")
    twin = {
        tuple(r) for r in rp_band_rows_for(vecs.select("vec_id", "emb")).collect()
    }
    assert derived == {r for r in twin if r[0] != zero}
    assert {v for v, _, _ in derived} == {_sid_py(i) for i in ids} - {zero}

    want = {r[0]: tuple(r) for r in batch.collect()}
    sid_to_id = {r["vec_id"]: r["id"] for r in meta.collect()}
    assert {sid_to_id[r["vec_id"]]: list(r["emb"]) for r in vecs.collect()} == {
        i: list(w[1]) for i, w in want.items()
    }
    cols = [c for c in batch.columns if c != "embedding"]
    inferred = spark.read.parquet(os.path.join(cur, "meta"))
    for read in (meta, inferred):
        assert {r["id"]: tuple(r[c] for c in cols) for r in read.collect()} == {
            i: tuple(w[j] for j, c in enumerate(batch.columns) if c != "embedding")
            for i, w in want.items()
        }
        assert [(c, t) for c, t in read.dtypes if c in cols] == [
            (c, t) for c, t in batch.dtypes if c in cols
        ]


def test_read_rows_equal_spark_collect(spark, tmp_path, monkeypatch):
    """Every read returns the Rows Spark's own ``collect`` returns for
    its table: for each strategy, ``get`` selector, ``peek`` and
    ``include`` variant over every metadata type ``_normalize`` accepts
    (NULLs included), ``collect()`` equals
    ``spark.createDataFrame(table, schema).collect()`` in values,
    Python types and field names — once in UTC and once in a DST zone,
    where naive local timestamps could disagree — and a delegated call
    (``select``, ``toPandas``) equals the one on that DataFrame."""
    import datetime
    import decimal
    import time

    ddl = (
        "id string, embedding array<double>, document string, s string, "
        "b bigint, i int, sm smallint, t tinyint, d double, f float, "
        "ok boolean, day date, ts timestamp, amt decimal(10,2)"
    )
    stamps = [
        datetime.datetime(2021, 3, 14, 7, 30, 0, 250000),  # EDT begins
        datetime.datetime(2021, 11, 7, 5, 30),  # 01:30 EDT, then EST
        datetime.datetime(2021, 11, 7, 6, 30),
        datetime.datetime(1960, 1, 1, 12, 0, 0, 1),
    ]
    mat = _vecs(47, 24)
    rows = [
        (
            f"t{j:02d}",
            [float(x) for x in mat[j]],
            None if j % 5 == 2 else f"doc {j} the text",
            None if j % 7 == 3 else f"s{j % 3}",
            None if j % 6 == 1 else 2**40 + j,
            -j,
            None if j % 4 == 0 else j * 100,
            j - 12,
            j / 3,
            None if j % 5 == 0 else j * 0.5,
            None if j % 8 == 5 else j % 2 == 0,
            datetime.date(2020, 1, 1 + j),
            None if j % 9 == 4 else stamps[j % 4],
            decimal.Decimal(f"{j}.{j % 10}0"),
        )
        for j in range(24)
    ]
    coll = Collection(
        spark, str(tmp_path / "rows"), embedder={"kind": "hash_projection", "dim": DIM}
    )
    coll.add(spark.createDataFrame(rows, ddl))
    q0, q1 = ([float(x) for x in mat[j]] for j in (3, 11))
    where = {"s": {"$ne": "s1"}}
    reads = {
        "probe": lambda: coll.query(q0, n_results=5),
        "exact": lambda: coll.query(
            q0, n_results=5, where=where, filter_strategy="exact"
        ),
        "auto": lambda: coll.query(
            [q0, q1], n_results=4, where=where, filter_strategy="auto"
        ),
        "graph": lambda: coll.query(q0, n_results=5, filter_strategy="graph"),
        "graph_acorn": lambda: coll.query(
            q0,
            n_results=5,
            where=where,
            filter_strategy="graph",
            graph_predicate_expansion=True,
        ),
        "graph_batch": lambda: coll.query(
            [q0, q1], n_results=5, filter_strategy="graph"
        ),
        "texts": lambda: coll.query(query_texts=["doc 3 the text"], n_results=5),
        "no_distances": lambda: coll.query(q0, n_results=5, include=["documents"]),
        "embeddings": lambda: coll.query(
            q0, n_results=5, include=["distances", "metadatas", "embeddings"]
        ),
        "get.ids": lambda: coll.get(ids=["t01", "t04", "t19", "absent"]),
        "get.where": lambda: coll.get(where={"b": {"$gt": 2**40 + 5}}),
        "get.where_document": lambda: coll.get(where_document={"$contains": "1"}),
        "get.after_id": lambda: coll.get(where=where, after_id="t05", limit=6),
        "get.offset": lambda: coll.get(offset=3, limit=7),
        "get.embeddings": lambda: coll.get(
            ids=["t02", "t07"], include=["documents", "metadatas", "embeddings"]
        ),
        "peek": lambda: coll.peek(5),
    }

    def check():
        for name, read in reads.items():
            res = read()
            df = spark.createDataFrame(res._table, res.schema)
            got, want = res.collect(), df.collect()
            assert got and repr(got) == repr(want), name
            assert [[type(v) for v in r] for r in got] == [
                [type(v) for v in r] for r in want
            ], name
            assert [r.__fields__ for r in got] == [r.__fields__ for r in want], name
            assert (res.schema, res.columns) == (df.schema, df.columns), name
        assert any(r["ts"] is not None for r in coll.peek(24).collect())

    check()
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        check()
    finally:
        monkeypatch.undo()
        time.tzset()

    res = coll.query([q0, q1], n_results=5)
    df = spark.createDataFrame(res._table, res.schema)
    assert res.select("id", "distance").collect() == df.select("id", "distance").collect()
    assert res.toPandas().equals(df.toPandas())


def test_local_result_take_head_first_match_spark(spark, coll):
    """``take``, ``head(n)`` and ``first`` return the rows Spark's own
    DataFrame gives, and a negative count raises as Spark's does."""
    mat = _vecs(8, 5)
    coll.add(_local_batch(spark, [f"t{i}" for i in range(5)], mat))
    res = coll.query([float(x) for x in mat[0]], n_results=4)
    assert res.count() == 4
    for n in (0, 1, 3, 9):
        assert res.take(n) == res._df.take(n), n
        assert res.head(n) == res._df.head(n), n
    assert res.first() == res._df.first()
    for read in (res.take, res.head):
        with pytest.raises(ValueError, match="num must be an int >= 0"):
            read(-1)


def test_numpy_scorer_is_bit_exact_against_catalyst(spark, sf_dir):
    """The driver scorer equals the Catalyst expression the Spark plans
    use (functions/vector.py + F.round(..., 4)) bit for bit, raw and
    rounded, in all three spaces — on the fixture embeddings and on
    constructed rows whose unrounded score is a decimal tie (repr ends
    in 5 at the 5th decimal), where half-to-even rounding would differ."""
    import math
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from adk_noui_vectordb_spark.functions.vector import (
        cosine_similarity,
        dot_product,
        l2_distance,
        np_round4,
        np_scores,
        round4,
    )

    emb = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    rows = [[float(x) for x in v] for v in emb.column("embedding").to_pylist()]
    dim = len(rows[0])
    ties = []
    for x in (0.00015, 0.00225, 0.12345, 0.50005, -0.31415):
        # cosine against the first axis is x exactly; ip and l2 too
        ties.append([x, math.sqrt(1 - x * x)] + [0.0] * (dim - 2))
        ties.append([x] + [0.0] * (dim - 1))
    rows += ties
    axis = [1.0] + [0.0] * (dim - 1)
    queries = [axis, rows[0], rows[7]]
    mat = np.array(rows)
    df = spark.createDataFrame(
        [(i, r) for i, r in enumerate(rows)], "i int, emb array<double>"
    )
    exprs = {
        "cosine": cosine_similarity,
        "l2": l2_distance,
        "ip": dot_product,
    }
    n_ties = 0
    for space, fn in exprs.items():
        for q in queries:
            qlit = F.array(*[F.lit(x) for x in q])
            got = df.select(
                "i", fn(F.col("emb"), qlit).alias("raw"),
                F.round(fn(F.col("emb"), qlit), 4).alias("r4"),
            ).orderBy("i").collect()
            raw = np_scores(mat, np.array([q]), space)[:, 0]
            r4 = np_round4(raw)
            assert [r["raw"] for r in got] == raw.tolist(), space
            assert [r["r4"] for r in got] == r4.tolist(), space
            assert [round4(x) for x in raw.tolist()] == r4.tolist()
            n_ties += sum(
                float(np.round(x, 4)) != y for x, y in zip(raw, r4)
            )
    assert n_ties >= 5  # the tie rows are where half-to-even would differ


def test_rollback_undoes_a_bad_batch(spark, coll):
    mat = _vecs(20, 4)
    coll.add(_batch(spark, ["a", "b", "c", "d"], mat))
    assert [v["current"] for v in coll.versions()] == [True]
    coll.upsert(_batch(spark, ["b"], _vecs(21, 1), langs=["XX"], docs=["corrupted"]))
    assert coll.get(ids=["b"]).head()["lang"] == "XX"
    coll.rollback()
    # the pre-upsert state serves again, end to end
    assert coll.count() == 4
    row = coll.get(ids=["b"]).head()
    assert row["lang"] == "en" and row["document"] == "text of b"
    top = coll.query([float(x) for x in mat[1]], n_results=1).head()
    assert top["id"] == "b" and top["distance"] == 0.0
    # and the collection stays writable after the rollback; the commit
    # reuses the abandoned version's name, and reads serve its new
    # content, not what an earlier read of that name memoized
    coll.upsert(_batch(spark, ["e"], _vecs(22, 1)))
    assert coll.count() == 5
    assert coll.get(ids=["b"]).head()["lang"] == "en"


def test_merge_disjoint_shards(spark, tmp_path, stored):
    """The distributed-build pattern: two shards built independently,
    folded into one serving collection with zero recompute."""
    a = Collection(spark, str(tmp_path / "shard_a"))
    b = Collection(spark, str(tmp_path / "shard_b"))
    dst = Collection(spark, str(tmp_path / "merged"))
    ma, mb = _vecs(30, 5), _vecs(31, 5)
    a.add(_batch(spark, [f"a{i}" for i in range(5)], ma))
    b.add(_batch(spark, [f"b{i}" for i in range(5)], mb))
    dst.merge_from(a)  # into empty: adopts config
    dst.merge_from(b)
    assert dst.count() == 10
    # vectors from BOTH shards serve from the merged root
    for mat, pre in ((ma, "a"), (mb, "b")):
        top = dst.query([float(x) for x in mat[2]], n_results=1).head()
        assert top["id"] == f"{pre}2" and top["distance"] == 0.0
    # component invariants survive the merge
    cur, info = dst._require()
    assert stored.vecs(cur).count() == 10


def test_merge_conflict_modes(spark, tmp_path, stored):
    a = Collection(spark, str(tmp_path / "ca"))
    b = Collection(spark, str(tmp_path / "cb"))
    ma, mb = _vecs(32, 3), _vecs(33, 3)
    a.add(_batch(spark, ["x", "y", "z"], ma, stars=[1, 1, 1]))
    b.add(_batch(spark, ["y", "w", "v"], mb, stars=[2, 2, 2]))
    with pytest.raises(DuplicateIDError):
        a.merge_from(b)
    # keep_self: destination's y wins
    a2 = Collection(spark, str(tmp_path / "ca2"))
    a2.merge_from(a)
    a2.merge_from(b, on_conflict="keep_self")
    assert a2.count() == 5
    assert a2.get(ids=["y"]).head()["stars"] == 1
    # replace: source's y wins, and its NEW vector serves
    a3 = Collection(spark, str(tmp_path / "ca3"))
    a3.merge_from(a)
    a3.merge_from(b, on_conflict="replace")
    assert a3.count() == 5
    assert a3.get(ids=["y"]).head()["stars"] == 2
    top = a3.query([float(x) for x in mb[0]], n_results=1).head()
    assert top["id"] == "y" and top["distance"] == 0.0
    cur, info = a3._require()
    assert stored.vecs(cur).count() == 5 and stored.meta(cur, info).count() == 5


def test_merge_config_mismatch_raises(spark, tmp_path):
    a = Collection(spark, str(tmp_path / "ma"))
    a.add(_batch(spark, ["a"], _vecs(34, 1)))
    b = Collection(spark, str(tmp_path / "mb"))
    rows = [("b", [0.0] * (DIM + 4), "doc", "en", 1)]
    b.add(
        spark.createDataFrame(
            rows,
            "id string, embedding array<double>, document string, lang string, stars int",
        )
    )
    with pytest.raises(ValueError, match="config mismatch"):
        a.merge_from(b)


def test_query_texts_end_to_end(spark, tmp_path):
    """The reference's semantic_search(query: str) on the facade: docs
    embedded by the engine's embedder, a text query embeds driver-side
    and retrieves its own document at distance 0."""
    from adk_noui_vectordb_spark.operators.embed import _get_model

    model = _get_model()
    texts = [
        "spark query filter join",
        "window sort merge batch",
        "vector table scan row",
        "hash group agg key",
    ]
    vecs = model.encode(texts)
    c = Collection(spark, str(tmp_path / "textcoll"))
    c.add(
        spark.createDataFrame(
            [
                (f"t{i}", vecs[i], texts[i], "en")
                for i in range(len(texts))
            ],
            "id string, embedding array<double>, document string, lang string",
        )
    )
    top = c.query(query_texts=texts[2], n_results=2).collect()
    assert top[0]["id"] == "t2" and top[0]["distance"] == 0.0
    # exactly one of embeddings/texts
    with pytest.raises(ValueError, match="exactly one"):
        c.query()
    with pytest.raises(ValueError, match="exactly one"):
        c.query(query_embeddings=[vecs[0]], query_texts="x")
    # dim guard: an 8-dim collection rejects the 64-dim embedder
    c8 = Collection(spark, str(tmp_path / "dim8"))
    c8.add(_batch(spark, ["a"], _vecs(40, 1)))
    with pytest.raises(ValueError, match="embedder dim"):
        c8.query(query_texts="hello")
    with pytest.raises(ValueError, match="query_texts"):
        c.query(query_texts=[])


def test_fsck_and_include_embeddings(spark, coll):
    mat = _vecs(50, 6)
    coll.add(_batch(spark, [f"f{i}" for i in range(6)], mat))
    coll.upsert(_batch(spark, ["f1"], _vecs(51, 1)))
    coll.delete(ids=["f4"])
    checks = coll.fsck()
    assert all(ok for _c, ok, _d in checks), checks
    got = coll.get(ids=["f2"], include=["documents", "metadatas", "embeddings"]).head()
    assert got["embedding"] == pytest.approx([float(x) for x in mat[2]])
    # default path carries no vector payload
    assert "embedding" not in coll.get(ids=["f2"]).columns


def test_fsck_flags_each_broken_invariant(spark, tmp_path):
    """Each of fsck's two semantic checks fails, alone, on a committed
    version whose part file was rewritten (same name) to break it: a
    meta row dropped, a second id under one surrogate."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    def with_first(t, col, value):
        """``t``'s first row, with ``col`` set to ``value``."""
        i = t.schema.get_field_index(col)
        f = t.schema.field(i)
        return t.slice(0, 1).set_column(i, f, pa.array([value], f.type))

    breaks = {
        "vecs_meta_same_ids": ("meta", lambda t: t.slice(1)),
        "surrogates_unique": (
            "meta",
            lambda t: pa.concat_tables([t, with_first(t, "id", "impostor")]),
        ),
    }
    mat = _vecs(52, 12)
    for check, (comp, edit) in breaks.items():
        coll = Collection(spark, str(tmp_path / check))
        coll.add(_local_batch(spark, [f"k{i}" for i in range(12)], mat))
        assert [c for c, ok, _ in coll.fsck() if not ok] == []
        path = next(
            os.path.join(d, f)
            for d, _, files in sorted(os.walk(os.path.join(coll._cur(), comp)))
            for f in sorted(files)
            if f.endswith(".parquet")
        )
        broken = edit(pq.ParquetFile(path).read())
        os.unlink(path)  # the version's own copy: its hardlinks keep theirs
        pq.write_table(broken, path)
        assert [c for c, ok, _ in coll.fsck() if not ok] == [check]


def test_fsck_reads_footers_without_spark(spark, tmp_path):
    """fsck checks each component's readability from its files' parquet
    footers on the driver: no Spark job, healthy or not, and a
    truncated vecs part file is flagged by its exception's name."""
    import os

    coll = Collection(spark, str(tmp_path / "footers"))
    coll.add(_local_batch(spark, [f"f{i}" for i in range(12)], _vecs(53, 12)))
    sc = spark.sparkContext

    def fsck():
        sc.setJobGroup("fsck-footers", "fsck")
        try:
            out = coll.fsck()
        finally:
            sc.setJobGroup(None, None)
        return {c: (ok, d) for c, ok, d in out}

    checks = fsck()
    assert all(ok for ok, _ in checks.values()), checks
    assert checks["component_vecs"] == (True, "rows=12")
    assert checks["component_meta"] == (True, "rows=12")
    path = next(
        os.path.join(d, f)
        for d, _, files in sorted(os.walk(os.path.join(coll._cur(), "vecs")))
        for f in sorted(files)
        if f.endswith(".parquet")
    )
    with open(path, "rb") as f:
        data = f.read()
    os.unlink(path)  # the version's own copy: its hardlinks keep theirs
    with open(path, "wb") as f:
        f.write(data[: len(data) // 2])
    checks = fsck()
    assert checks["component_vecs"] == (False, "ArrowInvalid")
    assert checks["component_meta"] == (True, "rows=12")
    assert len(sc.statusTracker().getJobIdsForGroup("fsck-footers")) == 0


def test_commit_writes_one_file_per_touched_partition(spark, coll):
    """An upsert or delete writes exactly one new data file in each
    vbucket and mbucket partition holding a replaced, deleted or added
    row (none where a delete empties the partition), hardlinks every
    other file, and writes no band table."""
    import os

    from adk_noui_vectordb_spark.api.collection import _mbucket_py
    from adk_noui_vectordb_spark.operators.ann import vec_bucket_py

    base = [f"c{i:02d}" for i in range(40)]
    coll.add(_local_batch(spark, base, _vecs(54, 40)))

    def files(ver):
        """{data file path relative to ``ver``: its inode}"""
        paths = [
            os.path.join(d, f)
            for d, _, fs in os.walk(ver)
            for f in fs
            if f.endswith(".parquet")
        ]
        return {os.path.relpath(p, ver): os.stat(p).st_ino for p in paths}

    def check(commit, touched_ids):
        old = set(files(coll._cur()).values())
        commit()
        cur = coll._cur()
        new = sorted(r for r, ino in files(cur).items() if ino not in old)
        sids = [_sid_py(i) for i in touched_ids]
        touched = {f"vecs/vbucket={vec_bucket_py(s)}" for s in sids} | {
            f"meta/mbucket={_mbucket_py(s)}" for s in sids
        }
        assert [os.path.dirname(r) for r in new] == sorted(
            p for p in touched if os.path.isdir(os.path.join(cur, p))
        )
        assert sorted(os.listdir(cur)) == ["collection.json", "meta", "vecs"]

    up = base[:5] + ["c_new0", "c_new1"]
    check(lambda: coll.upsert(_local_batch(spark, up, _vecs(55, 7))), up)
    check(lambda: coll.delete(ids=base[30:33]), base[30:33])
    assert coll.count() == 39
    assert [c for c, ok, _ in coll.fsck() if not ok] == []


def test_legacy_band_store_is_ignored_then_dropped(spark, tmp_path, stored):
    """A version written by the old layout also holds a ``bands/``
    table: reads serve it exactly like the same rows without one, fsck
    is clean, and its next upsert and its next compaction each publish
    a version without ``bands/``."""
    import os

    from adk_noui_vectordb_spark.operators.ann import RP_DIM
    from adk_noui_vectordb_spark.sources import versioning as vn

    mat = np.random.default_rng(56).normal(size=(40, RP_DIM)).round(3)
    ids = [f"g{i:02d}" for i in range(40)]
    langs = ["en", "de"] * 20
    shard = Collection(spark, str(tmp_path / "shard"))
    shard.add(_local_batch(spark, ids[20:], mat[20:], langs[20:]))
    plain = Collection(spark, str(tmp_path / "plain"))
    legacy = Collection(spark, str(tmp_path / "legacy"))
    for c in (plain, legacy):
        c.add(_local_batch(spark, ids[:20], mat[:20], langs[:20]))
        c.merge_from(shard)  # disjoint: two files per shared partition
    cur = legacy._cur()
    vecs = stored.vecs(cur).select("vec_id", "emb").filter(_nonzero_pred())
    vn.commit_version(
        spark,
        legacy.root,
        [
            vn.Component("vecs", link_from=os.path.join(cur, "vecs")),
            vn.Component("meta", link_from=os.path.join(cur, "meta")),
            vn.Component(
                "bands", ("band", "band_key"), writes=(rp_band_rows_for(vecs),)
            ),
        ],
        expected=os.path.basename(cur),
    )
    assert os.path.isdir(os.path.join(legacy._cur(), "bands"))
    old = legacy.fork(str(tmp_path / "legacy_fork"))

    def answers(c):
        qs = [[float(x) for x in mat[j] + 0.1] for j in (0, 25, 33)]
        return [
            c.query(qs, n_results=5).collect(),
            c.query(qs, n_results=5, where={"lang": "de"}).collect(),
            c.get(include=["embeddings", "documents", "metadatas"]).collect(),
        ]

    assert answers(legacy) == answers(plain)
    assert [c for c, ok, _ in legacy.fsck() if not ok] == []
    before = legacy._cur()
    assert legacy.compact() != before
    assert not os.path.exists(os.path.join(legacy._cur(), "bands"))
    assert answers(legacy) == answers(plain)
    batch = _local_batch(spark, ids[:3] + ["g_new"], mat[4:8] * 2, ["fr"] * 4)
    old.upsert(batch)
    plain.upsert(batch)
    assert not os.path.exists(os.path.join(old._cur(), "bands"))
    assert answers(old) == answers(plain)
    assert [c for c, ok, _ in old.fsck() if not ok] == []


def test_client_named_collections(spark, tmp_path):
    """PersistentClient parity: the reference's two-collection layout
    (code_elements + file_summaries) under one base dir."""
    from adk_noui_vectordb_spark.api.collection import Client

    cl = Client(spark, str(tmp_path / "chroma"))
    code = cl.create_collection("code_elements")
    files = cl.get_or_create_collection("file_summaries")
    assert cl.list_collections() == ["code_elements", "file_summaries"]
    with pytest.raises(ValueError, match="already exists"):
        cl.create_collection("code_elements")
    with pytest.raises(ValueError, match="does not exist"):
        cl.get_collection("nope")
    with pytest.raises(ValueError, match="invalid"):
        cl.get_collection("../escape")

    code.add(_batch(spark, ["e1", "e2"], _vecs(60, 2)))
    files.add(_batch(spark, ["f1"], _vecs(61, 1)))
    # reopen by name — same on-disk state (the vector_search_tool side)
    assert cl.get_collection("code_elements").count() == 2
    assert cl.get_collection("file_summaries").count() == 1

    cl.delete_collection("file_summaries")
    assert cl.list_collections() == ["code_elements"]
    with pytest.raises(ValueError):
        cl.delete_collection("file_summaries")


def test_disjoint_merge_is_metadata_only(spark, tmp_path):
    """The fast path never reads or writes row data: every data file of
    the merged version is a HARDLINK (same inode) of a source file."""
    import os

    a = Collection(spark, str(tmp_path / "ha"))
    b = Collection(spark, str(tmp_path / "hb"))
    a.add(_batch(spark, ["a1", "a2"], _vecs(70, 2)))
    b.add(_batch(spark, ["b1", "b2"], _vecs(71, 2)))
    dst = Collection(spark, str(tmp_path / "hm"))
    dst.merge_from(a)
    dst.merge_from(b)

    def inodes(root_dir):
        out = set()
        for dp, _dn, fs in os.walk(root_dir):
            for f in fs:
                if f.endswith(".parquet"):
                    out.add(os.stat(os.path.join(dp, f)).st_ino)
        return out

    cur, info = dst._require()
    src_inodes = inodes(str(tmp_path / "ha")) | inodes(str(tmp_path / "hb"))
    for comp in ("vecs", "meta"):
        got = inodes(os.path.join(cur, comp))
        assert got and got <= src_inodes, comp  # every file linked, none rewritten
    # and it still SERVES correctly
    assert dst.count() == 4
    assert all(ok for _c, ok, _d in dst.fsck()), dst.fsck()


def test_distance_spaces(spark, tmp_path):
    """l2 and ip spaces rerank in their OWN metric; a reopen with the
    wrong space fails loudly (the metric-mismatch guard)."""
    import numpy as np

    mat = _vecs(80, 10)
    q = _vecs(81, 1)[0]
    l2 = Collection(spark, str(tmp_path / "l2c"), space="l2")
    l2.add(_batch(spark, [f"v{i}" for i in range(10)], mat))
    got = [(r["id"], r["distance"]) for r in l2.query([float(x) for x in q], n_results=3).collect()]
    want = sorted(
        (round(float(np.linalg.norm(mat[i] - q)), 4), f"v{i}") for i in range(10)
    )[:3]
    assert got == [(i, pytest.approx(d)) for d, i in want]

    ip = Collection(spark, str(tmp_path / "ipc"), space="ip")
    ip.add(_batch(spark, [f"v{i}" for i in range(10)], mat))
    got_ip = [r["id"] for r in ip.query([float(x) for x in q], n_results=3).collect()]
    want_ip = [f"v{i}" for i, _ in sorted(enumerate(-(mat @ q)), key=lambda t: (round(float(t[1]), 4), f"v{t[0]}"))[:3]]
    assert got_ip == want_ip

    with pytest.raises(ValueError, match="space"):
        Collection(spark, str(tmp_path / "l2c")).count()
    with pytest.raises(ValueError, match="unknown space"):
        Collection(spark, str(tmp_path / "x"), space="hamming")


# ------------------------------------------------------- r11 facade verbs


def test_update_is_update_only(spark, coll):
    """ChromaDB update(): replaces existing rows, raises on absent ids,
    and raises on an empty collection — distinct from upsert."""
    mat = _vecs(90, 4)
    with pytest.raises(KeyError, match="empty"):
        coll.update(_batch(spark, ["u0"], mat[:1]))
    coll.add(_batch(spark, ["u0", "u1", "u2"], mat[:3]))
    coll.update(_batch(spark, ["u1"], mat[3:4], docs=["rewritten"], stars=[99]))
    got = {r["id"]: (r["document"], r["stars"]) for r in coll.get().collect()}
    assert got["u1"] == ("rewritten", 99)
    assert got["u0"] == ("text of u0", 0)
    # one absent id poisons the whole batch; nothing commits
    before = coll.count()
    with pytest.raises(KeyError, match="not present"):
        coll.update(_batch(spark, ["u2", "nope"], mat[2:4]))
    assert coll.count() == before
    assert coll.get(ids=["u2"]).collect()[0]["document"] == "text of u2"


def test_get_offset_and_after_id_paginate(spark, coll):
    mat = _vecs(91, 8)
    ids = [f"p{i}" for i in range(8)]
    coll.add(_batch(spark, ids, mat))
    all_ids = [r["id"] for r in coll.get().collect()]
    assert all_ids == sorted(ids)
    page1 = [r["id"] for r in coll.get(limit=3).collect()]
    page2_off = [r["id"] for r in coll.get(limit=3, offset=3).collect()]
    page2_key = [r["id"] for r in coll.get(limit=3, after_id=page1[-1]).collect()]
    assert page1 + page2_off == all_ids[:6]
    assert page2_key == page2_off  # keyset page == positional page
    with pytest.raises(ValueError, match="offset OR after_id"):
        coll.get(offset=1, after_id="p0")
    # the cursor is an id, so it must be a str
    with pytest.raises(ValueError, match="after_id"):
        coll.get(after_id=5)
    # negative bounds fail at call time, not when the result is collected
    with pytest.raises(ValueError, match="limit"):
        coll.get(limit=-1)
    with pytest.raises(ValueError, match="offset"):
        coll.get(offset=-1)
    # so do bounds that are not ints
    for bad in (2.5, True):
        with pytest.raises(ValueError, match="limit"):
            coll.get(limit=bad)
        with pytest.raises(ValueError, match="offset"):
            coll.get(offset=bad)
    assert coll.get(limit=0).count() == 0


def test_get_include_switches(spark, coll):
    mat = _vecs(92, 3)
    coll.add(_batch(spark, ["i0", "i1", "i2"], mat))
    docs_only = coll.get(include=["documents"])
    assert set(docs_only.columns) == {"id", "document"}
    meta_only = coll.get(include=["metadatas"])
    assert set(meta_only.columns) == {"id", "lang", "stars"}
    with_emb = coll.get(include=["documents", "embeddings"])
    assert "embedding" in with_emb.columns and "lang" not in with_emb.columns
    row = with_emb.filter(F.col("id") == "i1").collect()[0]
    assert row["embedding"] == pytest.approx(list(mat[1]))
    with pytest.raises(ValueError, match="unknown items"):
        coll.get(include=["vectors"])


def test_client_threads_space_through(spark, tmp_path):
    """An l2 collection round-trips through the Client facade: the
    metric is persisted in the sidecar and read back on open, never
    guessed (VERDICT r10 next #3)."""
    from adk_noui_vectordb_spark.api.collection import Client

    cli = Client(spark, str(tmp_path / "cli"))
    c = cli.create_collection("l2coll", space="l2")
    mat = _vecs(93, 6)
    c.add(_batch(spark, [f"v{i}" for i in range(6)], mat))
    reopened = cli.get_collection("l2coll")
    assert reopened.space == "l2"
    q = _vecs(94, 1)[0]
    got = [r["id"] for r in reopened.query([float(x) for x in q], n_results=2).collect()]
    want = sorted(
        (round(float(np.linalg.norm(mat[i] - q)), 4), f"v{i}") for i in range(6)
    )[:2]
    assert got == [i for _d, i in want]
    # get_or_create on an existing collection keeps the stored space
    again = cli.get_or_create_collection("l2coll")
    assert again.space == "l2"
    # a never-written creation still honors the requested space
    fresh = cli.get_or_create_collection("ipcoll", space="ip")
    assert fresh.space == "ip"


def test_modify_rename_and_metadata(spark, tmp_path):
    from adk_noui_vectordb_spark.api.collection import Client

    cli = Client(spark, str(tmp_path / "cli2"))
    c = cli.create_collection("old_name")
    c.add(_batch(spark, ["m0", "m1"], _vecs(95, 2)))
    c.modify(metadata={"owner": "team-a"})
    assert c.metadata == {"owner": "team-a"}
    c.modify(name="new_name")
    assert c.name == "new_name"
    assert cli.list_collections() == ["new_name"]
    re2 = cli.get_collection("new_name")
    assert re2.count() == 2 and re2.metadata == {"owner": "team-a"}
    with pytest.raises(ValueError, match="does not exist"):
        cli.get_collection("old_name")
    with pytest.raises(ValueError, match="invalid"):
        c.modify(name="../evil")


def test_intra_batch_surrogate_collision_rejected(spark, tmp_path, monkeypatch):
    """Two DISTINCT ids colliding on one surrogate within a single batch
    must be rejected at write time (ADVICE r11) — pinned by weakening
    the surrogate to make a collision constructible."""
    from adk_noui_vectordb_spark.api import collection as cmod

    monkeypatch.setattr(cmod, "_sid_py", len)
    coll = Collection(spark, str(tmp_path / "collide"))
    with pytest.raises(cmod.SurrogateCollisionError, match="in one batch"):
        coll.add(_batch(spark, ["aa", "bb"], _vecs(96, 2)))
    assert coll._cur() is None  # nothing committed


def test_losing_add_keeps_insert_only_contract(spark, tmp_path, monkeypatch):
    """VERDICT r10 next #4: when a racing creator wins the initial
    commit, a losing add() replays with ADD semantics — overlapping ids
    raise DuplicateIDError instead of silently replacing the winner's
    rows; disjoint losers land."""
    from adk_noui_vectordb_spark.api import collection as cmod

    mat = _vecs(97, 6)
    real = cmod.vn.commit_version

    def make_racer(coll_root, winner_batch, state):
        def racing(spark_, root, plan, **kw):
            if not state["fired"]:
                state["fired"] = True
                # the racing creator's initial commit lands FIRST
                Collection(spark, coll_root).add(winner_batch)
                raise cmod.vn.ConcurrentWriterError("simulated race")
            return real(spark_, root, plan, **kw)

        return racing

    # overlapping ids: the loser must raise, winner's rows intact
    root1 = str(tmp_path / "race1")
    state = {"fired": False}
    monkeypatch.setattr(
        cmod.vn, "commit_version",
        make_racer(root1, _batch(spark, ["a", "b"], mat[:2]), state),
    )
    loser = Collection(spark, root1)
    with pytest.raises(DuplicateIDError):
        loser.add(_batch(spark, ["b", "c"], mat[2:4]))
    assert state["fired"]
    assert {r["id"] for r in loser.get().collect()} == {"a", "b"}
    assert loser.get(ids=["b"]).collect()[0]["document"] == "text of b"

    # disjoint ids: both creators' rows land
    root2 = str(tmp_path / "race2")
    state2 = {"fired": False}
    monkeypatch.setattr(
        cmod.vn, "commit_version",
        make_racer(root2, _batch(spark, ["a", "b"], mat[:2]), state2),
    )
    loser2 = Collection(spark, root2)
    loser2.add(_batch(spark, ["x", "y"], mat[4:6]))
    assert {r["id"] for r in loser2.get().collect()} == {"a", "b", "x", "y"}


def test_facade_filtered_recall_on_clustered_fixture(spark, tmp_path):
    """VERDICT r10 next #7: the facade's multiprobe-then-post-filter
    path measured end-to-end on clusterable data — a selective `where`
    thins LSH candidates by construction, and the default
    multiprobe_hamming=1 is what keeps recall high anyway (the full
    curve lives in BASELINE.md r11; this pins its floor)."""
    import numpy as np

    from tools.make_clustered_embeddings import DIM, make

    n, k_centers, sigma, k = 800, 16, 0.25, 10
    base = str(tmp_path / "frc")
    make(base, n, k_centers, sigma)
    emb = np.array(
        spark.read.parquet(base + "/embeddings.parquet")
        .orderBy("vec_id")
        .select("embedding")
        .toPandas()["embedding"]
        .tolist(),
        dtype=np.float64,
    )
    grp = np.arange(n) % 10
    coll = Collection(spark, str(tmp_path / "frc_coll"))
    coll.add(
        spark.createDataFrame(
            [
                (f"v{i:05d}", [float(x) for x in emb[i]], f"d{i}", int(grp[i]))
                for i in range(n)
            ],
            "id string, embedding array<double>, document string, grp int",
        )
    )
    rng = np.random.RandomState(7)
    centers = np.random.RandomState(42).randn(k_centers, DIM)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    queries = centers + sigma * rng.randn(k_centers, DIM)
    nrm = np.linalg.norm(emb, axis=1)
    where = {"grp": {"$in": [0, 1]}}  # selectivity 0.2
    mask = grp < 2

    def recall(probe):
        hits = 0
        for qi in range(k_centers):
            q = queries[qi]
            cos_r = np.round((emb @ q) / (nrm * np.linalg.norm(q)), 4)
            order = sorted(
                np.arange(n)[mask], key=lambda i: (-cos_r[i], f"v{i:05d}")
            )
            truth = {f"v{i:05d}" for i in order[:k]}
            got = {
                r["id"]
                for r in coll.query(
                    [float(x) for x in q],
                    n_results=k,
                    where=where,
                    multiprobe_hamming=probe,
                ).collect()
            }
            hits += len(got & truth)
        return hits / (k_centers * k)

    r1 = recall(1)
    r0 = recall(0)
    assert r1 >= 0.9, f"default-multiprobe filtered recall fell to {r1}"
    assert r0 <= r1, (r0, r1)  # single-probe is why 1 is the default


def test_query_include_switches(spark, coll):
    mat = _vecs(98, 5)
    coll.add(_batch(spark, [f"q{i}" for i in range(5)], mat))
    q = [float(x) for x in _vecs(99, 1)[0]]
    full = coll.query(q, n_results=3)
    assert {"query_idx", "id", "distance", "document", "lang", "stars"} <= set(
        full.columns
    )
    slim = coll.query(q, n_results=3, include=["distances"])
    assert set(slim.columns) == {"query_idx", "id", "distance"}
    docs = coll.query(q, n_results=3, include=["documents"])
    assert set(docs.columns) == {"query_idx", "id", "document"}
    with_emb = coll.query(q, n_results=3, include=["distances", "embeddings"])
    rows = with_emb.collect()
    assert len(rows) == 3 and "embedding" in with_emb.columns
    # same ranking regardless of projection
    assert [r["id"] for r in rows] == [r["id"] for r in full.collect()[:3]]
    with pytest.raises(ValueError, match="unknown items"):
        coll.query(q, n_results=3, include=["scores"])


def test_partial_update_keeps_omitted_fields(spark, coll):
    """Chroma's update(ids, metadatas=...) shape: a batch omitting
    embedding/document keeps those stored values, and a metadata-only
    batch still reranks identically (vectors untouched)."""
    mat = _vecs(100, 4)
    coll.add(_batch(spark, ["w0", "w1", "w2", "w3"], mat))
    before_q = [
        r["id"]
        for r in coll.query([float(x) for x in _vecs(101, 1)[0]], n_results=4).collect()
    ]
    # metadata-only update
    coll.update(
        spark.createDataFrame([("w1", 77)], "id string, stars int")
    )
    got = {r["id"]: (r["document"], r["lang"], r["stars"]) for r in coll.get().collect()}
    assert got["w1"] == ("text of w1", "en", 77)  # doc+lang kept, stars new
    assert got["w0"][2] == 0
    after_q = [
        r["id"]
        for r in coll.query([float(x) for x in _vecs(101, 1)[0]], n_results=4).collect()
    ]
    assert after_q == before_q  # embeddings untouched by the meta update
    # document-only update
    coll.update(
        spark.createDataFrame([("w2", "rewritten body")], "id string, document string")
    )
    got2 = coll.get(ids=["w2"]).collect()[0]
    assert got2["document"] == "rewritten body" and got2["stars"] == 2
    # embedding-only update actually moves the vector
    coll.update(
        spark.createDataFrame(
            [("w3", [float(x) for x in _vecs(102, 1)[0]])],
            "id string, embedding array<double>",
        )
    )
    emb = coll.get(ids=["w3"], include=["embeddings"]).collect()[0]["embedding"]
    assert emb == pytest.approx(list(_vecs(102, 1)[0]))
    # absent id in a partial batch: nothing commits
    with pytest.raises(KeyError, match="not present"):
        coll.update(spark.createDataFrame([("nope", 1)], "id string, stars int"))
    # unknown column: loud
    with pytest.raises(ValueError, match="unknown columns"):
        coll.update(spark.createDataFrame([("w0", 1)], "id string, bogus int"))


def test_snapshot_view_serves_old_version_read_only(spark, coll):
    """Collection.at(version): time-travel READS without moving
    _CURRENT — a pinned view keeps serving the old rows while the live
    collection moves on; every mutating verb on the view raises."""
    mat = _vecs(110, 4)
    coll.add(_batch(spark, ["s0", "s1"], mat[:2]))
    v1 = coll.versions()[-1]["name"]
    coll.upsert(_batch(spark, ["s2", "s3"], mat[2:]))
    snap = coll.at(v1)
    assert {r["id"] for r in snap.get().collect()} == {"s0", "s1"}
    assert {r["id"] for r in coll.get().collect()} == {"s0", "s1", "s2", "s3"}
    assert snap.count() == 2 and coll.count() == 4
    q = [float(x) for x in _vecs(111, 1)[0]]
    assert {r["id"] for r in snap.query(q, n_results=10).collect()} <= {"s0", "s1"}
    for verb in (
        lambda: snap.upsert(_batch(spark, ["x"], mat[:1])),
        lambda: snap.delete(ids=["s0"]),
        lambda: snap.rollback(),
        lambda: snap.compact(),
        lambda: snap.modify(metadata={}),
    ):
        with pytest.raises(ValueError, match="read-only"):
            verb()
    with pytest.raises(ValueError, match="unknown version"):
        coll.at("v_999999")
    # gc keeps the trailing two versions, so one more commit removes v1:
    # the view's reads then name the version instead of a Spark error
    coll.upsert(_batch(spark, ["s4"], mat[:1]))
    assert v1 not in {v["name"] for v in coll.versions()}
    for read in (snap.count, snap.get, lambda: snap.query(q, n_results=2)):
        with pytest.raises(ValueError, match=f"{v1}.*versions"):
            read()
    assert [c for c, ok, _ in coll.fsck() if not ok] == []


def test_fork_is_hardlinked_and_divergent(spark, tmp_path):
    """fork(): the clone shares every data-file inode with the source
    (zero row data copied), serves identically, and the two roots then
    diverge independently — a write on either side never shows on the
    other."""
    import os

    from adk_noui_vectordb_spark.api.collection import Client

    cli = Client(spark, str(tmp_path / "fcli"))
    src = cli.create_collection("src")
    mat = _vecs(120, 4)
    src.add(_batch(spark, ["f0", "f1"], mat[:2]))
    fork = cli.fork_collection("src", "fork")

    def inodes(root):
        out = {}
        for dp, _dn, fs in os.walk(root):
            for f in fs:
                if f.endswith(".parquet"):
                    p = os.path.join(dp, f)
                    out[os.path.relpath(p, root)] = os.stat(p).st_ino
        return out

    # identical content served from SHARED inodes
    assert {r["id"] for r in fork.get().collect()} == {"f0", "f1"}
    si = inodes(src._cur())
    fi = inodes(fork._cur())
    assert fi and set(fi.values()) <= set(si.values())
    # divergence: each side mutates without touching the other
    fork.upsert(_batch(spark, ["f2"], mat[2:3]))
    src.delete(ids=["f0"])
    assert {r["id"] for r in fork.get().collect()} == {"f0", "f1", "f2"}
    assert {r["id"] for r in src.get().collect()} == {"f1"}
    assert all(ok for _c, ok, _d in fork.fsck()), fork.fsck()
    assert all(ok for _c, ok, _d in src.fsck()), src.fsck()
    # a second fork over an existing target refuses
    with pytest.raises(FileExistsError):
        cli.fork_collection("src", "fork")


def test_client_reset_and_heartbeat(spark, tmp_path):
    from adk_noui_vectordb_spark.api.collection import Client

    cli = Client(spark, str(tmp_path / "rcli"))
    cli.create_collection("a")
    cli.create_collection("b")
    assert cli.count_collections() == 2
    assert cli.heartbeat() > 0
    assert cli.reset() is True
    assert cli.list_collections() == []


def test_partial_update_preserves_nonalphabetical_meta_order(spark, tmp_path):
    """The assembled partial-update batch must follow the COLLECTION's
    column order (the schema string is order-sensitive), not a sorted
    order — pinned with metadata columns in reverse-alphabetical order."""
    coll = Collection(spark, str(tmp_path / "ord"))
    mat = _vecs(130, 2)
    coll.add(
        spark.createDataFrame(
            [
                ("o0", [float(x) for x in mat[0]], "d0", 5, "x"),
                ("o1", [float(x) for x in mat[1]], "d1", 6, "y"),
            ],
            "id string, embedding array<double>, document string, zeta int, alpha string",
        )
    )
    coll.update(spark.createDataFrame([("o1", 99)], "id string, zeta int"))
    got = coll.get(ids=["o1"]).collect()[0]
    assert got["zeta"] == 99 and got["alpha"] == "y" and got["document"] == "d1"


def test_add_metadata_column_evolves_the_schema(spark, coll):
    """ALTER for the typed metadata store: existing rows get the
    default, the DSL filters on the new column, partial update writes
    it, bands/vecs hardlink through untouched, and new full batches
    must carry it (schema-on-write now includes it)."""
    import os

    mat = _vecs(140, 3)
    coll.add(_batch(spark, ["e0", "e1", "e2"], mat))
    cur_before = coll._cur()
    vec_inodes_before = {
        os.stat(os.path.join(dp, f)).st_ino
        for dp, _dn, fs in os.walk(os.path.join(cur_before, "vecs"))
        for f in fs
        if f.endswith(".parquet")
    }
    coll.add_metadata_column("tier", "string", default="bronze")
    got = {r["id"]: r["tier"] for r in coll.get().collect()}
    assert got == {"e0": "bronze", "e1": "bronze", "e2": "bronze"}
    # vecs hardlinked through (no vector rewrite for a metadata ALTER)
    cur_after = coll._cur()
    vec_inodes_after = {
        os.stat(os.path.join(dp, f)).st_ino
        for dp, _dn, fs in os.walk(os.path.join(cur_after, "vecs"))
        for f in fs
        if f.endswith(".parquet")
    }
    assert vec_inodes_after == vec_inodes_before
    # DSL filter + partial update on the new column
    coll.update(spark.createDataFrame([("e1", "gold")], "id string, tier string"))
    assert {
        r["id"] for r in coll.get(where={"tier": "gold"}).collect()
    } == {"e1"}
    # a new full batch must carry the evolved schema
    with pytest.raises(ValueError, match="mismatch"):
        coll.upsert(_batch(spark, ["e9"], _vecs(141, 1)))
    wide = spark.createDataFrame(
        [("e9", [float(x) for x in _vecs(141, 1)[0]], "d", "en", 1, "silver")],
        "id string, embedding array<double>, document string, lang string, stars int, tier string",
    )
    coll.upsert(wide)
    assert coll.count() == 4
    assert all(ok for _c, ok, _d in coll.fsck()), coll.fsck()
    # duplicate / reserved names rejected
    with pytest.raises(ValueError, match="already exists"):
        coll.add_metadata_column("tier", "string")
    with pytest.raises(ValueError, match="unsupported"):
        coll.add_metadata_column("blob", "array<double>")


def test_metadata_names_need_not_be_identifiers(spark, tmp_path):
    """A metadata column may be named by any string, as in ChromaDB:
    ``file-path`` and ``file path`` are stored, reopened, filtered on,
    upserted, partially updated, widened and compacted like any other
    name. A root whose columns are plain names keeps the exact
    ``meta_schema`` string it had, so it reopens and takes the same
    batches."""
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    from adk_noui_vectordb_spark.api.collection import Client

    schema = StructType(
        [
            StructField("id", StringType()),
            StructField("embedding", ArrayType(DoubleType())),
            StructField("document", StringType()),
            StructField("file-path", StringType()),
            StructField("file path", StringType()),
        ]
    )

    def batch(ids, mat, paths, spaced, fields=schema.fieldNames()):
        cols = {
            "id": ids,
            "embedding": [np.asarray(v, np.float64) for v in mat],
            "document": [f"text of {i}" for i in ids],
            "file-path": paths,
            "file path": spaced,
        }
        sch = StructType([f for f in schema.fields if f.name in fields])
        return spark.createDataFrame(pd.DataFrame({k: cols[k] for k in fields}), sch)

    cli = Client(spark, str(tmp_path / "names"))
    mat = _vecs(150, 3)
    cli.create_collection("odd").add(
        batch(["a", "b", "c"], mat, ["src/a.py", "src/b.py", "src/c.py"],
              ["x y", "x y", "z"])
    )
    coll = cli.get_collection("odd")
    assert coll.count() == 3
    got = coll.get(where={"file-path": "src/b.py"}).collect()
    assert [r["id"] for r in got] == ["b"]
    q = [float(x) for x in mat[0]]
    top = coll.query(q, n_results=3, where={"file path": "x y"}).collect()
    assert sorted(r["id"] for r in top) == ["a", "b"]

    coll.upsert(batch(["b", "d"], _vecs(151, 2), ["src/b2.py", "src/d.py"], ["w", "z"]))
    coll.update(batch(["c"], _vecs(152, 1), ["src/c2.py"], None,
                      fields=["id", "file-path"]))
    coll.add_metadata_column("start-line", "int", 3)
    want = {
        "a": ("src/a.py", "x y", 3),
        "b": ("src/b2.py", "w", 3),
        "c": ("src/c2.py", "z", 3),
        "d": ("src/d.py", "z", 3),
    }

    def rows(c):
        return {
            r["id"]: (r["file-path"], r["file path"], r["start-line"])
            for r in c.get().collect()
        }

    assert rows(coll) == want
    got = coll.get(where={"start-line": 3, "file path": "w"}).collect()
    assert [r["id"] for r in got] == ["b"]
    before = _reads(coll, q)
    coll.compact(threshold=0)
    assert _reads(coll, q) == before
    assert rows(cli.get_collection("odd")) == want
    assert all(ok for _c, ok, _d in coll.fsck()), coll.fsck()

    # a batch whose float embeddings are cast on intake selects its
    # columns by name: a dotted name is one column, not a struct field
    dotted = cli.create_collection("dotted")
    dotted.add(
        spark.createDataFrame(
            [("e", [1.0, 2.0], "doc", "v")],
            "id string, embedding array<float>, document string, `a.b` string",
        )
    )
    assert [r["a.b"] for r in dotted.get().collect()] == ["v"]

    # plain names: the stored schema string is the one roots already hold
    plain = cli.create_collection("plain")
    plain.add(_local_batch(spark, ["p0", "p1"], _vecs(153, 2)))
    assert plain._load_sidecar()["meta_schema"] == (
        "vec_id bigint, id string, document string, lang string, "
        "stars int, mbucket int"
    )
    reopened = cli.get_collection("plain")
    reopened.add(_local_batch(spark, ["p2"], _vecs(154, 1)))
    assert reopened.count() == 3


def test_add_metadata_column_casts_default_in_one_job(spark, coll):
    """The ALTER stores Spark's cast of ``default`` on every existing
    row (1.5 into an ``int`` column is 1, where a pyarrow int32 array
    of 1.5 raises), and runs no Spark job beyond that 1-row cast; a
    NULL default runs none."""
    import datetime

    from pyspark.sql.types import IntegerType

    ids = [f"a{i:02d}" for i in range(12)]
    coll.add(_local_batch(spark, ids, _vecs(142, 12)))
    sc = spark.sparkContext

    def jobs(name, call):
        group = f"alter-{name}"
        sc.setJobGroup(group, name)
        try:
            call()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    seen = datetime.datetime(2021, 6, 1, 12, 30, 15, 250000)
    assert jobs("n", lambda: coll.add_metadata_column("n", "int", default=1.5)) == 1
    assert jobs("note", lambda: coll.add_metadata_column("note", "string")) == 0
    assert jobs("seen", lambda: coll.add_metadata_column("seen", "timestamp", default=seen)) == 1
    got = coll.get()
    assert got.schema["n"].dataType == IntegerType()
    rows = got.collect()
    assert sorted(r["id"] for r in rows) == ids
    assert {(r["n"], r["note"], r["seen"]) for r in rows} == {(1, None, seen)}
    assert [c for c, ok, _ in coll.fsck() if not ok] == []


def test_adaptive_prefilter_strategy(spark, tmp_path):
    """r11 adaptive query planning: an ultra-selective where filter
    switches query() to exact-over-survivors (recall 1.0 where the
    probe path thins below k by construction); the explicit strategies
    agree with each other on non-selective filters; 'exact' without a
    filter is rejected. A zero vector the filter keeps is stored but
    never scored (its cosine is undefined), and a zero query vector is
    rejected at call time."""
    import numpy as np

    n = 300
    rng = np.random.default_rng(7)
    mat = rng.normal(size=(n, DIM)).round(3)
    grp = [i % 100 for i in range(n)]  # grp==0 keeps 3 of 300 rows (1%)
    coll = Collection(spark, str(tmp_path / "adapt"))
    coll.add(
        spark.createDataFrame(
            [
                (f"a{i:04d}", [float(x) for x in mat[i]], f"d{i}", grp[i])
                for i in range(n)
            ]
            + [("zero", [0.0] * DIM, "dz", 0)],
            "id string, embedding array<double>, document string, grp int",
        )
    )
    q = [float(x) for x in rng.normal(size=DIM).round(3)]
    where = {"grp": 0}
    # ground truth among survivors
    nrm = np.linalg.norm(mat, axis=1)
    qv = np.array(q)
    cos = np.round((mat @ qv) / (nrm * np.linalg.norm(qv)), 4)
    survivors = [i for i in range(n) if grp[i] == 0]
    truth = [
        f"a{i:04d}"
        for i in sorted(survivors, key=lambda i: (-cos[i], f"a{i:04d}"))
    ]
    auto = [
        r["id"]
        for r in coll.query(
            q, n_results=3, where=where, filter_strategy="auto"
        ).collect()
    ]
    exact = [
        r["id"]
        for r in coll.query(
            q, n_results=3, where=where, filter_strategy="exact"
        ).collect()
    ]
    assert auto == exact == truth  # auto picked the exact path: recall 1.0
    for strategy in ("auto", "exact", "probe"):
        with pytest.raises(ValueError, match="zero"):
            coll.query([0.0] * DIM, n_results=3, where=where,
                       filter_strategy=strategy)
    # probe path still works and returns a subset of survivors
    probed = [
        r["id"]
        for r in coll.query(
            q, n_results=3, where=where, filter_strategy="probe"
        ).collect()
    ]
    assert set(probed) <= {f"a{i:04d}" for i in survivors}
    # a broad filter on auto takes the probe path and stays correct
    broad = coll.query(
        q, n_results=3, where={"grp": {"$gte": 0}},
        filter_strategy="auto", prefilter_threshold=10,
    )
    assert len(broad.collect()) == 3
    with pytest.raises(ValueError, match="needs a where"):
        coll.query(q, n_results=3, filter_strategy="exact")
    with pytest.raises(ValueError, match="filter_strategy"):
        coll.query(q, n_results=3, filter_strategy="brute")


def test_partial_update_lost_update_fence(spark, tmp_path, monkeypatch):
    """ADVICE r11 (medium): a concurrent commit landing between a
    partial update's old-value assembly and its commit must NOT have
    its changes to omitted columns silently reverted — the commit CASes
    on the assembly snapshot's version, loses, and re-derives."""
    root = str(tmp_path / "lu")
    coll = Collection(spark, root)
    mat = _vecs(77, 3)
    coll.add(_batch(spark, ["a", "b", "c"], mat))
    other = Collection(spark, root)
    real_commit = Collection._commit_batch
    fired = {"done": False}

    def interfering(self, *args, expected_version=None, **kwargs):
        if expected_version is not None and not fired["done"]:
            fired["done"] = True
            # interleaved writer changes the OMITTED column mid-flight
            other.update(
                spark.createDataFrame([("a", 99)], "id string, stars int")
            )
        return real_commit(self, *args, expected_version=expected_version, **kwargs)

    monkeypatch.setattr(Collection, "_commit_batch", interfering)
    # partial update provides lang only; stars is carried forward
    coll.update(spark.createDataFrame([("a", "fr")], "id string, lang string"))
    row = coll.get(ids=["a"]).head()
    assert fired["done"], "the interference never fired"
    assert row["lang"] == "fr"
    assert row["stars"] == 99, "interleaved writer's stars update was reverted"


def test_schema_evolution_is_atomic_with_the_data(spark, tmp_path):
    """ADVICE r11 (low): the evolved schema rides INSIDE the version dir,
    so a writer normalizing against a stale root sidecar cannot rewrite
    partitions without the new column, and readers of the committed
    version always see the schema its data was written with."""
    import os

    import pytest as _pt

    root = str(tmp_path / "se")
    coll = Collection(spark, root)
    coll.add(_batch(spark, ["a", "b", "c"], _vecs(5, 3)))
    with open(os.path.join(root, "collection.json")) as f:
        old_side = f.read()
    coll.add_metadata_column("score", "double", default=1.5)
    # simulate the old crash/race window: root sidecar still pre-ALTER
    with open(os.path.join(root, "collection.json"), "w") as f:
        f.write(old_side)
    # a batch shaped by the stale sidecar must fail loudly, never
    # silently rewrite victim partitions without the new column
    with _pt.raises(ValueError, match="schema mismatch"):
        coll.upsert(_batch(spark, ["a"], _vecs(6, 1)))
    # readers resolve the version-scoped schema: the column is intact
    assert coll.get(ids=["b"]).head()["score"] == 1.5


def test_fork_of_pinned_snapshot_clones_that_version(spark, tmp_path):
    """ADVICE r11 (low): forking an at()-pinned view clones the PINNED
    version, not the latest."""
    root = str(tmp_path / "fp")
    coll = Collection(spark, root)
    mat = _vecs(9, 4)
    coll.add(_batch(spark, ["a", "b"], mat[:2]))
    v0 = coll.versions()[-1]["name"]
    coll.upsert(_batch(spark, ["c", "d"], mat[2:]))
    snap = coll.at(v0)
    fork = snap.fork(str(tmp_path / "fp2"))
    assert {r["id"] for r in fork.get().collect()} == {"a", "b"}
    fork2 = coll.fork(str(tmp_path / "fp3"))
    assert fork2.count() == 4


def test_writer_lock_release_is_ownership_checked(tmp_path):
    """ADVICE r11 (medium): release unlinks _LOCK only when it is still
    OUR inode — a claimant that re-linked the path after a botched steal
    keeps its lock."""
    import os

    from adk_noui_vectordb_spark.sources import versioning as vn

    root = str(tmp_path / "lk")
    os.makedirs(root)
    lock = os.path.join(root, "_LOCK")
    with vn.writer_lock(root):
        assert os.path.exists(lock)
        # simulate: a stealer renamed our lock away, restore failed, and
        # a new live claimant re-linked the path
        os.rename(lock, os.path.join(root, "stolen"))
        claim2 = os.path.join(root, "claim2")
        with open(claim2, "w") as f:
            f.write(str(os.getpid()))
        os.link(claim2, lock)
    assert os.path.exists(lock), "release destroyed the new claimant's lock"


def test_per_collection_embedder_round_trips_independently(spark, tmp_path):
    """r12 (VERDICT r11 next #6, Chroma parity): two collections with
    DIFFERENT embedder specs coexist — documents-only add() embeds at
    each collection's own dim through its own encoder, query_texts
    routes through the same spec, and reopening with a conflicting
    spec raises (the `space` sidecar-guard discipline)."""
    from adk_noui_vectordb_spark.api.collection import Client
    from adk_noui_vectordb_spark.operators.embed import resolve_model

    client = Client(spark, str(tmp_path / "embcli"))
    c16 = client.create_collection(
        "dim16", embedder={"kind": "hash_projection", "dim": 16}
    )
    c32 = client.create_collection(
        "dim32", embedder={"kind": "hash_projection", "dim": 32}
    )
    docs = spark.createDataFrame(
        [("a", "alpha beta gamma"), ("b", "delta epsilon zeta"),
         ("c", "alpha beta delta")],
        "id string, document string",
    )
    c16.add(docs)  # documents-only: embeddings computed by the spec
    c32.add(docs)
    e16 = c16.get(ids=["a"], include=["embeddings"]).head()["embedding"]
    e32 = c32.get(ids=["a"], include=["embeddings"]).head()["embedding"]
    assert len(e16) == 16 and len(e32) == 32
    # the stored vector IS the spec model's encoding
    m16 = resolve_model({"kind": "hash_projection", "dim": 16})
    assert e16 == m16.encode(["alpha beta gamma"])[0]

    # query_texts routes through each collection's own embedder
    got16 = [r["id"] for r in c16.query(query_texts="alpha beta gamma", n_results=1).collect()]
    got32 = [r["id"] for r in c32.query(query_texts="alpha beta gamma", n_results=1).collect()]
    assert got16 == ["a"] and got32 == ["a"]

    # reopen: None adopts; a conflicting spec raises
    again = client.get_or_create_collection("dim16")
    assert again.count() == 3
    assert again._embedder_spec() == {"kind": "hash_projection", "dim": 16}
    import pytest as _pt

    with _pt.raises(ValueError, match="embedder"):
        client.get_or_create_collection(
            "dim16", embedder={"kind": "hash_projection", "dim": 64}
        ).count()

    # a batch with explicit embeddings at the wrong dim still fails loudly
    bad = spark.createDataFrame(
        [("z", [0.1] * 8, "text z")],
        "id string, embedding array<double>, document string",
    )
    with _pt.raises(ValueError, match="dim"):
        c16.upsert(bad)


def test_graph_strategy_serves_the_collection(spark, sf_dir):
    """filter_strategy='graph' (the hnswlib-shaped serving path): a
    query that IS a stored vector surfaces its own document at rank 1
    distance 0 (Chroma includes self-matches), runs are deterministic,
    and a where-filter applies at emission only (every returned row
    satisfies it; the unfiltered pool is a superset)."""
    import os

    from pyspark.sql import functions as F

    from adk_noui_vectordb_spark.api.collection import demo_collection

    coll = demo_collection(spark, sf_dir)
    q = [
        float(x)
        for x in spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        .filter(F.col("vec_id") == 3)
        .head()["embedding"]
    ]
    a = [
        (r["id"], r["distance"])
        for r in coll.query(q, n_results=5, filter_strategy="graph").collect()
    ]
    assert a[0] == ("doc-3", 0.0), a
    b = [
        (r["id"], r["distance"])
        for r in coll.query(q, n_results=5, filter_strategy="graph").collect()
    ]
    assert a == b
    filt = coll.query(
        q, n_results=5, where={"n_chars": {"$gt": 100}}, filter_strategy="graph"
    ).collect()
    assert filt and all(r["n_chars"] > 100 for r in filt)
    pool_ids = {r["id"] for r in coll.query(q, n_results=50, filter_strategy="graph").collect()}
    assert {r["id"] for r in filt} <= pool_ids


def test_graph_sidecar_fingerprint_is_memoized_and_tracks_recommit(
    spark, tmp_path, monkeypatch
):
    """The graph is built once per version: a warm graph query calls
    ``build_graph`` 0 times, yet after a rollback the commit that
    republishes the abandoned version's name with new content builds
    again (new data files) and serves the new vectors."""
    import os

    from adk_noui_vectordb_spark.operators import graph_ann

    coll = Collection(spark, str(tmp_path / "fp"))
    mat = _vecs(41, 14)
    coll.add(_batch(spark, [f"g{i}" for i in range(12)], mat[:12]))
    coll.query([float(x) for x in mat[0]], n_results=3, filter_strategy="graph")
    coll.add(_batch(spark, ["x"], mat[12:13]))
    qx = [float(x) for x in mat[12]]
    top = coll.query(qx, n_results=1, filter_strategy="graph").head()
    assert (top["id"], top["distance"]) == ("x", 0.0)

    calls = []
    real = graph_ann.build_graph

    def counted(ids, m):
        calls.append(len(ids))
        return real(ids, m)

    monkeypatch.setattr(graph_ann, "build_graph", counted)
    coll.query(qx, n_results=1, filter_strategy="graph").collect()
    assert calls == [], calls

    abandoned = os.path.basename(coll._cur())
    coll.rollback()
    coll.add(_batch(spark, ["y"], mat[13:14]))
    assert os.path.basename(coll._cur()) == abandoned
    qy = [float(x) for x in mat[13]]
    got = coll.query(qy, n_results=3, filter_strategy="graph").collect()
    assert calls == [13], calls
    assert (got[0]["id"], got[0]["distance"]) == ("y", 0.0)
    assert "x" not in {r["id"] for r in got}


def test_facade_graph_strategy_recall_on_clustered_fixture(spark, tmp_path):
    """The graph strategy's end-to-end recall on the tight clustered
    fixture (the corpus graph's own gate regime), with RAW held-out
    query vectors — the path that exercises the query-cell hub seeding
    (no indexed id to start from). Measured 1.00 over 8 near-center
    queries; pinned at >= 0.9."""
    import numpy as np

    from tools.make_clustered_embeddings import DIM, make

    n, k_centers, sigma, k = 1000, 10, 0.06, 10
    base = str(tmp_path / "grc")
    make(base, n, k_centers, sigma)
    emb = np.array(
        spark.read.parquet(base + "/embeddings.parquet")
        .orderBy("vec_id")
        .select("embedding")
        .toPandas()["embedding"]
        .tolist(),
        dtype=np.float64,
    )
    coll = Collection(spark, str(tmp_path / "grc_coll"))
    coll.add(
        spark.createDataFrame(
            [
                (f"v{i:05d}", [float(x) for x in emb[i]], f"d{i}")
                for i in range(n)
            ],
            "id string, embedding array<double>, document string",
        )
    )
    rng = np.random.RandomState(7)
    centers = np.random.RandomState(42).randn(k_centers, DIM)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    queries = centers + sigma * rng.randn(k_centers, DIM)
    nrm = np.linalg.norm(emb, axis=1)
    hits = 0
    for qi in range(8):
        q = queries[qi]
        cos_r = np.round((emb @ q) / (nrm * np.linalg.norm(q)), 4)
        order = sorted(range(n), key=lambda i: (-cos_r[i], f"v{i:05d}"))
        truth = {f"v{i:05d}" for i in order[:k]}
        got = {
            r["id"]
            for r in coll.query(
                [float(x) for x in q], n_results=k, filter_strategy="graph"
            ).collect()
        }
        hits += len(got & truth)
    assert hits / (8 * k) >= 0.9, hits / (8 * k)


def _graph_top(coll, q, k: int) -> list:
    return sorted(
        (r["id"], r["distance"])
        for r in coll.query(
            [float(x) for x in q], n_results=k, filter_strategy="graph"
        ).collect()
    )


def test_graph_sidecar_is_incremental_across_commits(spark, tmp_path):
    """Each commit's first graph query builds the graph of the new
    version on the driver: after an add it serves the added vectors and
    runs 0 Spark jobs, after a delete the deleted ids never surface,
    and after an upsert the replaced vector serves at its NEW position.
    Serving quality is pinned against exact cosine, and the graph equals
    the one a fresh collection over the same final rows serves."""
    coll = Collection(spark, str(tmp_path / "inc"))
    mat = _vecs(7, 40)
    coll.add(_batch(spark, [f"a{i}" for i in range(30)], mat[:30]))
    q = [float(x) for x in mat[0]]
    coll.query(q, n_results=5, filter_strategy="graph").collect()

    # pure addition: the next graph query serves the batch, no Spark job
    coll.add(_batch(spark, [f"b{i}" for i in range(10)], mat[30:40]))
    sc = spark.sparkContext
    sc.setJobGroup("inc-graph", "graph query after an add")
    got = coll.query(
        [float(x) for x in mat[35]], n_results=3, filter_strategy="graph"
    ).collect()
    sc.setJobGroup(None, None)
    assert (got[0]["id"], got[0]["distance"]) == ("b5", 0.0)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("inc-graph"))
    assert n_jobs == 0, f"add-then-graph-query ran {n_jobs} jobs"

    # pure removal: gone at emission
    coll.delete(ids=["a3", "a4"])
    pool = {
        r["id"]
        for r in coll.query(q, n_results=30, filter_strategy="graph").collect()
    }
    assert "a3" not in pool and "a4" not in pool

    # serving quality vs exact cosine (deterministic)
    live = [f"a{i}" for i in range(30) if i not in (3, 4)] + [
        f"b{i}" for i in range(10)
    ]
    emb = {f"a{i}": mat[i] for i in range(30)}
    emb.update({f"b{i}": mat[30 + i] for i in range(10)})
    qv = np.array(q)
    exact = set(
        sorted(
            live,
            key=lambda i: -float(
                np.dot(emb[i], qv) / (np.linalg.norm(emb[i]) * np.linalg.norm(qv))
            ),
        )[:10]
    )
    inc_top = {i for i, _ in _graph_top(coll, q, 10)}
    assert len(inc_top & exact) / 10 >= 0.7, inc_top
    fresh = Collection(spark, str(tmp_path / "inc_fresh"))
    fresh.add(_batch(spark, live, np.array([emb[i] for i in live])))
    fresh_top = {i for i, _ in _graph_top(fresh, q, 10)}
    assert len(fresh_top & exact) / 10 >= 0.8, fresh_top
    assert inc_top == fresh_top

    # changed embedding: the replaced vector serves at its NEW position
    coll.upsert(_batch(spark, ["a0"], mat[5:6]))
    got = coll.query(
        [float(x) for x in mat[5]], n_results=3, filter_strategy="graph"
    ).collect()
    assert ("a0", 0.0) in {(r["id"], r["distance"]) for r in got}


def test_graph_sidecar_replace_pays_batch_and_matches_fresh_rebuild(
    spark, tmp_path
):
    """An update()-heavy lifecycle on a graph-served collection: the
    graph query after a replace runs 0 Spark jobs and serves the new
    vectors (twice-replaced too); a deleted replaced id stops
    surfacing; and the results equal those of a fresh collection over
    the identical final rows."""
    coll = Collection(spark, str(tmp_path / "rep"))
    mat = _vecs(11, 44)
    ids = [f"d{i}" for i in range(40)]
    coll.add(_batch(spark, ids, mat[:40]))
    q = [float(x) for x in mat[1]]
    coll.query(q, n_results=5, filter_strategy="graph").collect()

    # replace two vectors in one commit
    coll.update(_batch(spark, ["d3", "d7"], mat[40:42]))
    sc = spark.sparkContext
    sc.setJobGroup("rep-graph", "graph query after a replace")
    got = coll.query(
        [float(x) for x in mat[40]], n_results=3, filter_strategy="graph"
    ).collect()
    sc.setJobGroup(None, None)
    assert (got[0]["id"], got[0]["distance"]) == ("d3", 0.0)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("rep-graph"))
    assert n_jobs == 0, f"replace-then-graph-query ran {n_jobs} jobs"

    # replace d3 AGAIN
    coll.update(_batch(spark, ["d3"], mat[42:43]))
    got2 = coll.query(
        [float(x) for x in mat[42]], n_results=3, filter_strategy="graph"
    ).collect()
    assert (got2[0]["id"], got2[0]["distance"]) == ("d3", 0.0)

    # delete a replaced id: it stops surfacing
    coll.delete(ids=["d7"])
    pool = {
        r["id"]
        for r in coll.query(
            [float(x) for x in mat[41]], n_results=40, filter_strategy="graph"
        ).collect()
    }
    assert "d7" not in pool

    # equal to a fresh collection over the identical final rows
    final = {i: mat[j] for j, i in enumerate(ids)}
    final["d3"] = mat[42]
    del final["d7"]
    fresh = Collection(spark, str(tmp_path / "rep_fresh"))
    fresh.add(_batch(spark, list(final), np.array(list(final.values()))))
    queries = [q, mat[42], mat[20]]
    served = [_graph_top(coll, qv, 10) for qv in queries]
    assert served == [_graph_top(fresh, qv, 10) for qv in queries]


def test_graph_predicate_expansion_recall_under_selective_filter(
    spark, tmp_path
):
    """VERDICT r12 next #4 done-criterion: the ACORN-style opt-in
    (``graph_predicate_expansion=True``) holds facade graph recall ≥
    0.9 at 10% where-selectivity on the MILD fixture (measured 1.00 on
    this config at graph_beam=16, hnswlib's raise-ef-for-filters
    guidance). r14 additionally pins the UNFILTERED default ≥ 0.9
    (VERDICT r13 next #1 done-criterion — measured 0.96 here, 0.92 on
    the full n=2000 sweep fixture vs 0.64 pre-r14: nprobe-2 build edges
    + multi-cell seed doors). The blind emission-filtered path improved
    too (0.34 -> 0.79 measured) but remains ≤ the steered walk — that
    ordering is the pinned invariant now, not the old collapse."""
    import numpy as np

    from tools.make_clustered_embeddings import make

    n, k_centers, sigma = 1000, 10, 0.25
    base = str(tmp_path / "mild")
    make(base, n, k_centers, sigma)
    emb = np.array(
        spark.read.parquet(base + "/embeddings.parquet")
        .orderBy("vec_id")
        .select("embedding")
        .toPandas()["embedding"]
        .tolist(),
        dtype=np.float64,
    )
    grp = np.arange(n) % 10
    coll = Collection(spark, str(tmp_path / "coll"))
    coll.add(
        spark.createDataFrame(
            [
                (f"v{i:05d}", [float(x) for x in emb[i]], f"doc {i}", int(grp[i]))
                for i in range(n)
            ],
            "id string, embedding array<double>, document string, grp int",
        )
    )
    rng = np.random.RandomState(7)
    centers = np.random.RandomState(42).randn(k_centers, emb.shape[1])
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    queries = centers + sigma * rng.randn(k_centers, emb.shape[1])
    nrm = np.linalg.norm(emb, axis=1)
    k, w = 10, {"grp": {"$in": [0]}}
    idxs = [i for i in range(n) if grp[i] == 0]
    u_hits = a_hits = b_hits = tot = 0
    for qi in range(8):
        q = queries[qi]
        cos = (emb @ q) / (nrm * np.linalg.norm(q))
        truth = set(sorted(idxs, key=lambda i: (-round(cos[i], 4), i))[:k])
        truth_u = set(
            sorted(range(n), key=lambda i: (-round(cos[i], 4), i))[:k]
        )
        qv = [float(x) for x in q]
        unfiltered = {
            int(r["id"][1:])
            for r in coll.query(
                qv, n_results=k, filter_strategy="graph"
            ).collect()
        }
        blind = {
            int(r["id"][1:])
            for r in coll.query(
                qv,
                n_results=k,
                where=w,
                filter_strategy="graph",
                graph_predicate_expansion=False,
            ).collect()
        }
        acorn = {
            int(r["id"][1:])
            for r in coll.query(
                qv,
                n_results=k,
                where=w,
                filter_strategy="graph",
                graph_predicate_expansion=True,
                graph_beam=16,
            ).collect()
        }
        # r15 AUTO (VERDICT r14 next #3 done-criterion): NO opt-in —
        # the 10%-selectivity filter alone must route to the ACORN
        # walk at its GRAPH_ACORN_BEAM budget, so the result set is
        # identical to the forced run above (same deterministic path)
        auto = {
            int(r["id"][1:])
            for r in coll.query(
                qv, n_results=k, where=w, filter_strategy="graph"
            ).collect()
        }
        assert auto == acorn, (qi, sorted(auto), sorted(acorn))
        u_hits += len(unfiltered & truth_u)
        a_hits += len(acorn & truth)
        b_hits += len(blind & truth)
        tot += k
    # r14 intrinsic-recall pin (measured 0.96 on this seeded config)
    assert u_hits / tot >= 0.9, u_hits / tot
    assert a_hits / tot >= 0.9, a_hits / tot
    # the steered walk never loses to the emission-filtered pool
    # (measured 1.00 vs 0.79 here)
    assert a_hits >= b_hits, (a_hits, b_hits)


def test_graph_strategy_refuses_non_cosine_spaces(spark, tmp_path):
    """The graph's edges and beam scoring are cosine-built; an l2/ip
    ranking routed through a cosine graph is the r10 metric-mismatch
    trap — the facade refuses loudly (the space sidecar guard's
    discipline) instead of serving blurred recall."""
    mat = _vecs(51, 4)
    coll = Collection(spark, str(tmp_path / "l2g"), space="l2")
    coll.add(_batch(spark, ["a", "b", "c", "d"], mat))
    with pytest.raises(ValueError, match="cosine collections only"):
        coll.query([float(x) for x in mat[0]], n_results=2, filter_strategy="graph")


def test_graph_strategy_batch_equals_per_query(spark, sf_dir):
    """The fused multi-query graph beam (one read of the edges
    partitions per round for the UNION of frontiers) keeps per-query
    state untouched: the batch result equals the per-query calls
    row-for-row."""
    import os

    from pyspark.sql import functions as F

    from adk_noui_vectordb_spark.api.collection import demo_collection

    coll = demo_collection(spark, sf_dir)
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    qs = [
        [float(x) for x in emb.filter(F.col("vec_id") == i).head()["embedding"]]
        for i in (0, 9)
    ]
    batch = sorted(
        tuple(r)
        for r in coll.query(qs, n_results=5, filter_strategy="graph")
        .select("query_idx", "id", "distance")
        .collect()
    )
    solo = []
    for qi, q in enumerate(qs):
        for r in (
            coll.query(q, n_results=5, filter_strategy="graph")
            .select("id", "distance")
            .collect()
        ):
            solo.append((qi, r["id"], r["distance"]))
    assert batch == sorted(solo)


def test_graph_auto_expansion_reads_compound_where_tree(spark, tmp_path):
    """VERDICT r15 next #7: the auto-ACORN selectivity estimate counts
    survivors of the FULL compiled where tree — a nested $and that cuts
    to 10% routes to the ACORN walk (result identical to the forced
    run), and a nested $or whose union covers 90% routes BLIND (result
    identical to the forced-off run) even though each branch alone is
    selective. An estimate that read only one branch would flip the
    high-selectivity case to ACORN."""
    import numpy as np

    from tools.make_clustered_embeddings import make

    n = 400
    base = str(tmp_path / "cmpd")
    make(base, n, 10, 0.25)
    emb = np.array(
        spark.read.parquet(base + "/embeddings.parquet")
        .orderBy("vec_id")
        .select("embedding")
        .toPandas()["embedding"]
        .tolist(),
        dtype=np.float64,
    )
    coll = Collection(spark, str(tmp_path / "coll_cmpd"))
    coll.add(
        spark.createDataFrame(
            [
                (f"v{i:05d}", [float(x) for x in emb[i]], f"doc {i}", i % 10)
                for i in range(n)
            ],
            "id string, embedding array<double>, document string, grp int",
        )
    )
    qv = [float(x) for x in emb[3]]
    # nested $and intersecting to grp == 0 (10% selectivity)
    w_lo = {"$and": [{"grp": {"$in": [0, 1, 2]}}, {"grp": {"$in": [0, 9]}}]}
    # nested $or unioning to 90% selectivity from two branches that are
    # each individually at 50%
    w_hi = {
        "$or": [
            {"grp": {"$in": [0, 1, 2, 3, 4]}},
            {"grp": {"$in": [4, 5, 6, 7, 8]}},
        ]
    }

    def ids(**kw):
        return sorted(
            r["id"]
            for r in coll.query(
                qv, n_results=5, filter_strategy="graph", **kw
            ).collect()
        )

    auto_lo = ids(where=w_lo)
    forced_acorn = ids(where=w_lo, graph_predicate_expansion=True)
    assert auto_lo == forced_acorn, (auto_lo, forced_acorn)
    auto_hi = ids(where=w_hi)
    forced_blind = ids(where=w_hi, graph_predicate_expansion=False)
    assert auto_hi == forced_blind, (auto_hi, forced_blind)


def test_demo_replays_survive_a_concurrent_replay(spark, sf_dir):
    """The catalogue keys that roll back and recommit a demo collection
    replay on a private fork of its shared root: two threads running
    them at once (as two processes sharing the temp dir do) both get
    the answer a lone run gives."""
    import threading

    from adk_noui_vectordb_spark.api import collection as capi

    keys = (capi.collection_rollback_get, capi.collection_replace_graph_topk)

    def answer(key):
        return sorted(tuple(r) for r in key(spark, sf_dir).collect())

    want = {key: answer(key) for key in keys}
    got, errors = [], []

    def replay():
        try:
            for _ in range(3):
                got.extend((key, answer(key)) for key in keys)
        except Exception as ex:  # noqa: BLE001 — reported below
            errors.append(f"{type(ex).__name__}: {ex}")

    threads = [threading.Thread(target=replay) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(got) == 12
    assert all(rows == want[key] for key, rows in got)


def test_commit_seeds_reads_exactly(spark, tmp_path, monkeypatch):
    """A commit seeds the read memos with the partitions it wrote, in
    the exact form a read of their files gives: over every metadata
    type the writer accepts (a zero vector and NULLs included), after
    an add to an empty collection, an upsert, a partial update, a
    delete and an overlapping ``merge_from``, the reads that follow
    open no parquet file and return rows equal in value and type to
    the same reads after the memos are cleared. A commit that raises
    seeds nothing."""
    import datetime
    import decimal

    import pandas as pd
    import pyarrow.parquet as pq

    from adk_noui_vectordb_spark import memo
    from adk_noui_vectordb_spark.api.collection import (
        N_META_BUCKETS,
        _meta_rows,
        _reader,
        _vec_parts,
    )
    from adk_noui_vectordb_spark.operators.ann import N_VEC_BUCKETS
    from adk_noui_vectordb_spark.sources import versioning as vn

    ddl = (
        "id string, embedding array<double>, document string, s string, "
        "b bigint, i int, sm smallint, t tinyint, d double, f float, "
        "ok boolean, day date, ts timestamp, amt decimal(10,2)"
    )
    dim = 16

    def batch(ids, seed):
        mat = np.random.default_rng(seed).normal(size=(len(ids), dim)).round(4)
        rows = [
            (
                i,
                [0.0] * dim if i == "zero" else [float(x) for x in mat[j]],
                None if j % 7 == 2 else f"doc {i} {seed}",
                None if j % 5 == 1 else f"s{j % 3}",
                2**40 + j,
                seed - j,
                j * 100,
                j % 100 - 50,
                j / 3,
                j * 0.5,
                j % 2 == 0,
                datetime.date(2020, 1, 1 + j % 28),
                datetime.datetime(2021, 6, 1, 12, j % 60, 30, 250000),
                decimal.Decimal(f"{j}.{seed % 10}5"),
            )
            for j, i in enumerate(ids)
        ]
        return spark.createDataFrame(rows, ddl)

    coll = Collection(spark, str(tmp_path / "seeded"))
    q = [float(x) for x in np.random.default_rng(3).normal(size=dim)]

    def reads() -> dict:
        results = {
            "get": coll.get(include=["documents", "metadatas", "embeddings"]),
            "probe": coll.query(
                q,
                n_results=8,
                include=["documents", "metadatas", "embeddings", "distances"],
            ),
            "filtered": coll.query(q, n_results=8, where={"ok": True}),
            "graph": coll.query(q, n_results=8, filter_strategy="graph"),
        }
        out = {
            k: (r.schema, r._table, [[(type(v), v) for v in row] for row in r.collect()])
            for k, r in results.items()
        }
        out["count"] = coll.count()
        # and the decoded partitions themselves, as the memo holds them
        cur, info = coll._require()
        read = _reader(spark, cur)
        out["vecs"] = _vec_parts(read, dim, range(N_VEC_BUCKETS))
        out["meta"] = [_meta_rows(read, info, [mb]) for mb in range(N_META_BUCKETS)]
        return out

    opened = []

    class CountingParquetFile(pq.ParquetFile):
        def __init__(self, source, *args, **kwargs):
            opened.append(source)
            super().__init__(source, *args, **kwargs)

    def check(op: str) -> None:
        opened.clear()
        with monkeypatch.context() as m:
            m.setattr(pq, "ParquetFile", CountingParquetFile)
            warm = reads()
        assert opened == [], f"{op}: the reads after the commit opened {opened}"
        memo._VERSION_MEMO.clear()
        cold = reads()
        assert warm["count"] == cold["count"], op
        for w, c in zip(warm["vecs"], cold["vecs"]):
            assert [a.dtype for a in w] == [a.dtype for a in c], op
            assert all(np.array_equal(a, b) for a, b in zip(w, c)), op
        for w, c in zip(warm["meta"], cold["meta"]):
            assert w.schema == c.schema and w.equals(c), op
        for k in ("get", "probe", "filtered", "graph"):
            (ws, wt, wrows), (cs, ct, crows) = warm[k], cold[k]
            assert ws == cs, (op, k)
            assert wt.equals(ct), (op, k)
            assert wrows == crows, (op, k)

    ids = [f"e{i:02d}" for i in range(40)] + ["zero"]
    coll.add(batch(ids, 11))
    check("add")
    coll.upsert(batch(ids[:6] + [f"u{i}" for i in range(6)], 12))
    check("upsert")
    pdf = pd.DataFrame(
        {
            "id": ids[10:16],
            "s": ["new"] * 6,
            "ts": [datetime.datetime(2022, 3, 1, 9, k) for k in range(6)],
        }
    )
    coll.update(spark.createDataFrame(pdf, "id string, s string, ts timestamp"))
    check("partial update")
    coll.delete(ids=ids[20:26])
    check("delete")
    other = Collection(spark, str(tmp_path / "other"))
    other.add(batch(ids[30:36] + [f"m{i}" for i in range(6)], 13))
    coll.merge_from(other, on_conflict="replace")
    check("merge_from")
    assert coll.count() == 41 + 6 - 6 + 6

    # a commit that raises (here: it loses the CAS at publish) seeds
    # nothing
    def lose(*args, **kwargs):
        raise vn.ConcurrentWriterError("lost the race")

    held = set(memo._VERSION_MEMO)
    with monkeypatch.context() as m:
        m.setattr(vn, "_publish_tmp", lose)
        with pytest.raises(vn.ConcurrentWriterError):
            coll.upsert(batch(["u0", "fresh"], 14))
    assert set(memo._VERSION_MEMO) == held


def test_write_casts_batch_columns_to_stored_types(spark, coll):
    """A batch whose ``id``, ``embedding`` or ``document`` is not yet
    string, array<double>, string is cast with Spark's cast semantics
    before it is checked and committed; a partial ``update`` casts the
    columns it brings the same way."""
    ddl = "id bigint, embedding array<float>, document int, n int"
    rows = [(7, [0.1, 0.2, -0.3], 3, 1), (8, [1.5, 0.0, 2.25], None, 2)]
    batch = spark.createDataFrame(rows, ddl)
    coll.add(batch)
    want = {
        r["id"]: (list(r["embedding"]), r["document"])
        for r in batch.select(
            F.col("id").cast("string").alias("id"),
            F.col("embedding").cast("array<double>").alias("embedding"),
            F.col("document").cast("string").alias("document"),
        ).collect()
    }
    got = coll.get(include=["documents", "metadatas", "embeddings"]).collect()
    assert {r["id"]: (list(r["embedding"]), r["document"]) for r in got} == want
    assert coll._require()[1]["meta_schema"] == (
        "vec_id bigint, id string, document string, n int, mbucket int"
    )
    coll.update(spark.createDataFrame([(7, 44)], "id bigint, document bigint"))
    row = coll.get(ids=["7"]).head()
    assert (row["document"], row["n"]) == ("44", 1)
