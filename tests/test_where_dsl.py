"""ChromaDB where-DSL compiler: unit semantics, error contract, and
cross-engine property tests (random filter trees → Spark filter vs
DuckDB WHERE vs the driver-side pyarrow mask on the same parquet — the
same two-engine discipline as the oracle gate)."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from adk_noui_vectordb_spark.functions.where_dsl import (
    compile_where,
    compile_where_document,
    where_document_mask,
    where_document_to_sql,
    where_mask,
    where_to_sql,
)

DOCS = "/root/testdata/sf0.001/documents.parquet"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(DOCS)


def _ids(df, pred):
    return sorted(r["doc_id"] for r in df.filter(pred).select("doc_id").collect())


def _duck_ids(sql_pred):
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"SELECT doc_id FROM read_parquet('{DOCS}') WHERE {sql_pred} ORDER BY doc_id"
        ).fetchall()
    finally:
        con.close()
    return [r[0] for r in rows]


def _docs_table():
    import pyarrow.parquet as pq

    return pq.read_table(DOCS)


def _mask_ids(table, mask):
    return sorted(table.column("doc_id").to_numpy()[mask].tolist())


# ------------------------------------------------------------- semantics


def test_shorthand_equality_matches_explicit_eq(docs):
    a = _ids(docs, compile_where({"lang": "en"}))
    b = _ids(docs, compile_where({"lang": {"$eq": "en"}}))
    assert a == b and a  # non-empty on the testdata


def test_multi_field_is_implicit_and(docs):
    a = _ids(docs, compile_where({"lang": "en", "source": "wiki"}))
    b = _ids(
        docs,
        compile_where({"$and": [{"lang": "en"}, {"source": "wiki"}]}),
    )
    assert a == b


def test_comparison_operators(docs):
    lo = _ids(docs, compile_where({"n_chars": {"$lt": 200}}))
    hi = _ids(docs, compile_where({"n_chars": {"$gte": 200}}))
    every = _ids(docs, compile_where({"n_chars": {"$gte": 0}}))
    assert sorted(lo + hi) == every and lo and hi


def test_in_nin_partition_the_table(docs):
    langs = ["en", "de"]
    inn = _ids(docs, compile_where({"lang": {"$in": langs}}))
    out = _ids(docs, compile_where({"lang": {"$nin": langs}}))
    assert sorted(inn + out) == sorted(r["doc_id"] for r in docs.select("doc_id").collect())


def test_nin_keeps_null_metadata(spark):
    df = spark.createDataFrame(
        [(1, "en"), (2, None), (3, "de")], "id bigint, lang string"
    )
    kept = sorted(
        r["id"] for r in df.filter(compile_where({"lang": {"$nin": ["en"]}})).collect()
    )
    assert kept == [2, 3]  # NULL is "not in" the list, ChromaDB-style


def test_ne_keeps_null_metadata(spark):
    # ChromaDB's negation ops match missing values; $ne must agree with
    # $nin (ADVICE r11) — and its SQL twin must render the same semantics.
    df = spark.createDataFrame(
        [(1, "en"), (2, None), (3, "de")], "id bigint, lang string"
    )
    kept = sorted(
        r["id"] for r in df.filter(compile_where({"lang": {"$ne": "en"}})).collect()
    )
    assert kept == [2, 3]
    sql = where_to_sql({"lang": {"$ne": "en"}})
    assert "IS NULL" in sql and "<>" in sql


def test_mask_null_semantics():
    """The mask target's NULL rules are Spark's filter's: a comparison
    or $in against NULL drops the row, $ne/$nin keep it, and a NULL
    document passes neither $contains nor $not_contains."""
    import pyarrow as pa

    t = pa.table({"lang": ["en", None, "de"], "document": ["a b", None, "c"]})
    cases = [
        ({"$eq": "en"}, [True, False, False]),
        ({"$gt": "a"}, [True, False, True]),
        ({"$in": ["en"]}, [True, False, False]),
        ({"$ne": "en"}, [False, True, True]),
        ({"$nin": ["en"]}, [False, True, True]),
    ]
    for spec, want in cases:
        assert where_mask({"lang": spec}, t).tolist() == want, spec
    assert where_document_mask({"$contains": "a"}, t, "document").tolist() == [
        True, False, False,
    ]
    assert where_document_mask({"$not_contains": "a"}, t, "document").tolist() == [
        False, False, True,
    ]


def test_or_union(docs):
    a = set(_ids(docs, compile_where({"lang": "en"})))
    b = set(_ids(docs, compile_where({"n_chars": {"$lt": 100}})))
    u = set(_ids(docs, compile_where({"$or": [{"lang": "en"}, {"n_chars": {"$lt": 100}}]})))
    assert u == a | b


def test_where_document_contains_and_not_contains(docs):
    has = set(_ids(docs, compile_where_document({"$contains": "the"})))
    hasnt = set(_ids(docs, compile_where_document({"$not_contains": "the"})))
    assert has and has.isdisjoint(hasnt)
    both = set(
        _ids(
            docs,
            compile_where_document(
                {"$and": [{"$contains": "the"}, {"$not_contains": "zzzz"}]}
            ),
        )
    )
    assert both <= has


# ------------------------------------------------------------- errors


@pytest.mark.parametrize(
    "bad",
    [
        {},
        {"lang": {"$regex": "x"}},
        {"$xor": [{"a": 1}, {"b": 2}]},
        {"$and": [{"a": 1}]},
        {"lang": {"$in": []}},
        {"lang": {"$eq": ["list"]}},
        {"lang": {"$eq": "en", "$ne": "de"}},
        "lang = 'en'",
    ],
)
def test_compile_where_rejects(bad):
    with pytest.raises(ValueError):
        compile_where(bad)
    with pytest.raises(ValueError):
        where_mask(bad, _docs_table())


@pytest.mark.parametrize(
    "bad",
    [{}, {"$contains": ""}, {"$contains": 3}, {"$like": "x"}, {"$and": [{"$contains": "a"}]}],
)
def test_compile_where_document_rejects(bad):
    with pytest.raises(ValueError):
        compile_where_document(bad)
    with pytest.raises(ValueError):
        where_document_mask(bad, _docs_table())


# ------------------------------------------------- cross-engine property

_FIELDS = {
    "lang": st.sampled_from(["en", "de", "fr", "zz", "it's"]),
    "source": st.sampled_from(["wiki", "web", "code", "none"]),
    "n_chars": st.integers(min_value=-5, max_value=5000),
}


def _leaf():
    def one(field, vals):
        scalar = vals.map(lambda v: {field: v})
        ops = st.sampled_from(["$eq", "$ne", "$gt", "$gte", "$lt", "$lte"]).flatmap(
            lambda op: vals.map(lambda v: {field: {op: v}})
        )
        lst = st.lists(vals, min_size=1, max_size=3).flatmap(
            lambda xs: st.sampled_from(["$in", "$nin"]).map(lambda op: {field: {op: xs}})
        )
        return scalar | ops | lst

    return st.one_of(*[one(f, v) for f, v in _FIELDS.items()])


_TREE = st.recursive(
    _leaf(),
    lambda kids: st.lists(kids, min_size=2, max_size=3).flatmap(
        lambda xs: st.sampled_from(["$and", "$or"]).map(lambda op: {op: xs})
    ),
    max_leaves=6,
)


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(tree=_TREE)
def test_compiled_filter_matches_sql_twin_cross_engine(spark, tree):
    """compile_where and where_to_sql are two renderings of ONE tree:
    the Spark filter and the DuckDB WHERE must select identical ids."""
    df = spark.read.parquet(DOCS)
    assert _ids(df, compile_where(tree)) == _duck_ids(where_to_sql(tree))


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    tree=st.recursive(
        st.sampled_from(["the", "and", "zzzz", "don't"]).flatmap(
            lambda s: st.sampled_from(["$contains", "$not_contains"]).map(
                lambda op: {op: s}
            )
        ),
        lambda kids: st.lists(kids, min_size=2, max_size=3).flatmap(
            lambda xs: st.sampled_from(["$and", "$or"]).map(lambda op: {op: xs})
        ),
        max_leaves=4,
    )
)
def test_where_document_matches_sql_twin_cross_engine(spark, tree):
    df = spark.read.parquet(DOCS)
    assert _ids(df, compile_where_document(tree)) == _duck_ids(
        where_document_to_sql(tree)
    )


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(tree=_TREE)
def test_where_mask_matches_spark_filter(spark, tree):
    """where_mask is the third rendering of the tree: the driver-side
    mask over the pyarrow table keeps exactly Spark's filter rows."""
    t = _docs_table()
    assert _mask_ids(t, where_mask(tree, t)) == _ids(
        spark.read.parquet(DOCS), compile_where(tree)
    )


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    tree=st.recursive(
        st.sampled_from(["the", "and", "zzzz", "don't"]).flatmap(
            lambda s: st.sampled_from(["$contains", "$not_contains"]).map(
                lambda op: {op: s}
            )
        ),
        lambda kids: st.lists(kids, min_size=2, max_size=3).flatmap(
            lambda xs: st.sampled_from(["$and", "$or"]).map(lambda op: {op: xs})
        ),
        max_leaves=4,
    )
)
def test_where_document_mask_matches_spark_filter(spark, tree):
    t = _docs_table()
    assert _mask_ids(t, where_document_mask(tree, t)) == _ids(
        spark.read.parquet(DOCS), compile_where_document(tree)
    )


# ------------------------------------------------------------- pushdown


def test_compiled_where_reaches_parquet_pushed_filters(docs):
    """The compiled predicate is ordinary Catalyst — it must appear in
    the parquet scan's PushedFilters, not above it."""
    plan = (
        docs.filter(compile_where({"lang": "en", "n_chars": {"$gt": 100}}))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "lang" in pushed and "n_chars" in pushed
