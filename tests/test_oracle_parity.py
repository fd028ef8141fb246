"""Local replica of the driver's correctness gate (SURVEY.md section 5).

For every key present in BOTH __spark_entry__.queries() and .oracle_sql(),
run the Spark query and the DuckDB oracle on the same parquet tables and
compare row count, column names, and order-insensitive values — the same
contract the driver's CORRECTNESS_r{N}.json check applies at sf0.01.
"""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)

QUERY_KEYS = sorted(set(entrymod.queries()) & set(entrymod.oracle_sql()))


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _normalize(rows, colnames):
    """Sort columns by name, then rows, mirroring the driver's
    order-insensitive value-hash."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float) and math.isnan(v):
                v = "NaN"
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda r: tuple((str(type(v)), str(v)) for v in r))
    return [tuple(colnames[i] for i in order)] + out


@pytest.mark.parametrize("key", QUERY_KEYS)
def test_parity(key, spark, duck):
    sdf = entrymod.queries()[key](spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(entrymod.oracle_sql()[key])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{key}: column mismatch spark={spark_cols} duck={duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{key}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s_norm = _normalize(spark_rows, spark_cols)
    d_norm = _normalize(duck_rows, duck_cols)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_norm, d_norm)) if a != b
    ]
    assert not mismatches, (
        f"{key}: {len(mismatches)} mismatching rows; first 3: {mismatches[:3]}"
    )


@pytest.mark.parametrize("key", sorted(entrymod.queries()))
def test_no_nested_output_types(key, spark):
    """Every registry output schema must be flat scalars.

    The driver's canonicalizer sorts result frames via pandas, which
    throws ``TypeError: unhashable type`` on list/dict cells — the crash
    that made two array-valued keys red in r2 and r7 (VERDICT r7 wrong
    #1 / next #2). Pinning the de-facto
    contract registry-wide makes the class structurally impossible:
    emit exploded scalar rows and let consumers regroup.
    """
    from pyspark.sql.types import ArrayType, MapType, StructType

    schema = entrymod.queries()[key](spark, SF_DIR).schema
    nested = [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not nested, (
        f"{key}: nested-typed output columns {nested} would crash the "
        f"driver canonicalizer — reshape to scalar rows"
    )
