"""Local mirror of the driver's correctness gate: every oracle-checkable
entry in __spark_entry__ must match DuckDB on sf0.01 — row count, column
names, and values (order-insensitive)."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for tbl in TABLES:
        path = f"{SF_DIR}/{tbl}.parquet"
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {tbl} AS SELECT * FROM '{path}'")
    return con


def _normalize(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _compare(spark_pdf, duck_pdf, name):
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: column mismatch {spark_pdf.columns} vs {duck_pdf.columns}"
    )
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count {len(spark_pdf)} vs {len(duck_pdf)}"
    )
    a, b = _normalize(spark_pdf), _normalize(duck_pdf)
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            if isinstance(x, float) and isinstance(y, float):
                ok = (math.isnan(x) and math.isnan(y)) or abs(x - y) < 1e-9
            else:
                ok = x == y
            assert ok, f"{name}: value mismatch col={c} row={i}: {x!r} vs {y!r}"


NAMES = sorted(entrymod.oracle_sql().keys())


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, duck, name):
    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql()[name]
    spark_pdf = q(spark, SF_DIR).toPandas()
    duck_pdf = duck.sql(sql).df()
    _compare(spark_pdf, duck_pdf, name)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_rows_only_queries_run(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    for name in qs:
        if name in oracles:
            continue
        n = qs[name](spark, SF_DIR).count()
        assert n >= 0, name


def test_queries_follow_catalog_declaration_order():
    """``queries()`` lists every catalog entry once, in the order the
    ``QuerySpec`` entries are declared in ``plans/relational.py`` — no
    reordering of the catalog after its declaration."""
    import re

    from mizzounewscrawler_spark.plans import relational

    with open(relational.__file__, encoding="utf-8") as fh:
        declared = re.findall(r'QuerySpec\(\s*"(\w+)"', fh.read())
    keys = list(entrymod.queries())
    assert len(declared) == len(set(declared))
    assert keys == [s.name for s in relational.CATALOG]
    assert keys == declared
