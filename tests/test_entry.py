"""Driver-contract conformance: every oracle-backed query must match
DuckDB exactly (row count, column names, values) at sf0.001; rows-only
queries must run and return a stable schema."""

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    return str(v)


def _rows(pdf):
    cols = sorted(pdf.columns)
    return sorted(tuple(_norm(r[c]) for c in cols) for _, r in pdf.iterrows())


@pytest.mark.parametrize("name", sorted(entry_mod.oracle_sql().keys()))
def test_oracle_parity(spark, ddb, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF).toPandas()
    # side-file oracles hardcode the driver's sf0.01 tag (the scale the
    # external gate compares at); this suite runs sf0.001 — retag
    sql = entry_mod.oracle_sql()[name].replace("-sf0.01/", "-sf0.001/")
    odf = ddb.execute(sql).fetchdf()
    assert sorted(sdf.columns) == sorted(odf.columns), (
        f"column mismatch: {sorted(sdf.columns)} vs {sorted(odf.columns)}"
    )
    assert len(sdf) == len(odf), f"row count {len(sdf)} vs {len(odf)}"
    a, b = _rows(sdf), _rows(odf)
    diff = [(x, y) for x, y in zip(a, b) if x != y][:5]
    assert a == b, f"value mismatch, first diffs: {diff}"


def test_every_query_has_an_oracle():
    """Regression guard replacing the round-2 rows-only escape hatch:
    every queries() entry must ship an oracle_sql() counterpart (the
    external gate's rows-only path is a weaker check we no longer
    need), and no oracle may dangle without a query."""
    assert set(entry_mod.queries()) == set(entry_mod.oracle_sql())


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
