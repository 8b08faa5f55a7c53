"""Mirror of the driver's correctness gate: run every queries() entry on
Spark and its oracle_sql() on DuckDB over the same parquet, compare
row-count, column names, and order-insensitive values."""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

import os

SF_DIR = os.environ.get("EFC_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = ["events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    pdf = pdf.sort_values(list(pdf.columns), kind="stable").reset_index(drop=True)
    return pdf


def values_equal(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        fa, fb = float(a), float(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    return a == b


NAMES = sorted(entry_mod.queries().keys())


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(name, spark, duck):
    q = entry_mod.queries()[name]
    oracles = entry_mod.oracle_sql()
    got = q(spark, SF_DIR).toPandas()
    if name not in oracles:
        assert len(got) >= 0  # rows-only check
        return
    exp = duck.execute(oracles[name]).df()
    assert sorted(got.columns) == sorted(exp.columns), (
        f"{name}: columns {sorted(got.columns)} != {sorted(exp.columns)}"
    )
    g, e = normalize(got), normalize(exp)
    assert len(g) == len(e), f"{name}: rows {len(g)} != {len(e)}"
    for c in g.columns:
        ga, ea = g[c].tolist(), e[c].tolist()
        bad = [
            (i, x, y) for i, (x, y) in enumerate(zip(ga, ea)) if not values_equal(x, y)
        ]
        assert not bad, f"{name}.{c}: first mismatches {bad[:5]}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) >= 3
