"""Local replica of the driver's correctness gate: every queries() entry is
compared against its oracle_sql() DuckDB result at sf0.01 — row count,
column names, and order-insensitive values."""

from __future__ import annotations

import math
import sys

import duckdb
import pytest

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    return con


def _norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 6)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_query_matches_oracle(spark, ddb, name):
    sql = entrymod.oracle_sql().get(name)
    assert sql is not None, f"{name}: no oracle_sql() entry"
    q = entrymod.queries()[name]
    sdf = q(spark, SF_DIR)
    spark_cols = [c.lower() for c in sdf.columns]
    spark_rows = [tuple(r) for r in sdf.collect()]
    res = ddb.execute(sql)
    duck_cols = [d[0].lower() for d in res.description]
    duck_rows = res.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols), (spark_cols, duck_cols)
    assert len(spark_rows) == len(duck_rows), f"{name}: {len(spark_rows)} vs {len(duck_rows)}"
    got = _norm(spark_rows, spark_cols)
    want = _norm(duck_rows, duck_cols)
    assert got == want, f"{name}: first diff {next(((a, b) for a, b in zip(got, want) if a != b), None)}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["doc_id", "rank", "score_micro"]
