"""Replicates the driver's correctness gate locally: every queries() entry is
run through Spark AND its oracle_sql() through DuckDB at sf0.01; row sets must
match exactly (order-insensitive, column-name sorted)."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")

TABLES = [
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
]


def _duck():
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _norm_cell(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    return v


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(_norm_cell(r[i]) for i in order))
    return sorted(map(repr, out))


def _load_contract():
    import importlib.util

    entry = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "__spark_entry__.py")
    spec = importlib.util.spec_from_file_location("__spark_entry__", entry)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_contract = _load_contract()
_QUERIES = _contract.queries()
_ORACLES = _contract.oracle_sql()


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_oracle_agreement(spark, name):
    q = _QUERIES[name]
    sdf = q(spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = _duck()
    # the correctness gate compares through pandas, where DuckDB's HUGEINT
    # (e.g. sum(BIGINT)) arrives as float64 — 5.0 against Spark's 5 — while
    # fetchall() rows hide the difference: refuse HUGEINT outright
    rel = con.sql(_ORACLES[name])
    huge = [c for c, t in zip(rel.columns, rel.types) if str(t) in ("HUGEINT", "UHUGEINT")]
    assert not huge, f"{name}: oracle columns {huge} are HUGEINT; cast them to BIGINT"
    res = con.execute(_ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={spark_cols} duck={duck_cols}"
    )
    a = _norm_rows(spark_cols, spark_rows)
    b = _norm_rows(duck_cols, duck_rows)
    assert len(a) == len(b), f"{name}: row count spark={len(a)} duck={len(b)}"
    if a != b:
        only_spark = [x for x in a if x not in set(b)][:5]
        only_duck = [x for x in b if x not in set(a)][:5]
        raise AssertionError(f"{name}: value mismatch\nspark-only: {only_spark}\nduck-only: {only_duck}")


@pytest.mark.parametrize("name", sorted(set(_QUERIES) - set(_ORACLES)))
def test_rows_only_queries_run(spark, name):
    sdf = _QUERIES[name](spark, SF_DIR)
    assert sdf.count() >= 0


def test_entry_smoke(spark):
    df = _contract.entry(spark)
    assert df.count() >= 0
    assert df.columns
