"""Driver-contract equivalence: run every ``queries()`` entry on Spark
and its ``oracle_sql()`` mirror on DuckDB over the same parquet, then
compare row count + column names + order-insensitive values — the same
check the driver performs (CORRECTNESS gate), run here at sf0.001 so
regressions surface before the round verify.
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from crawler_spark.contract import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def _canon_cell(v):
    # DTYPE-FAITHFUL canonicalization: the driver's hasher distinguishes
    # int64 from float64 even when values are numerically identical (the
    # r3 q_rollup failure: DuckDB sum(BIGINT)->HUGEINT->float64 vs Spark
    # int64).  An integral float therefore canonicalizes to "123~f", NOT
    # "123", so dtype drift between an oracle and its Spark query fails
    # HERE before it fails at the driver.  .6g keeps ulp tolerance for
    # genuinely fractional values.
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return f"{v:.6g}~f"
    return str(v)


def _canon_frame(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(_canon_cell(v) for v in row) for row in df[cols].itertuples(index=False)]
    return sorted(rows)


def _spark_kind(dt: str) -> str:
    d = dt.lower()
    if d in ("tinyint", "smallint", "int", "bigint", "long", "integer", "short", "byte"):
        return "i"
    if d in ("float", "double") or d.startswith("decimal"):
        return "f"
    if d == "boolean":
        return "b"
    return "o"


def _dtype_mismatches(spark_dtypes: list[tuple[str, str]], duck_pdf: pd.DataFrame):
    """Schema-kind parity, checked for every oracle query: any
    int/float/bool KIND drift between the Spark result schema and the
    DuckDB oracle's pandas dtypes is a latent oracle hash failure (the
    r3 q_rollup class: DuckDB sum(BIGINT) -> HUGEINT -> float64 vs
    Spark int64 — every oracle aggregate must be CAST (... AS BIGINT))."""
    skinds = {c: _spark_kind(t) for c, t in spark_dtypes}
    bad = []
    for c in duck_pdf.columns:
        k = duck_pdf[c].dtype.kind
        dk = "i" if k in ("i", "u") else k if k in ("f", "b") else "o"
        sk = skinds.get(c)
        if sk is None or sk == dk:
            continue
        # nullable-int upcast: duck emits float64 for an int column
        # that contains NULLs — only a real mismatch with no nulls
        if sk == "i" and dk == "f" and duck_pdf[c].isna().any():
            continue
        bad.append((c, sk, dk))
    return bad


def _duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


@pytest.fixture(scope="module")
def duck():
    con = _duck_con(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_match(spark, duck, name):
    sdf = QUERIES[name](spark, SF_DIR)
    spark_pdf = sdf.toPandas()
    duck_pdf = duck.sql(ORACLES[name]).df()
    assert not _dtype_mismatches(sdf.dtypes, duck_pdf), (
        f"{name}: schema-kind drift (col, spark, duck): "
        f"{_dtype_mismatches(sdf.dtypes, duck_pdf)} — cast the oracle "
        "aggregate (AS BIGINT / round) to match the Spark type"
    )
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count {len(spark_pdf)} (spark) != {len(duck_pdf)} (duckdb)"
    )
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} != {sorted(duck_pdf.columns)}"
    )
    a, b = _canon_frame(spark_pdf), _canon_frame(duck_pdf)
    mism = [i for i, (x, y) in enumerate(zip(a, b)) if x != y][:5]
    assert a == b, f"{name}: first mismatching sorted rows at {mism}: " + "; ".join(
        f"spark={a[i]} duck={b[i]}" for i in mism
    )


def test_dtype_parity_flags_deliberately_uncast_oracle(duck):
    """The audit's reason to exist: an UNCAST DuckDB sum over BIGINT
    comes back HUGEINT -> pandas float64, which the driver hasher
    treats as a mismatch against Spark's int64 even with identical
    values.  The folded check must flag exactly that, and pass once
    the oracle is cast."""
    uncast = duck.sql(
        "SELECT n_regionkey, sum(n_nationkey) AS s FROM nation GROUP BY 1"
    ).df()
    spark_schema = [("n_regionkey", "int"), ("s", "bigint")]
    assert _dtype_mismatches(spark_schema, uncast) == [("s", "i", "f")]
    cast = duck.sql(
        "SELECT n_regionkey, CAST(sum(n_nationkey) AS BIGINT) AS s "
        "FROM nation GROUP BY 1"
    ).df()
    assert _dtype_mismatches(spark_schema, cast) == []


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    n = df.count()
    assert n >= 0
    assert df.schema is not None


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_host_pagerank_memo_keyed_by_sf(spark):
    """The rank-table memo must return the SAME materialized frame for
    repeat calls on one (session, sf) and DIFFERENT frames across sf
    dirs (a stale cross-sf hit would silently serve wrong ranks)."""
    from crawler_spark import contract as C

    a1 = C._host_pagerank(spark, "/root/testdata/sf0.001")
    a2 = C._host_pagerank(spark, "/root/testdata/sf0.001")
    b = C._host_pagerank(spark, "/root/testdata/sf0.01")
    assert a1 is a2
    assert a1 is not b
    # same contract for the near-dup component memo (three consumers)
    c1 = C._dup_cc(spark, "/root/testdata/sf0.001")
    c2 = C._dup_cc(spark, "/root/testdata/sf0.001")
    d = C._dup_cc(spark, "/root/testdata/sf0.01")
    assert c1 is c2
    assert c1 is not d
