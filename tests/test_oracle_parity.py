"""Replicates the driver's correctness gate locally: every queries()
entry vs its oracle_sql() twin via DuckDB at sf0.01 — row count,
schema (column names), and exact multiset value equality (stricter
than the driver's order-insensitive hash)."""

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
# the views the oracles read
TABLES = ["documents"]


@pytest.fixture()
def ddb():
    # function-scoped: a DuckDB internal error invalidates the whole
    # connection, so one bad oracle must not poison other tests
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/{t}.parquet')")
    yield con
    con.close()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].astype("float64")
        elif str(df[c].dtype) == "bool":
            df[c] = df[c].astype(bool)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _compare(name, spark_pdf, oracle_pdf):
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} vs "
        f"{sorted(oracle_pdf.columns)}")
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: rows {len(spark_pdf)} vs {len(oracle_pdf)}")
    a, b = _canon(spark_pdf), _canon(oracle_pdf)
    for c in a.columns:
        # The driver's value hash is TYPE-sensitive: a DuckDB HUGEINT
        # sum() landing as float64 against Spark's int64 hashes
        # differently even when every value matches (the a06b8bc bug
        # class, seen three times). Canonicalized dtypes must agree.
        assert a[c].dtype == b[c].dtype, (
            f"{name}.{c}: canonical dtype spark={a[c].dtype} vs "
            f"oracle={b[c].dtype} — cast the oracle column (HUGEINT "
            f"sums need CAST(... AS BIGINT))")
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if a[c].dtype == "float64":
            import numpy as np
            eq = (av == bv) | (np.isnan(av.astype(float))
                               & np.isnan(bv.astype(float)))
            bad = (~eq).nonzero()[0]
        else:
            bad = (av != bv).nonzero()[0]
        assert len(bad) == 0, (
            f"{name}.{c}: {len(bad)} mismatches, first at sorted-row "
            f"{bad[0]}: spark={av[bad[0]]!r} oracle={bv[bad[0]]!r}")


ALL = sorted(entry_mod.queries().keys())


@pytest.mark.parametrize("name", ALL)
def test_query_parity(spark, ddb, name):
    qs = entry_mod.queries()
    os = entry_mod.oracle_sql()
    sdf = qs[name](spark, SF_DIR)
    if name not in os:
        # rows-only check (driver records the same weaker gate)
        assert sdf.count() > 0, f"{name}: empty result"
        return
    spark_pdf = sdf.toPandas()
    oracle_pdf = ddb.sql(os[name]).df()
    assert len(spark_pdf) > 0, f"{name}: empty result"
    _compare(name, spark_pdf, oracle_pdf)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    n = df.count()
    assert n >= 0
    assert len(df.columns) >= 2
