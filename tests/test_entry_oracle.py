"""Mimic the driver's correctness gate: run every queries() entry at sf0.01
on Spark AND its oracle_sql() on DuckDB; compare row count, column names,
and column-name-sorted values (order-insensitive)."""

import math
import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from py_evalfilter_spark import gate

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        if str(out[c].dtype).startswith("datetime64"):
            out[c] = out[c].astype("int64")
        elif out[c].dtype == object:
            out[c] = out[c].astype("string")
        elif str(out[c].dtype) in ("Int32", "Int64", "int32", "int8", "int16", "uint32", "boolean", "bool", "float32"):
            if "float" in str(out[c].dtype):
                out[c] = out[c].astype("float64")
            elif "bool" in str(out[c].dtype).lower():
                out[c] = out[c].astype("boolean")
            else:
                out[c] = out[c].astype("Int64")
        elif str(out[c].dtype) == "int64":
            out[c] = out[c].astype("Int64")
    return out.sort_values(list(out.columns), kind="mergesort").reset_index(drop=True)


QUERY_NAMES = sorted(entrymod.oracle_sql().keys())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, duck, name):
    _assert_matches_oracle(spark, duck, name)


def _assert_matches_oracle(spark, duck, name):
    q = entrymod.queries()[name]
    spark_pdf = q(spark, SF_DIR).toPandas()
    duck_pdf = duck.execute(entrymod.oracle_sql()[name]).fetchdf()
    a, b = _normalize(spark_pdf), _normalize(duck_pdf)
    assert list(a.columns) == list(b.columns), f"{name}: columns {list(a.columns)} vs {list(b.columns)}"
    assert len(a) == len(b), f"{name}: rows {len(a)} vs {len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype == "float64":
            ok = np.allclose(av.fillna(np.nan), bv.fillna(np.nan), equal_nan=True, atol=1e-9)
        else:
            ok = bool(((av == bv) | (av.isna() & bv.isna())).all())
        assert ok, f"{name}: column {c} mismatch\nspark:\n{av.head()}\nduck:\n{bv.head()}"


# Oracle queries whose construction calls the size gate (gate.fits), as
# test_gated_queries_found_by_spy finds them.  Each reruns its oracle with
# both limits at 0, so the large-data side of every gate is checked too.
GATED = [
    "cluster_split", "contamination_stats", "decontaminate", "dedup_best",
    "dedup_cluster", "lm_score", "perplexity_buckets", "smote",
]


def test_gated_queries_found_by_spy(spark, monkeypatch):
    class _Gated(Exception):
        pass

    def spy(*args, **kwargs):
        raise _Gated  # stop construction at the first gate: no count job

    monkeypatch.setattr(gate, "fits", spy)
    found = set()
    try:
        for name in QUERY_NAMES:
            try:
                entrymod.queries()[name](spark, SF_DIR)
            except _Gated:
                found.add(name)
    finally:
        spark.catalog.clearCache()  # persists registered by cut-off builds
    assert {"decontaminate", "dedup_cluster", "smote", "lm_score"} <= found
    assert found == set(GATED)


@pytest.mark.parametrize("name", GATED)
def test_large_regime_matches_oracle(spark, duck, monkeypatch, name):
    monkeypatch.setattr(gate, "BROADCAST_MAX_ROWS", 0)
    monkeypatch.setattr(gate, "DRIVER_MAX_ROWS", 0)
    decided = []
    real_fits = gate.fits

    def recording(*args, **kwargs):
        decided.append(real_fits(*args, **kwargs))
        return decided[-1]

    monkeypatch.setattr(gate, "fits", recording)
    _assert_matches_oracle(spark, duck, name)
    assert False in decided, f"{name}: no gate took its large side"


def test_rows_only_queries_run(spark):
    for name, q in entrymod.queries().items():
        if name in entrymod.oracle_sql():
            continue
        df = q(spark, SF_DIR)
        assert df.count() > 0, name


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    n = df.count()
    assert n > 0
    assert {"conv_id", "turn_idx", "session_id", "purchase_value", "avgTokenLength"} <= set(df.columns)
