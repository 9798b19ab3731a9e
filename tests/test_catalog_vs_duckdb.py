"""Mimics the driver's correctness gate: every catalog query with an
oracle must match DuckDB on row count, column names, and (order-
insensitively) values.  Runs at sf0.001 for speed; the driver runs sf0.01.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest

from factory_inspectors_db_etl_spark.plans.catalog import (
    ORACLES,
    PYTEST_ONLY_ORACLES,
    PYTEST_ONLY_QUERIES,
    QUERIES,
)
from factory_inspectors_db_etl_spark.sources.tables import TABLE_NAMES

# Demoted queries (quadratic semantic-dedup baselines, VERDICT r8 item
# #1) keep their full oracle verification HERE even though they are not
# driver-registered — the local gate is what "stays verified" means.
_ALL_QUERIES = {**QUERIES, **PYTEST_ONLY_QUERIES}
_ALL_ORACLES = {**ORACLES, **PYTEST_ONLY_ORACLES}
assert not (set(PYTEST_ONLY_QUERIES) & set(QUERIES)), "demoted query re-registered"


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)
    return df


def values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b


@pytest.mark.parametrize("name", sorted(_ALL_ORACLES))
def test_query_matches_oracle(name, spark, sf_dir, duck):
    spark_df = _ALL_QUERIES[name](spark, sf_dir).toPandas()
    oracle_df = duck.sql(_ALL_ORACLES[name]).fetchdf()

    assert sorted(spark_df.columns) == sorted(oracle_df.columns), (
        f"column mismatch: spark={sorted(spark_df.columns)} oracle={sorted(oracle_df.columns)}"
    )
    assert len(spark_df) == len(oracle_df), (
        f"row count mismatch: spark={len(spark_df)} oracle={len(oracle_df)}"
    )
    s = canon(spark_df)
    o = canon(oracle_df)
    mismatches = []
    for col in s.columns:
        sv, ov = s[col].tolist(), o[col].tolist()
        for i, (x, y) in enumerate(zip(sv, ov)):
            # pandas may surface NaN (floats) or NaT (timestamps) for SQL
            # NULL on either side
            xn = None if (isinstance(x, float) and math.isnan(x)) or x is pd.NaT else x
            yn = None if (isinstance(y, float) and math.isnan(y)) or y is pd.NaT else y
            if isinstance(xn, pd.Timestamp):
                xn = xn.to_pydatetime().replace(tzinfo=None)
            if isinstance(yn, pd.Timestamp):
                yn = yn.to_pydatetime().replace(tzinfo=None)
            if not values_equal(xn, yn):
                mismatches.append((col, i, xn, yn))
                if len(mismatches) > 5:
                    break
        if len(mismatches) > 5:
            break
    assert not mismatches, f"value mismatches (col, row, spark, oracle): {mismatches[:6]}"


@pytest.mark.parametrize("name", sorted(set(_ALL_QUERIES) - set(_ALL_ORACLES)))
def test_rows_only_queries_run(name, spark, sf_dir):
    df = _ALL_QUERIES[name](spark, sf_dir)
    assert df.count() >= 0


def test_repetition_stats_single_word_doc(spark, tmp_path):
    """A one-word document must not crash the bigram build (Spark
    sequence(0,-1) DESCENDS) and must keep its row with a NULL
    top_bigram_share, matching the oracle's LEFT JOIN semantics."""
    import pandas as pd

    from factory_inspectors_db_etl_spark.plans.catalog import q_t_repetition_stats

    sf = str(tmp_path)
    pd.DataFrame(
        {"doc_id": [1, 2], "source": ["s", "s"], "lang": ["en", "en"],
         "text": ["one", "two words two"]}
    ).to_parquet(f"{sf}/documents.parquet")
    got = {r["doc_id"]: (r["n_words"], r["top_bigram_share"])
           for r in q_t_repetition_stats(spark, sf).collect()}
    assert got[1] == (1, None)
    assert got[2][0] == 3 and abs(got[2][1] - 0.5) < 1e-12


def test_w13_gaps_islands_equals_native_session_window(spark, sf_dir):
    """The gaps-and-islands sessionization must produce exactly the
    sessions Spark's native session_window(30 minutes) builds — same
    (user, start, end, count) set.  (Boundary note: w13 keeps an event
    exactly 30:00.000000 after its predecessor in-session (strict >),
    session_window starts a new one (half-open window); the synthetic
    microsecond timestamps cannot hit that measure-zero case.)"""
    from pyspark.sql import functions as F

    from factory_inspectors_db_etl_spark.plans.catalog import q_w13_sessionize
    from factory_inspectors_db_etl_spark.sources.tables import load_table

    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in q_w13_sessionize(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    fmt = lambda c: F.date_format(c, "yyyy-MM-dd HH:mm:ss")  # noqa: E731
    want = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in (
            ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
            .agg(
                fmt(F.min("ts")).alias("session_start"),
                fmt(F.max("ts")).alias("session_end"),
                F.count(F.lit(1)).alias("n_events"),
            )
            .select("user_id", "session_start", "session_end", "n_events")
        ).collect()
    }
    assert got == want
