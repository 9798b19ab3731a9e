"""Correctness checks that run outside the timed region.

Everything here reads files with DuckDB, never through the engine, so a
check cannot pass because the engine agrees with itself.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math
import os

import duckdb


def _cell(x) -> str:
    if x is None:
        return "NULL"
    if isinstance(x, float):
        return "NULL" if math.isnan(x) else repr(x)
    if isinstance(x, bool):
        return "true" if x else "false"
    if isinstance(x, decimal.Decimal):
        return str(int(x)) if x == x.to_integral_value() else str(x)
    if isinstance(x, (_dt.datetime, _dt.date)):
        return x.isoformat()
    if isinstance(x, (list, tuple)):
        return "[" + ",".join(_cell(v) for v in x) + "]"
    return str(x)


def value_hash(rows, cols) -> str:
    """Order-insensitive hash of a result: columns by name, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_cell(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def spark_rows(df) -> tuple[list[tuple], list[str]]:
    return [tuple(r) for r in df.collect()], list(df.columns)


def spark_hash(df) -> tuple[str, int]:
    rows, cols = spark_rows(df)
    return value_hash(rows, cols), len(rows)


def duck_hash(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[str, int]:
    res = con.sql(sql)
    cols = list(res.columns)
    rows = res.fetchall()
    return value_hash(rows, cols), len(rows)


# ---------------------------------------------------------------------------
# roster warehouse vs the generator's manifest
# ---------------------------------------------------------------------------


def warehouse_views(con: duckdb.DuckDBPyConnection, wh: str) -> None:
    """One DuckDB view per table directory of a warehouse."""
    for t in ("inspectors", "locations", "ranks", "professions", "educations", "rejects"):
        if os.path.isdir(os.path.join(wh, t)):
            con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{wh}/{t}/*.parquet')")
    con.sql(
        "CREATE OR REPLACE VIEW assignments AS SELECT * FROM "
        f"read_parquet('{wh}/assignments/*/*.parquet', hive_partitioning = true)"
    )


def check_warehouse(wh: str, manifest: dict) -> list[str]:
    """Mismatches between a written warehouse and the manifest (empty = ok)."""
    con = duckdb.connect()
    try:
        warehouse_views(con, wh)
        got = {
            "fact_rows": con.sql("SELECT count(*) FROM assignments").fetchone()[0],
            "inspectors": con.sql("SELECT count(*) FROM inspectors").fetchone()[0],
            "vacancies": con.sql("SELECT count(*) FROM assignments WHERE is_vacancy").fetchone()[0],
            "rejects": con.sql("SELECT count(*) FROM rejects").fetchone()[0],
        }
        by_year = con.sql(
            "SELECT CAST(year AS INTEGER), count(*), CAST(sum(worker_count) AS BIGINT) "
            "FROM assignments GROUP BY 1 ORDER BY 1"
        ).fetchall()
        got["fact_rows_by_year"] = {str(y): n for y, n, _ in by_year}
        got["workers_by_year"] = {str(y): w for y, _, w in by_year}
        distinct_ids = con.sql(
            "SELECT count(DISTINCT inspector_id) FROM inspectors"
        ).fetchone()[0]
    finally:
        con.close()
    bad = [f"{k}: expected {manifest[k]}, got {v}" for k, v in got.items() if manifest[k] != v]
    if distinct_ids != got["inspectors"]:
        bad.append(f"inspector ids not unique: {distinct_ids} ids for {got['inspectors']} rows")
    return bad


# ---------------------------------------------------------------------------
# DuckDB equivalents of plans.inspectors_analytics and of the lookups
# ---------------------------------------------------------------------------

# parse_raw_date's month ladder, longest token first (same dictionary)
def _month_case(tok: str) -> str:
    from factory_inspectors_db_etl_spark.plans.inspectors_analytics import MONTHS_RU

    whens = " ".join(
        f"WHEN starts_with({tok}, '{k}') THEN {MONTHS_RU[k]}"
        for k in sorted(MONTHS_RU, key=len, reverse=True)
    )
    return f"(CASE {whens} ELSE NULL END)"


def _raw_date(col: str) -> str:
    day = f"regexp_extract({col}, '(\\d{{1,2}})', 1)"
    month = _month_case(f"regexp_extract({col}, '\\d{{1,2}}\\s+([а-яё.]+)', 1)")
    d = f"TRY_CAST({day} AS INTEGER)"
    leap = "(year % 4 = 0 AND (year % 100 <> 0 OR year % 400 = 0))"
    max_day = (
        f"(CASE WHEN {month} = 2 THEN (CASE WHEN {leap} THEN 29 ELSE 28 END) "
        f"WHEN {month} IN (4, 6, 9, 11) THEN 30 ELSE 31 END)"
    )
    valid = f"({day} <> '' AND {month} IS NOT NULL AND {d} >= 1 AND {d} <= {max_day})"
    return f"(CASE WHEN {valid} THEN make_date(CAST(year AS INTEGER), {month}, {d}) END)"


_SUMMARY = """
SELECT inspector_id, min(year) AS first_year, max(year) AS last_year,
       max(year) - min(year) AS span_years,
       count(DISTINCT gubernia_name) AS n_gubernias,
       count(DISTINCT position_role) AS n_roles, count(*) AS n_assignments
FROM assignments WHERE inspector_id IS NOT NULL GROUP BY inspector_id
"""


def analytics_oracles() -> dict[str, str]:
    return {
        "regional_rollup": """
SELECT year, okrug_name, gubernia_name,
       sum(establishments_count) AS establishments, sum(worker_count) AS workers,
       sum(boiler_count) AS boilers, count(DISTINCT inspector_id) AS n_inspectors,
       count(*) AS n_assignments
FROM assignments GROUP BY ROLLUP (year, okrug_name, gubernia_name)""",
        "career_trajectories": """
SELECT inspector_id, year, gubernia_name, okrug_name, position_role, rank_id,
       inspector_location_id, assignment_id,
       lag(year) OVER w AS prev_year, lag(gubernia_name) OVER w AS prev_gubernia,
       lag(position_role) OVER w AS prev_role, lag(rank_id) OVER w AS prev_rank_id,
       CASE WHEN lag(gubernia_name) OVER w IS NULL THEN NULL
            ELSE gubernia_name <> lag(gubernia_name) OVER w END AS moved_gubernia,
       CASE WHEN lag(rank_id) OVER w IS NULL THEN NULL
            ELSE NOT (rank_id IS NOT DISTINCT FROM lag(rank_id) OVER w) END AS rank_changed
FROM assignments WHERE inspector_id IS NOT NULL
WINDOW w AS (PARTITION BY inspector_id ORDER BY year, assignment_id)""",
        "career_summary": _SUMMARY,
        "education_distribution": """
SELECT a.year, e.full_name_ru, count(DISTINCT a.inspector_id) AS n_inspectors
FROM assignments a JOIN educations e ON a.education_id = e.education_id
GROUP BY a.year, e.full_name_ru""",
        "tenure_dates": f"""
SELECT assignment_id, year, start_date_raw, end_date_raw,
       {_raw_date('start_date_raw')} AS start_date,
       {_raw_date('end_date_raw')} AS end_date
FROM assignments""",
        "top_mobile_inspectors": f"""
SELECT * FROM ({_SUMMARY}) ORDER BY n_gubernias DESC, inspector_id ASC LIMIT 10""",
    }


# ---------------------------------------------------------------------------
# training set: invariants that hold for any input
# ---------------------------------------------------------------------------


def training_set_problem(out: dict[str, tuple[list[tuple], list[str]]], n_docs: int) -> str:
    """First broken invariant of build_training_set's outputs, or ''."""

    def col(name: str, c: str) -> list:
        rows, cols = out[name]
        i = cols.index(c)
        return [r[i] for r in rows]

    kept = col("kept", "doc_id")
    if not kept or len(kept) > n_docs or len(set(kept)) != len(kept):
        return f"kept: {len(kept)} rows, {len(set(kept))} distinct ids, {n_docs} documents"
    split_ids = col("splits", "doc_id")
    if sorted(split_ids) != sorted(kept):
        return "splits: not exactly the kept documents"
    train = {d for d, s in zip(split_ids, col("splits", "split")) if s == "train"}
    packed = col("packed_train", "doc_id")
    if len(packed) != len(set(packed)) or set(packed) != train:
        return "packed_train: not exactly the train split"
    return ""
