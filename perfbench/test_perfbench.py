"""Self-tests of the benchmark's generators and oracles.

    python3 -m pytest perfbench -q

The Spark tests build a tiny corpus end to end (about two minutes on four
cores); the rest are pure Python.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import lake_gen  # noqa: E402
import roster_gen  # noqa: E402


def test_roster_generator_is_deterministic_per_seed():
    a_html, a_man = roster_gen.build(7, 2, 30)
    b_html, b_man = roster_gen.build(7, 2, 30)
    c_html, c_man = roster_gen.build(8, 2, 30)
    assert a_html == b_html and a_man == b_man
    assert a_man["sha256"] != c_man["sha256"]
    assert len(a_html) == 26 and len(set(a_html)) == 26


def test_roster_names_carry_the_year_the_reader_extracts():
    import re

    html, _ = roster_gen.build(1, 3, 20)
    years = [int(re.search(r"fabric(\d{4})\.html", n).group(1)) for n in html]
    assert sorted(years) == sorted(list(roster_gen.YEARS) * 3)


def test_roster_corpus_has_every_row_type():
    html, man = roster_gen.build(3, 3, 60)
    text = "".join(html.values())
    for marker in ('rowspan="3"', 'rowspan="2"', "»", '<td>"</td>', "(†)", "вакансія",
                   "кандидатъ", "dotted-line", "oblast-header", "district-header",
                   "footnote", "<br>"):
        assert marker in text, marker
    assert man["rejects"] > 0 and man["vacancies"] > 0
    assert man["workers_by_year"]["1901"] is None  # G1 has no statistics


def test_lake_generator_is_deterministic_per_seed(tmp_path):
    a = lake_gen.generate(str(tmp_path / "a"), 5, 0.002)
    b = lake_gen.generate(str(tmp_path / "b"), 5, 0.002)
    c = lake_gen.generate(str(tmp_path / "c"), 6, 0.002)
    for t in lake_gen.TABLES:
        pa = (tmp_path / "a" / f"{t}.parquet").read_bytes()
        assert pa == (tmp_path / "b" / f"{t}.parquet").read_bytes(), t
    assert a == b
    assert (tmp_path / "a" / "lineitem.parquet").read_bytes() != (
        tmp_path / "c" / "lineitem.parquet"
    ).read_bytes()
    assert c["rows"]["region"] == 5


def test_value_hash_ignores_row_and_column_order():
    rows = [(1, "a", None), (2, "b", 1.5)]
    assert checks.value_hash(rows, ["x", "y", "z"]) == checks.value_hash(
        [(1.5, "b", 2), (None, "a", 1)], ["z", "y", "x"]
    )
    assert checks.value_hash(rows, ["x", "y", "z"]) != checks.value_hash(rows[:1], ["x", "y", "z"])


def test_training_set_invariants():
    kept = ([(1,), (2,), (3,)], ["doc_id"])
    splits = ([(1, "train"), (2, "train"), (3, "val")], ["doc_id", "split"])
    packed = ([(1,), (2,)], ["doc_id"])
    ok = {"kept": kept, "splits": splits, "packed_train": packed}
    assert checks.training_set_problem(ok, 10) == ""
    assert "packed_train" in checks.training_set_problem(
        {**ok, "packed_train": ([(1,)], ["doc_id"])}, 10
    )
    assert "kept" in checks.training_set_problem({**ok, "kept": ([(1,), (1,)], ["doc_id"])}, 10)


# ---------------------------------------------------------------------------
# Spark: the engine against the manifest and the DuckDB oracles
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    from factory_inspectors_db_etl_spark.session import get_spark

    s = get_spark("perfbench-tests", cpus=len(os.sched_getaffinity(0)))
    yield s
    s.stop()


@pytest.fixture(scope="module")
def tiny_warehouse(spark, tmp_path_factory):
    from factory_inspectors_db_etl_spark.plans.inspectors_etl import (
        build_warehouse,
        write_warehouse,
    )

    base = tmp_path_factory.mktemp("roster")
    manifest = roster_gen.generate(str(base / "corpus"), 11, 1, 40)
    write_warehouse(build_warehouse(spark, str(base / "corpus")), str(base / "wh"))
    return str(base / "wh"), manifest


def test_tiny_corpus_matches_its_manifest(tiny_warehouse):
    wh, manifest = tiny_warehouse
    assert checks.check_warehouse(wh, manifest) == []


def test_analytics_oracles_agree_on_tiny_corpus(spark, tiny_warehouse):
    import duckdb

    import workloads

    wh, _ = tiny_warehouse
    a = spark.read.parquet(f"{wh}/assignments")
    e = spark.read.parquet(f"{wh}/educations")
    con = duckdb.connect()
    checks.warehouse_views(con, wh)
    for name, sql in checks.analytics_oracles().items():
        got = checks.spark_hash(workloads.analytics_plan(name, a, e))
        assert got[1] > 0, name
        assert got == checks.duck_hash(con, sql), name
