"""Hermetic pins for the roster ETL, on the seeded corpus of
``perfbench/roster_gen.py`` (13 yearly files, 100 rows each, all three
layout generations) instead of the reference corpus:

* every warehouse table's value hash, ids included, per seed;
* the reader's standardized columns against the JVM forms they replace;
* the warehouse plan shape: no unpartitioned window, and one window
  mints every dimension id;
* the reader's file contracts (decoded ``source_file``, files without a
  year, empty globs, no shuffle) and its file-stream form.
"""

from __future__ import annotations

import importlib.util
import os
import shutil

import duckdb
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from factory_inspectors_db_etl_spark.functions.text import standardize_text
from factory_inspectors_db_etl_spark.plans.inspectors_etl import (
    build_warehouse,
    keyed_dims,
    parsed_assignment_rows,
    write_warehouse,
)
from factory_inspectors_db_etl_spark.sources.html_table import read_roster_rows
from factory_inspectors_db_etl_spark.streaming import run_available_now, stream_roster_rows
from perfbench import checks, roster_gen

SEEDS = (1, 2, 3)

# checks.duck_hash(con, "SELECT * FROM <table>") of the written warehouse:
# (md5 of the sorted rows, row count) per seed
PINS = {
    "assignments": {
        1: ("695a3adb3a0b2a48a54095aa2cc66c50", 1512),
        2: ("19e628ac46ddbe6098cb7c127f7a9ccd", 1549),
        3: ("6805d54c86f06e3e2d68e752f3a2fefb", 1512),
    },
    "inspectors": {
        1: ("268b61be46c352d3d7f7d25d66afafe4", 20),
        2: ("b8c84d9466c05484e1973942745b9cea", 20),
        3: ("6484cc32356c3357407d3abda2238e9b", 20),
    },
    "locations": {
        1: ("04c5646513dc663f44f327a8774a7502", 539),
        2: ("31a5c4107fc6f61698ea4f8df2331a25", 492),
        3: ("8d0c88278ed6e3152ee413325e54121a", 536),
    },
    "ranks": {s: ("b5c80d4164d13c45ccf10b27f734622a", 6) for s in SEEDS},
    "professions": {s: ("399dd6dfd7abb6eb3624eb2d72c75570", 5) for s in SEEDS},
    "educations": {
        1: ("f700d06e1c1e86b4812f6a93ebba53c6", 3),
        2: ("3b1f521d1faf858694d615fd316fda18", 2),
        3: ("f700d06e1c1e86b4812f6a93ebba53c6", 3),
    },
    "rejects": {
        1: ("85d378907d5c2368f2b6b127d274ecdf", 3),
        2: ("b523369831177436b0decf4eb59610b6", 3),
        3: ("2ff081fd22d44b0f223ce36110cf4170", 4),
    },
}

# duck_hash orders columns by name, so column order and types are pinned here
SCHEMAS = {
    "inspectors": "struct<inspector_id:int,full_name:string,notes:string>",
    "locations": "struct<location_id:int,city_name:string,gubernia_name:string,"
    "okrug_name:string,location_type:string>",
    "ranks": "struct<rank_id:int,abbreviation:string,full_name_ru:string,rank_type:string>",
    "professions": "struct<profession_id:int,abbreviation:string,full_name_ru:string>",
    "educations": "struct<education_id:int,abbreviation:string,full_name_ru:string>",
    "assignments": "struct<assignment_id:bigint,inspector_id:int,year:int,source_file:string,"
    "okrug_name:string,gubernia_name:string,position_role:string,uchastok_identifier:string,"
    "uchastok_description:string,inspector_location_id:int,personnel_raw_string:string,"
    "rank_id:int,profession_id:int,education_id:int,start_date_raw:string,"
    "end_date_raw:string,is_acting:boolean,is_vacancy:boolean,assignment_notes:string,"
    "establishments_count:int,worker_count:int,boiler_count:int>",
    "rejects": "struct<source_file:string,year:int,row_idx:int,segment_idx:int,"
    "reject_reason:string,payload:string>",
}


@pytest.fixture(scope="module")
def corpora(tmp_path_factory) -> dict[int, str]:
    root = tmp_path_factory.mktemp("roster")
    out = {}
    for seed in SEEDS:
        out[seed] = str(root / f"seed{seed}")
        roster_gen.generate(out[seed], seed, 1, 100)
    return out


@pytest.mark.parametrize("seed", SEEDS)
def test_warehouse_values_pinned(spark, corpora, tmp_path, seed):
    tables = build_warehouse(spark, corpora[seed])
    assert {t: df.schema.simpleString() for t, df in tables.items()} == SCHEMAS
    write_warehouse(tables, str(tmp_path))
    con = duckdb.connect()
    try:
        checks.warehouse_views(con, str(tmp_path))
        got = {t: checks.duck_hash(con, f"SELECT * FROM {t}") for t in PINS}
    finally:
        con.close()
    assert got == {t: pins[seed] for t, pins in PINS.items()}


def test_reader_std_columns_match_jvm_forms(spark, corpora):
    """The reader emits standardize_text_py of the cells it visits; each
    column must equal the JVM expression the ETL used to compute, NULLs
    included, on every reader row."""
    rows = read_roster_rows(spark, list(corpora.values()))
    jvm = {
        "cell0_std": standardize_text(F.col("cell0_raw")),
        "desc_std": standardize_text(F.col("desc_raw")),
        "loc_std": standardize_text(F.col("loc_raw")),
        "personnel_is_ditto": standardize_text(F.trim(F.col("personnel_html"))) == "»",
    }
    counts = rows.agg(
        *[F.sum((~F.col(c).eqNullSafe(e)).cast("int")).alias(c) for c, e in jvm.items()],
        F.sum((F.col("row_kind") == "data").cast("int")).alias("data_rows"),
        F.sum(F.col("personnel_is_ditto").cast("int")).alias("personnel_dittos"),
        F.sum((F.col("loc_std") == "»").cast("int")).alias("location_dittos"),
    ).first().asDict()
    assert {c: counts[c] for c in jvm} == {c: 0 for c in jvm}
    # the corpus exercises both ditto forms, so the check is not vacuous
    assert counts["data_rows"] > 1000
    assert counts["personnel_dittos"] > 0 and counts["location_dittos"] > 0


def _plan_audit():
    spec = importlib.util.spec_from_file_location(
        "plan_audit",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts", "plan_audit.py"),
    )
    pa = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pa)
    return pa


def _window_partitions(df) -> list[str]:
    """First PARTITION BY column of every Window node in the executed plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [
        ln.split("windowspecdefinition(", 1)[1].split(",", 1)[0].split("#", 1)[0]
        for ln in plan.splitlines()
        if "windowspecdefinition(" in ln
    ]


def test_warehouse_plan_shape(spark, corpora):
    """The catalog-wide invariant of test_whole_catalog_no_cartesian_no_
    unpartitioned_window, on the seven warehouse tables; plus: the
    dimension ids come from ONE window, partitioned by ``dim``.  The build
    checkpoints that window's output, so it is asserted on the keyed
    table the checkpoint stores, and the fact's only own window is the
    per-file one minting ``assignment_id``."""
    pa = _plan_audit()
    tables = build_warehouse(spark, corpora[1])
    assert len(tables) == 7
    bad = []
    for name, df in tables.items():
        a = pa.audit_one(df)
        if a["cartesian"]:
            bad.append(f"{name}: CartesianProduct")
        if a["unpartitioned_windows"]:
            bad.append(f"{name}: {a['unpartitioned_windows']} unpartitioned window(s)")
    assert not bad, bad
    assert _window_partitions(tables["assignments"]) == ["source_file"]
    assert _window_partitions(keyed_dims(parsed_assignment_rows(spark, corpora[1]))) == ["dim"]


def _ordered(df) -> list:
    return df.orderBy("source_file", "row_idx").collect()


def _copy(corpus: str, dst, names: dict[str, str]) -> None:
    """Copy seeded files into ``dst``: {new name: seeded name}."""
    for new, old in names.items():
        shutil.copy(os.path.join(corpus, old), dst / new)


def test_reader_decodes_source_file(spark, corpora, tmp_path):
    """``source_file`` is the file's own base name, although
    ``input_file_name()`` percent-encodes it ("архив%201_fabric1901.html";
    a literal "%" comes back as "%25")."""
    names = {
        "архив 1_fabric1901.html": "a00_fabric1901.html",
        "100%_fabric1905.html": "a00_fabric1905.html",
    }
    _copy(corpora[1], tmp_path, names)
    got = read_roster_rows(spark, str(tmp_path))
    assert {r[0] for r in got.select("source_file").distinct().collect()} == set(names)
    back = F.create_map(*[F.lit(x) for pair in names.items() for x in pair])
    want = read_roster_rows(spark, [os.path.join(corpora[1], n) for n in names.values()])
    assert _ordered(got.withColumn("source_file", back[F.col("source_file")])) == _ordered(want)


def test_reader_skips_files_without_year(spark, corpora, tmp_path):
    """A roster whose name has no ``fabricYYYY.html`` yields no rows."""
    _copy(corpora[1], tmp_path, {"a00_fabric.html": "a00_fabric1901.html"})
    assert read_roster_rows(spark, str(tmp_path)).count() == 0


def test_reader_empty_glob_raises(spark, tmp_path):
    """A glob that matches nothing fails loudly, not as an empty DataFrame."""
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_roster_rows(spark, str(tmp_path / "fabric*.html"))


def test_reader_plan_has_no_exchange(spark, corpora):
    """One file parses in one task: the reader adds no shuffle."""
    plan = read_roster_rows(spark, corpora[1])._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_roster_incremental_ingestion_exactly_once(spark, corpora, tmp_path):
    """A yearly file arriving between two runs on one checkpoint is read
    once: run 2 appends only the new file's rows, and each file's rows
    equal the batch reader's."""
    src = tmp_path / "incoming"
    src.mkdir()
    out = str(tmp_path / "out")

    def run_once():
        q = (
            stream_roster_rows(spark, str(src))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out)

    _copy(corpora[1], src, {"a00_fabric1901.html": "a00_fabric1901.html"})
    n1 = run_once().count()
    assert n1 > 0
    _copy(corpora[1], src, {"a00_fabric1905.html": "a00_fabric1905.html"})
    got = run_once()
    assert got.filter(F.col("source_file") == "a00_fabric1901.html").count() == n1
    assert _ordered(got) == _ordered(read_roster_rows(spark, str(src)))


def test_roster_file_stream_matches_batch_reader(spark, corpora, tmp_path):
    """Streaming a G1 and a G3 file gives the batch reader's rows."""
    _copy(corpora[1], tmp_path, {n: n for n in ("a00_fabric1901.html", "a00_fabric1913.html")})
    got = run_available_now(stream_roster_rows(spark, str(tmp_path)), "t_roster_seeded")
    assert _ordered(got) == _ordered(read_roster_rows(spark, str(tmp_path)))
