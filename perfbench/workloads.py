"""The benchmark's workloads: inputs from a seed, one pass, and the checks.

Each workload is a closed loop with one client: a pass is a fixed list of
items (one public call into the engine, or one query), run in order, and
the next pass starts only when the previous one returns.  A query's rows
are fetched to the client; checks run on them after the timed region.

An item is a function of the workload's state returning the DataFrame to
fetch, or None when the call itself is the whole operation (a pipeline stage
that executes its own jobs).  Under tracing each item is split into build
(the call), plan (``executedPlan``) and execute (fetching the rows).
"""

from __future__ import annotations

import os
import shutil
import statistics
from collections.abc import Callable

import checks
import duckdb
import lake_gen
import roster_gen
import tracing
import warehouse_gen

# roster corpus: archives x 13 years x rows per file (the paper's corpus is
# one archive of yearly files)
ROSTER_ARCHIVES = 1
ROSTER_ROWS = 100
# analytics warehouse: inspectors with careers over 1901-1913 (~7 facts each)
WAREHOUSE_INSPECTORS = 700
# lake tables: fraction of the catalog's sf1 row counts
LAKE_SCALE = 0.01
LAKE_QUERIES = ("flagship_q5_revenue", "g8_kcore")
# the lake tables those queries read (rows_per_s counts these rows)
LAKE_TABLES = ("lineitem", "orders", "customer", "nation", "region")


class Item:
    def __init__(self, name: str, fn: Callable, kind: str) -> None:
        self.name = name
        self.fn = fn
        self.kind = kind  # "pipeline" or "query"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class RosterEtl:
    """The paper's pipeline: roster HTML -> star schema -> parquet."""

    name = "roster_etl"

    def __init__(self, seed: int, run_dir: str) -> None:
        self.seed = seed
        self.run_dir = run_dir
        self.manifest: dict = {}
        self.corpus = ""
        self.pass_no = 0
        self.tables = None
        self.wh = ""
        self.written: list[tuple[int, int]] = []  # (parquet files, bytes) per pass
        self.probe_counts: dict[str, int] = {}
        self.probe_findings: dict[str, str] = {}

    def make_inputs(self, out_dir: str) -> dict:
        self.corpus = out_dir
        self.manifest = roster_gen.generate(out_dir, self.seed, ROSTER_ARCHIVES, ROSTER_ROWS)
        return {"rows": self.input_rows(), "bytes": self.manifest["bytes"],
                "files": self.manifest["files"]}

    def data_dir(self) -> str | None:
        return None

    def input_rows(self) -> int:
        return self.manifest["tr_rows"]

    def items(self, spark) -> list[Item]:
        from factory_inspectors_db_etl_spark.plans.inspectors_etl import (
            build_warehouse,
            write_warehouse,
        )

        def build():
            self.pass_no += 1
            self.wh = os.path.join(self.run_dir, f"warehouse{self.pass_no}")
            self.tables = build_warehouse(spark, self.corpus)

        def write():
            write_warehouse(self.tables, self.wh)

        return [Item("build_warehouse", build, "pipeline"),
                Item("write_warehouse", write, "pipeline")]

    def end_pass(self) -> None:
        """Record what the pass wrote, then drop the previous pass's
        warehouse; the newest stays for the checks."""
        files = size = 0
        for base, _, names in os.walk(self.wh):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(base, n))
        self.written.append((files, size))
        shutil.rmtree(os.path.join(self.run_dir, f"warehouse{self.pass_no - 1}"),
                      ignore_errors=True)

    def probe_layers(self, spark, tracer) -> None:
        """The two Python islands on their own: the HTML reader, then the
        personnel parser over the reader's (checkpointed) personnel cells."""
        from pyspark.sql import functions as F

        from factory_inspectors_db_etl_spark.functions.personnel_parser import parse_personnel_udf
        from factory_inspectors_db_etl_spark.sources.html_table import read_roster_rows

        with tracer.span("sources.reader"):
            _noop(read_roster_rows(spark, self.corpus))
        rows = read_roster_rows(spark, self.corpus).localCheckpoint()
        cells = rows.filter(F.col("row_kind") == "data").select("personnel_html").localCheckpoint()
        with tracer.span("functions.parser"):
            _noop(cells.select(parse_personnel_udf("personnel_html")))
        self.probe_counts = {"reader_rows": rows.count(), "parser_rows": cells.count()}
        if self.probe_counts["reader_rows"] != self.manifest["reader_rows"]:
            self.probe_findings["probe_layers"] = (
                f"reader rows {self.probe_counts['reader_rows']} != "
                f"expected {self.manifest['reader_rows']}"
            )

    def check(self, spark, results: dict, full: bool = False) -> dict[str, str]:
        """{item name: finding} for every item whose output is wrong."""
        bad = dict(self.probe_findings)
        problems = checks.check_warehouse(self.wh, self.manifest)
        if problems:
            bad["write_warehouse"] = "; ".join(problems)
        return bad


ANALYTICS_QUERIES = tuple(checks.analytics_oracles())


def analytics_plan(name: str, assignments, educations):
    """One of the six ``plans.inspectors_analytics`` plans (the oracle names
    are the function names); only the education plan reads a dimension."""
    from factory_inspectors_db_etl_spark.plans import inspectors_analytics as A

    if name == "education_distribution":
        return A.education_distribution(assignments, educations)
    return getattr(A, name)(assignments)


class AnalyticsLake:
    """The read side: the warehouse analytics plans, then catalog queries
    over the LLM-data lake tables, stored in a seed-permuted row order."""

    name = "analytics_lake"

    def __init__(self, seed: int, run_dir: str) -> None:
        self.seed = seed
        self.run_dir = run_dir
        self.wh = ""
        self.lake = ""
        self.rows: dict[str, int] = {}
        self.views: dict = {}
        self.outputs: dict = {}

    def make_inputs(self, out_dir: str) -> dict:
        self.wh = os.path.join(out_dir, "warehouse")
        self.lake = os.path.join(out_dir, "lake")
        wh_rows = warehouse_gen.generate(self.wh, self.seed, WAREHOUSE_INSPECTORS)
        info = lake_gen.generate(self.lake, self.seed, LAKE_SCALE)
        self.rows = {"assignments": wh_rows["assignments"], **info["rows"]}
        return {"rows": self.input_rows(), "bytes": info["bytes"], "table_rows": self.rows}

    def data_dir(self) -> str | None:
        return self.lake

    def input_rows(self) -> int:
        return self.rows["assignments"] + sum(self.rows[t] for t in LAKE_TABLES)

    def items(self, spark) -> list[Item]:
        from factory_inspectors_db_etl_spark.plans.catalog import QUERIES

        def read():
            # in place: the query items below read this dict when they run
            for t in ("assignments", "educations"):
                self.views[t] = spark.read.parquet(os.path.join(self.wh, t))

        out = [Item("read_warehouse", read, "pipeline")]
        v = self.views
        out += [
            Item(n, lambda n=n: analytics_plan(n, v["assignments"], v["educations"]), "query")
            for n in ANALYTICS_QUERIES
        ]
        out += [Item(q, lambda q=q: QUERIES[q](spark, self.lake), "query") for q in LAKE_QUERIES]
        return out

    def end_pass(self) -> None:
        pass

    def probe_layers(self, spark, tracer) -> None:
        """The training-set pipeline, split into build and execute."""
        from factory_inspectors_db_etl_spark.plans.corpus_pipeline import (
            BENCH_OUTPUTS,
            build_training_set,
        )

        with tracer.span("corpus.build"):
            self.outputs = build_training_set(spark, self.lake)
        with tracer.span("corpus.execute"):
            for k in BENCH_OUTPUTS:
                _noop(self.outputs[k])

    def check(self, spark, results: dict, full: bool = False) -> dict[str, str]:
        from factory_inspectors_db_etl_spark.plans.catalog import ORACLES

        bad: dict[str, str] = {}
        con = duckdb.connect()
        try:
            checks.warehouse_views(con, self.wh)
            for t in lake_gen.TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.lake}/{t}.parquet'")
            oracles = {**checks.analytics_oracles(), **{q: ORACLES[q] for q in LAKE_QUERIES}}
            for name, sql in oracles.items():
                if results.get(name) is None:
                    continue  # the item failed; it is already counted
                rows, cols = results[name]
                got = (checks.value_hash(rows, cols), len(rows))
                want = checks.duck_hash(con, sql)
                if got != want:
                    bad[name] = f"spark {got} != duckdb {want}"
        finally:
            con.close()
        if full and self.outputs:
            problem = self._check_training_set(spark)
            if problem:
                bad["probe_layers"] = problem
        return bad

    def _check_training_set(self, spark) -> str:
        """The training set has no oracle.  Its outputs must keep their
        invariants, and must not depend on row order: the set built from the
        unpermuted documents must be the same."""
        from factory_inspectors_db_etl_spark.plans.corpus_pipeline import (
            BENCH_OUTPUTS,
            build_training_set,
        )

        got = {k: checks.spark_rows(self.outputs[k]) for k in BENCH_OUTPUTS}
        problem = checks.training_set_problem(got, self.rows["documents"])
        if problem:
            return problem
        canon = build_training_set(spark, os.path.join(self.lake, "canonical"))
        for k in BENCH_OUTPUTS:
            if checks.value_hash(*got[k]) != checks.value_hash(*checks.spark_rows(canon[k])):
                return f"{k}: permuted input gives another result than canonical input"
        return ""


WORKLOADS = {RosterEtl.name: RosterEtl, AnalyticsLake.name: AnalyticsLake}


# ---------------------------------------------------------------------------
# Per-layer metrics of a traced run
# ---------------------------------------------------------------------------


def layer_metric_names() -> list[tuple[str, str]]:
    """Every per-layer metric (name, unit), whatever the workload: a layer a
    workload does not exercise reports 0."""
    out = [("session.start_s", "s"), ("trace.pass_s", "s"), ("trace.overhead_s", "s"),
           ("sources.reader_s", "s"), ("sources.reader_tasks", "count"),
           ("sources.reader_rows", "count"), ("functions.parser_s", "s"),
           ("functions.parser_rows", "count"),
           ("etl.build_s", "s"), ("etl.build_jobs", "count"), ("etl.write_s", "s"),
           ("etl.write_jobs", "count"), ("etl.write_files", "count"), ("etl.write_mb", "MB"),
           ("analytics.read_s", "s"), ("analytics.read_jobs", "count")]
    for q in ANALYTICS_QUERIES:
        out += [(f"analytics.{q}.plan_s", "s"), (f"analytics.{q}.execute_s", "s"),
                (f"analytics.{q}.jobs", "count")]
    out += [("corpus.build_s", "s"), ("corpus.build_jobs", "count"),
            ("corpus.execute_s", "s"), ("corpus.execute_jobs", "count")]
    for q in LAKE_QUERIES:
        out += [(f"{q}.build_s", "s"), (f"{q}.build_jobs", "count"), (f"{q}.plan_s", "s"),
                (f"{q}.execute_s", "s"), (f"{q}.execute_jobs", "count")]
    out += [("spark.stages", "count"), ("spark.tasks", "count"),
            ("spark.shuffle_write_mb", "MB"), ("spark.spill_mb", "MB"), ("spark.gc_s", "s")]
    return out


def layer_metrics(wl, tracer, run_dir: str, session_s: list[float], pass_s: float,
                  untraced_pass_s: float | None, n_items: int) -> dict:
    """Per-layer figures from the traced pass's spans and the event log."""
    jobs, stages = tracing.read_event_log(os.path.join(run_dir, "eventlog"))
    spans = {s["name"]: s for s in tracer.spans}

    def dur(span: str) -> float:
        s = spans.get(span)
        return s["end"] - s["start"] if s else 0.0

    def within(items: list[dict], span: str) -> list[dict]:
        s = spans.get(span)
        return tracing.in_window(items, s["start"], s["end"]) if s else []

    v: dict[str, float] = {name: 0 for name, _ in layer_metric_names()}
    v["session.start_s"] = statistics.median(session_s)
    v["trace.pass_s"] = pass_s
    # traced minus untraced pass time; without an untraced run in this
    # checkout, the time tracing itself added (the separate plan forcing)
    v["trace.overhead_s"] = (
        pass_s - untraced_pass_s if untraced_pass_s is not None
        else sum(dur(n) for n in spans if n.endswith(".plan"))
    )
    if isinstance(wl, RosterEtl):
        v["sources.reader_s"] = dur("sources.reader")
        v["sources.reader_tasks"] = sum(x["tasks"] for x in within(stages, "sources.reader"))
        v["sources.reader_rows"] = wl.probe_counts.get("reader_rows", 0)
        v["functions.parser_s"] = dur("functions.parser")
        v["functions.parser_rows"] = wl.probe_counts.get("parser_rows", 0)
        v["etl.build_s"] = dur("build_warehouse")
        v["etl.build_jobs"] = len(within(jobs, "build_warehouse"))
        v["etl.write_s"] = dur("write_warehouse")
        v["etl.write_jobs"] = len(within(jobs, "write_warehouse"))
        files, size = wl.written[0] if wl.written else (0, 0)
        v["etl.write_files"], v["etl.write_mb"] = files, size / 2**20
    else:
        v["analytics.read_s"] = dur("read_warehouse")
        v["analytics.read_jobs"] = len(within(jobs, "read_warehouse"))
        for q in ANALYTICS_QUERIES:
            v[f"analytics.{q}.plan_s"] = dur(f"{q}.plan")
            v[f"analytics.{q}.execute_s"] = dur(f"{q}.execute")
            v[f"analytics.{q}.jobs"] = len(within(jobs, q))
        for part in ("build", "execute"):
            v[f"corpus.{part}_s"] = dur(f"corpus.{part}")
            v[f"corpus.{part}_jobs"] = len(within(jobs, f"corpus.{part}"))
        for q in LAKE_QUERIES:
            for part in ("build", "plan", "execute"):
                v[f"{q}.{part}_s"] = dur(f"{q}.{part}")
            v[f"{q}.build_jobs"] = len(within(jobs, f"{q}.build"))
            v[f"{q}.execute_jobs"] = len(within(jobs, f"{q}.execute"))
    # Spark runtime over the traced pass: the window of its item spans
    top = [s for s in tracer.spans if s["parent"] is None][:n_items]
    if top:
        st = tracing.in_window(stages, top[0]["start"], top[-1]["end"])
        v["spark.stages"] = len(st)
        v["spark.tasks"] = sum(x["tasks"] for x in st)
        v["spark.shuffle_write_mb"] = sum(x["shuffle_write"] for x in st) / 2**20
        v["spark.spill_mb"] = sum(x["spill"] for x in st) / 2**20
        v["spark.gc_s"] = sum(x["gc_ms"] for x in st) / 1000
    units = dict(layer_metric_names())
    return {k: {"value": x, "unit": units[k]} for k, x in v.items()}
