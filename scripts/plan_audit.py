"""Physical-plan audit: one row per registered query summarizing the
plan properties the 100 TB design claims — exchange (shuffle) count,
broadcast vs shuffle joins, cartesian/nested-loop presence, unpartitioned
windows, Python-eval islands, and whether filters reach the parquet scan.

Usage: python scripts/plan_audit.py [sf_dir] [out_md]
Writes a markdown table (default PLAN_AUDIT.md), a machine-readable
snapshot (PLAN_AUDIT.json, stamped with the git rev, core count, Spark
version and SF it was taken at), and — when a previous snapshot exists — a
"Delta vs previous audit" section flagging any query whose shuffle
count grew or whose broadcast join count shrank (a silent plan
regression, e.g. a lost broadcast, previously surfaced only as a
timing blip in bench.py).  Commit PLAN_AUDIT.json so the next round
diffs against this one.

This is evidence generation, not a gate: the hard assertions live in
tests/test_plan_shapes.py.  The audit exists so a reviewer can see the
whole catalog's plan posture at a glance without running .explain 150x.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from factory_inspectors_db_etl_spark.plans.catalog import QUERIES  # noqa: E402
from factory_inspectors_db_etl_spark.session import get_spark  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "PLAN_AUDIT.md"
OUT_JSON = os.path.splitext(OUT)[0] + ".json"

# Python-island queries where an exec node outside whole-stage codegen is
# by design (Arrow-batched UDFs / mapInPandas / applyInPandas)
DECLARED_PYTHON = {
    "a13_heavy_hitters",  # stage-1 Misra-Gries summaries (mapInPandas by design)
    "d_embedding_neardup",
    "d_embedding_neardup_lsh",
    "m_multimodal_decode",
    "m_frame_sample",
    "m_png_decode",  # PNG encode + decode round-trip (2 mapInPandas by design)
    "m_wav_energy",  # WAV encode + frame-energy decode (2 mapInPandas by design)
    "m_mp4_meta",  # BMFF encode + container demux (2 mapInPandas by design)
    "m_jpeg_decode",  # JFIF encode + baseline decode round-trip (2 mapInPandas by design)
    "m_gif_decode",  # GIF encode + LZW decode round-trip (2 mapInPandas by design)
    "u3_grouped_agg_udaf",
}


def audit_one(df) -> dict[str, object]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    n_exchange = sum(1 for ln in lines if re.search(r"\bExchange\b", ln))
    n_bcast_join = sum(1 for ln in lines if "BroadcastHashJoin" in ln or "BroadcastNestedLoopJoin" in ln)
    n_smj = sum(1 for ln in lines if "SortMergeJoin" in ln)
    n_shuffled_hash = sum(1 for ln in lines if "ShuffledHashJoin" in ln)
    cartesian = any("CartesianProduct" in ln for ln in lines)
    python_nodes = sum(
        1
        for ln in lines
        if any(k in ln for k in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapGroupsInPandas", "AggregateInPandas", "ArrowAggregatePython"))
    )
    unpart_window = 0
    for ln in lines:
        if "windowspecdefinition(" in ln:
            spec = ln.split("windowspecdefinition(", 1)[1]
            first_arg = spec.split(",", 1)[0]
            if "ASC" in first_arg or "DESC" in first_arg or spec.lstrip().startswith(("ASC", "DESC")):
                unpart_window += 1
    pushed = "PushedFilters: [" in plan and not re.search(r"PushedFilters: \[\s*\]", plan)
    return {
        "exchanges": n_exchange,
        "broadcast_joins": n_bcast_join,
        "sort_merge_joins": n_smj,
        "shuffled_hash_joins": n_shuffled_hash,
        "cartesian": cartesian,
        "python_nodes": python_nodes,
        "unpartitioned_windows": unpart_window,
        "pushed_filters": pushed,
    }


def _stamp(spark) -> dict[str, object]:
    """Where the snapshot was taken: plan shapes can depend on the core
    count (shuffle widths) and the Spark version (planner rules)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        rev = subprocess.run(
            ["git", "describe", "--always", "--dirty"],
            cwd=repo, capture_output=True, text=True, check=True,
        ).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        rev = "unknown"
    return {
        "git_rev": rev,
        "nproc": len(os.sched_getaffinity(0)),
        "spark_version": spark.version,
        "sf": SF,
    }


def main() -> None:
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    stamp = _stamp(spark)  # before any output file is rewritten
    rows = []
    flags = []
    for name, fn in QUERIES.items():
        try:
            a = audit_one(fn(spark, SF))
        except Exception as e:  # noqa: BLE001
            rows.append((name, f"ERROR: {str(e)[:80]}"))
            flags.append(f"{name}: plan build failed")
            continue
        rows.append((name, a))
        if a["cartesian"]:
            flags.append(f"{name}: CartesianProduct in plan")
        if a["unpartitioned_windows"]:
            flags.append(f"{name}: {a['unpartitioned_windows']} unpartitioned window(s)")
        if a["python_nodes"] and name not in DECLARED_PYTHON:
            flags.append(f"{name}: undeclared Python exec node")

    with open(OUT, "w") as f:
        f.write(f"# Plan audit — every registered query at {SF}\n\n")
        f.write(
            f"Taken at git `{stamp['git_rev']}` on {stamp['nproc']} cores, "
            f"Spark {stamp['spark_version']}.\n\n"
        )
        f.write("Generated by `scripts/plan_audit.py`; hard invariants are pinned in\n")
        f.write("`tests/test_plan_shapes.py`.  Columns: shuffles (Exchange nodes),\n")
        f.write("join strategies, cartesian products, Arrow/Python exec nodes\n")
        f.write("(declared islands only), unpartitioned windows (single-partition\n")
        f.write("funnels — must be zero), filter pushdown into the parquet scan.\n\n")
        f.write("| query | shuffles | bcast joins | SMJ | SHJ | cartesian | py nodes | unpart. windows | pushdown |\n")
        f.write("|---|---|---|---|---|---|---|---|---|\n")
        for name, a in rows:
            if isinstance(a, str):
                f.write(f"| {name} | {a} |\n")
                continue
            f.write(
                f"| {name} | {a['exchanges']} | {a['broadcast_joins']} | {a['sort_merge_joins']} | "
                f"{a['shuffled_hash_joins']} | {'YES' if a['cartesian'] else '-'} | {a['python_nodes'] or '-'} | "
                f"{a['unpartitioned_windows'] or '-'} | {'yes' if a['pushed_filters'] else '-'} |\n"
            )
        f.write("\n## Flags\n\n")
        if flags:
            for fl in flags:
                f.write(f"- {fl}\n")
        else:
            f.write("none — no cartesian products, no unpartitioned windows, no undeclared Python islands\n")

        # --- round-over-round delta vs the previously committed snapshot
        # (query rows only; the stamp differs run to run by design) ---
        prev = {}
        if os.path.exists(OUT_JSON):
            with open(OUT_JSON) as pf:
                prev = json.load(pf).get("queries", {})
        deltas = []
        for name, a in rows:
            if isinstance(a, str) or name not in prev or isinstance(prev[name], str):
                continue
            p = prev[name]
            if a["exchanges"] > p.get("exchanges", 0):
                deltas.append(
                    f"{name}: shuffles {p['exchanges']} -> {a['exchanges']} (GREW)"
                )
            # a lost broadcast is only suspicious when the plan did not
            # also get cheaper — a deliberate simplification (fewer
            # joins, fewer exchanges) legitimately drops broadcasts
            if a["broadcast_joins"] < p.get("broadcast_joins", 0) and a[
                "exchanges"
            ] >= p.get("exchanges", 0):
                deltas.append(
                    f"{name}: broadcast joins {p['broadcast_joins']} -> "
                    f"{a['broadcast_joins']} (LOST a broadcast, shuffles not reduced)"
                )
        f.write("\n## Delta vs previous audit\n\n")
        if not prev:
            f.write("no previous PLAN_AUDIT.json snapshot — baseline established this run\n")
        elif deltas:
            f.write("plan-shape regressions (justify or fix before shipping):\n\n")
            for d in deltas:
                f.write(f"- {d}\n")
        else:
            improved = [
                f"{name}: shuffles {prev[name]['exchanges']} -> {a['exchanges']}"
                for name, a in rows
                if not isinstance(a, str)
                and name in prev
                and not isinstance(prev[name], str)
                and a["exchanges"] < prev[name].get("exchanges", 0)
            ]
            f.write(
                "no query's shuffle count grew and no broadcast join was lost "
                f"({len(prev)} previous rows compared)\n"
            )
            if improved:
                f.write("\nimprovements:\n\n")
                for d in improved:
                    f.write(f"- {d}\n")

    with open(OUT_JSON, "w") as jf:
        json.dump(
            {"stamp": stamp, "queries": {name: a for name, a in rows}},
            jf,
            indent=1,
        )
    print(f"{len(rows)} queries audited -> {OUT} + {OUT_JSON}; {len(flags)} flags, {len(deltas)} plan deltas")
    for fl in flags:
        print(" -", fl)
    for d in deltas:
        print(" Δ", d)


if __name__ == "__main__":
    main()
