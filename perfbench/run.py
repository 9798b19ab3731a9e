"""Benchmark entry point.

    python3 perfbench/run.py --workload roster_etl --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  Inputs are generated from ``--seed`` inside
``.bench_run/`` of the checkout; the engine gets nothing else.  One run is one
fresh Spark session, as a batch job gets: set-up is timed several times
(generate inputs, start a session) and reported as a median, then passes run
in a closed loop until ``--seconds`` have passed (at least one pass), then
every output is checked outside the timed region.  The last stdout line is
the JSON result; the line before it is the run stamp.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` reports the
per-layer metrics instead: one pass runs with spans around every public call
and a Spark event log (enabled from outside through ``PYSPARK_SUBMIT_ARGS``),
then layers the pass does not isolate are probed on their own.  The tracing
overhead is the traced pass time minus the median untraced pass time of the
same workload recorded in ``.bench_run/history.jsonl``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "factory_inspectors_db_etl_spark"
HISTORY = os.path.join(ROOT, ".bench_run", "history.jsonl")
SETUP_REPS = 5
WATCHDOG_S = 175.0  # a run must end within 180 s
DRIVER_MEMORY = "2g"  # get_spark's default, 16g, is more than a small machine has


def _untraced_pass_s(workload: str) -> float | None:
    """Median pass_s of the untraced runs of ``workload`` in this checkout."""
    try:
        with open(HISTORY, encoding="utf-8") as f:
            rows = [json.loads(line) for line in f if line.strip()]
    except OSError:
        return None
    got = [r["pass_s"] for r in rows if r.get("workload") == workload]
    return statistics.median(got) if got else None


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(run_dir: str, trace: bool) -> None:
    """Everything the session and its workers need, set before pyspark is
    imported.  Workers import the engine, so they need the checkout on
    PYTHONPATH; spill and temp files stay inside the run directory."""
    import tracing as tr

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = tmp
    args = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(run_dir, 'spark-warehouse')}",
        # the heap is committed and touched up front, so resident memory does
        # not depend on when the collector chose to grow the heap
        "--driver-java-options",
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} -XX:+AlwaysPreTouch",
    ]
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        args += tr.event_log_confs(log_dir)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"'{a}'" if " " in a else a for a in args
    ) + " pyspark-shell"


def _source_rev() -> str:
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or _source_digest()
    except OSError:
        return _source_digest()


def _source_digest() -> str:
    """Content digest of the engine's sources, for checkouts without git."""
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return "src:" + h.hexdigest()[:16]


class JvmHandle:
    """Stops the Spark session and waits for the JVM this process launched."""

    def __init__(self) -> None:
        self.spark = None

    def stop(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:  # noqa: BLE001 - shutting down regardless
                traceback.print_exc()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()  # the gateway server exits when stdin closes
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _kill_tree() -> None:
    import tracing as tr

    for p in reversed(tr.descendants(os.getpid())[1:]):
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _on_sigterm(signum, frame) -> None:
    _kill_tree()
    os._exit(128 + signum)


def _watchdog() -> None:
    print(f"perfbench: run exceeded {WATCHDOG_S:.0f}s, aborting", file=sys.stderr, flush=True)
    _kill_tree()
    os._exit(3)


def _percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100])."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = (len(v) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def _fetch(df) -> tuple[list[tuple], list[str]]:
    """Execute a query and deliver its rows to the client, as a user gets
    them; the checks then compare exactly these rows."""
    return [tuple(r) for r in df.collect()], list(df.columns)


def run_item(it, tracer=None):
    """One operation: the item's call, then the rows of the DataFrame it
    returns, if any.  With a tracer, split into build / plan / execute."""
    if tracer is None:
        df = it.fn()
        return None if df is None else _fetch(df)
    with tracer.span(it.name):
        with tracer.span(f"{it.name}.build"):
            df = it.fn()
        if df is None:
            return None
        with tracer.span(f"{it.name}.plan"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span(f"{it.name}.execute"):
            return _fetch(df)


def run_pass(wl, items, records: list, results: dict, tracer=None) -> tuple[float, float]:
    """One pass; returns its wall seconds and steal-scaled CPU seconds."""
    import tracing

    t0, pass_meter = time.perf_counter(), tracing.CpuMeter()
    for it in items:
        t, meter = time.perf_counter(), tracing.CpuMeter()
        try:
            results[it.name] = run_item(it, tracer)
            ok = True
        except Exception:  # noqa: BLE001 - one item failing never aborts the run
            traceback.print_exc()
            ok = False
        wall = time.perf_counter() - t
        cpu, steal = meter.read()
        records.append({"item": it.name, "kind": it.kind, "s": wall, "ok": ok,
                        "cpu_s": cpu, "steal": steal, "scaled_cpu_s": cpu * (1 - steal)})
    took = time.perf_counter() - t0, pass_meter.scaled()
    wl.end_pass()
    return took


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_run = time.perf_counter()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    watchdog = threading.Timer(WATCHDOG_S, _watchdog)
    watchdog.daemon = True
    watchdog.start()
    signal.signal(signal.SIGTERM, _on_sigterm)

    run_dir = os.path.join(
        ROOT, ".bench_run", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _prepare_env(run_dir, bool(args.trace))

    import tracing as tr

    from factory_inspectors_db_etl_spark.session import get_spark

    wl = workloads.WORKLOADS[args.workload](args.seed, run_dir)
    jvm = JvmHandle()
    try:
        # -- set-up, several times; the last one's inputs and session stay --
        setup_s, setup_cpu, session_s, inputs = [], [], [], {}
        for k in range(SETUP_REPS):
            t0, meter = time.perf_counter(), tr.CpuMeter()
            inputs = wl.make_inputs(os.path.join(run_dir, f"input{k}"))
            if jvm.spark is not None:
                jvm.spark.stop()
            t1 = time.perf_counter()
            jvm.spark = get_spark(
                f"perfbench-{args.workload}", cpus=_cpus(), data_dir=wl.data_dir()
            )
            session_s.append(time.perf_counter() - t1)
            setup_s.append(time.perf_counter() - t0)
            setup_cpu.append(meter.scaled())
            if k:
                shutil.rmtree(os.path.join(run_dir, f"input{k - 1}"), ignore_errors=True)
        spark = jvm.spark
        spark.sparkContext.setLogLevel("ERROR")
        items = wl.items(spark)

        # -- timed region ------------------------------------------------------
        records: list[dict] = []
        passes: list[float] = []
        passes_cpu: list[float] = []
        results: dict = {}  # item name -> (rows, columns) of the latest pass
        tracer = tr.Tracer(spark.sparkContext) if args.trace else None
        steal0 = tr.cpu_ticks()
        with tr.RssSampler() as rss:
            deadline = time.perf_counter() + args.seconds
            while True:
                wall, cpu = run_pass(wl, items, records, results, tracer)
                passes.append(wall)
                passes_cpu.append(cpu)
                if args.trace or time.perf_counter() >= deadline:
                    break
        steal1 = tr.cpu_ticks()
        if args.trace:  # layers the pass does not isolate, one at a time
            t = time.perf_counter()
            try:
                wl.probe_layers(spark, tracer)
                ok = True
            except Exception:  # noqa: BLE001 - a failed probe is a failed item
                traceback.print_exc()
                ok = False
            records.append(
                {"item": "probe_layers", "kind": "probe", "s": time.perf_counter() - t, "ok": ok}
            )

        # -- checks, outside the timed region ---------------------------------
        t_check = time.perf_counter()
        try:
            findings = wl.check(spark, results, full=bool(args.trace))
        except Exception as e:  # noqa: BLE001 - a crashed check is a failed one
            traceback.print_exc()
            findings = {it.name: f"check crashed: {e!r}" for it in items}
        check_s = time.perf_counter() - t_check
        stamp = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "rev": _source_rev(),
            "nproc": _cpus(),
            "inputs": inputs,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "graft_conf": {
                k: v for k, v in spark.sparkContext.getConf().getAll() if k.startswith("spark.graft.")
            },
            "spark_env": {k: v for k, v in os.environ.items() if k.startswith("SPARK_")},
            "passes": len(passes),
            "findings": findings,
            "check_s": check_s,
            # share of CPU time the hypervisor gave to others during the passes
            "steal_frac": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
            "setup_wall_s": setup_s,
            "setup_scaled_cpu_s": setup_cpu,
        }
    finally:
        jvm.stop()

    for r in records:
        if r["item"] in findings:
            r["ok"] = False
    attempted = len(records)
    failed = sum(not r["ok"] for r in records)
    # a workload without queries (roster_etl) takes its pipeline calls
    queries = [r for r in records if r["kind"] == "query"] or [
        r for r in records if r["kind"] == "pipeline"
    ]
    if args.trace:
        metrics = workloads.layer_metrics(
            wl, tracer, run_dir, session_s, passes[0], _untraced_pass_s(args.workload), len(items)
        )
        tracer.write(os.path.join(run_dir, "spans.json"))
    else:
        pass_s = statistics.median(passes)
        with open(HISTORY, "a", encoding="utf-8") as f:
            f.write(json.dumps({"workload": args.workload, "pass_s": pass_s}) + "\n")
        # Gated times are steal-scaled CPU seconds of the process tree
        # (tracing.CpuMeter): on this kind of machine wall time and raw CPU
        # time follow the host's load; the wall-clock figures are stamped.
        pass_cpu = statistics.median(passes_cpu)
        qcpu = [r["scaled_cpu_s"] for r in queries]
        values = {
            "setup_s": (statistics.median(setup_cpu), "s"),
            "pass_cpu_s": (pass_cpu, "s"),
            "rows_per_cpu_s": (wl.input_rows() / pass_cpu, "1/s"),
            "query_p50_cpu_s": (_percentile(qcpu, 50), "s"),
            "query_p90_cpu_s": (_percentile(qcpu, 90), "s"),
            # the median, not the peak: the peak jumps by gigabytes between
            # identical runs on short-lived spikes of the process tree
            "rss_mb": (rss.median / 2**20, "MB"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
        query_s = [r["s"] for r in queries]
        stamp["wall"] = {
            "pass_s": pass_s,
            "rows_per_s": wl.input_rows() / pass_s,
            "query_p50_s": _percentile(query_s, 50),
            "query_p90_s": _percentile(query_s, 90),
            "peak_rss_mb": rss.peak / 2**20,
        }
    stamp["run_s"] = time.perf_counter() - t_run
    stamp["query_samples"] = len(queries)
    stamp["fail_frac"] = failed / attempted if attempted else 1.0
    stamp["items"] = records
    with open(os.path.join(run_dir, "result.json"), "w", encoding="utf-8") as f:
        json.dump({"stamp": stamp, "metrics": metrics}, f, indent=1, default=str)
    for k in os.listdir(run_dir):
        if k.startswith(("input", "warehouse", "local", "tmp", "spark-warehouse")):
            shutil.rmtree(os.path.join(run_dir, k), ignore_errors=True)
    watchdog.cancel()

    summary = {k: stamp[k] for k in ("rev", "nproc", "seed", "inputs", "shuffle_partitions",
                                     "graft_conf", "passes", "query_samples", "fail_frac",
                                     "steal_frac", "findings")}
    summary["wall"] = stamp.get("wall")
    print("perfbench stamp: " + json.dumps(summary, default=str, ensure_ascii=False))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
