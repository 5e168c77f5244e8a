"""operators/graph.py — weighted fixed-K PageRank + fixed-K HITS.

The registered queries (graph_pagerank_trade, graph_hits_trade) are
oracle-checked against the unrolled DuckDB replays by
tests/test_queries_oracle.py; these tests pin the operators' semantics on
hand-computable graphs.
"""

from __future__ import annotations

import pytest

from demo_otel_parquet_antalya_spark.operators.graph import hits, pagerank


def _ranks(spark, rows, **kw):
    edges = spark.createDataFrame(rows, "src string, dst string, w double")
    out = pagerank(edges, weight="w", **kw)
    return {r.node: r.rank for r in out.collect()}


def test_two_cycle_is_uniform_fixpoint(spark):
    """A<->B is symmetric: the uniform distribution is exact at every k."""
    for k in (1, 5):
        r = _ranks(spark, [("A", "B", 1.0), ("B", "A", 1.0)], k=k)
        assert r["A"] == pytest.approx(0.5)
        assert r["B"] == pytest.approx(0.5)


def test_one_round_hand_computed(spark):
    """A->C, B->C, k=1: rank(C) = 0.15/3 + 0.85*(1/3 + 1/3); A and B keep
    only the teleport share; total mass short by the dangling drop."""
    r = _ranks(spark, [("A", "C", 1.0), ("B", "C", 1.0)], k=1)
    assert r["A"] == pytest.approx(0.05)
    assert r["B"] == pytest.approx(0.05)
    assert r["C"] == pytest.approx(0.15 / 3 + 0.85 * (2 / 3))
    # C is dangling: its round-0 mass (1/3) left the system, by contract
    assert sum(r.values()) == pytest.approx(1.0 - 0.85 * 1 / 3 + 0.85 * 0.0, abs=1e-9)


def test_weights_split_contribution(spark):
    """A splits 3:1 between B and C: after k=1 B gets 3x C's inflow."""
    r = _ranks(spark, [("A", "B", 3.0), ("A", "C", 1.0)], k=1)
    base = 0.15 / 3
    assert r["B"] == pytest.approx(base + 0.85 * (1 / 3) * 0.75)
    assert r["C"] == pytest.approx(base + 0.85 * (1 / 3) * 0.25)


def test_parallel_edges_collapse_to_weight_sum(spark):
    """Three unit A->B edges behave exactly like one weight-3 edge."""
    many = _ranks(
        spark, [("A", "B", 1.0), ("A", "B", 1.0), ("A", "B", 1.0), ("A", "C", 1.0)], k=2
    )
    one = _ranks(spark, [("A", "B", 3.0), ("A", "C", 1.0)], k=2)
    assert many == pytest.approx(one)


def test_deterministic_across_runs(spark):
    """Fixed-k contract: identical results run-to-run."""
    rows = [("A", "B", 1.0), ("B", "C", 2.0), ("C", "A", 1.0), ("A", "C", 0.5)]
    r1 = _ranks(spark, rows, k=6)
    r2 = _ranks(spark, rows, k=6)
    assert r1 == pytest.approx(r2, abs=1e-12)


def _hits(spark, rows, k):
    edges = spark.createDataFrame(rows, "src string, dst string")
    out = hits(edges, k=k)
    return {r.node: (r.hub, r.authority) for r in out.collect()}


def test_hits_two_cycle_uniform(spark):
    """A<->B is symmetric: hub = authority = 1/2 everywhere at every k."""
    for k in (1, 3):
        r = _hits(spark, [("A", "B"), ("B", "A")], k=k)
        assert r["A"] == pytest.approx((0.5, 0.5))
        assert r["B"] == pytest.approx((0.5, 0.5))


def test_hits_single_edge_roles(spark):
    """A->B: A is the pure hub, B the pure authority; the missing halves
    coalesce to exactly 0."""
    r = _hits(spark, [("A", "B")], k=2)
    assert r["A"] == pytest.approx((1.0, 0.0))
    assert r["B"] == pytest.approx((0.0, 1.0))


def test_hits_two_rounds_hand_computed(spark):
    """A->X, B->X, B->Y, k=2, hand-unrolled:
    r1: a = (X 2/3, Y 1/3); h = (A 2/5, B 3/5)
    r2: a = (X 5/8, Y 3/8); h = (A 5/13, B 8/13)"""
    r = _hits(spark, [("A", "X"), ("B", "X"), ("B", "Y")], k=2)
    assert r["X"] == pytest.approx((0.0, 5 / 8))
    assert r["Y"] == pytest.approx((0.0, 3 / 8))
    assert r["A"] == pytest.approx((5 / 13, 0.0))
    assert r["B"] == pytest.approx((8 / 13, 0.0))


def test_hits_duplicate_edges_collapse(spark):
    """The contract is the UNWEIGHTED distinct edge list: repeating an edge
    changes nothing."""
    once = _hits(spark, [("A", "X"), ("B", "X"), ("B", "Y")], k=2)
    thrice = _hits(
        spark,
        [("A", "X"), ("A", "X"), ("A", "X"), ("B", "X"), ("B", "Y"), ("B", "Y")],
        k=2,
    )
    for n in once:
        assert thrice[n] == pytest.approx(once[n])


def _tri(spark, rows):
    from demo_otel_parquet_antalya_spark.operators.graph import triangle_counts

    edges = spark.createDataFrame(rows, "src string, dst string")
    out = triangle_counts(edges)
    return {r.node: r.triangles for r in out.collect()}


def test_triangles_k3_and_k4(spark):
    """K3: every node in 1 triangle. K4: every node in C(3,2)=3."""
    k3 = _tri(spark, [("A", "B"), ("B", "C"), ("C", "A")])
    assert k3 == {"A": 1, "B": 1, "C": 1}
    nodes = ["A", "B", "C", "D"]
    k4 = _tri(
        spark, [(a, b) for i, a in enumerate(nodes) for b in nodes[i + 1 :]]
    )
    assert k4 == {n: 3 for n in nodes}


def test_triangles_none_on_path_and_star(spark):
    """Acyclic shapes have zero triangles, but every node still gets a row."""
    assert _tri(spark, [("A", "B"), ("B", "C"), ("C", "D")]) == {
        "A": 0, "B": 0, "C": 0, "D": 0,
    }
    assert _tri(spark, [("H", "X"), ("H", "Y"), ("H", "Z")]) == {
        "H": 0, "X": 0, "Y": 0, "Z": 0,
    }


def test_triangles_direction_duplicates_self_loops_collapse(spark):
    """The graph contract is undirected+simple: reversed and repeated edges
    and self-loops change nothing."""
    clean = _tri(spark, [("A", "B"), ("B", "C"), ("C", "A"), ("C", "D")])
    noisy = _tri(
        spark,
        [
            ("A", "B"), ("B", "A"), ("B", "C"), ("C", "B"), ("C", "A"),
            ("A", "C"), ("C", "D"), ("C", "D"), ("D", "D"),
        ],
    )
    assert noisy == clean == {"A": 1, "B": 1, "C": 1, "D": 0}


def test_triangles_two_overlapping(spark):
    """Diamond A-B-C-D with chord B-C: triangles ABC + BCD; the chord
    endpoints sit in both."""
    r = _tri(
        spark,
        [("A", "B"), ("A", "C"), ("B", "C"), ("B", "D"), ("C", "D")],
    )
    assert r == {"A": 1, "B": 2, "C": 2, "D": 1}


from itertools import combinations

from hypothesis import HealthCheck, given, settings, strategies as st


def _brute_triangles(edge_rows):
    adj: dict = {}
    for s, d in edge_rows:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    counts = {n: 0 for n in adj}
    for a, b, c in combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            counts[a] += 1
            counts[b] += 1
            counts[c] += 1
    return counts


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=0, max_value=7),
        ).map(lambda t: (f"n{t[0]}", f"n{t[1]}")),
        min_size=1,
        max_size=20,
    )
)
def test_triangles_match_bruteforce_property(spark, rows):
    """Degree-ordered wedge enumeration must count every triangle exactly
    once for ANY multigraph with loops/duplicates/reversals — the
    orientation trick is a perf strategy, not a semantics change."""
    rows = [r for r in rows if r[0] != r[1]]
    if not rows:
        return
    assert _tri(spark, rows) == _brute_triangles(rows)


def _kcore(spark, rows, k, rounds=6):
    from demo_otel_parquet_antalya_spark.operators.graph import k_core

    edges = spark.createDataFrame(rows, "src string, dst string")
    return {r.node: r.degree for r in k_core(edges, k=k, rounds=rounds).collect()}


def test_kcore_hand_graphs(spark):
    # K4 is a 3-core: everyone survives at degree 3
    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    assert _kcore(spark, k4, k=3) == {n: 3 for n in "abcd"}
    # ...and has an empty 4-core
    assert _kcore(spark, k4, k=4) == {}
    # a path has an empty 2-core (peeling cascades from both ends)
    path = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    assert _kcore(spark, path, k=2) == {}
    # triangle + pendant: the 2-core is exactly the triangle
    tri = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "x")]
    assert _kcore(spark, tri, k=2) == {"a": 2, "b": 2, "c": 2}
    # duplicate/reversed/self-loop edges collapse before peeling
    noisy = tri + [("b", "a"), ("a", "a"), ("b", "c")]
    assert _kcore(spark, noisy, k=2) == {"a": 2, "b": 2, "c": 2}


def test_kcore_matches_python_peel_on_random_graphs(spark):
    """Fixed-round Spark peeling must equal the classic run-to-fixpoint
    reference implementation once rounds cover the cascade depth."""
    import random

    rng = random.Random(17)
    for trial in range(4):
        n = 14
        edges = sorted(
            {
                (f"n{min(a, b)}", f"n{max(a, b)}")
                for a, b in (
                    (rng.randrange(n), rng.randrange(n)) for _ in range(30)
                )
                if a != b
            }
        )
        k = rng.choice([2, 3])
        # reference: peel to fixpoint
        adj = {}
        for u, v in edges:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        changed = True
        while changed:
            changed = False
            for node in [x for x in adj if len(adj[x]) < k]:
                for nb in adj.pop(node):
                    adj[nb].discard(node)
                changed = True
        want = {node: len(nbrs) for node, nbrs in adj.items()}
        assert _kcore(spark, edges, k=k, rounds=n) == want, (trial, k)


def _lpa(spark, rows, rounds=4):
    from demo_otel_parquet_antalya_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(rows, "src string, dst string")
    return {
        r.node: r.community
        for r in label_propagation(edges, rounds=rounds).collect()
    }


def test_lpa_two_bridged_triangles_form_two_communities(spark):
    """The case that separates LPA from connected components: two
    triangles joined by one bridge edge are ONE component but TWO
    propagation communities (the bridge label never outvotes a
    triangle's internal majority thanks to the self-vote)."""
    rows = [("a", "b"), ("b", "c"), ("a", "c"),
            ("d", "e"), ("e", "f"), ("d", "f"), ("c", "d")]
    got = _lpa(spark, rows)
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["d"] == got["e"] == got["f"] == "d"
    # and the assignment is a fixed point: more rounds change nothing
    assert _lpa(spark, rows, rounds=6) == got


def test_lpa_clique_and_path_converge_to_min_label(spark):
    k3 = [("a", "b"), ("b", "c"), ("a", "c")]
    assert _lpa(spark, k3, rounds=2) == {"a": "a", "b": "a", "c": "a"}
    path = [("a", "b"), ("b", "c")]
    assert _lpa(spark, path, rounds=4) == {"a": "a", "b": "a", "c": "a"}


def test_lpa_duplicate_and_reversed_edges_collapse(spark):
    rows = [("a", "b"), ("b", "a"), ("a", "b"), ("a", "a")]
    assert _lpa(spark, rows, rounds=2) == {"a": "a", "b": "a"}

# ---------------------------------------------------------------------------
# The two iteration shapes: under the derived broadcast limit the per-round
# state table is BROADCAST into the edge frame; above it the edge list is
# persist()ed hash-partitioned on the per-round join key and the state
# enters via shuffle_hash. The limit is derived from the session's
# autoBroadcastJoinThreshold, so the broadcast_disabled fixture forces the
# partitioned path. Both paths must compute the identical result, and the
# partitioned path's round joins must actually BE shuffled-hash against the
# preserved layout — a localCheckpoint'ed edge frame would lose its
# partitioning and silently re-exchange and re-sort the edges every round.


_PATH_ROWS = [
    ("A", "B"), ("B", "C"), ("C", "A"), ("A", "C"), ("D", "A"),
    ("E", "B"), ("C", "D"), ("B", "D"), ("E", "A"), ("D", "E"),
]


def test_pagerank_partitioned_state_path_matches_broadcast_path(
    spark, broadcast_disabled
):
    rows = [(s, d, 1.0 + i % 3) for i, (s, d) in enumerate(_PATH_ROWS)]
    small = _ranks(spark, rows, k=4)
    with broadcast_disabled():
        big = _ranks(spark, rows, k=4)
    assert big == pytest.approx(small, abs=1e-12)


def test_hits_partitioned_state_path_matches_broadcast_path(
    spark, broadcast_disabled
):
    edges = spark.createDataFrame(_PATH_ROWS, "src string, dst string")
    small = {r.node: (r.hub, r.authority) for r in hits(edges, k=3).collect()}
    with broadcast_disabled():
        big = {r.node: (r.hub, r.authority) for r in hits(edges, k=3).collect()}
    for n in small:
        assert big[n] == pytest.approx(small[n], abs=1e-12)


def test_lpa_partitioned_state_path_matches_broadcast_path(
    spark, broadcast_disabled
):
    from demo_otel_parquet_antalya_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(_PATH_ROWS, "src string, dst string")
    small = {r.node: r.community for r in label_propagation(edges).collect()}
    with broadcast_disabled():
        big = {r.node: r.community for r in label_propagation(edges).collect()}
    assert big == small


def test_round_join_shapes(spark, broadcast_disabled):
    """Broadcast path: the state join is BroadcastHashJoin. Partitioned
    path: ShuffledHashJoin probing the persist()ed layout
    (InMemoryTableScan) — the partitioning-preserving shape, not a
    re-exchanged SortMergeJoin. Asserted on one half-step run through the
    iteration driver, whose plan the step records before the driver cuts
    it (the operators' returned plans are cut off the round joins by the
    final state checkpoints)."""
    import pyspark.sql.functions as F

    from demo_otel_parquet_antalya_spark.operators.graph import _iterate

    e = (
        spark.createDataFrame(_PATH_ROWS, "src string, dst string")
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = e.select(F.col("src").alias("node")).distinct()
    state = nodes.select("node", F.lit(1.0).alias("s"))
    plans = []

    def half_step(state, loop, i):
        layout = loop.edges[0]
        out = (
            layout.join(loop.side(state), layout.src == state.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("s").alias("s"))
        )
        plans.append(out._jdf.queryExecution().executedPlan().toString())
        return out

    def one_round():
        # label_propagation's layout choice: keyed by the half-step's
        # AGGREGATE key (dst) when the state broadcasts, by its join key
        # (src) when it is partitioned
        _iterate(
            nodes, "node", state, 1, half_step, edges=e, by=("src",), small_by=("dst",)
        )
        return plans.pop()

    cache = spark._jsparkSession.sharedState().cacheManager()
    cache.clearCache()

    # broadcast path: the state broadcasts and the keyed sum needs NO
    # exchange at all — the whole round is InMemoryTableScan -> BHJ -> agg
    # (pagerank/HITS ask for no layout on this path: their per-round
    # exchange is node-sized partials, where the layout is a loss)
    small_plan = one_round()
    assert cache.isEmpty()
    assert "BroadcastHashJoin" in small_plan
    assert "SortMergeJoin" not in small_plan
    assert "InMemoryTableScan" in small_plan
    # nothing between the keyed aggregate (plan top) and the layout scan
    # may exchange: the whole round is agg -> BHJ -> cached scan
    # (Exchanges deeper down — inside the InMemoryRelation's stored build
    # plan or under the state-side BroadcastExchange — are the one-time
    # layout/broadcast costs, not per-round shuffles)
    s_lines = small_plan.splitlines()
    s_scan_at = next(i for i, l in enumerate(s_lines) if "InMemoryTableScan" in l)
    spine = s_lines[:s_scan_at]
    assert not any("Exchange hashpartitioning" in l for l in spine), spine

    with broadcast_disabled():
        big_plan = one_round()
    assert cache.isEmpty()
    assert "ShuffledHashJoin" in big_plan
    assert "InMemoryTableScan" in big_plan
    assert "SortMergeJoin" not in big_plan
    # the central invariant: the persisted edge side streams into the join
    # with NO re-exchange or sort — nothing but row-level ops may sit
    # between the join and its InMemoryTableScan (an Exchange here would
    # silently reintroduce the full per-round edge shuffle this shape
    # exists to eliminate, e.g. via a future
    # canChangeCachedPlanOutputPartitioning or AQE coalescing change)
    lines = big_plan.splitlines()
    join_at = next(i for i, l in enumerate(lines) if "ShuffledHashJoin" in l)
    scan_at = next(
        i for i, l in enumerate(lines[join_at:], join_at) if "InMemoryTableScan" in l
    )
    between = lines[join_at + 1 : scan_at]
    assert not any("Exchange" in l or "Sort" in l for l in between), between


def test_big_path_releases_the_persisted_layouts(spark, broadcast_disabled):
    """The big path must not leak CacheManager entries: after the returned
    frame is materialized, no layout persisted by the call remains cached
    (persist()ed frames are NOT freed by GC, unlike checkpointed RDDs)."""
    from demo_otel_parquet_antalya_spark.operators.dedup import connected_components
    from demo_otel_parquet_antalya_spark.operators.graph import (
        k_core,
        label_propagation,
    )

    # the CacheManager tracks df.persist() entries (localCheckpoint RDDs
    # live in getPersistentRDDs instead and ARE ContextCleaner-freed)
    cache = spark._jsparkSession.sharedState().cacheManager()
    cache.clearCache()
    edges = spark.createDataFrame(_PATH_ROWS, "src string, dst string")
    pairs = spark.createDataFrame(_PATH_ROWS, "id_a string, id_b string")
    with broadcast_disabled():
        hits(edges, k=2).collect()
        _ranks(spark, [(s, d, 1.0) for s, d in _PATH_ROWS], k=2)
        label_propagation(edges, rounds=2).collect()
        connected_components(pairs).collect()
        k_core(edges, k=2, rounds=2).collect()
    assert cache.isEmpty()
    # label_propagation persists a layout on the broadcast path too
    label_propagation(edges, rounds=2).collect()
    assert cache.isEmpty()


def test_driver_releases_layouts_when_a_round_fails(spark, broadcast_disabled):
    """A step that raises mid-loop must not leave its layouts cached: the
    driver owns their release on every exit, not just on success."""
    import pyspark.sql.functions as F

    from demo_otel_parquet_antalya_spark.operators.graph import _iterate

    e = spark.createDataFrame(_PATH_ROWS, "src string, dst string")
    nodes = e.select(F.col("src").alias("node")).distinct()

    def boom(state, loop, i):
        assert len(loop.edges) == 2 and not loop.small
        raise RuntimeError("round failed")

    cache = spark._jsparkSession.sharedState().cacheManager()
    cache.clearCache()
    with broadcast_disabled(), pytest.raises(RuntimeError, match="round failed"):
        _iterate(nodes, "node", nodes, 3, boom, edges=e, by=("src", "dst"))
    assert cache.isEmpty()
    # a layout whose own materialization fails is released too
    bad = e.withColumn(
        "x", F.when(F.col("src") == "E", F.raise_error(F.lit("layout failed")))
    )
    with broadcast_disabled(), pytest.raises(Exception, match="layout failed"):
        _iterate(nodes, "node", nodes, 3, boom, edges=bad, by=("src", "dst"))
    assert cache.isEmpty()


def test_kcore_partitioned_state_path_matches_broadcast_path(
    spark, broadcast_disabled
):
    from demo_otel_parquet_antalya_spark.operators.graph import k_core

    edges = spark.createDataFrame(_PATH_ROWS, "src string, dst string")
    small = {r.node: r.degree for r in k_core(edges, k=2, rounds=4).collect()}
    with broadcast_disabled():
        big = {r.node: r.degree for r in k_core(edges, k=2, rounds=4).collect()}
    assert big == small


def test_derived_broadcast_state_max_brackets_the_measured_crossover(spark):
    """r12 (VERDICT r11 #4): the broadcast-vs-partitioned crossover derives
    from state bytes vs the session's own autoBroadcastJoinThreshold, not
    a box-measured node constant. At the stock 10 MiB threshold on one
    executor the derived limit must classify BOTH r11 bracketing points
    correctly — 48k nodes (broadcast measured faster) and 160k nodes
    (partitioned measured faster) — for realistic key widths; a disabled
    threshold means never broadcast; size-string conf forms parse."""
    from pyspark.sql import functions as F

    from demo_otel_parquet_antalya_spark.operators.graph import (
        _pick_small,
        derived_broadcast_state_max,
    )

    for key_bytes in (8.0, 20.0):  # bigint ids / short string ids
        limit = derived_broadcast_state_max(spark, key_bytes)
        assert 48_000 < limit < 160_000, (key_bytes, limit)

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert derived_broadcast_state_max(spark) == 0
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1m")
        assert 0 < derived_broadcast_state_max(spark, 8.0) < 20_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    # _pick_small: one fused job, fixed-width vs variable-width key stats
    longs = spark.range(10).select(F.col("id").alias("node"))
    n, small = _pick_small(longs, "node")
    assert (n, small) == (10, True)
    strs = longs.select(F.col("node").cast("string").alias("node"))
    n, small = _pick_small(strs, "node")
    assert (n, small) == (10, True)


def test_derived_limit_floors_executor_count_under_dynamic_allocation(
    spark, monkeypatch
):
    """r13 (VERDICT r12 #6): under dynamic allocation the registered
    executor count can read LOW at job start, which RAISES the derived
    limit — the unsafe direction. With a declared scaling ceiling
    (maxExecutors, else executor.instances) the derivation must size
    against the ceiling: the limit SHRINKS by that factor. An unset /
    infinity-default ceiling and a disabled dynamicAllocation keep the
    registered-count behavior. dynamicAllocation.* are core (non-SQL)
    confs a live session cannot .set(), so the conf reads are mocked —
    which is also what lets the test pin exact factors."""
    from demo_otel_parquet_antalya_spark.operators.graph import (
        derived_broadcast_state_max,
    )

    base = derived_broadcast_state_max(spark, 8.0)
    assert base > 0  # local mode, stock threshold

    overrides = {}
    real_get = spark.conf.get

    def fake_get(key, default=None):
        if key in overrides:
            return overrides[key]
        return real_get(key, default)

    # SparkSession.conf is a cached RuntimeConfig, so patching the
    # instance is what derived_broadcast_state_max sees
    monkeypatch.setattr(spark.conf, "get", fake_get)

    overrides["spark.dynamicAllocation.enabled"] = "true"
    # no ceiling declared: behavior unchanged
    assert derived_broadcast_state_max(spark, 8.0) == base
    # Spark's literal infinity default is NOT a cluster-size statement
    overrides["spark.dynamicAllocation.maxExecutors"] = str(2**31 - 1)
    assert derived_broadcast_state_max(spark, 8.0) == base
    # a declared ceiling floors the executor count -> the limit shrinks
    overrides["spark.dynamicAllocation.maxExecutors"] = "25"
    assert derived_broadcast_state_max(spark, 8.0) == base // 25
    # maxExecutors wins over executor.instances when both are set
    overrides["spark.executor.instances"] = "100"
    assert derived_broadcast_state_max(spark, 8.0) == base // 25
    # ...and instances is the fallback when maxExecutors is unparseable
    overrides["spark.dynamicAllocation.maxExecutors"] = "infinity"
    assert derived_broadcast_state_max(spark, 8.0) == base // 100
    # dynamicAllocation off: ceilings are ignored entirely
    overrides["spark.dynamicAllocation.enabled"] = "false"
    assert derived_broadcast_state_max(spark, 8.0) == base
