"""Graph analytics over relational edge lists: weighted PageRank, HITS,
triangle counts, k-core peeling and label propagation.

Complements ``dedup.connected_components`` (the other iterative graph
operator): CC answers "which nodes belong together", PageRank answers
"which nodes matter" — e.g. document centrality inside near-dup clusters,
or supplier importance in an order-flow graph, the classic
quality-weighting signal for training-data curation (PageRank: Page,
Brin, Motwani, Winograd 1999).

Scale shape: one edge-list equi-join + one keyed aggregation per
iteration, with the iteration count FIXED (not convergence-tested) so the
result is a deterministic function of the edge list — which is what lets
a relational oracle replay it as K unrolled join+aggregate rounds. The
rounds run through the iteration driver below, as do the other loops and
the CC loop; the edge frame and out-degree table are computed once.

Semantics (standard damped PageRank on a WEIGHTED directed graph):
  rank_0(n)   = 1 / N
  rank_i+1(n) = (1 - d) / N + d * sum_{(s -> n) in E} rank_i(s) * w(s, n) / out_w(s)
where out_w(s) is s's total outgoing weight and N the number of distinct
nodes (union of sources and destinations). Dangling-node mass (nodes with
no out-edges) is dropped, not redistributed — the simplest published
variant; the oracle mirrors it exactly.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# The iterative operators (pagerank, hits, k_core, label_propagation and
# dedup.connected_components) all run through _iterate, which makes the
# four choices they share:
#
# - Where the per-round state lives. The state table (ranks, scores,
#   labels) has one row per node. While it is small it is BROADCAST into
#   the static edge frame: no edge-side exchange and no second copy of the
#   edges. Past that size a broadcast per half-step costs more than
#   shuffling the node-sized state once, so the edge list is
#   hash-partitioned on the round's join key and persist()ed. An
#   InMemoryTableScan reports its child's outputPartitioning, so every
#   round's shuffled-hash join streams the layout with no edge-side
#   exchange or sort. localCheckpoint cannot serve here: a checkpointed
#   frame scans back with UnknownPartitioning, and every round would
#   re-exchange and re-sort the full edge list. _pick_small chooses from
#   the node count and the session's spark.sql.autoBroadcastJoinThreshold
#   (derived_broadcast_state_max); nothing else selects the path.
# - How long the edge layouts live. A persist()ed frame is a CacheManager
#   entry that outlives the DataFrame (checkpointed RDDs are freed by the
#   ContextCleaner, cache entries are not), so the driver releases every
#   layout it built, whether the loop finishes or fails.
# - When lineage is cut. An eager localCheckpoint stops the plan from
#   growing with the round count; each loop states its cadence at the call
#   site. While layouts are held the last round is always cut, so the
#   returned plan never reads a released layout.
# - When to stop. Fixed-round loops run every round, because their
#   relational oracles replay exactly that many; connected_components stops
#   at the first round that leaves its label multiset unchanged.

# In-memory + build overhead per broadcast-hash-relation entry beyond the
# key/value payload: the UnsafeRow object + BytesToBytesMap entry pointers
# + load-factor slack. 64 B is deliberately conservative (Spark's own
# relation builds run ~40-80 B/entry depending on key type); with the
# +8 B score and 8-20 B keys it puts the stock-conf single-executor
# crossover at ~120-130k nodes, between the measured bracketing points
# (48k nodes: broadcast faster; 160k nodes: partitioned faster).
HASH_RELATION_ROW_BYTES = 64

# UnsafeRow fixed-width types: 8 bytes in the row regardless of rendered
# string length (octet_length of the cast would overestimate a bigint id)
_FIXED_WIDTH_8 = frozenset(
    {"tinyint", "smallint", "int", "bigint", "float", "double", "date", "timestamp"}
)


def derived_broadcast_state_max(spark, avg_key_bytes: float = 8.0) -> int:
    """Max node count whose per-round state table still broadcasts
    profitably, derived from the session instead of a box constant:

      threshold_bytes / ((HASH_RELATION_ROW_BYTES + avg_key_bytes + 8)
                         × executor_count)

    Node count is only a proxy for state bytes against broadcast cost, so
    the limit is stated in bytes. ``spark.sql.autoBroadcastJoinThreshold``
    is the cluster's own stated judgment of how large a broadcast relation
    may be; a disabled threshold (<= 0) is honored — the operator never
    broadcasts state the planner was told not to. Executor count scales
    the allowance down because every executor receives a full copy of the
    per-round state while the partitioned-layout alternative moves it
    across the cluster once — on a 100-executor cluster the derived limit
    is 100× smaller, which errs toward the scale-safe partitioned path.
    At the stock 10 MiB threshold on one executor it is ~131k nodes: 48k
    nodes / 1.8M edges measured faster broadcast (5.5 s vs 9.7 s), 160k
    nodes / 4.4M edges faster partitioned (12.1 s vs 15.5 s)."""
    raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try:
        thresh = int(raw)
    except ValueError:
        jvm = spark.sparkContext._jvm
        thresh = int(
            jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
        )
    if thresh <= 0:
        return 0
    # executor JVM count; local mode reports only the driver entry -> 1
    n_exec = max(
        1, spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size() - 1
    )
    # Dynamic-allocation floor: at job start an autoscaling cluster's
    # REGISTERED count can read low (executors not yet granted), which
    # RAISES the derived limit — the unsafe direction, because the
    # broadcast lands on every executor the cluster scales up to. When the
    # session declares a scaling ceiling, size against it instead of the
    # momentary registration; a ceiling left at Spark's infinity default
    # is ignored (it is not a statement about cluster size). Static
    # clusters and local mode are unaffected.
    if (
        str(spark.conf.get("spark.dynamicAllocation.enabled", "false")).lower()
        == "true"
    ):
        for key in (
            "spark.dynamicAllocation.maxExecutors",
            "spark.executor.instances",
        ):
            declared = spark.conf.get(key, None)
            try:
                ceiling = int(declared)
            except (TypeError, ValueError):
                continue
            if 0 < ceiling < 2**31 - 1:  # set, finite (not the Int.MaxValue default)
                n_exec = max(n_exec, ceiling)
                break
    row_bytes = HASH_RELATION_ROW_BYTES + avg_key_bytes + 8.0
    return int(thresh // (row_bytes * n_exec))


def _pick_small(nodes: DataFrame, key: str) -> tuple[int, bool]:
    """(node count, broadcast the state?) from ONE aggregate job over the
    node-sized frame: the node count, fused with the average UnsafeRow key
    width that derived_broadcast_state_max turns into a node limit."""
    dt = dict(nodes.dtypes).get(key)
    if dt in _FIXED_WIDTH_8:
        width = F.lit(8.0)
    else:
        # variable-width: 8 B offset/len word + the encoded bytes
        width = F.octet_length(F.col(key).cast("string")) + F.lit(8.0)
    row = nodes.agg(F.count("*").alias("n"), F.avg(width).alias("w")).first()
    n_nodes = int(row.n)
    limit = derived_broadcast_state_max(
        nodes.sparkSession, float(row.w) if row.w is not None else 8.0
    )
    return n_nodes, n_nodes <= limit


def _multiset_hash(col: str):
    # xxhash64 is type-agnostic (ids may be strings, which a numeric cast
    # would throw on or null under ANSI), and a decimal(38,0) sum of 64-bit
    # hashes cannot overflow at corpus scale
    return F.sum(F.xxhash64(col).cast("decimal(38,0)"))


class _Loop(NamedTuple):
    """What _iterate decided, handed to every step: the node count,
    whether the state broadcasts, and the edge frames the steps join (the
    persisted layouts in the order asked for, else the given frame)."""

    n_nodes: int
    small: bool
    edges: tuple

    def side(self, state: DataFrame) -> DataFrame:
        """How the state table enters an edge join: broadcast when small;
        else a shuffle_hash hint — build the per-partition hash from the
        node-sized state and stream the partition-aligned layout, sorting
        neither side."""
        return F.broadcast(state) if self.small else state.hint("shuffle_hash")


def _iterate(
    nodes: DataFrame,
    key: str,
    state,
    rounds: int,
    *steps,
    every: int = 1,
    edges: DataFrame | None = None,
    by: tuple[str, ...] = (),
    small_by: tuple[str, ...] = (),
    cut_last: bool = False,
    converge: str | None = None,
):
    """Run up to ``rounds`` rounds of ``steps`` from ``state``; return the
    last round's step outputs, then the _Loop.

    ``nodes``/``key``: the node-sized frame the broadcast choice is made
    on (one aggregate job, _pick_small).

    ``edges``/``by``/``small_by``: the static edge frame, and the keys to
    persist a hash layout of it on for the partitioned / broadcast path.
    The key is the round's JOIN key on the partitioned path, so the state
    shuffles into the layout and the edges never move. On the broadcast
    path the probe side's layout is irrelevant to the join, so a layout
    pays only when the round's aggregate key is edge-cardinality
    (label_propagation's votes: the keyed counts run exchange-free); where
    the exchange it would remove is node-sized partials (pagerank, HITS)
    or the edge frame is a sliver (connected_components) it costs a
    repartition job and near-empty tasks every round, so those loops ask
    for none. With no keys the steps join ``edges`` itself.

    ``steps``: each is called as step(frame, loop, i) with the previous
    step's output — the previous round's last output for the first — and
    returns the next frame. HITS passes one step per half-round.

    Cuts: the round's last output every ``every`` rounds, except the last
    round, which is cut when ``cut_last`` (the result reads it more than
    once) or — every step's output, before the next step reads it — while
    layouts are held. ``converge`` names a label column: each round's
    output carries an observed hash sum of that column's values, it is
    cut, and the loop stops at the first round that leaves the sum
    unchanged; an empty initial state runs no round, so no metric is ever
    awaited on a frame that AQE could prune away."""
    n_nodes, small = _pick_small(nodes, key)
    if converge is not None:
        prev = state.agg(_multiset_hash(converge)).first()[0]
        if prev is None:
            return state, _Loop(n_nodes, small, ())
    layouts = []
    try:
        for col in small_by if small else by:
            layouts.append(edges.repartition(col).persist(StorageLevel.MEMORY_AND_DISK))
            layouts[-1].count()  # materialize now: rounds reuse it, never recompute
        loop = _Loop(n_nodes, small, tuple(layouts) or (edges,) * max(1, len(by)))
        outs = [state]
        for i in range(rounds):
            last = i + 1 == rounds
            outs = []
            for j, step in enumerate(steps, 1):
                state = step(state, loop, i)
                end = j == len(steps)
                if end and converge is not None:
                    obs = Observation(f"round_{i}")
                    state = state.observe(obs, _multiset_hash(converge).alias("s"))
                if (
                    last and layouts
                    or end and converge is not None
                    or end and (i + 1) % every == 0 and (cut_last or not last)
                ):
                    state = state.localCheckpoint(eager=True)
                outs.append(state)
            if converge is not None:
                now = obs.get["s"]
                if now == prev:
                    break
                prev = now
        return (*outs, loop)
    finally:
        for layout in layouts:
            layout.unpersist()


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    k: int = 6,
    damping: float = 0.85,
) -> DataFrame:
    """(node, rank) after exactly ``k`` damped power-iteration rounds.

    ``edges`` is a directed edge list; ``weight`` (optional) weights each
    edge's contribution, default 1.0. Parallel edges are legal (their
    weights add). Deterministic given the edge list: fixed iteration
    count, no convergence test — by design, so relational oracles can
    replay the exact computation. While the node count is under the
    derived broadcast limit the contrib table is broadcast into the
    canonical edge frame each round; above it the edge list is
    persist()ed hash-partitioned on ``src`` and each round
    shuffle-hash-joins the contrib table into that layout — both paths
    compute the identical result (see _iterate). ``k=0`` returns rank_0,
    1/N for every node.
    """
    if k < 0:
        raise ValueError(f"pagerank needs k >= 0 rounds, got {k}")
    e = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        (F.col(weight) if weight else F.lit(1.0)).cast("double").alias("w"),
    )
    # collapse parallel edges once so every iteration joins the minimal
    # list; the out-weight normalization references the collapsed frame
    # twice in ONE plan — the collapse EXCHANGE is computed once
    # (ReusedExchange; the aggregate above it still evaluates per branch,
    # which is CPU only — the upstream edges source is never re-scanned
    # while exchange reuse holds), and the checkpoint after the join is
    # the single materialization every round reuses
    e = e.groupBy("src", "dst").agg(F.sum("w").alias("w"))
    out_w = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    e = (
        e.join(out_w, "src")
        .select("src", "dst", (F.col("w") / F.col("out_w")).alias("p"))
        .localCheckpoint(eager=True)
    )

    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    # Per round, only the CONTRIB table (dst, c) is materialized; a node's
    # rank is reconstructed inline as base + damping * coalesce(c, 0)
    # wherever needed (sources with no in-edges have c = NULL -> the
    # teleport share). This halves the joins per round vs materializing a
    # full (node, rank) frame: one edges-left-join-contrib + one keyed sum.
    def rank_of(c_col, n_nodes):
        base = (1.0 - damping) / n_nodes
        return F.lit(base) + F.lit(damping) * F.coalesce(c_col, F.lit(0.0))

    def step(contrib, loop, i):
        e = loop.edges[0]
        if contrib is None:
            joined = e.withColumn("rank", F.lit(1.0 / loop.n_nodes))
        else:
            joined = e.join(
                loop.side(contrib), e.src == contrib.node_c, "left"
            ).withColumn("rank", rank_of(F.col("c"), loop.n_nodes))
        return (
            joined.select("dst", (F.col("rank") * F.col("p")).alias("cc"))
            .groupBy("dst")
            .agg(F.sum("cc").alias("c"))
            .select(F.col("dst").alias("node_c"), "c")
        )

    # Cut every 3 rounds: with numeric keys and contrib-only rounds, three
    # rounds in one plan run the same exchanges (each shuffle or broadcast
    # is still its own AQE stage, so nothing is evaluated twice) while
    # dropping two materialization barriers per cut — at sf0.1 26 -> 18
    # jobs and 2.54 -> 1.72-1.87 s. Six rounds per cut saves six more jobs
    # but the deeper plan takes measurably longer to plan on a first run.
    contrib, loop = _iterate(
        nodes, "node", None, k, step, every=3, edges=e, by=("src",)
    )
    if contrib is None:  # k == 0: no round ran
        return nodes.select("node", F.lit(1.0 / loop.n_nodes).alias("rank"))
    return nodes.join(contrib, nodes.node == contrib.node_c, "left").select(
        "node", rank_of(F.col("c"), loop.n_nodes).alias("rank")
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 4,
) -> DataFrame:
    """(node, hub, authority) after exactly ``k`` HITS rounds (Kleinberg
    1999, "Authoritative sources in a hyperlinked environment") on the
    UNWEIGHTED distinct edge list.

    Per round: authority(v) = sum of hub over in-edges, then hub(u) = sum
    of authority over out-edges; the published per-half-step L1
    normalization is DEFERRED to a single final division — each half-step
    is linear and L1 normalization is a scalar multiple, so intermediate
    normalizers cancel out of the next normalized iterate (x/||x|| is
    scale-invariant); the final normalized (hub, authority) are identical
    in exact arithmetic, and doubles don't overflow for any realistic k
    (mass grows ~avg-degree per half-step: degree 1e4, k=4 -> ~1e32 <<
    DBL_MAX). This removes every per-round normalizer aggregate, which
    would otherwise add a materialized frame per half-step.

    Fixed iteration count ``k >= 1`` (one round makes both scores),
    hub_0 = 1.0 — deterministic, so a relational
    oracle replays it as k unrolled raw join+aggregate rounds plus one
    final normalization. Nodes with no out-edges have hub 0, no in-edges
    authority 0 (coalesced at the end).

    Scale shape identical to pagerank's rounds: under the derived
    broadcast limit the score tables are broadcast into ONE canonical
    edge frame (no dst layout needed — a broadcast join ignores the probe
    side's layout); above it the edge list is persist()ed twice
    (hash-partitioned on src and on dst) and each half-step
    shuffle-hash-joins only the score table into the matching layout.
    Lineage is cut after each round's hub half-step.
    """
    if k < 1:
        raise ValueError(f"hits needs k >= 1 rounds, got {k}")
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def half_step(layout, state, loop, on, to):
        # sum the state score over the layout's ``on`` endpoint into ``to``
        return (
            layout.join(loop.side(state), layout[on] == state.node)
            .groupBy(F.col(to).alias("node"))
            .agg(F.sum("s").alias("s"))
        )

    def authority(h, loop, i):
        return half_step(loop.edges[0], h, loop, "src", "dst")

    def hub(a, loop, i):
        return half_step(loop.edges[1], a, loop, "dst", "src")

    a, h, _ = _iterate(
        nodes,
        "node",
        nodes.select("node", F.lit(1.0).alias("s")),
        k,
        authority,
        hub,
        edges=e,
        by=("src", "dst"),
    )

    def _l1(scores: DataFrame, out: str) -> DataFrame:
        # one final normalization per score family: 1-row broadcast
        # aggregate crossJoin, the repo's standard global-scalar shape
        tot = scores.agg(F.sum("s").alias("_tot"))
        return scores.crossJoin(F.broadcast(tot)).select(
            F.col("node").alias(f"{out[0]}n"), (F.col("s") / F.col("_tot")).alias(out)
        )

    return (
        nodes.join(_l1(h, "hub"), nodes.node == F.col("hn"), "left")
        .join(_l1(a, "authority"), nodes.node == F.col("an"), "left")
        .select(
            "node",
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
            F.coalesce("authority", F.lit(0.0)).alias("authority"),
        )
    )


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, triangles) over the UNDIRECTED simple graph induced by
    ``edges`` (direction, duplicates, and self-loops are collapsed/dropped
    first): the number of triangles each node participates in — the
    cliqueness counterpart to ``connected_components``' membership and
    ``dedup_cluster_density``'s edge-ratio verdict. Nodes in the graph with
    no triangle get an explicit 0 row.

    Scale shape: the classic degree-ordered orientation (each undirected
    edge points from its lower (degree, node) endpoint to the higher) makes
    the wedge self-join enumerate each triangle exactly once from its
    lowest-order apex, and bounds per-vertex wedge fan-out by the oriented
    out-degree <= O(sqrt(m)) — total work O(m^1.5) independent of hub
    degrees, the MPC-standard bound. Three equi-joins + one keyed count;
    no window, nothing collected.
    """
    u, v = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    e = (
        edges.where(F.col(src) != F.col(dst))
        .select(u.alias("u"), v.alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # orient each edge by the (deg, node) total order; carry the head's
    # order key so the wedge join can keep its two heads strictly ordered
    # (every wedge — hence every triangle — enumerated exactly once)
    du, dv = deg.alias("du"), deg.alias("dv")
    u_key = F.struct(F.col("du.deg").alias("d"), F.col("u").alias("n"))
    v_key = F.struct(F.col("dv.deg").alias("d"), F.col("v").alias("n"))
    eo = (
        e.join(du, e.u == F.col("du.node"))
        .join(dv, e.v == F.col("dv.node"))
        .select(
            F.when(
                u_key < v_key,
                F.struct(
                    F.col("u").alias("lo"),
                    F.col("v").alias("hi"),
                    v_key.alias("hi_key"),
                ),
            )
            .otherwise(
                F.struct(
                    F.col("v").alias("lo"),
                    F.col("u").alias("hi"),
                    u_key.alias("hi_key"),
                )
            )
            .alias("o")
        )
        .select("o.lo", "o.hi", "o.hi_key")
        .localCheckpoint(eager=True)
    )
    x, y = eo.alias("x"), eo.alias("y")
    wedges = x.join(
        y,
        (F.col("x.lo") == F.col("y.lo")) & (F.col("x.hi_key") < F.col("y.hi_key")),
    ).select(
        F.col("x.lo").alias("a"), F.col("x.hi").alias("b"), F.col("y.hi").alias("c")
    )
    tri = wedges.join(
        e,
        (F.least("b", "c") == e.u) & (F.greatest("b", "c") == e.v),
    ).select("a", "b", "c")
    per_node = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )
    return (
        deg.select("node")
        .join(per_node, "node", "left")
        .select("node", F.coalesce("triangles", F.lit(0)).alias("triangles"))
    )


def k_core(
    edges: DataFrame,
    k: int = 3,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 6,
) -> DataFrame:
    """(node, degree) for the nodes surviving ``rounds`` peel iterations
    of the k-core reduction on the UNDIRECTED simple graph (direction,
    duplicates, self-loops collapsed/dropped): each round removes every
    node whose current degree is < ``k`` and the edges touching it — the
    standard core-decomposition step (Seidman 1983, "Network structure
    and minimum degree") that separates a dedup/linkage graph's dense
    core from its periphery, one level finer than triangle counts.

    The iteration count is FIXED (not convergence-tested), the same
    oracle-replay discipline as ``pagerank``/``hits``: the result after R
    rounds is a deterministic function of the edge list, so a relational
    oracle unrolls R degree-filter-semijoin rounds and must match
    exactly. Peeling is monotone (the surviving set only shrinks), so a
    converged round is a no-op and extra rounds never change the result;
    ``rounds`` ~ O(log n) suffices for typical graphs because peel
    cascades shorten geometrically, and the converged fixpoint IS the
    true k-core.

    Scale shape: per round one keyed degree aggregate + one semi-join per
    endpoint against the node-sized survivor set, each on a monotonically
    SHRINKING edge frame (work decays with the periphery); lineage is cut
    every round, the last included, because the result reads the final
    edge frame twice. Under the derived broadcast limit the survivor set
    is pinned broadcast (the edge frame never shuffles for the joins);
    above it the joins are left UNHINTED and no layout is persisted — the
    edge frame is rebuilt each round so a layout cannot amortize here the
    way the fixed-edge loops' can, and a shuffle_hash hint measured
    SLOWER at 10x/100x than letting AQE convert the join itself: the
    survivor set usually shrinks under the runtime broadcast threshold,
    and the hint would pin the join to a shuffle AQE knows it can skip.
    No windows, nothing collected.
    """
    u, v = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    e = (
        edges.where(F.col(src) != F.col(dst))
        .select(u.alias("u"), v.alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def degrees(frame: DataFrame) -> DataFrame:
        return (
            frame.select(F.col("u").alias("node"))
            .unionAll(frame.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )

    # the broadcast decision needs the node stats, and round 1 needs the
    # degree table — ONE checkpointed frame answers both (a separate
    # distinct+count pass would cost an extra full-edge job)
    deg0 = degrees(e).localCheckpoint(eager=True)

    def step(e, loop, i):
        deg = deg0 if i == 0 else degrees(e)
        keep = deg.filter(F.col("deg") >= k).select("node")
        keep_u = keep.withColumnRenamed("node", "u")
        keep_v = keep.withColumnRenamed("node", "v")
        if loop.small:
            keep_u, keep_v = F.broadcast(keep_u), F.broadcast(keep_v)
        return e.join(keep_u, "u", "semi").join(keep_v, "v", "semi").select("u", "v")

    e, _ = _iterate(deg0, "node", e, rounds, step, cut_last=True)
    return (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
        .filter(F.col("degree") >= k)
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 4,
) -> DataFrame:
    """(node, community) after exactly ``rounds`` synchronous label-
    propagation iterations (Raghavan-Albert-Kumara 2007) on the
    UNDIRECTED simple graph: label_0(v) = v; each round every node adopts
    the most frequent label among its neighbors PLUS its own current
    label (the self-vote — the standard damping that keeps synchronous
    updates from oscillating on near-bipartite regions), ties broken to
    the SMALLEST label. Deterministic: fixed rounds, total tie order — so
    a relational oracle replays the rounds exactly (same discipline as
    pagerank/hits/k_core). Communities refine connected components:
    a chain of weakly-bridged duplicate cliques is one component but
    several propagation communities.

    Scale shape: per round, under the derived broadcast limit the label
    table is broadcast into the edge frame laid out by the vote key ``u``;
    above it one shuffle of the label table into the persist()ed
    ``v``-partitioned edge layout (shuffle-hash, neither side sorted) —
    plus one keyed count and one keyed min-struct argmax (no window,
    nothing collected); lineage cut every round.
    """
    u, v = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    und = (
        edges.where(F.col(src) != F.col(dst))
        .select(u.alias("u"), v.alias("v"))
        .distinct()
    )
    e = (
        und.select("u", "v")
        .unionAll(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .localCheckpoint(eager=True)
    )
    labels = e.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    ).localCheckpoint(eager=True)
    # The self-vote is a SELF-LOOP edge: one (n, n) row per node makes the
    # single label join deliver the node's own label exactly once, so the
    # per-round vote multiset is the same as a separate unionAll(labels)
    # would give. That union has UnknownPartitioning and would force a
    # full exchange of the vote stream every round; the augmented frame is
    # static, so it is laid out once. On the broadcast path the layout key
    # is the votes' aggregate key u, and both keyed aggregates of every
    # round run exchange-free.
    e_aug = e.unionAll(
        labels.select(F.col("node").alias("u"), F.col("node").alias("v"))
    )

    def step(labels, loop, i):
        e = loop.edges[0]
        votes = (
            e.join(loop.side(labels), e.v == labels.node)
            .select(F.col("u").alias("node"), "lbl")
            .groupBy("node", "lbl")
            .agg(F.count("*").alias("c"))
        )
        # argmax by (count desc, label asc) as a keyed min over a
        # struct — stays in whole-stage codegen, no window
        return (
            votes.groupBy("node")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col("lbl"))).alias("m"))
            .select("node", F.col("m.lbl").alias("lbl"))
        )

    labels, _ = _iterate(
        labels, "node", labels, rounds, step, edges=e_aug, by=("v",), small_by=("u",)
    )
    return labels.select("node", F.col("lbl").alias("community"))
