"""Connected components over an edge list — duplicate-cluster formation.

Near-dup detection yields PAIRS; a cleaning job needs CLUSTERS (the
transitive closure: if a~b and b~c, then {a,b,c} dedupe together, even
though (a,c) was never a candidate pair). ``connected_components``
computes them with iterative min-label propagation:

* every node starts labeled with its own id;
* each round, a node adopts the minimum label among itself and its
  neighbors (one join edges⨝labels + one min-aggregate — both
  partial-aggregable equi-shuffles on node id);
* converges in O(diameter) rounds; each round's checkpoint job also
  observes how many labels changed, so a round costs exactly one job.

Label propagation is the standard large-graph CC shape (GraphX/Pregel use
the same exchange pattern); dedup clusters have tiny diameters (chains of
near-identical docs), so rounds stay in the low single digits.
"""

from __future__ import annotations

import itertools
import os
import warnings

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

# Process-unique suffix source for the global-temp-view handoff names —
# two loops running concurrently in one driver must not collide.
_VIEW_IDS = itertools.count()


def _narrow_private_session(spark: SparkSession, measured_rows: int) -> SparkSession:
    """A fresh session (shared SparkContext and RDDs, ISOLATED SQLConf)
    whose shuffle width is sized to the measured loop relation.

    Iterative loops shuffle a relation that is tiny compared to the
    corpus (edge lists, label tables), and their eager localCheckpoints
    materialize every exchange — at the session's corpus-scale width
    that is dozens of near-empty tasks per stage per round. Narrowing
    ``spark.sql.shuffle.partitions`` fixes that, but the conf is
    session-global: mutating the CALLER's session (the pre-r11 design)
    leaked the narrow width into any query planned concurrently.
    ``newSession()`` gives the loop its own SQLConf on the same
    SparkContext, so the narrowing cannot be observed outside the loop
    and needs no restore. The caller's CURRENT width stays the cap, so
    a genuinely huge edge list keeps its full parallelism (~50k rows
    per partition keeps tasks meaningful below that).

    AQE is DISABLED on the loop session (r12 — r11 VERDICT item 1):
    adaptive planning discards the outputPartitioning a localCheckpoint
    preserves (measured: a join of two checkpointed ``repartition(W,
    key)`` relations plans ZERO exchanges with AQE off and re-shuffles
    BOTH sides with AQE on), which made every pagerank round re-shuffle
    and re-sort the full edge relation — the entire 5.78× scale slope.
    AQE's value is runtime re-sizing of UNKNOWN relations; the loop's
    relations are measured and explicitly sized by construction, so
    inside the private session static planning is strictly better — and
    the off-switch is invisible to the caller, like the width."""
    priv = spark.newSession()
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    loop_parts = max(1, min(cap, measured_rows // 50_000 + 1))
    priv.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
    priv.conf.set("spark.sql.adaptive.enabled", "false")
    return priv


def _observed_checkpoint(df: DataFrame, **aggs: Column) -> tuple[DataFrame, dict]:
    """Eagerly ``localCheckpoint`` ``df`` and return it with the values
    observed while it materialized: ``rows`` (its row count) plus each
    aggregate in ``aggs`` under its keyword.

    The loops need a number from almost every checkpoint — the row count
    that sizes the private session, or how many rows have not converged.
    Asking for it afterwards (a ``count()``, or a limit-1 probe of the
    unconverged rows) is a second job per checkpoint, and a limit probe is
    worse than that: its generated code numbers its limit counter
    globally, so every probe is new source that Janino compiles again,
    whatever the size of the codegen cache. An ``Observation`` computes
    the aggregates inside the checkpoint's own job, so a checkpoint costs
    one job and compiles nothing on its second call."""
    obs = Observation()
    cols = [F.count(F.lit(1)).alias("rows")]
    cols += [agg.alias(name) for name, agg in aggs.items()]
    return df.observe(obs, *cols).localCheckpoint(eager=True), obs.get


# Public aliases (r14): the private-session loop discipline (narrow
# AQE-off SQLConf + cross-session re-homing of checkpointed relations)
# is shared by non-graph iterative operators — the sampled BPE trainer
# (operators/bpetrain.py) loops over a vocab-scale relation exactly the
# way the label/distance loops here do.
def narrow_private_session(spark: SparkSession, measured_rows: int) -> SparkSession:
    return _narrow_private_session(spark, measured_rows)


def observed_checkpoint(df: DataFrame, **aggs: Column) -> tuple[DataFrame, dict]:
    return _observed_checkpoint(df, **aggs)


def on_session(df: DataFrame, target: SparkSession) -> DataFrame:
    return _on_session(df, target)


def _on_session(df: DataFrame, target: SparkSession) -> DataFrame:
    """Re-home ``df`` (which must already be materialized — a
    localCheckpointed LogicalRDD — so nothing is recomputed) onto
    ``target`` via a global temp view. RDDs belong to the shared
    SparkContext, so the re-homed frame executes under ``target``'s
    conf without moving any data. DataFrame analysis is eager and
    inlines the view, so the view is dropped immediately — no session
    namespace pollution survives the call."""
    name = f"_iter_loop_{os.getpid()}_{next(_VIEW_IDS)}"
    df.createOrReplaceGlobalTempView(name)
    try:
        return target.table(f"global_temp.{name}")
    finally:
        df.sparkSession.catalog.dropGlobalTempView(name)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 20,
    narrow_shuffle: bool = True,
) -> DataFrame:
    """(node, component) — component = min node id reachable from node.

    ``edges`` is undirected input (each pair listed once, either order).
    Only nodes that appear in an edge are returned; isolated nodes are by
    definition their own singleton cluster and never need relabeling.

    With ``narrow_shuffle=True`` (default) the propagation rounds run on
    a PRIVATE session (``_narrow_private_session``) whose shuffle width
    is sized to the measured edge count — the narrowing is invisible to
    the caller's session, so concurrent queries are unaffected (r10
    VERDICT item 1d: the old design mutated the session-global conf and
    leaked the narrow width to anything planned concurrently). The
    checkpointed inputs cross sessions as RDD-backed frames — no data
    moves and nothing recomputes. ``narrow_shuffle=False`` skips the
    private session and loops at the caller's width.

    Every checkpoint is one job (the private session plans without AQE,
    which would run each shuffle stage as a job of its own): the edge
    pin, the symmetric edge relation, the seed labels, then one per
    round — the round's checkpoint also observes how many labels
    changed, which is the convergence test.
    """
    # localCheckpoint (not persist): the input may carry an arbitrarily deep
    # plan (e.g. the whole LSH pipeline), and every propagation round would
    # re-analyze it — checkpointing truncates the lineage so round N's plan
    # is O(1), not O(N × input-plan). The pin is a narrow projection, so
    # it adds no job beyond the input's own.
    pairs, seen = _observed_checkpoint(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    )
    # Size the loop's shuffle width from the MEASURED edge count instead of
    # inheriting the caller's conf: every round shuffles the (tiny compared
    # to the corpus) edge/label relations, and eager localCheckpoints stop
    # AQE from coalescing those exchanges, so a 32-wide conf costs ~32
    # near-empty tasks per stage per round. ~50k edge-rows per partition
    # keeps tasks meaningful; the caller's conf stays the CAP, so a 100 TB
    # edge list keeps its full width. The symmetric relation holds at
    # most twice the pinned rows. The narrow width lives on a PRIVATE
    # session — no caller-visible conf mutation, nothing to restore.
    caller = edges.sparkSession
    if narrow_shuffle:
        pairs = _on_session(pairs, _narrow_private_session(caller, 2 * seen["rows"]))
    sym = (
        pairs.unionByName(pairs.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("component"))
        .localCheckpoint(eager=True)
    )

    converged = False
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        neighbor_min = (
            sym.join(labels, sym.v == labels.node)
            .groupBy(F.col("u").alias("node"))
            .agg(F.min("component").alias("_nbr_min"))
        )
        # One join computes BOTH the new label and the did-it-change
        # flag (a node changes iff a neighbor's label beats its own),
        # and the checkpoint job counts the flags as it materializes —
        # no third shuffling join and no probe job per round.
        flagged, seen = _observed_checkpoint(
            labels.join(neighbor_min, "node", "left").select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("_nbr_min"), F.col("component")),
                ).alias("component"),
                (F.col("_nbr_min") < F.col("component")).alias("_changed"),
            ),
            changed=F.count_if(F.col("_changed")),
        )
        labels = flagged.drop("_changed")
        if seen["changed"] == 0:
            converged = True
            break
    if narrow_shuffle:
        # Hand the final (checkpointed) labels back to the caller's
        # session so downstream plans are built at the caller's width.
        labels = _on_session(labels, caller)
    if not converged:
        # Partial labels are silently wrong for any component whose graph
        # diameter exceeds max_iters (long near-duplicate chains) — make
        # that loud instead of returning them as if final.
        warnings.warn(
            f"connected_components did not converge after {rounds} rounds; "
            "labels may be partial — raise max_iters",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def pagerank_fixed_point(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 5,
    base_micro: int = 150_000,
    damping_num: int = 85,
    damping_den: int = 100,
    checkpoint_every: int = 4,
    assume_symmetric: bool = False,
) -> DataFrame:
    """(node, rank) after ``iters`` synchronous PageRank rounds, in EXACT
    integer micro-units — rank 1_000_000 ≡ 1.0.

    Every step is integer arithmetic: each round a node sends
    ``(rank * damping_num) div (damping_den * outdeg)`` along every
    out-edge (integer floor division — deterministic, no float summation
    order to diverge between engines) and collects
    ``base_micro + Σ incoming``. That makes a fixed-iteration run
    bit-identical to ANY other engine executing the same recurrence (the
    registry query's DuckDB oracle is the same five rounds as chained
    CTEs), which is what lets an ITERATIVE operator ride the exact-hash
    correctness gate at all — float PageRank can only ever be compared
    with tolerances.

    Semantics notes: nodes = all edge endpoints; a dangling node (no
    out-edges) receives rank but contributes none (the mass-leak form —
    the standard bounded-iteration simplification); floor division also
    leaks ≤ outdeg-1 micro-units per node per round. Both leaks are part
    of the DEFINED recurrence, identically reproduced by any conforming
    engine, so cross-engine hashes still match exactly.

    Scale (r12 rework — r11 VERDICT item 1, slope 5.78× → the edge list
    must never move after its build): the topology is pinned ONCE with an
    EXPLICIT ``repartition(W, u)`` + localCheckpoint at the loop width W.
    Explicit-width repartition is the one partitioning AQE never
    coalesces and a broadcast join can't bypass — the previous design
    relied on the degree JOIN to leave the adjacency hash-partitioned on
    u, but under the engine session the planner broadcasts the tiny
    degree table (preserving the UPSTREAM partitioning, not u) and AQE
    coalesces checkpointed exchange widths, so every round re-shuffled
    AND re-sorted the full edge relation (measured: 11.7 M rows × 5
    rounds at the 10× fixture — the whole 5.78× slope). Per round now:

    * contributions are computed NODE-side first — the rank state carries
      each node's out-degree (r16: a narrow projection of the state; the
      pre-r16 form joined a separate degree relation every round), so the
      per-edge division collapses to one row per source node;
    * the edge join takes the contributions as the SHUFFLE_HASH build
      side: the checkpointed hash(u, W) adjacency satisfies the join's
      distribution requirement as-is (no exchange, and unlike sort-merge
      no per-round sort of the edge relation — SMJ would re-sort the
      streamed side every round since sort order doesn't survive the
      round boundary), while the node-scale build side hashes in place;
    * the only edge-scale movement per round is the partial-aggregated
      contribution shuffle into ``groupBy(node)`` — inherent to the
      recurrence (it IS the message exchange), map-side combined.

    The degree table stays OUT of the adjacency rows on purpose: (u, v)
    is two longs/row where (u, v, d) is three — at 100 TB the adjacency
    is the resident relation, and the degree join costs nothing extra
    because it rides the node-scale contribution join. Lineage is
    truncated with an eager localCheckpoint every ``checkpoint_every``
    rounds — NOT every round: each checkpoint is a full materialize-
    and-launch barrier (~0.3 s of fixed latency in local mode), while
    an unchecked round only deepens the plan by two joins, so short
    stretches are cheaper to re-analyze than to materialize; a
    mid-loop checkpoint that would land within checkpoint_every-1
    rounds of the final (always-materialized) one is skipped — two
    barriers one round apart truncate nothing the final one doesn't.
    Rounds are a fixed count (PageRank runs 10-50 rounds in practice),
    so there is no convergence probe.

    ``assume_symmetric=True`` (set by callers that symmetrized the edge
    list themselves, like the registry query) derives the node set from
    the u side alone — in a symmetric list every endpoint appears as a
    source, so the union with the v side is a second full edge scan for
    nothing."""
    sym, seen = _observed_checkpoint(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    )

    caller = edges.sparkSession
    # The whole loop — adjacency build included — runs on a PRIVATE
    # session sized to the measured edge count (see
    # _narrow_private_session: the narrowing is invisible to the
    # caller, so nothing needs restoring and concurrent queries keep
    # their width). The adjacency build MUST share the loop's session:
    # its pinned hash(u, W) partitioning is what lets every round join
    # without moving the edges.
    priv = _narrow_private_session(caller, seen["rows"])
    loop_w = int(priv.conf.get("spark.sql.shuffle.partitions"))
    sym = _on_session(sym, priv)
    adj = sym.repartition(loop_w, "u").localCheckpoint(eager=True)
    # Node-scale out-degree: the groupBy rides adj's pinned partitioning
    # (no exchange), and the checkpoint keeps hash(u, W) for the
    # per-round co-partitioned contribution join.
    degree = (
        adj.groupBy("u")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=True)
    )
    if assume_symmetric:
        # In a symmetric edge list every node appears as a source, so
        # the node set IS the degree table's key set — a projection of
        # the checkpointed degree relation (alias-aware partitioning
        # propagation keeps hash(u→node, W)), zero extra jobs/barriers.
        nodes = degree.select(F.col("u").alias("node"))
    else:
        nodes = (
            adj.select(F.col("u").alias("node"))
            .unionByName(adj.select(F.col("v").alias("node")))
            .distinct()
            .repartition(loop_w, "node")
            .localCheckpoint(eager=True)
        )

    contrib_expr = F.expr(
        f"(rank * {damping_num}) div ({damping_den} * d)"
    ).alias("_c")
    # r16 (guide §2.4 — remove work per round): the rank STATE carries the
    # node's out-degree alongside its rank, so the per-round contribution
    # is a narrow PROJECTION of the state instead of a ranks ⨝ degree
    # join, and the post-aggregate rank rebuild joins the state (which
    # already holds every node) instead of a separate nodes relation —
    # two of the three per-round node-scale hash joins disappear
    # (measured: the 5-round loop job 3.4 s → 2.4 s at sf0.1). The
    # recurrence is unchanged: d is a constant per node, carried through
    # the round boundary; a dangling node (no out-edges, only possible
    # when assume_symmetric=False) carries d NULL, its contribution
    # expression is NULL, and — exactly like the old inner join with
    # degree — it can never match an adjacency source row, because a
    # node with no out-edges never appears as ``u`` in ``adj``.
    if assume_symmetric:
        state = degree.select(
            F.col("u").alias("node"),
            "d",
            F.lit(1_000_000).cast("long").alias("rank"),
        )
    else:
        d_0 = "_pr_d0"
        state = nodes.join(
            degree.alias(d_0).hint("shuffle_hash"),
            nodes.node == F.col(f"{d_0}.u"),
            "left",
        ).select(
            "node", "d", F.lit(1_000_000).cast("long").alias("rank")
        )
    for i in range(1, iters + 1):
        # Per-round dataset aliases: round i's state plan already embeds
        # round i-1's adj subtree, so bare attribute references would be
        # (analyzer-rejected) ambiguous self-joins.
        a_i = f"_pr_a{i}"
        # One row per SOURCE node, a pure projection: alias-aware
        # partitioning propagation keeps hash(node→_cu, W), so the edge
        # join below consumes it as the SHUFFLE_HASH build side with no
        # exchange.
        contribs = state.select(F.col("node").alias("_cu"), contrib_expr)
        incoming = (
            adj.alias(a_i)
            .join(
                # shuffle_hash everywhere in the loop: all build sides
                # are node-scale, and hash joins skip the per-round
                # sorts SMJ would redo (sort order does not survive the
                # round boundary the way hash partitioning does).
                contribs.hint("shuffle_hash"),
                F.col(f"{a_i}.u") == F.col("_cu"),
            )
            .select(F.col(f"{a_i}.v").alias("node"), F.col("_c"))
            .groupBy("node")
            .agg(F.sum("_c").alias("_in"))
        )
        state = state.join(
            incoming.hint("shuffle_hash"), "node", "left"
        ).select(
            "node",
            "d",
            (
                F.lit(base_micro).cast("long")
                + F.coalesce(F.col("_in"), F.lit(0))
            ).alias("rank"),
        )
        # The FINAL round always materializes here too: the tail is
        # re-homed onto the caller's session below, so a lazy tail
        # would re-plan its shuffles at the caller's width outside
        # the loop's scope.
        if i == iters or (i % checkpoint_every == 0 and iters - i >= 2):
            state = state.localCheckpoint(eager=True)
    return _on_session(state.select("node", "rank"), caller)


def flatten_hierarchy(
    nodes: DataFrame,
    key: str = "key",
    parent: str = "parent",
    max_doublings: int = 20,
) -> DataFrame:
    """(key, root_key, depth) for every node of a parent-pointer forest —
    the ``WITH RECURSIVE`` ancestor-walk class (org charts, category
    trees, BOM roll-ups) computed by POINTER DOUBLING.

    ``nodes`` carries one row per node: ``key`` and ``parent`` (NULL for
    a root). The forest must be acyclic; a cycle never reaches a root, so
    the loop hits ``max_doublings`` and warns rather than spinning.

    Why doubling instead of a per-edge walk: a naive loop follows ONE
    parent edge per round (O(max_depth) shuffles — a 50-deep chain is 50
    joins); doubling keeps, per node, the ancestor 2^j edges up plus the
    real-edge count to it, and composes the relation with itself —
    ``anc_{j+1}(k) = anc_j(anc_j(k))`` — so the whole forest flattens in
    ceil(log2(max_depth)) self-joins. Roots self-loop with step count 0,
    which makes the composition uniform: a finished row joins its root's
    own fixed-point row and is unchanged, so there is no union-of-done
    branch to grow the plan. Each round is ONE equi-shuffle of the
    node-scale state on the ancestor pointer; lineage is truncated per
    round (eager localCheckpoint) and the loop runs on a private session
    narrowed to the measured node count — the same caller-invisible
    scoping discipline as connected_components above. A call costs one
    job to pin the input plus one per round: each round's checkpoint
    observes how many rows have not reached their root yet.

    The output is exact integers (depth = real edges to the root), so a
    fixed recurrence is bit-identical to any other engine's recursive-CTE
    evaluation — the registry query hash-checks this loop against DuckDB
    ``WITH RECURSIVE`` directly.
    """
    state, seen = _observed_checkpoint(
        nodes.select(
            F.col(key).alias("key"),
            F.coalesce(F.col(parent), F.col(key)).alias("ptr"),
            F.when(F.col(parent).isNull(), F.lit(0))
            .otherwise(F.lit(1))
            .cast("long")
            .alias("steps"),
            F.col(parent).isNull().alias("done"),
        )
    )

    caller = nodes.sparkSession
    converged = False
    # The doubling rounds run on a PRIVATE session sized to the measured
    # node count — same scoping discipline as connected_components
    # above: no caller-visible conf mutation, nothing to restore.
    priv = _narrow_private_session(caller, seen["rows"])
    state = _on_session(state, priv)
    for _ in range(max_doublings):
        hop = state.select(
            F.col("key").alias("_k"),
            F.col("ptr").alias("_p"),
            F.col("steps").alias("_s"),
            F.col("done").alias("_d"),
        )
        state, seen = _observed_checkpoint(
            state.join(hop, state.ptr == hop._k).select(
                "key",
                F.col("_p").alias("ptr"),
                (F.col("steps") + F.col("_s")).alias("steps"),
                F.col("_d").alias("done"),
            ),
            open=F.count_if(~F.col("done")),
        )
        if seen["open"] == 0:
            converged = True
            break
    state = _on_session(state, caller)
    if not converged:
        warnings.warn(
            f"flatten_hierarchy did not converge after {max_doublings} "
            "doublings: depth exceeds 2^max_doublings or the graph has a "
            "cycle — results may be partial",
            RuntimeWarning,
            stacklevel=2,
        )
    return state.select(
        "key", F.col("ptr").alias("root_key"), F.col("steps").alias("depth")
    )


def sssp_fixed_rounds(
    edges: DataFrame,
    source: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    rounds: int = 6,
) -> DataFrame:
    """(node, dist) after ``rounds`` synchronous Bellman-Ford relaxations
    from ``source`` — single-source shortest paths over INTEGER weights,
    the min-plus sibling of pagerank_fixed_point.

    Exactness contract: a fixed-round min-plus recurrence over integers
    is bit-identical in any engine (min is order-independent; integer
    adds never round), so the registry query's DuckDB oracle is the same
    ``rounds`` relaxations as unrolled CTEs and the driver's hash gate
    certifies the distributed loop. After round k the relation holds the
    exact shortest distance for every node within k hops of the source
    (the standard Bellman-Ford invariant); nodes not yet reached are
    ABSENT, not +inf — the frontier relation stays reached-node-scale,
    which on high-diameter graphs is far smaller than the node set.

    Scale shape — the r12 pagerank discipline plus DELTA (frontier)
    relaxation (r13, the floor fix): the loop runs on an AQE-off private
    session sized to the measured edge count; the weighted adjacency is
    pinned ONCE with an explicit ``repartition(W, u)`` + localCheckpoint;
    each round SHUFFLE_HASH joins only the FRONTIER — the nodes whose
    distance improved last round — against the stationary adjacency.
    Synchronous delta-relaxation is exact (the standard invariant: a
    node whose distance did not change at round k-1 already sent its
    value at the round it was set, and min is idempotent — so the dist
    relation after every round is bit-identical to full relaxation),
    which keeps the unrolled-CTE oracle hash unchanged while the message
    volume drops from reached-incident edges × rounds to each edge
    relaxed only when its source improves. On this fixture the frontier
    collapses after the ~3-hop diameter, making rounds 4-6 near-free;
    at 100 TB it is the difference between O(E·rounds) and ~O(E) total
    relaxation traffic.

    Exchange discipline (ONE per round, pinned in tests/test_plans.py):
    ``state`` lives hash-partitioned on ``node`` at the loop width and
    ``adj`` on ``u`` — the same key space — so the relax join is
    CO-PARTITIONED (zero exchange, AQE off preserves it); the dist ⟗
    messages merge is a tagged union into one map-combined groupBy
    (NOT a full-outer join, whose UnknownPartitioning would force the
    next round to re-exchange everything), so the round's only data
    movement is that aggregation exchange, and HashAggregate's output
    partitioning carries hash(node, W) through the checkpoint into the
    next round.

    Per-round materialization is LOAD-BEARING here, unlike pagerank's
    every-4th cadence: each round's state has TWO consumers in the next
    round (the dist merge and the frontier join), so a lazy round would
    embed the prior subtree twice and K lazy rounds would recompute
    round 1 2^(K-1) times — measured as a 13.7 s regression vs the
    7.9 s baseline before this checkpoint discipline. One eager
    localCheckpoint of the node-scale (node, dist, improved) relation
    per round makes both next-round consumers read the same
    materialized RDD.

    Floor analysis (r13, recorded beside pagerank's): profiled at sf0.1
    the pre-delta 7.9 s split 2.5 s edge derivation (orders⨝lineitem +
    distinct — input work, irreducible), 0.2 s count, 0.5 s adjacency
    pin, 6.6 s rounds 1-4, 1.4 s rounds 5-6; private-session bootstrap
    measured 0.01 s, refuting the r12 spin-up hypothesis. The loop cost
    was full-relation relaxation; delta removes exactly that term."""
    sym, seen = _observed_checkpoint(
        edges.select(
            F.col(src).alias("u"), F.col(dst).alias("v"), F.col(weight).alias("w")
        )
    )

    caller = edges.sparkSession
    priv = _narrow_private_session(caller, seen["rows"])
    loop_w = int(priv.conf.get("spark.sql.shuffle.partitions"))
    sym = _on_session(sym, priv)
    adj = sym.repartition(loop_w, "u").localCheckpoint(eager=True)

    state = (
        adj.sparkSession.createDataFrame(
            [(source, 0, True)], "node long, dist long, improved boolean"
        )
        .repartition(loop_w, "node")
        .localCheckpoint(eager=True)
    )
    for i in range(1, rounds + 1):
        a_i = f"_sssp_a{i}"
        frontier = state.filter("improved").select("node", "dist")
        msgs = (
            adj.alias(a_i)
            .join(
                frontier.hint("shuffle_hash"),
                F.col(f"{a_i}.u") == F.col("node"),
            )
            .select(
                F.col(f"{a_i}.v").alias("node"),
                (F.col("dist") + F.col(f"{a_i}.w")).alias("dist"),
                F.lit(False).alias("is_old"),
            )
        )
        # The dist⟗messages merge is folded INTO the aggregation (tagged
        # union, one groupBy) instead of a full-outer join: a FullOuter
        # join reports UnknownPartitioning, which made the next round
        # re-exchange BOTH the frontier and the merge input (measured: 3
        # exchanges per round); HashAggregate's output partitioning
        # hash(node, W) survives the checkpoint, so the next round's
        # joins stay co-partitioned and the round moves data exactly
        # once — this map-combined exchange.
        merged = (
            state.select("node", "dist", F.lit(True).alias("is_old"))
            .unionByName(msgs)
            .groupBy("node")
            .agg(
                F.min(F.when(F.col("is_old"), F.col("dist"))).alias("_old"),
                F.min(F.when(~F.col("is_old"), F.col("dist"))).alias("_cand"),
            )
        )
        # least() skips NULLs: an unreached node takes the message, an
        # un-messaged node keeps its dist
        state = merged.select(
            "node",
            F.least(F.col("_old"), F.col("_cand")).alias("dist"),
            (
                F.col("_old").isNull()
                | F.coalesce(F.col("_cand") < F.col("_old"), F.lit(False))
            ).alias("improved"),
        ).localCheckpoint(eager=True)
        # r16 note: an empty-frontier early exit was measured here and
        # REJECTED — at sf0.1 the frontier first empties at round 5 of 6
        # (36 → 11k → 976 → 9.7k → 0), so a per-round limit-1 probe pays
        # ~5 driver jobs to skip at most one near-free delta round. The
        # delta formulation already makes post-convergence rounds cheap
        # (no messages, node-scale re-aggregation only).
    return _on_session(state.select("node", "dist"), caller)


def connected_components_contract(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 30,
) -> DataFrame:
    """(node, component) by ALTERNATING STAR CONTRACTION (Kiveris et
    al., "Connected Components in MapReduce and Beyond") — component =
    min reachable id, the same output contract as
    ``connected_components``, computed by a STRUCTURALLY INDEPENDENT
    recurrence: where min-label propagation keeps the topology fixed
    and floods labels (O(diameter) rounds), star contraction REWIRES
    the edge set every round (large-star hooks every bigger neighbor of
    u onto u's neighborhood minimum, small-star collapses the
    smaller-pointing edges), converging in O(log²) rounds to stars
    whose centers are the component minima.

    This operator exists for CROSS-VERIFICATION (r13 — r12 VERDICT
    item 5): two in-engine algorithms that share no recurrence, no
    join shape, and no intermediate relation agreeing on the same pair
    relation is the sf1-scale replacement for the driver-side
    sequential union-find harness (tools/sf1_exclusions.py) — the
    verification itself now runs distributed. It is NOT the registry
    hot path (connected_components' diameter-bound rounds beat log²
    rewiring on the shallow clusters LSH emits); plans keep using the
    propagation loop.

    Only nodes appearing in an edge are returned (singletons label
    themselves by omission), matching ``connected_components``."""
    base, seen = _observed_checkpoint(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    caller = edges.sparkSession
    priv = _narrow_private_session(caller, seen["rows"])
    cur, cur_rows = _on_session(base, priv), seen["rows"]

    converged = False
    for _ in range(max_rounds):
        # ---- large-star over the symmetric view: for every node u,
        # hook each LARGER neighbor onto m = min(N(u) ∪ {u}); output
        # edges are oriented larger→smaller by construction.
        sym = cur.unionByName(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mn"))
            .select("u", F.least(F.col("u"), F.col("_mn")).alias("m"))
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # ---- small-star on the oriented relation (every v < u): each
        # node u re-points its smaller neighbors AND itself at
        # m = min(N(u)) — no symmetric view needed since edges already
        # run larger→smaller.
        minsd = large.groupBy("u").agg(F.min("v").alias("_mn"))
        part_nbrs = (
            large.join(minsd, "u")
            .filter(F.col("v") != F.col("_mn"))
            .select(F.col("v").alias("u"), F.col("_mn").alias("v"))
        )
        part_self = minsd.select("u", F.col("_mn").alias("v"))
        nxt, seen = _observed_checkpoint(
            part_nbrs.unionByName(part_self)
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # exact set-equality convergence test (both sides distinct +
        # materialized): the observed counts agree and the difference is
        # empty. isEmpty() is a top-level CollectLimit, which is not
        # whole-stage generated, so it compiles nothing new per call.
        same = seen["rows"] == cur_rows and nxt.exceptAll(cur).isEmpty()
        cur, cur_rows = nxt, seen["rows"]
        if same:
            converged = True
            break
    if not converged:
        warnings.warn(
            f"connected_components_contract did not converge after "
            f"{max_rounds} rounds — labels may be partial",
            RuntimeWarning,
            stacklevel=2,
        )
    labels = cur.select(
        F.col("u").alias("node"), F.col("v").alias("component")
    ).unionByName(
        cur.select(F.col("v").alias("node"), F.col("v").alias("component"))
    ).distinct()
    return _on_session(labels.localCheckpoint(eager=True), caller)


def dedup_clusters(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """(component, n_members, keep_id) per duplicate cluster: the survivor
    is the minimum id — which IS the component label."""
    cc = connected_components(pairs, id_a, id_b)
    return cc.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("node").alias("keep_id"),
    )


def label_propagation_fixed(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 4,
    checkpoint_every: int = 2,
) -> DataFrame:
    """(node, label) after ``iters`` SYNCHRONOUS label-propagation
    rounds — community detection (Raghavan et al. 2007) in its
    hash-certifiable form: every node starts as its own label and each
    round adopts the most frequent label among its neighbors, ties
    broken by the SMALLEST label. Both rules are exact integer
    decisions, so a fixed-round run is bit-identical in any engine
    executing the same recurrence (the registry oracle unrolls the
    rounds as chained CTEs, the pagerank/SSSP convention).

    The per-node argmax is ENCODED, not windowed: score =
    ``cnt * 2^31 + (2^31-1 - label)`` makes (max count, then min
    label) a single integer ``max()`` — one aggregate both engines
    evaluate identically, no row_number/qualify dialect divergence.
    (Bound: labels are node ids < 2^31 and counts are bounded by the
    max degree, so scores stay far inside BIGINT.)

    Semantics note: synchronous LPA on a BIPARTITE graph (like the
    registry's customer↔supplier trade graph) oscillates rather than
    converging — the classic two-coloring artifact; asynchronous or
    semi-synchronous variants exist precisely to damp it. The
    fixed-round synchronous form is still a well-defined deterministic
    relation (labels after exactly R rounds), which is what an
    exact-hash gate needs; deployments wanting converged communities
    run the async variant and accept tolerance-based checks.

    Scale — the pagerank discipline (pinned adjacency, AQE-off private
    session, SHUFFLE_HASH rounds): the topology is repartitioned ONCE
    to hash(u, W) and checkpointed; each round joins the node-scale
    label relation against the stationary adjacency (labels hash in
    place as the shuffle-hash build side), then moves data twice —
    the message count groupBy(v, label) (edge-scale, map-side
    combined: it IS the message exchange) and the per-node argmax
    groupBy(v) over the count relation (<= message-scale in round 1,
    shrinking as labels coalesce). Lineage truncates every
    ``checkpoint_every`` rounds plus the final round."""
    sym, seen = _observed_checkpoint(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    )

    caller = edges.sparkSession
    priv = _narrow_private_session(caller, seen["rows"])
    loop_w = int(priv.conf.get("spark.sql.shuffle.partitions"))
    sym = _on_session(sym, priv)
    adj = sym.repartition(loop_w, "u").localCheckpoint(eager=True)
    # symmetric input: every node appears as a source, so the label
    # seed rides adj's pinned hash(u, W) partitioning (no exchange)
    labels = (
        adj.select("u")
        .distinct()
        .select(F.col("u").alias("node"), F.col("u").alias("label"))
        .localCheckpoint(eager=True)
    )
    score = F.expr(
        "_cnt * CAST(2147483648 AS BIGINT)"
        " + (CAST(2147483647 AS BIGINT) - label)"
    )
    for i in range(1, iters + 1):
        a_i = f"_lp_a{i}"
        msgs = (
            adj.alias(a_i)
            .join(
                labels.hint("shuffle_hash"),
                F.col(f"{a_i}.u") == F.col("node"),
            )
            .select(F.col(f"{a_i}.v").alias("_v"), "label")
        )
        counts = msgs.groupBy("_v", "label").agg(
            F.count(F.lit(1)).alias("_cnt")
        )
        labels = (
            counts.select("_v", score.alias("_s"))
            .groupBy("_v")
            .agg(F.max("_s").alias("_m"))
            .select(
                F.col("_v").alias("node"),
                F.expr(
                    "CAST(2147483647 AS BIGINT)"
                    " - (_m % CAST(2147483648 AS BIGINT))"
                ).alias("label"),
            )
        )
        if i == iters or (i % checkpoint_every == 0 and iters - i >= 2):
            labels = labels.localCheckpoint(eager=True)
    return _on_session(labels, caller)
