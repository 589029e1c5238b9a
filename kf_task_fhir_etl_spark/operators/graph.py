"""Iterative graph computation as DataFrame plans — PageRank, personalized
PageRank, label propagation, k-core, BFS and weighted shortest paths,
alongside the connected-components operator in operators/dedup.py.

The engine pattern for iteration: each round is a few joins + one
aggregate on the node key, the loop lives in the DRIVER as plan
construction, and ``localCheckpoint`` truncates lineage each round so the
plan stays flat instead of doubling (measured 2× on connected components,
SCALE.md). Superseded rounds are released as soon as the next one has
materialized. Two loop shapes:

- FIXED round count (pagerank, personalized_pagerank, label_propagation):
  power iteration to a chosen depth, which keeps the computation
  deterministic and lets an oracle unroll the same rounds.
- Run to a FIXPOINT (bfs_distances, sssp_distances, k_core, and
  dedup.connected_components / graph_delta.apply_sssp_inserts): the loop
  stops at the first round that changes nothing. All of them run on
  ``iterate_to_fixpoint``, the one checkpoint → probe → release → guard
  policy; each fixpoint is unique, so an oracle that unrolls at least as
  many rounds reproduces it (extra rounds are no-ops).

Every loop of either shape but personalized_pagerank (whose gate, q150,
measured no faster wrapped) plans its rounds statically inside
``_static_plans``: adaptive execution off and ``spark.sql.shuffle.partitions``
set to ``n``, the largest partition count adaptive execution already chose
for the loop's inputs (state and edge input), both settings restored on
every exit. A round's plan is then one Spark job instead of one job per
shuffle-map and broadcast stage, and an edge set staged inside the scope
keeps its ``hashpartitioning(key, n)``, so a round shuffles only its
|V|-sized side. The settings belong to the SESSION, which threads share:
no thread may run a graph loop while another plans on the same session
(the threaded callers today — q115's FHIR pool, ``etl``'s build pools and
``compaction`` — run none).

Cross-engine float discipline: per-round ranks round to 12dp — far above
ULP-level summation-order drift (~1e-16 relative), far below any real rank
gap — so Spark's distributed partial sums and a sequential SQL engine
produce bit-identical ranks round after round; final output rounds to 6dp.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kf_task_fhir_etl_spark.etl import release_checkpoints


def symmetrize(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Undirected → directed both ways, self-loops and duplicates dropped."""
    fwd = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    rev = edges.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
    return fwd.unionByName(rev).filter(F.col("src") != F.col("dst")).distinct()


_AQE = "spark.sql.adaptive.enabled"
_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def _pinned(df: DataFrame) -> DataFrame:
    """``df`` itself when its partition count is known without a job (a
    checkpoint, a scan, or a narrow plan over one); otherwise a LAZY
    ``localCheckpoint`` of it, whose creation runs the exchanges adaptive
    execution still had to run — once, where the staging that reads it
    would have run them — and fixes the partition count AQE chose for
    the data. A pinned frame is a checkpoint root the caller releases."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() != "AdaptiveSparkPlan":
        return df
    return df.localCheckpoint(eager=False)


@contextmanager
def _static_plans(*frames: DataFrame) -> Iterator[None]:
    """Plan statically inside the scope: ``spark.sql.adaptive.enabled``
    is false and ``spark.sql.shuffle.partitions`` is ``n``, the largest
    partition count among ``frames`` (each ``_pinned``, so reading it
    runs no job) — the count adaptive execution already chose for the
    loop's inputs, never a configured constant. Both settings are
    restored on every exit. Where the session already plans statically
    (inside an open scope, or with adaptive execution switched off) the
    scope changes nothing, so a caller that stages its edges in its own
    scope sizes ``n`` from them as well as from the state.

    Why: under adaptive execution every shuffle-map and broadcast stage
    of a round is a job of its own, and a checkpoint reports no
    partitioning, so every round re-shuffles the staged edges. A static
    round is ONE job (its probe), and an edge set staged
    ``repartition``-ed on its join key inside the scope keeps
    ``hashpartitioning(key, n)``, so each round shuffles only the
    frontier side. The settings belong to the SESSION: no thread may
    run a fixpoint while another thread plans on the same session."""
    conf = frames[0].sparkSession.conf
    if conf.get(_AQE).lower() == "false":
        yield
        return
    # an empty input has 0 partitions; a shuffle needs at least one
    n = max(1, *(f._jdf.rdd().getNumPartitions() for f in frames))
    prior = [(k, conf.get(k)) for k in (_AQE, _SHUFFLE_PARTITIONS)]
    try:
        conf.set(_AQE, "false")
        conf.set(_SHUFFLE_PARTITIONS, str(n))
        yield
    finally:
        for k, v in prior:
            conf.set(k, v)


def iterate_to_fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], tuple[DataFrame, int]],
    max_rounds: int,
    what: str,
) -> DataFrame:
    """Run ``step`` until a round changes nothing and return that
    round's state — the one lifecycle policy of the fixpoint operators
    (bfs/sssp_distances, k_core, graph_delta.apply_sssp_inserts,
    dedup.connected_components).

    ``step(state)`` returns ``(nxt, changed)``: ``nxt`` sits behind a LAZY
    ``localCheckpoint`` and ``changed`` comes from the round's ONE action,
    which computes the step, persists ``nxt`` and probes it in a single
    pass. Then:

    - ``changed`` is 0 (or falsy): the confirmation round. ``nxt`` holds
      the same values as ``state`` and is already materialized, so
      ``state`` is released and ``nxt`` is the answer — a checkpoint of
      the step's own plan even when no round changed anything, which
      keeps the planned-stats lineage ``lifecycle.assert_bounded_stats``
      is calibrated on.
    - more than ``max_rounds`` PRODUCTIVE rounds: everything pinned here
      is released (nothing was served) and ``RuntimeError`` names
      ``what``, the operator's guard. Only productive rounds count, so
      input needing exactly ``max_rounds`` still gets its confirmation
      round instead of a spurious raise. The guard is loud, never a
      silent truncation.
    - otherwise the superseded ``state`` is released — safe, because the
      action has already materialized ``nxt`` — and ``nxt`` goes on.

    Releases are non-blocking: nothing synchronizes on the removal. An
    initial ``state`` may be a projection of a caller's frame: releasing
    it is a no-op (``etl.release_checkpoints`` frees checkpoint roots
    only).

    Every round runs inside ``_static_plans``: adaptive execution off and
    ``spark.sql.shuffle.partitions`` = ``n``, so each round's plan is
    static and its one action is ONE Spark job. ``n`` is the partition
    count adaptive execution chose for ``state`` (``_pinned`` first), or,
    when the caller opened the scope to stage its edges in it, the larger
    of the edges' and the state's. Both settings are restored on return
    and on the guard's raise. They are session settings, shared by every
    thread: a threaded caller must not run a fixpoint."""
    state = _pinned(state)
    with _static_plans(state):
        rounds = 0
        while True:
            nxt, changed = step(state)
            rounds += bool(changed)
            if rounds > max_rounds:
                pinned = {id(d): d for d in (state, nxt)}
                release_checkpoints(list(pinned.values()), blocking=False)
                raise RuntimeError(
                    f"{what}={max_rounds} exceeded: round {rounds} still changed "
                    "the state — raise the guard, or check that the input has a "
                    "fixpoint (a negative-weight cycle has none)"
                )
            release_checkpoints([state], blocking=False)
            if not changed:
                return nxt
            state = nxt


def _normalize_undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Canonical undirected simple-graph edge list (u < v): self-loops,
    NULL endpoints and duplicates dropped. NULL mechanism, precisely
    (r08 review, eleventh pass — the first comment claimed NULL
    propagation): least/greatest SKIP NULL arguments, so a (NULL, x)
    edge becomes (x, x) and the u < v filter drops it AS a self-loop —
    both the strict < and the least/greatest pair are load-bearing for
    NULL handling, not just for orientation. ONE definition shared by
    triangle_count and k_core (the hand-rolled-copy drift hazard)."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") < F.col("v"))
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    round_digits: int = 12,
) -> DataFrame:
    """Power-iteration PageRank over a DIRECTED edge list (symmetrize first
    for undirected graphs): ``pr'(v) = (1−d)/N + d·(Σ_{u→v} pr(u)/deg(u)
    + D/N)`` where ``D`` is the round's dangling mass (total rank held by
    nodes with no out-links, redistributed uniformly — the standard
    teleport treatment, so rank mass is conserved on ANY directed graph).
    Runs a fixed ``iters`` rounds from the uniform vector; returns
    (node, pr) with pr rounded to 6dp.

    Plan shape per round: contributions = edges ⋈ ranks on src (the
    degree-joined edge table is staged inside ``_static_plans`` and each
    round's rank checkpoint comes out of a node-key join, so both keep
    their node-key partitioning and the join shuffles neither side), one
    groupBy(dst) sum with map-side partial aggregation, and a
    one-row dangling aggregate broadcast via cross join (the left-anti
    against the degree table is |V|-sized, never edge-sized). At 100 TB
    the edge list is the big side and is shuffled ONCE to its
    partitioning; the rank vector (|V| rows) is the per-round churn.
    The dangling sum rounds to ``round_digits`` like the ranks, so the
    unrolled SQL oracle reproduces every round bit-for-bit."""
    # materialize the edge list ONCE — nodes/degrees/the joined edge table
    # all derive from it, and without this the upstream edge construction
    # (often a join+distinct over the fact tables) re-runs for every
    # derivation (measured 3× on the buyer-supplier graph). LAZY (r12):
    # the node count below materializes both frames in one job instead of
    # two standalone materialization jobs + a count.
    edges = edges.localCheckpoint(eager=False)
    with _static_plans(edges):
        nodes = (
            edges.select(F.col("src").alias("node"))
            .unionByName(edges.select(F.col("dst").alias("node")))
            .distinct()
            .localCheckpoint(eager=False)  # before count(): one evaluation feeds both
        )
        n = nodes.count()
        deg = edges.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
        # co-locate the per-round join on the node key once
        edges_deg = (
            edges.join(deg, edges["src"] == deg["node"])
            .select("src", "dst", "deg")
            .repartition("src")
            .localCheckpoint(eager=False)  # r12: round 1's checkpoint job materializes it
        )
        # the dangling node SET is round-invariant (only its mass changes) —
        # materialize it once so no round re-runs the edge-sized degree
        # aggregation
        dangling_nodes = (
            nodes.join(deg.select("node"), "node", "left_anti").localCheckpoint(eager=False)
        )
        # The dangling SET is round-invariant (only its mass changes), so its
        # EMPTINESS is too: probe it once (one take(1) on a materialized
        # |V|-bounded checkpoint) and, when empty — every symmetrized graph —
        # skip the per-round semi-join + one-row aggregate + broadcast entirely
        # (r12: two jobs per round removed; the term contributes an
        # exact +0.0 and the per-round rounding of the remaining expression is
        # unchanged, so ranks are bit-identical either way).
        has_dangling = bool(dangling_nodes.take(1))
        ranks = nodes.select("node", (F.lit(1.0) / F.lit(float(n))).alias("pr"))
        base = (1.0 - damping) / n
        prev_ck: DataFrame | None = None
        for _ in range(iters):
            contribs = edges_deg.join(ranks, edges_deg["src"] == ranks["node"]).select(
                F.col("dst").alias("node"), (F.col("pr") / F.col("deg")).alias("w")
            )
            sums = contribs.groupBy("node").agg(F.sum("w").alias("w_sum"))
            if has_dangling:
                # dangling mass: rank held by nodes with NO out-links this
                # round, spread uniformly (one-row aggregate, broadcast cross
                # join; |V|-sized semi-join against the pre-materialized
                # dangling set)
                dangling = ranks.join(dangling_nodes, "node", "leftsemi").agg(
                    F.round(
                        F.coalesce(F.sum("pr"), F.lit(0.0)) / F.lit(float(n)), round_digits
                    ).alias("d_share")
                )
                new_pr = F.round(
                    F.lit(base)
                    + F.lit(damping)
                    * (F.coalesce(F.col("w_sum"), F.lit(0.0)) + F.col("d_share")),
                    round_digits,
                ).alias("pr")
                # left-join back onto the FULL node set: a zero-in-degree node
                # keeps rank (1−d)/N + d·D/N instead of silently dropping out of
                # the vector and losing its outgoing contributions in later
                # rounds
                ranks = (
                    nodes.join(sums, "node", "left")
                    .crossJoin(F.broadcast(dangling))
                    .select("node", new_pr)
                    .localCheckpoint()
                )
            else:
                new_pr = F.round(
                    F.lit(base) + F.lit(damping) * F.coalesce(F.col("w_sum"), F.lit(0.0)),
                    round_digits,
                ).alias("pr")
                ranks = nodes.join(sums, "node", "left").select("node", new_pr).localCheckpoint()
            # the new round is eagerly materialized — the previous round's
            # blocks are dead; the initial (non-checkpointed) vector is skipped
            if prev_ck is not None:
                release_checkpoints([prev_ck], blocking=False)
            prev_ck = ranks
        # Staged inputs the returned frame no longer derives from are released
        # on EVERY exit path (the iters=0 leak of the PPR sibling had the
        # same shape here): after ≥1 round the result is a
        # projection of the final round's checkpoint, so all four staged frames
        # go; with iters=0 the returned uniform vector still projects from
        # `nodes`, so the other three go and `nodes` stays (caller-owned, GC +
        # ContextCleaner reclaim it with the result).
        releasable = (
            [edges, nodes, edges_deg, dangling_nodes]
            if prev_ck is not None
            else [edges, edges_deg, dangling_nodes]
        )
        release_checkpoints(releasable, blocking=False)
        return ranks.select("node", F.round(F.col("pr"), 6).alias("pr"))


def label_propagation(
    edges: DataFrame,
    iters: int = 3,
    weight: str | None = None,
    round_digits: int = 12,
) -> DataFrame:
    """Synchronous WEIGHTED label propagation (community detection) —
    generalizes the unweighted connected-components iteration
    (operators/dedup.py) the way the r05 verdict sketched: each round,
    every node adopts the label carrying the MAXIMUM total incoming edge
    weight among its neighbors' current labels, ties broken by the
    smallest label; nodes with no in-edges keep their label. Labels start
    as the node ids. Synchronous rounds + the total (weight DESC, label
    ASC) tie order make every round deterministic, so an oracle can unroll
    the trajectory as chained CTEs (q125) exactly like q102's PageRank.

    ``weight``: edge-weight column name (None → every edge weighs 1).
    Fractional weights are rounded to ``round_digits`` at aggregation so
    distributed partial sums and a sequential engine agree bit-for-bit;
    integral weights are exact either way.

    Plan shape per round: edges ⋈ labels on src (the edge table is
    shuffled to its join partitioning ONCE and reused every round), one
    groupBy(dst, label) weight sum with map-side partial aggregation, one
    row_number window per dst for the argmax, then a left join back onto
    the full node set so isolated/no-in-edge nodes never drop out of the
    vector. Per-round ``localCheckpoint`` keeps the plan flat (the shared
    iteration discipline of pagerank/connected_components). State is two
    |V|-row vectors; the edge list never materializes on the driver."""
    w_col = F.col(weight).cast("double") if weight else F.lit(1.0).cast("double")
    pinned = _pinned(edges)
    with _static_plans(pinned):
        staged = (
            pinned.select(F.col("src"), F.col("dst"), w_col.alias("w"))
            .repartition("src")
            .localCheckpoint(eager=False)  # r12: round 1's checkpoint materializes both
        )
        nodes = (
            staged.select(F.col("src").alias("node"))
            .unionByName(staged.select(F.col("dst").alias("node")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        labels = nodes.select("node", F.col("node").alias("label"))
        prev_ck: DataFrame | None = None
        for _ in range(iters):
            scores = (
                staged.join(labels, staged["src"] == labels["node"])
                .groupBy(F.col("dst").alias("node"), "label")
                .agg(F.round(F.sum("w"), round_digits).alias("w_sum"))
            )
            # argmax by (w_sum DESC, label ASC) as a STRUCT-MIN aggregate
            # (r12): min(struct(−w_sum, label)) picks the same row
            # the old row_number window did — (−w_sum) ascending ≡ w_sum
            # descending, label ascending breaks ties — but as a hash
            # aggregate with map-side partial combine instead of a
            # sort-within-partitions window pass, removing the per-round sort
            # (finite weight sums; double negation is exact).
            best = (
                scores.groupBy("node")
                .agg(
                    F.min(
                        F.struct((-F.col("w_sum")).alias("nw"), F.col("label").alias("l"))
                    ).alias("__b")
                )
                .select("node", F.col("__b.l").alias("new_label"))
            )
            labels = (
                labels.join(best, "node", "left")
                .select("node", F.coalesce("new_label", "label").alias("label"))
                .localCheckpoint()
            )
            if prev_ck is not None:
                release_checkpoints([prev_ck], blocking=False)
            prev_ck = labels
        if prev_ck is not None:
            # ≥1 round ran: the returned vector depends only on its own final
            # checkpoint — release the staged edge/node tables (and the
            # pinned input)
            release_checkpoints(
                [staged, nodes] + ([pinned] if pinned is not edges else []), blocking=False
            )
        return labels


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    handles_out: list[DataFrame] | None = None,
) -> DataFrame:
    """Per-node triangle counts over an UNDIRECTED edge list — the standard
    degree-ordered orientation algorithm (Schank/Wagner; the MapReduce
    formulation in Suri & Vassilvitskii, WWW'11) as pure DataFrame ops:

    1. canonicalize: (least, greatest), drop self-loops, distinct;
    2. orient every edge from its lower-(degree, id) endpoint to the
       higher one — a total order, so each triangle is produced EXACTLY
       once, and the wedge fan-out below is bounded by the oriented
       out-degree, which is O(sqrt(E)) for ANY graph (the classic
       arboricity bound) instead of the raw max degree;
    3. wedges: self-join oriented edges on the source with an ordered
       endpoint pair, then close each wedge against the oriented edge set;
    4. explode each triangle's three corners and count per node.

    Scale shape: two shuffle joins on node keys plus one on the (t1, t2)
    pair — no global rank/row_number (the ordering is the (degree, id)
    STRUCT comparison, computed per edge endpoint via a degree join, so
    nothing single-partitions); the degree table is |V|-sized and the
    oriented edge list is |E|-sized, both partitioned by their join keys.
    Returns (node, n_tri) for nodes in ≥1 triangle.

    ``und`` feeds the degree build and the orientation join, and the
    oriented list feeds THREE consumers (both wedge sides + the closure)
    — shared subplans Catalyst re-derives per appearance (the repo's
    measured r06 lesson), which would re-execute the caller's whole
    upstream edge plan many times per action. Pass ``handles_out`` to
    lazily checkpoint both (the funnel_counts contract): each
    materializes once at the first action, and the CALLER releases the
    handles (``etl.release_checkpoints``) after its terminal action.

    One-shot cost note (VERDICT r07 #4, the documented contract): with
    ``handles_out=None`` nothing is checkpointed and the re-derivation
    NESTS: the oriented list appears ×3 (both wedge sides + the
    closure) and each appearance embeds ``und`` ×5 (the orientation
    join + 2 appearances under each of the two degree joins) — the
    caller's upstream edge plan executes ~15× per action (measured in
    the analyzed plan; r08 review corrected an earlier ~5× claim).
    That is the deliberate trade (a handle nobody releases is a leak);
    any caller whose edge plan is more than a parquet scan should pass
    a list and release it.
    """

    from kf_task_fhir_etl_spark.operators.lifecycle import staged

    def ck(df: DataFrame) -> DataFrame:
        return staged(df, handles_out)

    und = ck(_normalize_undirected(edges, src, dst))
    # deg is consumed by TWO joins (u-side, v-side) — staged like und/
    # oriented or the |E|-sized union + shuffle re-executes per
    # appearance (r07 review, third pass)
    deg = ck(
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orientation keys: (degree, id) struct per endpoint — struct comparison
    # is lexicographic, giving the total order without any global window
    keyed = (
        und.join(deg.withColumnRenamed("node", "u"), "u")
        .withColumnRenamed("d", "du")
        .join(
            deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v"
        )
        .select(
            "u",
            "v",
            F.struct(F.col("du").alias("d"), F.col("u").alias("n")).alias("ku"),
            F.struct(F.col("dv").alias("d"), F.col("v").alias("n")).alias("kv"),
        )
    )
    oriented = ck(
        keyed.select(
            F.when(F.col("ku") < F.col("kv"), F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(F.col("ku") < F.col("kv"), F.col("v")).otherwise(F.col("u")).alias("t"),
            F.when(F.col("ku") < F.col("kv"), F.col("kv")).otherwise(F.col("ku")).alias("kt"),
        )
    )
    e1 = oriented.select(F.col("s"), F.col("t").alias("t1"), F.col("kt").alias("k1"))
    e2 = oriented.select(F.col("s"), F.col("t").alias("t2"), F.col("kt").alias("k2"))
    wedges = e1.join(e2, "s").filter(F.col("k1") < F.col("k2")).select("s", "t1", "t2")
    closing = oriented.select(F.col("s").alias("t1"), F.col("t").alias("t2"))
    tri = wedges.join(closing, ["t1", "t2"])
    # ONE derivation of tri: the previous 3-way unionAll re-ran the
    # wedge + closure joins (the dominant O(sum d_out^2) work) once per
    # corner even when handles_out staged the inputs (r08 review, ninth
    # pass — measured 3x in the analyzed plan); explode emits the same
    # three corner rows from a single pass
    corners = tri.select(
        F.explode(F.array(F.col("s"), F.col("t1"), F.col("t2"))).alias("node")
    )
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 100,
    handles_out: list[DataFrame] | None = None,
) -> DataFrame:
    """The k-core of an UNDIRECTED simple graph — iterative peeling
    (Matula/Beck '83; the Batagelj-Zaveršnik formulation): repeatedly
    delete every node whose degree in the SURVIVING graph is < k, until a
    fixpoint; return (node, deg) — each surviving node with its degree
    inside the core (≥ k by construction). The k-core is unique and
    order-independent, so synchronous whole-round peeling reaches the
    same fixpoint as any sequential peel — which is what lets a SQL
    oracle unroll the rounds as chained CTEs (extra rounds past the
    fixpoint are provably no-ops: nothing left is below k).

    Plan shape per round: one degree aggregate (explode both endpoints,
    groupBy node — map-side combine applies) and two semi-joins of the
    edge list against the surviving node set, every shuffle on the node
    key. State is the |E|-row edge frame and a |V|-row survivor set;
    nothing edge-sized ever reaches the driver — the per-round fixpoint
    test is a count() comparison (peeling is monotone decreasing, so
    count equality IS set equality). The rounds run on
    ``iterate_to_fixpoint``: one lazy checkpoint and one count per round,
    superseded rounds released. Rounds are data-bounded (≤ |V|
    pathologically, a handful in practice); ``max_rounds`` is a loud
    guard on PRODUCTIVE peels, not a silent truncation, and a round that
    peels the graph empty ends the loop with the (empty) answer.

    Lifecycle of the RETURNED plan (r08 ADVICE): the result is a degree
    aggregate over the FINAL round's |E|-sized edge checkpoint, whose
    blocks are therefore NOT reachable through the returned frame's root
    (its analyzed plan is an Aggregate, not a LogicalRDD, so
    ``etl.release_checkpoints`` on the result cannot free them). Pass
    ``handles_out`` (the funnel_counts contract) to receive that final
    edge checkpoint for explicit release after the caller's terminal
    action; with ``handles_out=None`` the blocks are reclaimed only by
    GC + ContextCleaner when the returned frame is dropped — acceptable
    for one-shot callers, a deferred-GC lifetime resident drivers that
    call k_core repeatedly should avoid.
    """
    if k < 1:
        raise ValueError(f"k_core: k must be >= 1, got {k}")
    def _degrees(frame: DataFrame, out_col: str) -> DataFrame:
        # ONE definition of "degree in the surviving graph" for the peel
        # test AND the returned column — a drift between them would
        # desynchronize the fixpoint from the reported core degrees
        # (r08 review, seventeenth pass; the _normalize_undirected
        # rationale applied within the function)
        return (
            frame.select(F.col("u").alias("node"))
            .unionAll(frame.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias(out_col))
        )

    cur = _normalize_undirected(edges, src, dst).localCheckpoint(eager=False)
    with _static_plans(cur):
        n_cur = cur.count()

        def step(cur: DataFrame) -> tuple[DataFrame, int]:
            nonlocal n_cur
            deg = _degrees(cur, "d")
            # keep feeds TWO semi-joins — without the per-round checkpoint
            # Catalyst re-derives the |E|-sized degree aggregate once per
            # consumer (the triangle_count deg lesson). |V|-sized and LAZY
            # like nxt: the count is the round's ONE job, which computes
            # keep + nxt, persists both and counts in a single pass; keep
            # is released once that count has materialized nxt.
            keep = deg.filter(F.col("d") >= k).select("node").localCheckpoint(eager=False)
            nxt = (
                cur.join(keep.withColumnRenamed("node", "u"), "u", "leftsemi")
                .join(keep.withColumnRenamed("node", "v"), "v", "leftsemi")
                .select("u", "v")
                .localCheckpoint(eager=False)
            )
            n_nxt = nxt.count()
            release_checkpoints([keep], blocking=False)
            # peeling only removes edges, so an unchanged count is the
            # fixpoint; an EMPTY core is terminal too (its answer is known),
            # so it reports no change rather than counting toward the guard
            changed = n_nxt if n_nxt < n_cur else 0
            n_cur = n_nxt
            return nxt, changed

        cur = iterate_to_fixpoint(cur, step, max_rounds, "k_core: max_rounds")
    if handles_out is not None:
        # hand the final round's edge checkpoint to the caller — the
        # returned aggregate cannot release it (docstring lifecycle note)
        handles_out.append(cur)
    return _degrees(cur, "deg")


def _dist_type(edges: DataFrame, weight_col: str) -> str:
    """The distance dtype: bigint for integral weights (exact), double
    otherwise."""
    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    return "bigint" if isinstance(edges.schema[weight_col].dataType, integral) else "double"


def _weighted_edges(
    edges: DataFrame, weight_col: str, src: str, dst: str, directed: bool
) -> DataFrame:
    """(s, t, w) relaxation rows of a weighted edge list: both directions
    unless ``directed``, NULL endpoints/weights and self-loops dropped (a
    NULL weight cannot order, a self-loop never improves a distance), and
    the weight cast to the distance dtype (``_dist_type``)."""
    w = F.col(weight_col).cast(_dist_type(edges, weight_col)).alias("w")
    out = edges.select(F.col(src).alias("s"), F.col(dst).alias("t"), w)
    if not directed:
        out = out.unionByName(edges.select(F.col(dst).alias("s"), F.col(src).alias("t"), w))
    return out.filter(
        F.col("s").isNotNull()
        & F.col("t").isNotNull()
        & F.col("w").isNotNull()
        & (F.col("s") != F.col("t"))
    )


def stage_sssp_edges(
    edges: DataFrame,
    weight_col: str = "w",
    src: str = "src",
    dst: str = "dst",
    directed: bool = False,
) -> DataFrame:
    """Stage the shortest-path propagation medium ONCE: the
    ``_weighted_edges`` rows hash-partitioned on ``s``, then parallel
    edges collapsed to their min weight within each partition (only the
    lightest copy can win a relaxation — this bounds every round's join
    fan-out and IS the undirected dedupe; one shuffle, as the collapse
    keys on (s, t) ⊇ s), behind a LAZY ``localCheckpoint`` that the first
    relaxation round materializes. ``sssp_distances`` and
    ``graph_delta.apply_sssp_inserts`` stage inside their fixpoint's
    ``_static_plans`` scope, where the checkpoint keeps
    ``hashpartitioning(s, n)`` and each round shuffles only the frontier
    side. Callers applying many ``apply_sssp_inserts`` batches over one
    post-changelog edge set may pass the result as ``edges_staged`` to
    pay the symmetrize/collapse once; staged outside a
    scope, adaptive execution plans it and the checkpoint reports no
    partitioning, so each round still re-shuffles it. Such a frame is
    CALLER-owned: release it with ``etl.release_checkpoints`` when
    done."""
    return (
        _weighted_edges(edges, weight_col, src, dst, directed)
        .repartition("s")
        .groupBy("s", "t")
        .agg(F.min("w").alias("w"))
        .localCheckpoint(eager=False)
    )


def _relax(
    state: DataFrame,
    seed: DataFrame,
    max_rounds: int,
    what: str,
    stage: Callable[[], DataFrame] | None = None,
) -> DataFrame:
    """Frontier Bellman-Ford on ``iterate_to_fixpoint`` — the ONE
    relaxation loop behind bfs_distances, sssp_distances and
    graph_delta.apply_sssp_inserts. ``state`` is (node, dist,
    __improved); its improved rows are the first frontier. Each round
    relaxes the (s, t, w) edges OUT OF the frontier — one node-key join +
    min-aggregate on the destination — then ONE full-outer merge of the
    candidates against the distance table is the round's lazy checkpoint
    (next distance = the per-node least, improved = strictly lowered or
    newly reached), and counting its improved rows is the round's one
    action. Round 1 relaxes ``seed``; with ``stage``, the first productive
    round calls it once for the edges of every later round, so a seed
    that improves nothing never builds them. Returns the final state."""
    edges = seed

    def step(cur: DataFrame) -> tuple[DataFrame, int]:
        nonlocal edges, stage
        frontier = cur.filter(F.col("__improved")).select(
            F.col("node").alias("s"), F.col("dist").alias("__d")
        )
        cand = (
            edges.join(frontier, "s")
            .groupBy(F.col("t").alias("node"))
            .agg(F.min(F.col("__d") + F.col("w")).alias("__cand"))
        )
        nxt = (
            cur.select("node", "dist")
            .join(cand, "node", "full")
            .select(
                "node",
                # least() skips NULLs (never both NULL under a full outer join)
                F.least(F.col("dist"), F.col("__cand")).alias("dist"),
                (
                    F.col("__cand").isNotNull()
                    & (F.col("dist").isNull() | (F.col("__cand") < F.col("dist")))
                ).alias("__improved"),
            )
            .localCheckpoint(eager=False)
        )
        changed = nxt.filter(F.col("__improved")).count()
        if changed and stage is not None:
            edges, stage = stage(), None
        return nxt, changed

    return iterate_to_fixpoint(state, step, max_rounds, what)


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    source_col: str = "node",
    max_depth: int = 50,
    directed: bool = False,
) -> DataFrame:
    """Multi-source BFS hop distances: (node, dist) — the minimum number
    of edges from ANY source node, for every reachable node (unreachable
    nodes are absent, the standard convention). BFS is shortest paths
    with unit weights, so this runs the ``sssp_distances`` relaxation over
    (src, dst, 1): with equal weights round k assigns distance k exactly
    to the nodes first reached in it and never improves an earlier one —
    level-synchronous frontier expansion, the textbook distributed BFS,
    with the same per-round plan, lifecycle and edge staging as SSSP.
    ``dist`` is cast back to int.

    ``max_depth`` is a loud guard against pathological chains, not a
    silent truncation: it trips only when a node would be ASSIGNED a
    distance beyond it, so a graph whose eccentricity is exactly
    ``max_depth`` gets its (cheap, empty) confirmation round. BFS levels
    are unique fixpoints, so an unrolled SQL oracle with rounds ≥ the true
    eccentricity reproduces the distances exactly (extra rounds are
    no-ops).

    ``directed=False`` (default) symmetrizes the edge list first;
    ``sources`` is a one-column (``source_col``) frame — dedup'd and
    intersected with nothing: a source absent from the graph still
    reports dist 0 (it IS reachable from itself)."""
    unit = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"), F.lit(1).alias("w"))
    dist = _shortest_paths(
        unit, sources, "w", "src", "dst", source_col, max_depth, directed, None,
        "bfs_distances: max_depth",
    )
    return dist.select("node", F.col("dist").cast("int").alias("dist"))


def sssp_distances(
    edges: DataFrame,
    sources: DataFrame,
    weight_col: str = "w",
    src: str = "src",
    dst: str = "dst",
    source_col: str = "node",
    max_rounds: int = 50,
    directed: bool = False,
    handles_out: list[DataFrame] | None = None,
) -> DataFrame:
    """Multi-source weighted shortest-path distances (node, dist) — the
    minimum total edge weight from ANY source, for every reachable node
    (unreachable nodes absent, the bfs_distances convention). Frontier
    Bellman-Ford (``_relax``): a round relaxes only the edges out of the
    nodes improved last round and costs ONE action, which computes,
    persists and probes the round's full-outer merge in a single pass
    (the anti-join+union formulation it replaced cost ~35% more wall
    clock at sf0.01, where iteration is job-submission-bound).
    Terminates when a round improves nothing. At 100 TB the edge list is
    shuffled to its join partitioning ONCE (``stage_sssp_edges``, which
    also collapses parallel edges to their min weight); per-round state
    is the |V|-row merged frame.

    Lifecycle (the k_core r08-ADVICE contract): the returned frame is a
    projection over the final round's |V|-row checkpoint — pass
    ``handles_out`` to receive that checkpoint for explicit release
    after the terminal action; None leaves it to GC + ContextCleaner.

    Rounds are bounded by the maximum EDGE COUNT of any shortest path
    (non-negative weights; ≤ |V|−1 by Bellman-Ford), so distances are a
    unique fixpoint and an unrolled min-relaxation SQL oracle with
    rounds ≥ that bound is byte-identical — extra rounds are no-ops.
    ``max_rounds`` counts PRODUCTIVE rounds (each improved ≥1 node) and
    raises loudly beyond — which is also the only way out of a
    negative-weight cycle, where "shortest" is undefined; negative edge
    WEIGHTS without a negative cycle relax correctly (textbook
    Bellman-Ford).

    Distance dtype: bigint for integral weights (exact — use integer
    weights when an external engine must reproduce the values
    bit-for-bit), double otherwise (each path's sum is accumulated in
    relaxation order, identical in any engine that unrolls the same
    rounds, but floating min-ties between distinct paths are the usual
    cross-engine caveat). ``directed=False`` symmetrizes (each edge
    relaxable both ways at the same weight); self-loops and NULL
    endpoints/weights are dropped (a NULL weight cannot order)."""
    return _shortest_paths(
        edges, sources, weight_col, src, dst, source_col, max_rounds, directed,
        handles_out, "sssp_distances: max_rounds",
    )


def _shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    weight_col: str,
    src: str,
    dst: str,
    source_col: str,
    max_rounds: int,
    directed: bool,
    handles_out: list[DataFrame] | None,
    what: str,
) -> DataFrame:
    """sssp_distances with the guard named by ``what`` (bfs_distances
    reports its own ``max_depth``)."""
    state = (
        # NULL sources dropped (r08 review, third pass): an outer-join-
        # derived source list would otherwise emit a phantom (NULL, 0) row
        # no SQL oracle produces. Every source starts in the frontier.
        sources.filter(F.col(source_col).isNotNull())
        .select(F.col(source_col).alias("node"))
        .distinct()
        .select(
            "node",
            F.lit(0).cast(_dist_type(edges, weight_col)).alias("dist"),
            F.lit(True).alias("__improved"),
        )
        .localCheckpoint(eager=False)
    )
    pinned = _pinned(edges)
    e = None
    try:
        # the edges are staged in the scope, sized from them and the state
        with _static_plans(state, pinned):
            e = stage_sssp_edges(pinned, weight_col, src, dst, directed)
            state = _relax(state, e, max_rounds, what)
    finally:
        release_checkpoints(
            [d for d in (e, pinned) if d is not None and d is not edges], blocking=False
        )
    if handles_out is not None:
        # the caller owns the final state's blocks — the returned
        # projection's root cannot release them (the k_core lifecycle)
        handles_out.append(state)
    return state.select("node", "dist")


def personalized_pagerank(
    edges: DataFrame,
    sources: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    round_digits: int = 12,
    source_col: str = "node",
) -> DataFrame:
    """Personalized PageRank (random walk with restart): ``pagerank``
    with the teleport mass concentrated on a RESTART SET instead of
    spread uniformly — the similarity/recommendation primitive ("rank
    everything by proximity to THESE nodes"). Update rule per round::

        pr'(v) = (1−d)·r(v) + d·(Σ_{u→v} pr(u)/deg(u) + D·r(v))

    where ``r(v) = 1/|S|`` for v in the restart set S (sources present
    in the graph — absent sources carry no mass) and 0 elsewhere, and
    ``D`` is the round's dangling mass, redistributed PROPORTIONAL TO
    THE RESTART VECTOR (the standard PPR treatment — a lost walker
    restarts, it does not teleport uniformly). Rank mass is conserved:
    Σ pr = 1 every round up to the per-round rounding.

    Runs fixed ``iters`` rounds from r itself; returns (node, pr) at
    6dp, INCLUDING zero-rank rows for nodes unreachable from S — the
    full-vector contract an unrolled SQL oracle reproduces (every round
    rounds to ``round_digits``, so distributed partial sums and a
    sequential engine agree bit-for-bit).

    Plan shape per round: ``pagerank``'s (one edge⋈rank join +
    groupBy(dst) sum on the node key; one-row dangling aggregate
    broadcast), but planned adaptively: the staged edge table's
    checkpoint reports no partitioning, so each round re-shuffles it. The
    restart vector is a staged |V|-row frame reused every round. Raises
    on an empty effective restart set (release-before-raise)."""
    edges = edges.localCheckpoint(eager=False)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)  # r12: the restart-vector count materializes these
    )
    seeds = nodes.join(
        sources.select(F.col(source_col).alias("node")).distinct(), "node", "left_semi"
    )
    # restart vector: 1/|S| on seeds, 0.0 elsewhere — staged once, read
    # every round (twice: the base term and the dangling redistribution).
    # The CHECKPOINTED frame handle is kept for release: the reach-through
    # in etl.release_checkpoints frees blocks only when the frame's
    # analyzed root IS the LogicalRDD — a projection would silently no-op
    restart_ck = (
        nodes.join(seeds.select("node", F.lit(True).alias("__s")), "node", "left")
        .select("node", F.col("__s").isNotNull().alias("__s"))
        .localCheckpoint(eager=False)  # r12: the seed count below materializes it
    )
    s = restart_ck.filter(F.col("__s")).count()
    if s == 0:
        release_checkpoints([edges, nodes, restart_ck], blocking=False)
        raise ValueError(
            "personalized_pagerank: no source node exists in the graph — "
            "the restart vector would be all-zero"
        )
    restart = restart_ck.select(
        "node", F.when(F.col("__s"), F.lit(1.0 / s)).otherwise(F.lit(0.0)).alias("r")
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    edges_deg = (
        edges.join(deg, edges["src"] == deg["node"])
        .select("src", "dst", "deg")
        .repartition("src")
        .localCheckpoint(eager=False)  # r12: round 1's checkpoint job materializes it
    )
    dangling_nodes = nodes.join(deg.select("node"), "node", "left_anti").localCheckpoint(
        eager=False
    )
    # round-invariant emptiness probe — the pagerank() rationale (r12):
    # when no node lacks out-links, the per-round semi-join + one-row
    # aggregate + broadcast contribute an exact +0.0·r — skip both jobs
    has_dangling = bool(dangling_nodes.take(1))
    ranks = restart.select("node", F.col("r").alias("pr"))
    prev_ck: DataFrame | None = None
    for _ in range(iters):
        contribs = edges_deg.join(ranks, edges_deg["src"] == ranks["node"]).select(
            F.col("dst").alias("node"), (F.col("pr") / F.col("deg")).alias("w")
        )
        sums = contribs.groupBy("node").agg(F.sum("w").alias("w_sum"))
        if has_dangling:
            dangling = ranks.join(dangling_nodes, "node", "leftsemi").agg(
                F.round(F.coalesce(F.sum("pr"), F.lit(0.0)), round_digits).alias("d_mass")
            )
            new_pr = F.round(
                F.lit(1.0 - damping) * F.col("r")
                + F.lit(damping)
                * (
                    F.coalesce(F.col("w_sum"), F.lit(0.0))
                    + F.col("d_mass") * F.col("r")
                ),
                round_digits,
            ).alias("pr")
            ranks = (
                restart.join(sums, "node", "left")
                .crossJoin(F.broadcast(dangling))
                .select("node", new_pr)
                .localCheckpoint()
            )
        else:
            new_pr = F.round(
                F.lit(1.0 - damping) * F.col("r")
                + F.lit(damping) * F.coalesce(F.col("w_sum"), F.lit(0.0)),
                round_digits,
            ).alias("pr")
            ranks = (
                restart.join(sums, "node", "left").select("node", new_pr).localCheckpoint()
            )
        if prev_ck is not None:
            release_checkpoints([prev_ck], blocking=False)
        prev_ck = ranks
    # The four graph-side staged frames are released on EVERY exit path
    # (r09 VERDICT #1: gating them on prev_ck leaked all four — plus
    # restart_ck — for the session on an iters=0 call): with iters=0 the
    # returned frame is a projection of `restart_ck` ONLY, so the graph
    # frames are already dead; after ≥1 round the final round's checkpoint
    # carries the result and restart_ck is superseded too.
    release_checkpoints([edges, nodes, edges_deg, dangling_nodes], blocking=False)
    if prev_ck is not None:
        # the restart vector's checkpoint is superseded too: the returned
        # frame re-derives from the FINAL round's checkpoint only
        release_checkpoints([restart_ck], blocking=False)
    return ranks.select("node", F.round(F.col("pr"), 6).alias("pr"))
