"""Incremental connected-components maintenance — a signed EDGE changelog
updates an existing (node, component) labeling without recomputing the
whole graph (VERDICT r09 Next #5: the IVM line × the iterative-graph
line). The split follows the literature's tractability boundary:

- **Edge INSERTS maintain algebraically.** An inserted edge merges (at
  most) two components; since every component's label is already the MIN
  node id of its member set, the merge is min-label propagation on the
  COMPONENT GRAPH — nodes are the touched labels, edges are the inserted
  edges' (label_a, label_b) pairs — a graph bounded by the batch size,
  never the data. Relabeling is one broadcast remap join against the full
  labeling. This is the union-by-min-label fold (Shiloach-Vishkin's
  hooking step applied to an already-contracted graph).
- **Edge DELETES recompute boundedly.** A deletion can split a component,
  and no label summary can testify to the surviving connectivity — so
  ONLY the components a deleted edge touched are recomputed, from the
  post-changelog edge slice INTERNAL to those components (every
  post-changelog edge that crosses old component boundaries is
  necessarily an inserted edge — old edges connect within old components
  by definition — so the insert fold above is exactly the cross-boundary
  complement). Untouched components pass through byte-exact.

Ordering of the phases is load-bearing: deletes first produce the
intermediate labeling L1 (splits materialized), THEN inserts map their
endpoints to L1 labels — an inserted edge that re-bridges a split, or
bridges a split fragment to an untouched component, lands in the label
graph with the right endpoints.

Contracts (the ivm.py discipline): ``edges_new`` is the POST-changelog
edge set (a real pipeline has it; deriving it here would rescan what the
caller already wrote — the apply_minmax_delta precedent); deletes name
edges that existed under ``comps``' labeling; the node universe is
``comps``'s nodes ∪ insert-edge endpoints (deleting every edge of a node
leaves it a singleton, it never vanishes); NULL endpoints are dropped at
intake like ``connected_components``; labels equal the min node id
reachable, so the maintained result is bit-identical to a from-scratch
``connected_components`` recompute on the post-changelog graph — the q154
gate's contract.

Cost at 100 TB: the full labeling is touched by ONE broadcast-probe
anti/semi pair (delete-touched components) and ONE broadcast remap join
(insert-merged labels) — both delta-bounded probes; the edge table is
touched only by the touched-component slice joins. The recompute scope is
the touched components' induced subgraph — worst case one giant
component, which is the inherent price of deletion without maintaining a
spanning forest. That refinement now EXISTS here (r11 —
``apply_components_delta_forest`` + ``spanning_forest``): with a
maintained forest, a deleted NON-tree edge is a certified no-op and only
tree-edge deletions pay the bounded recompute.

Reference anchor: the reference pipeline has no graph surface; this
extends the engine's own connected_components (operators/dedup.py,
q63/q72) and IVM (q133/q144-q149) families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kf_task_fhir_etl_spark.operators.dedup import connected_components
from kf_task_fhir_etl_spark.operators.graph import stage_sssp_edges
from kf_task_fhir_etl_spark.operators.lifecycle import assert_bounded_stats


def apply_components_delta(
    comps: DataFrame,
    edges_new: DataFrame,
    delta: DataFrame,
    node_col: str = "node",
    comp_col: str = "component",
    edge_cols: tuple[str, str] = ("id_a", "id_b"),
    sign_col: str = "op",
    max_iter: int = 25,
) -> DataFrame:
    """Maintain a connected-components labeling through a signed edge
    changelog. ``comps``: (node_col, comp_col) — the current labeling.
    ``edges_new``: the post-changelog edge set. ``delta``: edge_cols +
    sign_col (+1 insert, −1 delete). Returns the updated labeling with
    the same schema and the same min-node-id label convention."""
    a, b = edge_cols
    for side, df, need in (
        ("comps", comps, [node_col, comp_col]),
        ("edges_new", edges_new, [a, b]),
        ("delta", delta, [a, b, sign_col]),
    ):
        missing = [c for c in need if c not in df.columns]
        if missing:
            raise ValueError(f"apply_components_delta: {side} lacks {missing}")
    # storage-boundary guardrail (r12 — see lifecycle.assert_bounded_stats):
    # asserted on the STATE INPUT, where generation-chained in-memory state
    # appears; a single apply's own output legitimately compounds stats
    # internally, so the input is the discriminating surface
    assert_bounded_stats(comps, context="apply_components_delta comps input")
    clean = delta.filter(F.col(a).isNotNull() & F.col(b).isNotNull() & (F.col(a) != F.col(b)))
    ins = clean.filter(F.col(sign_col) > 0).select(a, b)
    dels = clean.filter(F.col(sign_col) < 0).select(a, b)

    # ---- phase 1: delete-touched components recompute boundedly ----------
    del_nodes = (
        dels.select(F.col(a).alias(node_col))
        .unionByName(dels.select(F.col(b).alias(node_col)))
        .distinct()
    )
    del_comps = (
        comps.join(F.broadcast(del_nodes), node_col, "left_semi")
        .select(F.col(comp_col).alias("__dc"))
        .distinct()
    )
    # staged ONCE (lazy, r12): members feeds the endpoint maps, the
    # recompute's node set, and the untouched anti-join — each consumer
    # otherwise re-executes the labeling scan + broadcast semi per
    # appearance (the triangle_count re-derivation lesson)
    members = comps.join(
        F.broadcast(del_comps), F.col(comp_col) == F.col("__dc"), "left_semi"
    ).localCheckpoint(eager=False)
    # post-changelog edges INTERNAL to a touched component under the OLD
    # labeling (both endpoints in the same touched component — inserted
    # intra edges included, so a delete compensated by an insert inside
    # one component recomputes to the still-connected truth); no broadcast
    # hint: `members` is component-sized, not delta-sized
    ma = members.select(F.col(node_col).alias(a), F.col(comp_col).alias("__ca"))
    mb = members.select(F.col(node_col).alias(b), F.col(comp_col).alias("__cb"))
    # staged ONCE (lazy, r12): the slice join cascade otherwise executes
    # once inside the recompute CC's edge staging AND once per further
    # consumer — the dominant repeated pass of the whole apply (measured:
    # the phase-1 recompute is ~2/3 of q159's wall clock)
    sub_edges = (
        edges_new.join(ma, a).join(mb, b).filter(F.col("__ca") == F.col("__cb")).select(a, b)
    ).localCheckpoint(eager=False)
    recomputed = connected_components(
        members.select(node_col), sub_edges, node_col=node_col, edge_cols=(a, b),
        max_iter=max_iter,
    ).select(node_col, F.col("component").alias(comp_col))
    untouched = comps.join(
        F.broadcast(del_comps), F.col(comp_col) == F.col("__dc"), "left_anti"
    )
    l1 = untouched.select(node_col, comp_col).unionByName(recomputed)

    # ---- phase 2: inserts fold on the component graph --------------------
    ins_nodes = (
        ins.select(F.col(a).alias(node_col))
        .unionByName(ins.select(F.col(b).alias(node_col)))
        .distinct()
    )
    new_nodes = ins_nodes.join(comps.select(node_col), node_col, "left_anti").select(
        node_col, F.col(node_col).alias(comp_col)
    )
    l1p = l1.unionByName(new_nodes)
    lab = l1p.select(F.col(node_col).alias("__n"), F.col(comp_col).alias("__l"))
    # endpoint → L1 label: two delta-driven joins (the batch-sized insert
    # set is the broadcast side; the labeling is never shuffled for this)
    e1 = (
        F.broadcast(ins)
        .join(lab, F.col(a) == F.col("__n"))
        .select(F.col(b), F.col("__l").alias("__la"))
    )
    pairs = (
        F.broadcast(e1)
        .join(lab, F.col(b) == F.col("__n"))
        .select(F.col("__la"), F.col("__l").alias("__lb"))
        .filter(F.col("__la") != F.col("__lb"))
        .distinct()
    )
    touched_labels = (
        pairs.select(F.col("__la").alias(node_col))
        .unionByName(pairs.select(F.col("__lb").alias(node_col)))
        .distinct()
    )
    mapping = connected_components(
        touched_labels, pairs, node_col=node_col, edge_cols=("__la", "__lb"),
        max_iter=max_iter,
    ).select(
        F.col(node_col).alias("__from"), F.col("component").alias("__to")
    ).filter(F.col("__from") != F.col("__to"))
    remapped = l1p.join(
        F.broadcast(mapping), F.col(comp_col) == F.col("__from"), "left"
    ).select(
        node_col, F.coalesce(F.col("__to"), F.col(comp_col)).alias(comp_col)
    )
    return remapped


def apply_sssp_inserts(
    dist: DataFrame,
    edges_new: DataFrame,
    delta_edges: DataFrame,
    weight_col: str = "w",
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    dist_col: str = "dist",
    directed: bool = False,
    max_rounds: int = 50,
    handles_out: list[DataFrame] | None = None,
    edges_staged: DataFrame | None = None,
) -> DataFrame:
    """Maintain multi-source shortest-path distances through an
    INSERT-ONLY edge batch — the tractable half of dynamic SSSP, on the
    same literature boundary as ``apply_components_delta``: edge
    insertion only LOWERS distances, so Bellman-Ford simply CONTINUES
    from the current table and converges to exactly the from-scratch
    answer; deletion can raise distances, which without a maintained
    shortest-path forest needs recompute (``sssp_distances``) — out of
    scope by design.

    ``dist``: (node_col, dist_col), the current distances (reachable
    nodes only — the ``sssp_distances`` convention). ``edges_new``: the
    POST-changelog edge set, the propagation medium (an improvement at v
    must flow onward through v's OLD edges too — the apply_minmax_delta
    ``base_new`` precedent). ``delta_edges``: the inserted edges
    (src, dst, weight_col); symmetrized unless ``directed``.

    Plan shape: ``sssp_distances``' relaxation (graph._relax), continued.
    Round 1 is the SEED: the inserted edges relaxed against the WHOLE
    current table — ONE broadcast-delta join, batch-sized. Each later
    round relaxes out of the improved set over the post-changelog edges,
    so the per-round cost is bounded by the improvement wavefront, never
    a full restart from the sources. The propagation medium is staged
    LAZILY (r10 VERDICT What's-wrong #2): ``stage_sssp_edges(edges_new)``
    runs only once the seed improved something — so an insert that
    improves nothing costs the seed join and one empty-frontier check,
    FULL STOP, never an O(|E|) shuffle. Callers applying many batches
    over one edge set pass ``edges_staged`` (from ``stage_sssp_edges``)
    to pay that shuffle once across all of them; a staged frame is
    caller-owned and never released here. ``max_rounds`` counts
    productive rounds, the seed included, and raises loudly (also the
    negative-cycle exit for negative delta weights). Integer weights
    stay exact (bigint); see the sssp_distances float caveat otherwise.
    ``handles_out`` receives the final merge's checkpoint, which the
    returned projection reads (the sssp_distances lifecycle)."""
    from kf_task_fhir_etl_spark.etl import release_checkpoints
    from kf_task_fhir_etl_spark.operators.graph import _relax, _weighted_edges

    # storage-boundary guardrail on the state INPUT (r12 — see lifecycle)
    assert_bounded_stats(dist, context="apply_sssp_inserts dist input")
    owned: list[DataFrame] = []

    def stage() -> DataFrame:
        if edges_staged is not None:
            return edges_staged
        owned.append(stage_sssp_edges(edges_new, weight_col, src, dst, directed))
        return owned[0]

    # the seed's frontier is the whole table; releasing this projection
    # of the caller's frame is a no-op (it is no checkpoint root)
    state = dist.select(
        F.col(node_col).alias("node"),
        F.col(dist_col).alias("dist"),
        F.lit(True).alias("__improved"),
    )
    seed = F.broadcast(_weighted_edges(delta_edges, weight_col, src, dst, directed))
    try:
        state = _relax(state, seed, max_rounds, "apply_sssp_inserts: max_rounds", stage)
    finally:
        release_checkpoints(owned, blocking=False)
    if handles_out is not None:
        handles_out.append(state)
    return state.select(F.col("node").alias(node_col), F.col("dist").alias(dist_col))


# ---------------------------------------------------------------------------
# Spanning-forest-maintained connected components (r11 — VERDICT r10 Next #4:
# the refinement SCALE.md named). The labeling alone cannot testify to
# surviving connectivity under deletion, so apply_components_delta recomputes
# EVERY delete-touched component. A maintained spanning forest adds exactly
# that testimony: a deleted edge NOT in the forest cannot disconnect anything
# (the forest still spans), so it is a metadata no-op — zero recompute, zero
# labeling I/O. Only TREE-edge deletions trigger the bounded recompute, and
# near-dup cluster graphs are dense (clique-ish blobs), so tree edges are a
# vanishing fraction of deletable edges. This is the classic
# certificate-of-connectivity idea from the dynamic-graph literature
# (Even–Shiloach / Holm–de Lichtenberg–Thorup maintain cleverer certificates;
# a plain spanning forest buys the common case at DataFrame-operator cost).
# ---------------------------------------------------------------------------


def spanning_forest(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    edge_cols: tuple[str, str] = ("id_a", "id_b"),
    comps: DataFrame | None = None,
    comp_col: str = "component",
    max_iter: int = 25,
    max_depth: int = 50,
) -> DataFrame:
    """Deterministic spanning forest of an undirected graph, as edges —
    one canonical (least, greatest) row per tree edge, exactly
    ``|reachable non-root nodes|`` rows. Construction reuses the audited
    iterative operators instead of bespoke loops: component labels
    (``connected_components`` — skipped when the caller passes a fresh
    ``comps``), multi-source BFS from each component's root (= min node
    id, the label convention), then every non-root node picks its MINIMUM
    canonical incident edge whose other endpoint sits one BFS level
    closer to the root. Orienting each picked edge child→parent strictly
    decreases the BFS level, so the edge set is acyclic; every non-root
    node picks exactly one, so it spans — a forest by construction, no
    per-round cycle argument needed (the Borůvka alternative needs full
    contraction per round to stay acyclic across rounds).

    Cost: one CC pass (O(diameter) rounds) + one BFS (same) + one join —
    the same asymptotics as the labeling build itself; both iterative
    passes release superseded checkpoints (their own discipline).
    Deterministic: min-reductions only, no RNG.

    Returns a LOCALCHECKPOINTED frame the caller owns (the
    connected_components/bfs_distances convention) — it truncates the
    plan TREE so multiply-referenced forests don't replicate the build
    subtree into every consumer. One thing the checkpoint does NOT do:
    reset Catalyst's size statistics. LogicalRDD carries the ORIGIN
    plan's sizeInBytes into the leaf (measured: checkpointed bits ==
    plan bits), and sizeInBytes is a PRODUCT across join inputs starting
    from Long.MaxValue defaults — so state chained IN MEMORY across many
    batches doubles its stats bit-length per generation until planning
    spins the driver at 100% in BigInteger.multiplyToomCook3 inside
    SizeInBytesOnlyStatsPlanVisitor (observed live via jstack; a 26-node
    test graph stalled for 20+ minutes before a single task ran). Store
    maintained state through PARQUET (or the versioned store) between
    batches — files reset stats to their actual sizes; every streaming
    sink in this repo is immune for exactly that reason."""
    a, b = edge_cols
    from kf_task_fhir_etl_spark.operators.graph import bfs_distances

    if comps is None:
        comps = connected_components(
            nodes, edges, node_col=node_col, edge_cols=(a, b), max_iter=max_iter
        ).select(node_col, F.col("component").alias(comp_col))
    roots = comps.filter(F.col(node_col) == F.col(comp_col)).select(node_col)
    # staged ONCE (lazy, r12): canon feeds the BFS edge staging AND the
    # incident-edge join below — without the checkpoint the caller's edge
    # plan (e.g. the delta-apply's slice join cascade) executes twice
    canon = (
        edges.filter(F.col(a).isNotNull() & F.col(b).isNotNull() & (F.col(a) != F.col(b)))
        .select(F.least(a, b).alias(a), F.greatest(a, b).alias(b))
        .distinct()
        .localCheckpoint(eager=False)
    )
    dist = bfs_distances(canon, roots, src=a, dst=b, source_col=node_col, max_depth=max_depth)
    da = dist.select(F.col("node").alias(a), F.col("dist").alias("__da"))
    db = dist.select(F.col("node").alias(b), F.col("dist").alias("__db"))
    inc = canon.join(da, a).join(db, b)
    child_a = inc.filter(F.col("__da") == F.col("__db") + 1).select(
        F.col(a).alias("__child"), a, b
    )
    child_b = inc.filter(F.col("__db") == F.col("__da") + 1).select(
        F.col(b).alias("__child"), a, b
    )
    return (
        child_a.unionByName(child_b)
        .groupBy("__child")
        .agg(F.min(F.struct(F.col(a), F.col(b))).alias("__m"))
        .select(F.col("__m").getField(a).alias(a), F.col("__m").getField(b).alias(b))
        # LAZY (r12): plan truncation (the docstring's purpose) happens at
        # construction either way; the first consumer's action materializes
        # the blocks inside its own job instead of a standalone one
        .localCheckpoint(eager=False)
    )


def apply_components_delta_forest(
    comps: DataFrame,
    forest: DataFrame,
    edges_new: DataFrame,
    delta: DataFrame,
    node_col: str = "node",
    comp_col: str = "component",
    edge_cols: tuple[str, str] = ("id_a", "id_b"),
    sign_col: str = "op",
    max_iter: int = 25,
    max_depth: int = 50,
) -> tuple[DataFrame, DataFrame]:
    """``apply_components_delta`` with a maintained spanning forest:
    returns ``(labeling, forest)``, both to be stored for the next batch.
    ``forest`` holds canonical (least, greatest) tree edges of the
    CURRENT graph (bootstrap with ``spanning_forest``); labels follow the
    min-node-id convention, bit-identical to a from-scratch
    ``connected_components`` recompute — the q159 gate's contract.
    The returned frames are PLANS over the caller's stored state — WRITE
    them (parquet / the versioned store) before feeding the next batch (a
    real pipeline persists its state anyway). localCheckpoint is NOT a
    substitute here: it truncates lineage but carries the origin plan's
    sizeInBytes into the leaf, so in-memory chaining still doubles the
    stats bit-length per batch until planning stalls — the
    spanning_forest docstring has the autopsy.

    Phases (ordering load-bearing, as in apply_components_delta):

    1. **Deletes.** Canonicalized deletes split by ONE probe against the
       forest: a NON-tree delete is a metadata no-op — the forest still
       spans, connectivity is certified, the labeling and forest are not
       touched (when a batch carries only non-tree deletes, NO CC/BFS
       runs at all — the test pins this with a call counter). TREE
       deletes recompute only their touched components from the
       post-changelog edge slice internal to them (the
       apply_components_delta scope, narrowed: components touched by
       tree deletes only), rebuilding both labels AND forest for that
       slice (the recompute's own labeling is passed to spanning_forest,
       so the slice pays ONE extra BFS, not a second CC).
    2. **Inserts.** The batch-sized label-graph fold (broadcast remap,
       labeling never reshuffled), plus forest growth: a spanning forest
       OF THE LABEL GRAPH (each label = an already-spanned tree, so the
       contracted forest lifts to an acyclic edge set on the base graph)
       maps back through each label pair's MINIMUM representative
       inserted edge and unions into the stored forest.

    Scale shape: the tree-ness probe is one broadcast-delta semi/anti
    pair against the forest (forest-sized scan, delta-bounded output;
    bucket the persisted forest by canonical-edge hash to prune the scan
    at 100 TB); everything else is bounded exactly as in
    apply_components_delta, with the recompute scope cut from
    'delete-touched components' to 'TREE-delete-touched components'."""
    a, b = edge_cols
    for side, df, need in (
        ("comps", comps, [node_col, comp_col]),
        ("forest", forest, [a, b]),
        ("edges_new", edges_new, [a, b]),
        ("delta", delta, [a, b, sign_col]),
    ):
        missing = [c for c in need if c not in df.columns]
        if missing:
            raise ValueError(f"apply_components_delta_forest: {side} lacks {missing}")
    # storage-boundary guardrail on BOTH state inputs (r12 — see lifecycle)
    assert_bounded_stats(comps, context="apply_components_delta_forest comps input")
    assert_bounded_stats(forest, context="apply_components_delta_forest forest input")
    clean = delta.filter(F.col(a).isNotNull() & F.col(b).isNotNull() & (F.col(a) != F.col(b)))
    ins = clean.filter(F.col(sign_col) > 0).select(a, b)
    dels = (
        clean.filter(F.col(sign_col) < 0)
        .select(F.least(a, b).alias(a), F.greatest(a, b).alias(b))
        .distinct()
    )

    # ---- phase 1: tree-ness probe, then bounded recompute ----------------
    tree_dels = forest.join(F.broadcast(dels), [a, b], "left_semi")
    has_tree_dels = bool(tree_dels.take(1))
    if has_tree_dels:
        del_nodes = (
            tree_dels.select(F.col(a).alias(node_col))
            .unionByName(tree_dels.select(F.col(b).alias(node_col)))
            .distinct()
        )
        del_comps = (
            comps.join(F.broadcast(del_nodes), node_col, "left_semi")
            .select(F.col(comp_col).alias("__dc"))
            .distinct()
        )
        # members + sub_edges staged ONCE (lazy, r12) — the
        # apply_components_delta phase-1 rationale: the slice cascade
        # otherwise re-executes inside the recompute CC's staging, the
        # forest rebuild's BFS staging, and its incident-edge join
        members = comps.join(
            F.broadcast(del_comps), F.col(comp_col) == F.col("__dc"), "left_semi"
        ).localCheckpoint(eager=False)
        ma = members.select(F.col(node_col).alias(a), F.col(comp_col).alias("__ca"))
        mb = members.select(F.col(node_col).alias(b), F.col(comp_col).alias("__cb"))
        sub_edges = (
            edges_new.join(ma, a).join(mb, b).filter(F.col("__ca") == F.col("__cb")).select(a, b)
        ).localCheckpoint(eager=False)
        recomputed = connected_components(
            members.select(node_col), sub_edges, node_col=node_col, edge_cols=(a, b),
            max_iter=max_iter,
        ).select(node_col, F.col("component").alias(comp_col))
        rebuilt_forest = spanning_forest(
            members.select(node_col), sub_edges, node_col=node_col, edge_cols=(a, b),
            comps=recomputed, comp_col=comp_col, max_iter=max_iter, max_depth=max_depth,
        )
        untouched = comps.join(
            F.broadcast(del_comps), F.col(comp_col) == F.col("__dc"), "left_anti"
        )
        # checkpointed: phase 2 references l1 several times and the stats
        # estimator multiplies sizeInBytes across every DUPLICATED subtree
        # reference — left raw, the composed plan's BigInt stats spun the
        # driver at 100% for minutes (the spanning_forest autopsy); blocks
        # are labeling-sized and reclaimed by GC with the result
        l1 = untouched.select(node_col, comp_col).unionByName(recomputed).localCheckpoint(
            eager=False  # r12: materialized by phase 2 / the caller's action
        )
        # forest edges inside a touched component are replaced wholesale
        # (members bounds the semi probe; both endpoints share a component
        # by the forest invariant, so probing endpoint `a` suffices)
        f1 = forest.join(
            members.select(F.col(node_col).alias(a)), a, "left_anti"
        ).unionByName(rebuilt_forest).localCheckpoint(eager=False)
    else:
        l1 = comps.select(node_col, comp_col)
        f1 = forest.select(a, b)

    # ---- phase 2: inserts fold on the component graph + forest growth ----
    has_ins = bool(ins.take(1))
    if not has_ins:
        return l1, f1

    ins_nodes = (
        ins.select(F.col(a).alias(node_col))
        .unionByName(ins.select(F.col(b).alias(node_col)))
        .distinct()
    )
    new_nodes = ins_nodes.join(comps.select(node_col), node_col, "left_anti").select(
        node_col, F.col(node_col).alias(comp_col)
    )
    # l1p is the fan-out hub of phase 2 (lab feeds e1, lpairs, rep — and
    # the remap reads it again): checkpoint once, stats stay leaf-sized
    l1p = l1.unionByName(new_nodes).localCheckpoint(eager=False)
    lab = l1p.select(F.col(node_col).alias("__n"), F.col(comp_col).alias("__l"))
    e1 = (
        F.broadcast(ins)
        .join(lab, F.col(a) == F.col("__n"))
        .select(F.col(a), F.col(b), F.col("__l").alias("__la"))
    )
    lpairs = (
        F.broadcast(e1)
        .join(lab, F.col(b) == F.col("__n"))
        .select(F.col(a), F.col(b), F.col("__la"), F.col("__l").alias("__lb"))
        .filter(F.col("__la") != F.col("__lb"))
    )
    # one representative (minimum canonical) inserted edge per label pair;
    # the label pair itself canonicalized so both orientations collapse
    rep = (
        lpairs.select(
            F.least("__la", "__lb").alias("__pl"),
            F.greatest("__la", "__lb").alias("__ph"),
            F.least(a, b).alias(a),
            F.greatest(a, b).alias(b),
        )
        .groupBy("__pl", "__ph")
        .agg(F.min(F.struct(F.col(a), F.col(b))).alias("__m"))
        .select(
            "__pl", "__ph",
            F.col("__m").getField(a).alias(a), F.col("__m").getField(b).alias(b),
        )
        # checkpointed: three consumers (the fold's CC, the label-graph
        # spanning forest, the lift-back join) would otherwise each carry
        # a full copy of the broadcast-fold subtree into their plans —
        # batch-sized blocks, reclaimed by GC with the result (LAZY r12:
        # the label-graph CC's first action materializes them)
        .localCheckpoint(eager=False)
    )
    touched_labels = (
        rep.select(F.col("__pl").alias(node_col))
        .unionByName(rep.select(F.col("__ph").alias(node_col)))
        .distinct()
    )
    # ONE label-graph CC pass feeds both the remap and the forest growth
    # (r11 ADVICE: spanning_forest(comps=None) used to recompute the same
    # labeling — phase 1 already shows the sharing pattern). label_cc is
    # the UNFILTERED labeling (spanning_forest needs the roots, which the
    # __from != __to filter below would drop); connected_components
    # returns it localCheckpointed, so the two consumers share blocks.
    label_cc = connected_components(
        touched_labels, rep.select("__pl", "__ph"), node_col=node_col,
        edge_cols=("__pl", "__ph"), max_iter=max_iter,
    ).select(node_col, F.col("component").alias(comp_col))
    mapping = label_cc.select(
        F.col(node_col).alias("__from"), F.col(comp_col).alias("__to")
    ).filter(F.col("__from") != F.col("__to"))
    remapped = l1p.join(
        F.broadcast(mapping), F.col(comp_col) == F.col("__from"), "left"
    ).select(
        node_col, F.coalesce(F.col("__to"), F.col(comp_col)).alias(comp_col)
    )
    # forest growth: spanning forest OF THE LABEL GRAPH (batch-sized),
    # lifted back through each pair's representative inserted edge
    ftree = spanning_forest(
        touched_labels, rep.select("__pl", "__ph"), node_col=node_col,
        edge_cols=("__pl", "__ph"), comps=label_cc, comp_col=comp_col,
        max_iter=max_iter, max_depth=max_depth,
    )
    added = ftree.join(rep, ["__pl", "__ph"]).select(a, b)
    return remapped, f1.unionByName(added)
