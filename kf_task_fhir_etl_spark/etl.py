"""End-to-end pipeline: extract → transform → build → load.

The Spark re-expression of the reference's ``Ingest`` driver
(``etl/ingest.py:42-531``):

- **extract**: a catalog of endpoint DataFrames (parquet/JDBC/REST — see
  ``sources``), replacing the Postgres snapshot dict (``etl/ingest.py:53-127``).
- **transform**: ``plans.transform.transform_study`` — the conditional
  outer-join cascade + normalize (``etl/ingest.py:129-493``).
- **build**: ``build_resources``, one fused pass of every applicable entity
  builder over the wide/FR tables → ONE
  ``(target, resource_type, target_id, resource_json)`` DataFrame.
- **load**: keyed idempotent sink (``sinks``) — the union merged on
  ``(target, target_id)`` in engine mode, or, in FHIR REST upsert parity
  mode (``kf_api_fhir_service.py:37-94``), the per-target views of
  ``by_target`` in the fixed dependency order
  (``kf_api_fhir_service.py:115-132``).

With deterministic surrogate IDs the dependency order no longer gates
correctness (references are pure functions), so all builders share one
pass; the order is kept for load-time referential integrity against a real
FHIR server.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kf_task_fhir_etl_spark.builders import BUILDERS
from kf_task_fhir_etl_spark.plans.mappings import pad_concepts
from kf_task_fhir_etl_spark.plans.transform import TransformResult, transform_study


def _checkpoint_tables(transformed: TransformResult, overlap):
    """Eagerly ``localCheckpoint`` every transform output, replacing
    ``transformed.tables`` entries with the checkpointed frames — the Spark
    analogue of the reference materializing the wide pandas frame in RAM
    (``etl/ingest.py:485``). The FR and wide cascades are independent jobs,
    so they materialize concurrently (the scheduler interleaves their
    stages). Each materialization is a blocking py4j call executing
    JVM-side (it releases the GIL), so ``overlap`` — a zero-argument
    callable — runs on the calling thread meanwhile; its result is
    returned."""
    with ThreadPoolExecutor(max_workers=max(1, len(transformed.tables))) as ex:
        futures = {
            key: ex.submit(df.localCheckpoint, eager=True)
            for key, df in transformed.tables.items()
        }
        result = overlap()
        for key, fut in futures.items():
            transformed.tables[key] = fut.result()
    return result


def build_resources(
    transformed: TransformResult,
    metadata: DataFrame | None = None,
) -> DataFrame:
    """The build: ONE select over ONE scan of the checkpointed wide table
    emits every row-wise builder's
    ``(target, resource_type, target_id, resource_json)`` struct — 13
    serialized resources per input row via an array of null-able elements
    + explode — followed by one dedupe shuffle on (target, target_id).
    Aggregating builders (Family, DRSDocumentReference) and the separate
    family_relationship table keep their own ``build()`` plans and union in.

    Why fused: after ``localCheckpoint`` column pruning can no longer
    narrow a scan of the wide table, so one plan per builder would be 16
    full-width scans and 16 dedupe shuffles; fused it is 1 scan + 1 shuffle
    for the row-wise set (the at-scale win). The fused elements and each
    builder's ``build()`` share the builders' ``plan()`` expressions, so
    they cannot drift (pinned in
    tests/test_builders.py::test_fused_build_equals_per_builder_build; q85
    runs this path under its oracle). Consumers that need per-target
    frames take ``by_target`` views of the result.

    The eager ``localCheckpoint`` of the transform outputs happens INSIDE
    this call, OVERLAPPED with plan construction: the 13 fused builder
    ``plan()`` expressions are pure ``F.col`` trees that never consult
    their DataFrame argument (pinned in tests/test_builders.py) — so they
    are built under the running cascade instead of after it (measured ~3 s
    of the q85 cold wall at sf0.1). The aggregating builders DO derive
    plans from their input table, so they are constructed after the
    checkpoint lands, against the truncated lineage.
    ``transformed.tables`` is mutated to the checkpointed frames (see
    ``_checkpoint_tables``)."""
    from kf_task_fhir_etl_spark.builders.base import fused_element

    # applicability is decided on table PRESENCE alone; padding happens
    # once, after the checkpoint
    fused_jobs: list[tuple[str, object, str]] = []
    separate_jobs: list[tuple[str, object, str]] = []
    for target in transformed.targets:
        module, table_key = BUILDERS[target]
        if transformed.tables.get(table_key) is None:
            continue
        if table_key == "default" and hasattr(module, "plan"):
            fused_jobs.append((target, module, table_key))
        else:
            separate_jobs.append((target, module, table_key))

    def _element(job: tuple[str, object, str]):
        target, module, _ = job
        # fused plan() expressions never consult their DataFrame argument
        # (pinned via plan(None) in tests/test_builders.py)
        tid, resource, keep = module.plan(None)
        return fused_element(target, module.API_PATH, tid, resource, keep)

    def _separate(job: tuple[str, object, str], padded_map: dict[str, DataFrame]) -> DataFrame:
        target, module, table_key = job
        table = padded_map[table_key]
        df = (
            module.build(table, metadata=metadata)
            if target == "DRSDocumentReference"
            else module.build(table)
        )
        return df.select(
            F.lit(target).alias("target"), "resource_type", "target_id", "resource_json"
        )

    elems = _checkpoint_tables(transformed, lambda: [_element(job) for job in fused_jobs])
    # partial-presence wide tables lack cross-entity columns the builders
    # reference unconditionally — pad them null (presence-sensitive
    # SEQUENCING columns excepted; see mappings.DYNAMIC_PRESENCE_COLUMNS).
    # Pad ONCE per table_key against the truncated lineage and share across
    # the separate jobs AND the fused scan (two consumers of one table_key
    # must not pad twice — construction cost is the measured bottleneck)
    pad_keys = {j[2] for j in separate_jobs} | {j[2] for j in fused_jobs}
    padded = {tk: pad_concepts(transformed.tables[tk]) for tk in pad_keys}
    # build() construction is py4j-round-trip-bound, so the separate plans
    # are built on a pool; order follows transformed.targets
    with ThreadPoolExecutor(max_workers=8) as ex:
        separate = list(ex.map(lambda j: _separate(j, padded), separate_jobs))
    fused = None
    if elems:
        fused = (
            padded["default"]
            .select(F.explode(F.filter(F.array(*elems), lambda x: x.isNotNull())).alias("e"))
            .select("e.*")
            .dropDuplicates(["target", "target_id"])
        )
    for df in separate:
        fused = df if fused is None else fused.unionByName(df)
    if fused is None:
        # degenerate input (no applicable tables): an empty, correctly-typed
        # union.
        # Prefer a session we can reach from an input DataFrame; fall back
        # to getOrCreate (getActiveSession() is thread-local and None on
        # worker threads — the q115 concurrent-study pattern).
        from pyspark.sql import SparkSession

        spark = next(
            (df.sparkSession for df in transformed.tables.values() if df is not None),
            None,
        ) or SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
        return spark.createDataFrame(
            [], "target string, resource_type string, target_id string, resource_json string"
        )
    return fused


def by_target(union: DataFrame, targets: list[str]) -> dict[str, DataFrame]:
    """Per-target ``(resource_type, target_id, resource_json)`` views of a
    ``build_resources`` union, keyed in the order of ``targets`` (pass
    ``plans.transform.applicable_targets`` for the dependency order). A
    target that built no rows still gets its (empty) view. Each view
    re-runs the union's plan unless the union is checkpointed first."""
    return {t: union.filter(F.col("target") == t).drop("target") for t in targets}


# bench.py reads this to detect memoized gates; nothing memoizes, so it stays 0.
MEMO_HIT_COUNT = 0


def release_checkpoints(dfs: list[DataFrame], blocking: bool = True) -> None:
    """Explicitly release the block-manager storage behind eagerly
    ``localCheckpoint``ed DataFrames. ``del`` alone only drops the Python
    reference — block release would wait on Python GC plus Spark's
    ContextCleaner (r05 ADVICE) — whereas unpersisting the LogicalRDD's
    underlying RDD frees the blocks (and makes the released frames fail
    loudly if ever re-executed). BLOCKING unpersist: the non-blocking form
    returns before the BlockManager removal lands, so 'blocks are gone
    when this returns' — the contract the release-then-assert callers and
    the pinned test rely on — would only be eventually true (r06 review).
    ``blocking=False`` is for superseded ITERATION state
    (operators/graph.py's per-round vectors) where nothing synchronizes on
    the removal. This is the ONE audited home of the py4j LogicalRDD
    reach-through (r06 review: hand-rolled copies would silently degrade
    independently on a Spark upgrade); it degrades to the GC path on any
    reflection failure rather than breaking eviction."""
    for df in dfs:
        try:
            df._jdf.queryExecution().analyzed().rdd().unpersist(blocking)
        except Exception:
            pass  # deferred to GC + ContextCleaner


def run_pipeline(
    endpoint_tables: dict[str, DataFrame],
    metadata: DataFrame | None = None,
    checkpoints: list[DataFrame] | None = None,
) -> DataFrame:
    """extract(already-loaded tables) → transform → checkpoint → build.

    One straight path, as the reference's ``Ingest`` runs once per study:
    ``transform_study``, then ``build_resources``, which eagerly
    ``localCheckpoint``s the transform outputs (``_checkpoint_tables``)
    while it constructs the fused plan. The checkpoint truncates the
    12-join cascade out of the build's logical plan, so Catalyst
    analyzes/optimizes the cascade ONCE (measured at sf0.01 with a plan per
    builder: downstream optimize+execute of the 16-builder union dropped
    10.4 s → 0.4 s for a one-time ~2.5 s materialization; end-to-end
    ~18 s → ~9 s).

    Returns the ``(target, resource_type, target_id, resource_json)``
    union; ``by_target`` splits it into per-target views for the
    dependency-ordered load. The checkpointed transform frames stay in
    executor memory until GC reaches them; a caller that runs many studies
    in one session passes a ``checkpoints`` list, which receives them, and
    hands it to ``release_checkpoints`` once the union is consumed."""
    transformed = transform_study(endpoint_tables)
    union = build_resources(transformed, metadata=metadata)
    if checkpoints is not None:
        checkpoints.extend(transformed.tables.values())
    return union
