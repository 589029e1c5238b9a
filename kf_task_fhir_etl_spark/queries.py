"""Driver-contract query registry.

Each entry re-expresses one operator family from SURVEY.md §2 (or a
training-data operator) as a Spark DataFrame query over the synthetic
testdata tables, paired with ANSI SQL that DuckDB runs as the oracle.

Conventions for oracle hash-parity:
- every computed column is aliased identically in Spark and SQL;
- floating aggregates are rounded (FP summation order differs between
  engines);
- timestamps are emitted as formatted strings or epoch integers (Spark is
  µs-precision, DuckDB ns);
- array results are emitted as sorted comma-joined strings.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kf_task_fhir_etl_spark.catalog import load_table
from kf_task_fhir_etl_spark.functions.normalize import normalize
from kf_task_fhir_etl_spark.functions.recode import recode
from kf_task_fhir_etl_spark.functions.strings import split_index
from kf_task_fhir_etl_spark.plans.mappings import rename_to_concepts  # noqa: F401 (used by pipeline queries)

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# Flagship: scan → filter → groupBy/agg → sort (TPC-H Q1 shape).
# Exercises S-scan, F-predicates, A-aggregations of SURVEY.md §2 in one plan;
# filter + column pruning push into the parquet scan, aggregation is partial
# (map-side) before the single shuffle.
# ---------------------------------------------------------------------------
@register(
    "q01_pricing_summary",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
      ROUND(SUM(l_extendedprice), 2)                                   AS sum_base_price,
      ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
      ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
      ROUND(AVG(l_quantity), 2)                                        AS avg_qty,
      ROUND(AVG(l_extendedprice), 2)                                   AS avg_price,
      ROUND(AVG(l_discount), 4)                                        AS avg_disc,
      COUNT(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# J1-J3 analog: concept renames (P2) + conditional full-outer cascade with
# coalesced keys + broadcast dims (SURVEY.md §2.3). region/nation are tiny
# dims — Spark broadcasts them, so only the customer⟗orders join shuffles,
# and both sides shuffle on the same key once.
# ---------------------------------------------------------------------------
@register(
    "q02_outer_join_cascade",
    oracle="""
    WITH r AS (
      SELECT r_regionkey AS "REGION|TARGET_SERVICE_ID", r_name AS "REGION|NAME" FROM region
    ), n AS (
      SELECT n_nationkey AS "NATION|TARGET_SERVICE_ID", n_name AS "NATION|NAME",
             n_regionkey AS "REGION|TARGET_SERVICE_ID" FROM nation
    ), c AS (
      SELECT c_custkey AS "CUSTOMER|TARGET_SERVICE_ID", c_name AS "CUSTOMER|NAME",
             c_nationkey AS "NATION|TARGET_SERVICE_ID", c_mktsegment AS "CUSTOMER|SEGMENT" FROM customer
    ), o AS (
      SELECT o_orderkey AS "ORDER|TARGET_SERVICE_ID", o_custkey AS "CUSTOMER|TARGET_SERVICE_ID",
             o_orderstatus AS "ORDER|STATUS" FROM orders
    )
    SELECT "REGION|NAME", "NATION|NAME", "CUSTOMER|TARGET_SERVICE_ID", "CUSTOMER|NAME",
           "CUSTOMER|SEGMENT", "ORDER|TARGET_SERVICE_ID", "ORDER|STATUS"
    FROM r
    FULL OUTER JOIN n USING ("REGION|TARGET_SERVICE_ID")
    FULL OUTER JOIN c USING ("NATION|TARGET_SERVICE_ID")
    FULL OUTER JOIN o USING ("CUSTOMER|TARGET_SERVICE_ID")
    """,
)
def q02_outer_join_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("REGION|TARGET_SERVICE_ID"),
        F.col("r_name").alias("REGION|NAME"),
    )
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("NATION|TARGET_SERVICE_ID"),
        F.col("n_name").alias("NATION|NAME"),
        F.col("n_regionkey").alias("REGION|TARGET_SERVICE_ID"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("CUSTOMER|TARGET_SERVICE_ID"),
        F.col("c_name").alias("CUSTOMER|NAME"),
        F.col("c_nationkey").alias("NATION|TARGET_SERVICE_ID"),
        F.col("c_mktsegment").alias("CUSTOMER|SEGMENT"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ORDER|TARGET_SERVICE_ID"),
        F.col("o_custkey").alias("CUSTOMER|TARGET_SERVICE_ID"),
        F.col("o_orderstatus").alias("ORDER|STATUS"),
    )
    # NOTE: full-outer joins cannot broadcast in Spark (both sides must
    # produce unmatched rows), so the cascade is a sort-merge chain — the
    # price of the reference's outer_merge parity. Each level shuffles on its
    # own key; AQE coalesces the small early exchanges at runtime.
    wide = (
        r.join(n, on=["REGION|TARGET_SERVICE_ID"], how="full")
        .join(c, on=["NATION|TARGET_SERVICE_ID"], how="full")
        .join(o, on=["CUSTOMER|TARGET_SERVICE_ID"], how="full")
    )
    return wide.select(
        "REGION|NAME",
        "NATION|NAME",
        "CUSTOMER|TARGET_SERVICE_ID",
        "CUSTOMER|NAME",
        "CUSTOMER|SEGMENT",
        "ORDER|TARGET_SERVICE_ID",
        "ORDER|STATUS",
    )


# ---------------------------------------------------------------------------
# clean_up_df parity (SURVEY.md §1, A3): stringify w/ numeric downcast + trim
# + dropDuplicates. All codegen'd casts; the dedup is the only shuffle and is
# a partial aggregate first.
# ---------------------------------------------------------------------------
@register(
    "q03_normalize_dedup",
    oracle="""
    SELECT DISTINCT
      CAST(o_orderkey AS VARCHAR)  AS "ORDER|TARGET_SERVICE_ID",
      TRIM(o_orderstatus)          AS "ORDER|STATUS",
      CASE WHEN o_totalprice IS NULL THEN NULL
           WHEN o_totalprice = CAST(CAST(o_totalprice AS BIGINT) AS DOUBLE)
             THEN CAST(CAST(o_totalprice AS BIGINT) AS VARCHAR)
           ELSE CAST(o_totalprice AS VARCHAR) END AS "ORDER|TOTAL_PRICE",
      TRIM(o_orderpriority)        AS "ORDER|PRIORITY"
    FROM orders
    """,
)
def q03_normalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ORDER|TARGET_SERVICE_ID"),
        F.col("o_orderstatus").alias("ORDER|STATUS"),
        F.col("o_totalprice").alias("ORDER|TOTAL_PRICE"),
        F.col("o_orderpriority").alias("ORDER|PRIORITY"),
    )
    return normalize(o)


# ---------------------------------------------------------------------------
# C1 dict-lookup recode (inline literal map, constant-folded) + C2 string
# split — the reference's dominant scalar ops (patient.py:108-115 gender map
# shape; research_study.py:77 split).
# ---------------------------------------------------------------------------
@register(
    "q04_recode_split",
    oracle="""
    SELECT
      CASE o_orderstatus WHEN 'O' THEN 'registered' WHEN 'F' THEN 'completed'
           WHEN 'P' THEN 'in-progress' ELSE 'unknown' END AS status_recode,
      SPLIT_PART(o_orderpriority, '-', 1)                 AS priority_code,
      COUNT(*)                                            AS n
    FROM orders
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q04_recode_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    status_map = {"O": "registered", "F": "completed", "P": "in-progress"}
    return (
        o.select(
            recode(F.col("o_orderstatus"), status_map, default="unknown").alias("status_recode"),
            split_index(F.col("o_orderpriority"), "-", 0).alias("priority_code"),
        )
        .groupBy("status_recode", "priority_code")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("status_recode", "priority_code")
    )


# ---------------------------------------------------------------------------
# F2 missing-data sentinel skip + F8 truthiness gates (disease.py:26-35
# pattern) applied as a relational filter.
# ---------------------------------------------------------------------------
@register(
    "q05_sentinel_filter",
    oracle="""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
    FROM events
    WHERE event_type IS NOT NULL
      AND event_type NOT IN ('error', 'unknown')
      AND LENGTH(TRIM(event_type)) > 0
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q05_sentinel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    from kf_task_fhir_etl_spark.functions.json_build import not_missing

    return (
        ev.filter(
            not_missing(F.col("event_type"), sentinels=("error", "unknown"))
            & (F.length(F.trim(F.col("event_type"))) > 0)
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# A1/A2 group-and-collect (family.py:28-47 shape): groupBy + sorted
# collect_set (emitted as a joined string for engine-portable hashing) +
# first/min + group size (A5).
# ---------------------------------------------------------------------------
@register(
    "q06_group_collect",
    oracle="""
    SELECT
      c_nationkey                                              AS nation_key,
      ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT c_mktsegment)), ',') AS segments,
      MIN(c_name)                                              AS first_member,
      COUNT(DISTINCT c_custkey)                                AS quantity
    FROM customer
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def q06_group_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy(F.col("c_nationkey").alias("nation_key"))
        .agg(
            F.array_join(F.sort_array(F.collect_set("c_mktsegment")), ",").alias("segments"),
            F.min("c_name").alias("first_member"),
            F.countDistinct("c_custkey").alias("quantity"),
        )
        .orderBy("nation_key")
    )


# ---------------------------------------------------------------------------
# C5 cast-with-swallow (try/except int() → absent): try_cast + JSON field
# extraction; invalid values become null, never errors.
# ---------------------------------------------------------------------------
@register(
    "q07_try_cast_json",
    oracle="""
    SELECT
      user_id,
      CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_total,
      COUNT(*)                                                    AS n_events
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q07_try_cast_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").try_cast("bigint")
    return (
        ev.groupBy("user_id")
        .agg(F.sum(k).alias("k_total"), F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# C9 nested-JSON resource assembly with absent-if-null fields — the FHIR
# builder pattern (patient.py:132-198) as pure column expressions +
# to_json(ignoreNullFields).
# ---------------------------------------------------------------------------
@register(
    "q08_resource_json",
    oracle="""
    SELECT
      c_custkey AS source_key,
      to_json(struct_pack(
        resourceType := 'Patient',
        id := CAST(c_custkey AS VARCHAR),
        name := c_name,
        segment := c_mktsegment
      )) AS resource
    FROM customer
    ORDER BY c_custkey
    """,
)
def q08_resource_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    resource = F.struct(
        F.lit("Patient").alias("resourceType"),
        F.col("c_custkey").cast("string").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
    )
    return c.select(
        F.col("c_custkey").alias("source_key"),
        F.to_json(resource, {"ignoreNullFields": "true"}).alias("resource"),
    ).orderBy("source_key")


# ---------------------------------------------------------------------------
# Correctness-window ordering. The driver hash-checks only the FIRST 50
# registry entries (dict order) per round. The registry is larger than the
# window, so ordering is a rotation policy:
#   _CHECK_FIRST — queries with no green row yet, or whose implementation /
#     oracle changed this round (must re-prove);
#   _CHECK_LAST — queries that stayed green in a previous round AND whose
#     code paths are untouched this round (or redundantly covered by an
#     in-window sibling). They still run in bench every round and keep their
#     oracles — only their hash-check priority rotates.
# Every entry keeps BOTH a queries() and an oracle_sql() registration either
# way; nothing is retired.
#
# Current composition (exactly 50): the pipeline-memo deletion rewrote
# etl.py and removed imports from etl.py and fhir_queries.py, which the
# staleness guard counts as a change to every symbol of both modules. That
# dirties 47 entries: every fhir_queries gate, and every gate that reaches
# etl (release_checkpoints) — the graph, incremental-graph, dedup, sketch,
# funnel, bloom and streaming top-k operators. All 47 lead the window.
# The streaming-matcher collapse (streaming/patterns.py: one engine, two
# kernels) then dirties q145/q147/q153/q158: q147, q153 and q158 take the
# last three slots, and q145 is waived (tests/test_staleness_guard.py
# WAIVERS: the benchmark checks it against its oracle on every pass, and
# q153 runs the same engine and kernel). The oldest debt those three slots
# held (q149/q144/q146) moves back to the HEAD of _CHECK_LAST, so it is
# the next to re-enter. The 25 entries displaced from the r13 window carry
# fresh r13 proofs (CORRECTNESS_r13: 50/50) and sit at the TAIL of
# _CHECK_LAST (newest-proof-last, so future rotation keeps draining oldest
# debt first). Window composition is MACHINE-CHECKED:
# tests/test_staleness_guard.py diffs the tree against the previous round
# boundary, maps changed symbols to registry entries, and fails if an
# affected entry is rotated to the tail without a waiver.
# ---------------------------------------------------------------------------
_CHECK_FIRST = [
    "q102_pagerank",
    "q125_label_propagation",
    "q139_kcore_peeling",
    "q143_weighted_sssp",
    "q150_personalized_pagerank",
    "q63_dup_clusters",
    "q72_canonical_docs",
    "q142_incremental_dedup",
    "q154_incremental_components",
    "q157_incremental_sssp",
    "q159_incremental_components_forest",
    "q123_cms_heavy_hitters",
    "q134_event_funnel",
    "q138_negated_funnel",
    "q124_narrow_multi_target",
    "q23_fhir_transform_cascade",
    "q31_fhir_drs_document_reference",
    "q32_fhir_family_relationship",
    "q24_fhir_patient_resources",
    "q30_fhir_vital_status_json",
    "q25_fhir_disease_narrow",
    "q26_fhir_family_groups",
    "q27_fhir_specimen_narrow",
    "q33_fhir_research_study",
    "q64_fhir_drs_metadata_hashes",
    "q65_fhir_specimen_bodysite_dispatch",
    "q74_fhir_proband_status_json",
    "q75_fhir_family_json",
    "q76_fhir_research_study_json",
    "q77_fhir_disease_json",
    "q78_fhir_family_relationship_json",
    "q79_fhir_histopathology_json",
    "q80_fhir_phenotype_json",
    "q81_fhir_research_subject_json",
    "q82_fhir_reference_entities_json",
    "q83_fhir_specimen_json",
    "q84_fhir_drs_json",
    "q126_tdigest_quantiles",
    "q85_fhir_full_pipeline",
    "q115_multi_study_pipeline",
    "q129_bloom_join_pruning",
    "q131_triangle_count",
    "q135_set_similarity_join",
    "q140_bfs_distances",
    "q151_streaming_topk",
    "q34_fhir_proband_status",
    "q35_fhir_histopathology",
    "q147_streaming_funnel",
    "q153_streaming_pattern_spans_ooo",
    "q158_streaming_funnel_ooo",
]
_CHECK_LAST = [
    "q149_topk_ivm",
    "q144_join_view_ivm",
    "q146_distinct_count_ivm",
    "q110_importance_sample",
    "q111_budget_select",
    "q03_normalize_dedup",
    "q16_ann_lsh_topk",
    "q71_sequence_packing",
    "q86_cube_order_matrix",
    "q87_range_frame_running",
    "q91_tfidf_keywords",
    "q92_pii_redaction",
    "q94_mixture_resample",
    "q104_unpivot_yearly_revenue",
    "q107_rank_functions",
    "q109_streaming_quality_filter",
    "q136_snapshot_diff",
    "q113_ivf_lloyd_refinement",
    "q114_semantic_dedup_unsupervised",
    "q117_bigram_lm_score",
    "q118_tfidf_doc_pairs",
    "q15_embedding_neardup",
    "q36_ann_ivf_topk",
    "q66_embedding_neardup_lsh",
    "q88_embedding_lsh_recall",
    "q93_semantic_dedup",
    "q103_data_profile",
    "q105_fuzzy_match",
    "q112_stream_static_join",
    "q130_zorder_clustering",
    "q132_expectations_suite",
    "q02_outer_join_cascade",
    "q05_sentinel_filter",
    "q08_resource_json",
    "q10_dedup_exact",
    "q13_simhash",
    "q20_fingerprint",
    "q29_range_join",
    "q40_multimodal_frame_sample",
    "q41_multimodal_metadata_stats",
    "q42_topn_shipping_priority",
    "q120_streaming_session_windows",
    "q01_pricing_summary",
    "q04_recode_split",
    "q06_group_collect",
    "q07_try_cast_json",
    "q09_topk_per_group",
    "q14_ann_cosine_topk",
    "q17_language_id",
    "q18_quality_score",
    "q28_asof_join",
    "q37_stateful_user_totals_stream",
    "q39_multimodal_features",
    "q43_rollup_order_stats",
    "q44_customer_set_ops",
    "q45_exists_semi_join",
    "q46_not_exists_anti_join",
    "q47_grouped_percentiles",
    "q48_multi_distinct_agg",
    "q54_star_broadcast_join",
    "q55_decorrelated_avg_qty",
    "q58_embedding_centroids",
    "q59_stream_stream_join",
    "q60_train_test_split",
    "q61_source_quota_sample",
    "q62_doc_chunking",
    "q67_bpe_token_budget",
    "q68_rolling_fingerprints",
    "q69_stratified_sample",
    "q73_salted_skew_join",
    "q95_bucketed_colocated_join",
    "q116_weighted_sample",
    "q122_profile_approx",
    "q141_value_runs",
    "q128_streaming_cdc_apply",
    "q155_partitioned_cdc_apply",
    "q152_streaming_join_agg_view",
    "q156_streaming_distinct_view",
    "q160_cdc_tombstone_retention",
    "q161_store_asof_snapshots",
    "q162_cdc_bucket_migration",
    "q163_cdc_schema_evolution",
    "q49_pivot_status_matrix",
    "q50_window_frames",
    "q51_json_extract",
    "q52_word_explode_topk",
    "q53_time_bucket_rollup",
    "q19_token_stats",
    "q21_window_agg",
    "q22_sessionization",
    "q38_corpus_prep_pipeline",
    "q11_minhash_lsh_candidates",
    "q12_minhash_verified_pairs",
    "q56_regional_revenue_chain",
    "q121_count_min_sketch",
    "q133_incremental_view_maintenance",
    "q137_pattern_spans",
    "q148_minmax_ivm",
    "q100_corpus_build_pipeline",
    "q101_scd2_history",
    "q106_kmv_distinct",
    "q108_grouping_sets",
    "q119_dynamic_partition_pruning",
    "q127_compact_small_files",
    "q57_approx_sketches",
    "q70_incremental_rollup",
    "q89_quality_filter_funnel",
    "q90_contamination_screen",
    "q96_streaming_dedup",
    "q97_shuffle_shards",
    "q98_span_dedup",
    "q99_percentile_quality_filter",
    "q145_streaming_pattern_spans",
]


def _ordered_names() -> list[str]:
    first = [n for n in _CHECK_FIRST if n in QUERIES]
    last = [n for n in _CHECK_LAST if n in QUERIES]
    placed = set(first) | set(last)
    middle = [n for n in QUERIES if n not in placed]
    return first + middle + last


def queries() -> dict[str, QueryFn]:
    _load_extra_registries()
    return {n: QUERIES[n] for n in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    _load_extra_registries()
    return {n: ORACLES[n] for n in _ordered_names() if n in ORACLES}


def _load_extra_registries() -> None:
    """Import sibling modules that register additional queries (deferred to
    avoid a circular import at module load)."""
    from kf_task_fhir_etl_spark import corpus_queries, fhir_queries, training_queries  # noqa: F401


# ---------------------------------------------------------------------------
# General OLAP widening (engine extensions; SURVEY.md §2.6 notes the
# reference has no sorts/limits/set-ops/rollup — these gate the engine's own
# support for them).
# ---------------------------------------------------------------------------
@register(
    "q42_topn_shipping_priority",
    oracle="""
    SELECT l_orderkey, o_orderdate, o_orderpriority,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def q42_topn_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → two equi-joins → agg → global
    top-N. Catalyst pushes both date filters and the segment filter into the
    parquet scans; the customer side is broadcast (post-filter it's tiny);
    the top-10 runs as TakeOrderedAndProject (per-partition heap + driver
    merge), never a full sort. Ordering is tie-broken by l_orderkey and
    applied to the ROUNDED revenue so the N-th place is engine-independent."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "q86_cube_order_matrix",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
    """,
)
def q86_cube_order_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE completes the grouping-sets trio next to ROLLUP (q43) and
    explicit-values pivot (q49): all four aggregation levels — leaf,
    per-priority, per-status, grand total — computed in ONE shuffle via the
    map-side Expand, where four separate GROUP BYs would scan and shuffle
    four times. The per-status margin is the set ROLLUP cannot express."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy(F.asc_nulls_first("o_orderpriority"), F.asc_nulls_first("o_orderstatus"))
    )


@register(
    "q87_range_frame_running",
    oracle="""
    SELECT event_id, user_id,
           COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                          RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS n_last_hour,
           ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                          RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 2) AS value_last_hour
    FROM events ORDER BY user_id, event_id
    """,
)
def q87_range_frame_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window aggregates complete the frame coverage next to
    q50's ROWS frames: a per-user trailing one-hour count/sum where the
    frame boundary is a VALUE offset on the ordering key, not a row count —
    rows sharing a timestamp enter the frame together (exactly why q50 had
    to use ROWS + a tiebreak, and why this query needs none: RANGE is
    deterministic under ties by construction). The ordering key is the
    µs-epoch integer so both engines bound the frame with the same exact
    arithmetic; one shuffle on user_id serves both windows. This is the
    as-of/sliding-aggregate shape (trailing revenue, rate limiting) that a
    bucketized range join (q29) approximates when the window must span
    partitions."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3600 * 1_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.round(F.sum("value").over(w), 2).alias("value_last_hour"),
    ).orderBy("user_id", "event_id")


@register(
    "q43_rollup_order_stats",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
    """,
)
def q43_rollup_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals via ROLLUP — one shuffle computes the leaf,
    per-priority, and grand-total levels together (Spark expands the
    grouping sets map-side; no per-level re-scan)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy(F.asc_nulls_first("o_orderpriority"), F.asc_nulls_first("o_orderstatus"))
    )


@register(
    "q44_customer_set_ops",
    oracle="""
    WITH big_buyers AS (
      SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 400000
    ), rich AS (
      SELECT c_custkey FROM customer WHERE c_acctbal > 4000
    )
    SELECT c_custkey, 'both' AS bucket FROM (SELECT * FROM big_buyers INTERSECT SELECT * FROM rich)
    UNION ALL
    SELECT c_custkey, 'buyer_only' AS bucket FROM (SELECT * FROM big_buyers EXCEPT SELECT * FROM rich)
    UNION ALL
    SELECT c_custkey, 'rich_only' AS bucket FROM (SELECT * FROM rich EXCEPT SELECT * FROM big_buyers)
    ORDER BY bucket, c_custkey
    """,
)
def q44_customer_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational set ops (INTERSECT / EXCEPT / UNION ALL) — SURVEY.md §2.6
    records the reference has none; the engine supports them natively
    (Spark compiles intersect/subtract to left-semi/anti aggregates, so each
    is one shuffle on the key, not a full sort-merge)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big_buyers = (
        o.filter(F.col("o_totalprice") > 400000).select(F.col("o_custkey").alias("c_custkey")).distinct()
    )
    rich = c.filter(F.col("c_acctbal") > 4000).select("c_custkey")
    tag = lambda df, b: df.withColumn("bucket", F.lit(b))  # noqa: E731
    return (
        tag(big_buyers.intersect(rich), "both")
        .unionByName(tag(big_buyers.subtract(rich), "buyer_only"))
        .unionByName(tag(rich.subtract(big_buyers), "rich_only"))
        .orderBy("bucket", "c_custkey")
    )


@register(
    "q45_exists_semi_join",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q45_exists_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS as a distributed LEFT SEMI join.
    The semi join never materializes the multiplicity of the inner side (no
    fan-out, no post-join distinct) — one shuffle on l_orderkey where a
    naive join+distinct would shuffle twice and carry duplicate rows
    between. Both the date range and the returnflag filter push into their
    respective parquet scans before the shuffle."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp"))
    )
    returned = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(returned, o["o_orderkey"] == returned["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q46_not_exists_anti_join",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS idle_customers
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '1998-06-01 00:00:00')
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def q46_not_exists_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as a distributed LEFT ANTI join: customers with no order
    in the trailing window, counted per segment. Anti join short-circuits
    on first match per key; orders is pruned to its join column and the
    date predicate pushes into the parquet scan (ReadSchema carries only
    o_custkey + o_orderdate)."""
    c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1998-06-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("idle_customers"))
        .orderBy("c_mktsegment")
    )


@register(
    "q47_grouped_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.5), 4)      AS median_qty,
           ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
           ROUND(quantile_cont(l_discount, 0.25), 4)     AS p25_disc
    FROM lineitem
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q47_grouped_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped percentiles (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``: both linearly interpolate). Exact percentile is a
    holistic aggregate — per-group values concentrate on the group's
    reducer — so it is the one agg here that cannot partial-aggregate
    map-side; with a low-cardinality group key that is a deliberate skew
    trade, and the scale path for high-cardinality keys is
    ``percentile_approx`` (t-digest sketches, which DO combine map-side)
    at a declared error bound."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("median_qty"),
            F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90_price"),
            F.round(F.expr("percentile(l_discount, 0.25)"), 4).alias("p25_disc"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q48_multi_distinct_agg",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(*)                  AS n_rows
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q48_multi_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple DISTINCT aggregates alongside a plain COUNT in one pass.
    Catalyst compiles this with a single Expand (one duplicated row per
    distinct-column group) + two-phase aggregate — one scan and one shuffle
    total, never one job per distinct column."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q49_pivot_status_matrix",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS status_f,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS status_o,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS status_p
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q49_pivot_status_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide) with an EXPLICIT value list. Passing the values
    to ``pivot`` matters at scale: without them Spark runs an extra
    collect-distinct job over the full table just to discover the columns.
    With them it is a single scan with map-side partial aggregation at both
    phases ((priority,status) counts, then pivotfirst) — the discovery job
    is what the explicit list eliminates. Absent combinations are coalesced
    to 0 to match COUNT semantics."""
    o = load_table(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("status_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("status_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("status_p"),
    ).orderBy("o_orderpriority")


@register(
    "q107_rank_functions",
    oracle="""
    SELECT o_orderkey, o_orderpriority, rnk, drnk, tile,
           ROUND(pr, 6) AS pr, ROUND(cd, 6) AS cd
    FROM (
      SELECT o_orderkey, o_orderpriority,
             RANK() OVER w AS rnk,
             DENSE_RANK() OVER w AS drnk,
             NTILE(4) OVER w AS tile,
             PERCENT_RANK() OVER w AS pr,
             CUME_DIST() OVER w AS cd
      FROM orders
      WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey))
    WHERE o_orderkey % 97 = 0
    ORDER BY o_orderpriority, o_orderkey
    """,
)
def q107_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking-function surface in one window (§2.6): rank,
    dense_rank, ntile, percent_rank, cume_dist over a TOTAL per-partition
    order (price then key), so every function is deterministic and the
    oracle hash-checks all five — including ntile's uneven-bucket rounding
    and cume_dist's inclusive fraction. The sample filter applies AFTER
    the window (ranks are computed over the full partitions; only the
    output rows thin out)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).alias("tile"),
            F.percent_rank().over(w).alias("pr"),
            F.cume_dist().over(w).alias("cd"),
        )
        .filter(F.col("o_orderkey") % 97 == 0)
        .select(
            "o_orderkey",
            "o_orderpriority",
            "rnk",
            "drnk",
            "tile",
            F.round("pr", 6).alias("pr"),
            F.round("cd", 6).alias("cd"),
        )
        .orderBy("o_orderpriority", "o_orderkey")
    )


@register(
    "q108_grouping_sets",
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           GROUPING(o_orderstatus) + 2 * GROUPING(o_orderpriority) AS gid,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), (o_orderpriority), ())
    ORDER BY gid, status, priority
    """,
)
def q108_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (§2.6 — beyond q43's ROLLUP and q86's CUBE):
    the four explicit sets with GROUPING() ids disambiguating aggregated-
    away dimensions from literal values. Spark evaluates this through the
    same Expand operator as cube/rollup — one scan, map-side partial
    aggregation per set — expressed via Spark SQL over a temp view (the
    DataFrame API exposes only rollup/cube)."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("q108_orders")
    return spark.sql(
        """
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               CAST(GROUPING(o_orderstatus) + 2 * GROUPING(o_orderpriority) AS BIGINT) AS gid,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS revenue
        FROM q108_orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), (o_orderpriority), ())
        ORDER BY gid, status, priority
        """
    )
