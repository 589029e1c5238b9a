"""Scale-hygiene tests: partition pruning and scan-level pushdown — the
behaviors SCALE.md claims, asserted against the actual physical plans."""

from __future__ import annotations

from pyspark.sql import functions as F


def _formatted_plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_partitioned_write_prunes(spark, tmp_path):
    path = str(tmp_path / "by_status")
    spark.createDataFrame(
        [(i, "O" if i % 2 else "F", float(i)) for i in range(100)],
        "id long, status string, v double",
    ).write.partitionBy("status").parquet(path)

    df = spark.read.parquet(path).filter(F.col("status") == "O")
    plan = _formatted_plan(df)
    assert "PartitionFilters" in plan
    # only the matching partition directory is read
    assert df.count() == 50


def test_filter_and_projection_pushdown(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    df = li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    plan = _formatted_plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]" in plan
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_same_key_join_partitioning_propagation(spark):
    """Documents the measured planner behavior behind SCALE.md:

    - INNER same-key join chains propagate partitioning (no intermediate
      re-shuffle: exactly one exchange per input);
    - FULL-OUTER USING chains do NOT — the coalesced join key is a new
      expression, so each cascade level re-shuffles the accumulated side.
      This is why the narrow path (plans/narrow.py, leaf-level one-hop
      joins) is the preferred shape at scale.
    """
    a = spark.range(1000).select(F.col("id").alias("k"), F.lit(1).alias("a"))
    b = spark.range(1000).select(F.col("id").alias("k"), F.lit(2).alias("b"))
    c = spark.range(1000).select(F.col("id").alias("k"), F.lit(3).alias("c"))

    inner = a.join(b, ["k"], "inner").join(c, ["k"], "inner")
    inner_plan = _formatted_plan(inner)
    inner_exchanges = sum(
        1 for line in inner_plan.splitlines() if line.strip().startswith("(") and "Exchange" in line
    )
    assert inner_exchanges <= 3

    outer = a.join(b, ["k"], "full").join(c, ["k"], "full")
    outer_plan = _formatted_plan(outer)
    outer_exchanges = sum(
        1 for line in outer_plan.splitlines() if line.strip().startswith("(") and "Exchange" in line
    )
    assert outer_exchanges >= 4  # the intermediate re-shuffle is real


def test_ivf_probe_join_broadcasts_queries(spark):
    from kf_task_fhir_etl_spark.operators import similarity

    rows = [(i, [float((i * 3 + j) % 7) for j in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.ann_ivf_topk(df, df.filter("vec_id < 2"), nlist=4, nprobe=2, k=2)
    plan = _formatted_plan(out)
    # the tiny query side must broadcast: the corpus is scanned once map-side
    # and never shuffled for the probe join
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_corpus_prep_pipeline_single_final_aggregate(spark):
    from kf_task_fhir_etl_spark.training_queries import q38_corpus_prep_pipeline

    plan = _formatted_plan(q38_corpus_prep_pipeline(spark, "/root/testdata/sf0.001"))
    # partial (map-side) aggregation before the one final group shuffle
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_semi_anti_join_plans(spark):
    """q45/q46's scale claims: EXISTS compiles to a semi join (no fan-out,
    no distinct), NOT EXISTS to an anti join, and the anti probe side reads
    only its join/filter columns."""
    from kf_task_fhir_etl_spark.queries import q45_exists_semi_join, q46_not_exists_anti_join

    sf = "/root/testdata/sf0.001"
    semi = _formatted_plan(q45_exists_semi_join(spark, sf))
    assert "LeftSemi" in semi and "Distinct" not in semi
    anti = _formatted_plan(q46_not_exists_anti_join(spark, sf))
    assert "LeftAnti" in anti
    assert "ReadSchema: struct<o_custkey:bigint,o_orderdate:timestamp_ntz>" in anti


def test_pivot_explicit_values_one_pass(spark):
    """q49's scale claim: with an explicit value list the pivot is one
    aggregate over one scan — no collect-distinct discovery job, no Expand."""
    from kf_task_fhir_etl_spark.queries import q49_pivot_status_matrix

    plan = _formatted_plan(q49_pivot_status_matrix(spark, "/root/testdata/sf0.001"))
    assert plan.count("Location: InMemoryFileIndex") == 1  # exactly one scan
    assert "partial_pivotfirst" in plan  # map-side combine before the shuffle
    assert "Expand" not in plan


def test_window_frames_single_window_node(spark):
    """q50's scale claim: both ROWS frames share one partitioning+ordering,
    so Catalyst plans ONE Window node over one sort — not two."""
    from kf_task_fhir_etl_spark.training_queries import q50_window_frames

    plan = _formatted_plan(q50_window_frames(spark, "/root/testdata/sf0.001"))
    window_nodes = [l for l in plan.splitlines() if l.strip().startswith("(") and "Window" in l]
    assert len(window_nodes) == 1, window_nodes


def test_word_explode_partial_agg_and_topk(spark):
    """q52's scale claims: token fan-out partially aggregates map-side
    before the shuffle, and the top-25 is TakeOrderedAndProject, not a
    global sort."""
    from kf_task_fhir_etl_spark.training_queries import q52_word_explode_topk

    plan = _formatted_plan(q52_word_explode_topk(spark, "/root/testdata/sf0.001"))
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Generate" in plan  # explode runs as a Generate node, not a UDF


def test_star_join_broadcasts_dims_fact_never_shuffles(spark):
    """q54's scale claim: both dim joins are broadcast-hash (no SortMergeJoin),
    the dim filters reach the parquet scans, and the only exchange in the plan
    is the final aggregation on p_brand — the fact table itself never
    shuffles for the joins."""
    from kf_task_fhir_etl_spark.training_queries import q54_star_broadcast_join

    plan = _formatted_plan(q54_star_broadcast_join(spark, "/root/testdata/sf0.001"))
    bhj_nodes = [
        l for l in plan.splitlines() if l.strip().startswith("(") and "BroadcastHashJoin" in l
    ]
    assert len(bhj_nodes) == 2, bhj_nodes
    assert "SortMergeJoin" not in plan
    assert "PushedFilters: [IsNotNull(p_size), LessThanOrEqual(p_size,15)" in plan
    assert "PushedFilters: [IsNotNull(s_acctbal), GreaterThan(s_acctbal,0.0)" in plan
    shuffle_exchanges = [
        l
        for l in plan.splitlines()
        if l.strip().startswith("(") and "Exchange" in l and "Broadcast" not in l
    ]
    # one hash-partition exchange for the groupBy, one singleton for the sort
    assert len(shuffle_exchanges) <= 2, shuffle_exchanges


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    from kf_task_fhir_etl_spark.operators import bucketing

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    bucketing.write_bucketed(
        orders.withColumnRenamed("o_orderkey", "k"), "b_orders", "k", buckets=8
    )
    bucketing.write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "k"), "b_lineitem", "k", buckets=8
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # broadcast would bypass bucketing on these tiny tables — the claim
        # under test is the big-table path (shuffle-style join, no Exchange)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketing.bucketed_join(spark, "b_orders", "b_lineitem", "k")
        bucketing.require_no_shuffle_join(joined)  # raises if a shuffle appears
        # and the join is still correct
        want = orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey).count()
        assert joined.count() == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_pack_sequences_agg_reuses_window_partitioning(spark):
    """Plan-shape pin for q71: the per-group cumsum window and the
    downstream (group, seq_id) aggregate must share ONE hash exchange —
    HashPartitioning(source) satisfies the aggregate's clustering on
    (source, seq_id), so a second shuffle would be a planner regression."""
    from kf_task_fhir_etl_spark.catalog import load_table
    from kf_task_fhir_etl_spark.operators.sampling import pack_sequences
    from kf_task_fhir_etl_spark.operators.text import token_count

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    packed = pack_sequences(
        docs.withColumn("n_tok", token_count(F.col("text"))),
        budget=512, group_col="source", order_col="doc_id", token_col="n_tok",
    )
    agg = packed.groupBy("source", "seq_id").count()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_quality_filters_map_side_only(spark):
    """The q89 filter stage: all metrics + keep decision are one codegen
    projection — no Exchange (shuffle), no Python eval nodes — so at 100 TB
    the whole gatekeeping pass rides the scan."""
    from kf_task_fhir_etl_spark.operators import filters

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ann = filters.apply_quality_filters(docs).filter("keep")
    plan = _formatted_plan(ann)
    assert "Exchange" not in plan
    assert "EvalPython" not in plan  # no BatchEvalPython / ArrowEvalPython


def test_contamination_broadcasts_eval_and_shuffles_once(spark):
    """The q90 screen: the eval n-gram set rides a BroadcastExchange into a
    left-semi join (no shuffle of the corpus grams against it); the only
    hash-partition exchanges are the per-doc aggregates."""
    from kf_task_fhir_etl_spark.operators import filters
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    w = filters.words(F.col("text"))
    eval_docs = docs.filter(F.col("doc_id") % 50 == 0).select(
        "doc_id", F.array_join(F.slice(w, 1, 30), " ").alias("text")
    )
    plan = _formatted_plan(filters.contamination_scores(docs, eval_docs, n=5))
    assert "BroadcastExchange" in plan
    assert "EvalPython" not in plan
    shuffles = [
        line
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
    ]
    # totals agg + matched agg + the final totals⋈matched join alignment —
    # all on the doc key; nothing shuffles on the gram key
    assert all("id" in line for line in shuffles)
    assert not any("gram" in line for line in shuffles)


def test_pii_redaction_map_side_only(spark):
    """The q92 scrub: counts + chained replaces are one codegen projection
    — zero Exchange, zero Python — so the pass rides the scan like the
    quality filters it runs next to."""
    from kf_task_fhir_etl_spark.operators import corpus

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _formatted_plan(corpus.redact_pii(docs))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_shuffle_shards_single_exchange(spark):
    """The q97 reshard: exactly ONE hash exchange (on the shard key) — the
    deterministic training order never triggers a global range sort."""
    from kf_task_fhir_etl_spark.operators import corpus

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select("doc_id")
    plan = _formatted_plan(corpus.shuffle_shards(docs, "doc_id", shards=8))
    import re

    # count exchange NODES (the formatted output repeats each node in the
    # tree sketch and in the detail list — match the detail headers only)
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(exchanges) == 1, plan
    assert "hashpartitioning" in plan
    assert "rangepartitioning" not in plan


def test_tfidf_single_corpus_scan(spark):
    """q91: the raw documents scan appears ONCE in the physical plan — df
    and N are aggregates of the tf table, not rescans of the corpus — and
    the one-row N rides a BroadcastExchange."""
    from kf_task_fhir_etl_spark.operators import corpus

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _formatted_plan(corpus.tfidf(docs, "source"))
    # the tf aggregate is checkpointed, so the downstream plan reads the
    # materialized table — the parquet corpus appears in NO further scan
    # (without the checkpoint Catalyst planned three independent scans)
    assert "Scan parquet" not in plan
    assert "ExistingRDD" in plan
    assert "BroadcastExchange" in plan


def test_scd2_apply_closed_rows_bypass_join(spark):
    """q101: the full-outer join's inputs are filtered to the OPEN slice —
    the plan pushes valid_to predicates below the join, so closed history
    never shuffles."""
    from kf_task_fhir_etl_spark.operators import scd

    snap1 = spark.createDataFrame([(i, str(i % 3)) for i in range(100)], ["k", "v"])
    snap2 = spark.createDataFrame([(i, str(i % 4)) for i in range(100)], ["k", "v"])
    hist = scd.scd2_apply(scd.scd2_init(snap1, ["k"], ["v"], t=1), snap2, ["k"], ["v"], t=2)
    plan = _formatted_plan(hist)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
    # the open-slice filter sits below the join on the history side
    assert "valid_to" in plan


def test_importance_sample_map_side_only(spark):
    """q110: per-row acceptance is a pure filter — zero Exchange, zero
    Python; the sampling decision rides the scan."""
    from kf_task_fhir_etl_spark.operators import sampling

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _formatted_plan(sampling.importance_sample(docs, "doc_id", F.lit(0.5)))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_budget_select_single_group_exchange(spark):
    """q111: the greedy fill is ONE hash exchange on the group key (the
    cumulative-sum window); no range sort, no second shuffle."""
    import re

    from kf_task_fhir_etl_spark.operators import sampling

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kept = sampling.budget_select(
        docs, "source", "doc_id", "n_chars", F.col("n_chars").cast("double"), budget=1000
    )
    plan = _formatted_plan(kept)
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(exchanges) == 1, plan
    assert "rangepartitioning" not in plan


def test_fused_union_scans_wide_table_once(spark):
    """The fused builder union reads the checkpointed transform tables in
    at most 4 branches — the fused row-wise select plus the three
    non-fusable plans (Family and DRS aggregate; family_relationship is a
    separate table) — not once per builder (column pruning cannot narrow a
    checkpoint, so each scan is full-width)."""
    from kf_task_fhir_etl_spark.etl import run_pipeline
    from tests.fixtures import endpoint_tables

    fused_plan = run_pipeline(endpoint_tables(spark))._jdf.queryExecution().executedPlan().toString()
    assert fused_plan.count("Scan ExistingRDD") <= 4
