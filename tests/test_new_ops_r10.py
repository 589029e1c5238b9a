"""Round-10 operator tests: the partitioned versioned store (VERDICT r09
Missing #2 / Next #2 — commits rewrite only touched partitions, untouched
partition files carried forward byte-identical), the pagerank /
personalized_pagerank iters=0 checkpoint-release fix (VERDICT r09 What's
wrong #1 / ADVICE), the leaderboard null-safe key diff + NULL-op guard
(r09 ADVICE), streaming join+agg view maintenance, out-of-order streaming
pattern spans, and incremental connected components."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from kf_task_fhir_etl_spark.operators import graph
from kf_task_fhir_etl_spark.streaming import versioned_store as vs


# ---------------------------------------------------------------------------
# partitioned versioned store
# ---------------------------------------------------------------------------


def _store(tmp_path) -> str:
    return os.path.join(str(tmp_path), "store")


def _kv(spark, rows):
    return spark.createDataFrame(rows, "bucket string, k bigint, v string")


def _file_listing(path: str) -> list[tuple[str, int, float]]:
    return sorted(
        (f, os.path.getsize(os.path.join(path, f)), os.path.getmtime(os.path.join(path, f)))
        for f in os.listdir(path)
        if not f.startswith(".")
    )


def test_partitioned_store_carries_untouched_partitions_byte_identical(spark, tmp_path):
    """The contract the flat store cannot give: a commit touching one
    partition leaves every other partition's parquet files IN PLACE —
    same manifest path, same file names/sizes/mtimes — zero data I/O."""
    store = _store(tmp_path)

    def commit0(read_parts):
        assert read_parts() is None  # fresh store
        df = _kv(spark, [("a", 1, "a1"), ("b", 2, "b1"), ("c", 3, "c1")])
        return df, "bucket", ["a", "b", "c"]

    assert vs.apply_batch_partitioned(spark, store, commit0, batch_id=0)
    m0 = vs.read_manifest(spark, store, 0)
    assert set(m0) == {"a", "b", "c"}
    before_a = _file_listing(m0["a"])
    before_c = _file_listing(m0["c"])

    def commit1(read_parts):
        cur_b = read_parts(["b"])
        assert cur_b is not None and cur_b.count() == 1
        df = _kv(spark, [("b", 2, "b2"), ("b", 20, "b-new")])
        return df, "bucket", ["b"]

    assert vs.apply_batch_partitioned(spark, store, commit1, batch_id=1)
    m1 = vs.read_manifest(spark, store, 1)
    # untouched partitions: same path (inside .vp0), same bytes on disk
    assert m1["a"] == m0["a"] and m1["c"] == m0["c"]
    assert ".vp0" in m1["a"] and ".vp1" in m1["b"]
    assert _file_listing(m1["a"]) == before_a
    assert _file_listing(m1["c"]) == before_c
    got = {
        (r["bucket"], r["k"]): r["v"]
        for r in vs.read_partitions(spark, store).collect()
    }
    assert got == {("a", 1): "a1", ("b", 2): "b2", ("b", 20): "b-new", ("c", 3): "c1"}
    # partition-pruned read: only the named partition's rows
    only_a = vs.read_partitions(spark, store, ["a"]).collect()
    assert [(r["bucket"], r["k"], r["v"]) for r in only_a] == [("a", 1, "a1")]
    assert vs.read_partitions(spark, store, ["zzz"]) is None


def test_partitioned_store_replay_guard_empty_drop_and_dict_form(spark, tmp_path):
    store = _store(tmp_path)

    def commit0(read_parts):
        return _kv(spark, [("a", 1, "x"), ("b", 2, "y")]), "bucket", ["a", "b"]

    assert vs.apply_batch_partitioned(spark, store, commit0, batch_id=0)
    # replay: at-or-below the last committed id is skipped without calling
    called = []

    def must_not_run(read_parts):
        called.append(1)

    assert vs.apply_batch_partitioned(spark, store, must_not_run, batch_id=0) is False
    assert not called

    # tuple form: a touched value the write produced no rows for is DROPPED
    def commit1(read_parts):
        return _kv(spark, [("b", 2, "y2")]), "bucket", ["a", "b"]

    assert vs.apply_batch_partitioned(spark, store, commit1, batch_id=1)
    assert set(vs.read_manifest(spark, store, 1)) == {"b"}

    # dict form: heterogeneous schemas per partition + explicit None drop
    def commit2(read_parts):
        other = spark.createDataFrame([(7, 1.5)], "id bigint, score double")
        return {"scores": other, "b": None}

    assert vs.apply_batch_partitioned(spark, store, commit2, batch_id=2)
    m2 = vs.read_manifest(spark, store, 2)
    assert set(m2) == {"scores"}
    got = vs.read_partitions(spark, store, ["scores"]).collect()
    assert [(r["id"], r["score"]) for r in got] == [(7, 1.5)]
    assert vs.read_partitions(spark, store, ["b"]) is None


def test_partitioned_store_rejects_undeclared_partition_and_bad_values(spark, tmp_path):
    store = _store(tmp_path)

    def sneaky(read_parts):
        # rows land in partition 'b' but only 'a' is declared touched
        return _kv(spark, [("a", 1, "x"), ("b", 2, "y")]), "bucket", ["a"]

    with pytest.raises(RuntimeError, match="not declared in `touched`"):
        vs.apply_batch_partitioned(spark, store, sneaky, batch_id=0)
    # nothing was committed — the store is still fresh
    assert vs.last_committed_batch(spark, store) == -1
    assert vs.read_partitions(spark, store) is None

    def bad_value(read_parts):
        return {"sub/dir": _kv(spark, [("x", 1, "v")])}

    with pytest.raises(ValueError, match="not a safe directory name"):
        vs.apply_batch_partitioned(spark, store, bad_value, batch_id=0)

    def null_part(read_parts):
        df = spark.createDataFrame([(None, 1, "v")], "bucket string, k bigint, v string")
        return df, "bucket", ["a"]

    with pytest.raises(Exception, match="NULL partition value"):
        vs.apply_batch_partitioned(spark, store, null_part, batch_id=0)


def test_partitioned_store_gc_is_reference_aware(spark, tmp_path):
    """Old commit dirs survive GC exactly as long as a live (latest or
    lag-buffer) manifest references a partition inside them."""
    store = _store(tmp_path)

    def mk(vals):
        def commit(read_parts):
            return _kv(spark, [(v, i, f"{v}@") for i, v in enumerate(vals)]), "bucket", list(vals)

        return commit

    for i, vals in enumerate((["a", "b", "c"], ["b"], ["c"], ["b"], ["c"])):
        assert vs.apply_batch_partitioned(spark, store, mk(vals), batch_id=i)
    # partition a was written at commit 0 and never touched again: its vp0
    # dir must survive four later commits' GC passes
    m = vs.read_manifest(spark, store, 4)
    assert ".vp0" in m["a"]
    assert {(r["bucket"], r["v"]) for r in vs.read_partitions(spark, store).collect()} == {
        ("a", "a@"),
        ("b", "b@"),
        ("c", "c@"),
    }
    # manifests below the lag buffer are gone
    with pytest.raises(RuntimeError, match="manifest is unreadable"):
        vs.read_manifest(spark, store, 0)
    # vp1's superseded 'b' dir: still referenced by the lag-buffer manifest
    # right after commit 3 superseded it, but once commit 4 rotates the lag
    # buffer past manifest 2 it is unreferenced and deleted — and the empty
    # vp1 dir goes with it
    assert not os.path.exists(os.path.join(str(tmp_path), "store.vp1"))


# ---------------------------------------------------------------------------
# pagerank / personalized_pagerank iters=0 release (VERDICT r09 #1, ADVICE)
# ---------------------------------------------------------------------------


def _n_stored_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def _wait_stored_at_most(spark, target: int, timeout: float = 20.0) -> int:
    """Releases are non-blocking (async unpersist) — poll until the block
    count settles at or below the expected survivor count."""
    deadline = time.time() + timeout
    n = _n_stored_rdds(spark)
    while n > target and time.time() < deadline:
        time.sleep(0.2)
        n = _n_stored_rdds(spark)
    return n


def test_pagerank_iters0_releases_staged_frames(spark):
    before = _n_stored_rdds(spark)
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (4, 1)], "src bigint, dst bigint")
    got = {r["node"]: r["pr"] for r in graph.pagerank(e, iters=0).collect()}
    assert got == {1: 0.25, 2: 0.25, 3: 0.25, 4: 0.25}  # uniform vector
    # only the `nodes` checkpoint (the returned frame's lineage root) stays
    assert _wait_stored_at_most(spark, before + 1) <= before + 1


def test_personalized_pagerank_iters0_releases_staged_frames(spark):
    before = _n_stored_rdds(spark)
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (4, 1)], "src bigint, dst bigint")
    seeds = spark.createDataFrame([(1,), (3,), (99,)], "node bigint")
    got = {r["node"]: r["pr"] for r in graph.personalized_pagerank(e, seeds, iters=0).collect()}
    # iters=0 → the restart vector itself (absent seed 99 carries no mass)
    assert got == {1: 0.5, 2: 0.0, 3: 0.5, 4: 0.0}
    # only the restart vector's checkpoint (the returned frame's root) stays
    assert _wait_stored_at_most(spark, before + 1) <= before + 1


# ---------------------------------------------------------------------------
# incremental connected components (operators/graph_delta.py)
# ---------------------------------------------------------------------------


def _comps_of(spark, nodes, edges):
    from kf_task_fhir_etl_spark.operators import dedup

    n = spark.createDataFrame([(x,) for x in nodes], "node bigint")
    e = spark.createDataFrame(edges or [(None, None)], "id_a bigint, id_b bigint")
    if not edges:
        e = e.limit(0)
    return dedup.connected_components(n, e, node_col="node")


def test_apply_components_delta_split_merge_rebridge_and_new_nodes(spark):
    """One changelog exercising all four shapes at once: a bridge delete
    SPLITS {1,2,3,4} at (2,3); an insert MERGES old components {5,6} and
    {7}; a delete+insert pair RE-BRIDGES {8,9,10} through a new path; and
    a chain of brand-new nodes {20,21} attaches to old node 7. The result
    must equal a from-scratch recompute on the post-changelog graph."""
    from kf_task_fhir_etl_spark.operators import dedup, graph_delta

    old_edges = [(1, 2), (2, 3), (3, 4), (5, 6), (8, 9), (9, 10)]
    nodes = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
    comps = _comps_of(spark, nodes, old_edges)
    delta_rows = [
        (2, 3, -1),            # split: {1,2} | {3,4}
        (5, 7, 1),             # merge: {5,6} ∪ {7}
        (9, 10, -1), (8, 10, 1),  # re-bridge inside one old component
        (7, 20, 1), (20, 21, 1),  # new nodes chained onto old 7
    ]
    delta = spark.createDataFrame(delta_rows, "id_a bigint, id_b bigint, op int")
    new_edges = [(1, 2), (3, 4), (5, 6), (8, 9), (5, 7), (8, 10), (7, 20), (20, 21)]
    edges_new = spark.createDataFrame(new_edges, "id_a bigint, id_b bigint")
    got = {
        r["node"]: r["component"]
        for r in graph_delta.apply_components_delta(comps, edges_new, delta).collect()
    }
    want = {
        r["node"]: r["component"]
        for r in dedup.connected_components(
            spark.createDataFrame([(x,) for x in nodes + [20, 21]], "node bigint"),
            edges_new,
            node_col="node",
        ).collect()
    }
    assert got == want
    assert got[3] == got[4] == 3 and got[1] == got[2] == 1       # split halves
    assert got[5] == got[6] == got[7] == got[20] == got[21] == 5  # merged + new chain
    assert got[8] == got[9] == got[10] == 8                      # re-bridged intact


def test_apply_components_delta_insert_only_and_delete_to_singletons(spark):
    from kf_task_fhir_etl_spark.operators import graph_delta

    comps = _comps_of(spark, [1, 2, 3], [(1, 2)])
    # insert-only batch: no recompute scope at all
    ins = spark.createDataFrame([(2, 3, 1)], "id_a bigint, id_b bigint, op int")
    e_new = spark.createDataFrame([(1, 2), (2, 3)], "id_a bigint, id_b bigint")
    got = {
        r["node"]: r["component"]
        for r in graph_delta.apply_components_delta(comps, e_new, ins).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1}
    # delete the only edge: both endpoints become singletons, nodes never
    # vanish from the labeling
    comps2 = _comps_of(spark, [1, 2], [(1, 2)])
    dele = spark.createDataFrame([(1, 2, -1)], "id_a bigint, id_b bigint, op int")
    e_empty = spark.createDataFrame([], "id_a bigint, id_b bigint")
    got2 = {
        r["node"]: r["component"]
        for r in graph_delta.apply_components_delta(comps2, e_empty, dele).collect()
    }
    assert got2 == {1: 1, 2: 2}


# ---------------------------------------------------------------------------
# out-of-order streaming pattern spans (streaming/patterns.py::
# streaming_pattern_spans with a watermark)
# ---------------------------------------------------------------------------


def _ts(h):
    import datetime

    return datetime.datetime(2024, 1, 1, h, 0, 0)


def test_ooo_spans_late_anchor_and_late_deny_change_decisions(spark, tmp_path):
    """Cross-batch disorder the in-order matcher would get WRONG both
    ways: user 1's anchor arrives a batch after its target (in-order: no
    span; buffered: span), and user 2's deny arrives a batch after the
    span it sits inside (in-order: span wrongly emitted; buffered:
    vetoed). Two sentinel batches advance the watermark and fire the
    event-time timeouts."""
    import time as _time

    from kf_task_fhir_etl_spark.streaming.events import run_stream_to_memory
    from kf_task_fhir_etl_spark.streaming.patterns import streaming_pattern_spans

    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    b1 = [
        (1, _ts(5), 1, "purchase", 0.0, None),    # target BEFORE its anchor arrives
        (10, _ts(1), 2, "view", 0.0, None),
        (11, _ts(5), 2, "purchase", 0.0, None),   # will be vetoed by a LATE error
    ]
    b2 = [
        (2, _ts(3), 1, "view", 0.0, None),        # late anchor for user 1's t5 target
        (12, _ts(3), 2, "error", 0.0, None),      # late deny inside user 2's (1,5)
    ]
    s1 = [(-1, _ts(20), -1, "error", 0.0, None)]
    s2 = [(-2, _ts(23), -1, "error", 0.0, None)]
    src = str(tmp_path / "ooo_src")
    os.makedirs(src)
    now = _time.time()
    for i, rows in enumerate((b1, b2, s1, s2)):
        before = set(os.listdir(src))
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        for f in set(os.listdir(src)) - before:
            if f.endswith(".parquet"):
                os.utime(os.path.join(src, f), (now - 1000 + i * 100,) * 2)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    spans = streaming_pattern_spans(
        stream, "view", "purchase", ["error"], watermark="3 hours"
    )
    run_stream_to_memory(spans, "ooo_unit_mem", output_mode="append")
    got = sorted(
        tuple(r)
        for r in spark.table("ooo_unit_mem")
        .filter(F.col("user_id") != -1)
        .collect()
    )
    h = lambda hh: int(_ts(hh).replace(tzinfo=__import__("datetime").timezone.utc).timestamp() * 1_000_000)  # noqa: E731
    # user 1: late t3 view anchors the t5 purchase; user 2: late t3 error
    # vetoes — exactly the two decisions an unbuffered matcher inverts
    assert got == [(1, h(3), h(5))]


# ---------------------------------------------------------------------------
# streaming join+agg materialized view (streaming/matview.py)
# ---------------------------------------------------------------------------


def test_matview_stream_multiset_and_one_sided_carry_forward(spark, tmp_path):
    """Signed-multiset bases (duplicates count), NULL join keys never
    match (a NULL-keyed changelog row is a view no-op), and a one-sided
    microbatch leaves the other side's partition untouched ON DISK."""
    from kf_task_fhir_etl_spark.streaming import matview

    schema = "side string, k bigint, pri string, qty double, op int"
    b1 = [("R", 1, "a", None, 1), ("R", 2, "b", None, 1), ("R", 2, "b", None, 1)]
    b2 = [("S", 1, None, 10.0, 1), ("S", 2, None, 5.0, 1), ("S", 2, None, 5.0, 1)]
    b3 = [
        ("R", 2, "b", None, -1),          # one copy of the dup leaves
        ("S", 1, None, 7.0, 1),
        ("S", None, None, 99.0, 1),       # NULL key: stored, never joins
    ]
    src = str(tmp_path / "mv_src")
    for n, rows in enumerate((b1, b2, b3), 1):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            os.path.join(src, f"e{n}")
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src, "e*"))
    )
    store = str(tmp_path / "mv_store")
    q = matview.join_agg_view_stream(
        stream, store, side_col="side",
        r_cols=["k", "pri"], s_cols=["k", "qty"], on=["k"], keys=["pri"],
        sum_cols={"sum_qty": "qty"}, count_col="n", op_col="op",
        checkpoint=str(tmp_path / "mv_ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    view = sorted(
        tuple(r) for r in matview.read_view(spark, store, ["pri", "n", "sum_qty"]).collect()
    )
    # a: (1,a)⋈{10,7} → n=2 sum=17; b: 1 surviving (2,b) ⋈ {5,5} → n=2 sum=10
    assert view == [("a", 2, 17.0), ("b", 2, 10.0)]
    r_base = sorted(
        tuple(r) for r in matview.read_base(spark, store, "R", ["k", "pri"]).collect()
    )
    assert r_base == [(1, "a", 1), (2, "b", 1)]  # dup collapsed to m, then −1
    s_rows = {
        (r["k"], r["qty"]): r["__m"]
        for r in matview.read_base(spark, store, "S", ["k", "qty"]).collect()
    }
    assert s_rows == {(1, 10.0): 1, (1, 7.0): 1, (2, 5.0): 2, (None, 99.0): 1}
    # carry-forward (r11 bucketed layout): batch 2 (S only) must NOT
    # rewrite ANY R bucket; batch 3 touched both sides again
    m1 = vs.read_manifest(spark, store, 1)
    m2 = vs.read_manifest(spark, store, 2)
    r_parts_1 = {v: p for v, p in m1.items() if v.startswith("R.")}
    assert r_parts_1 and all(".vp0" in p for p in r_parts_1.values())
    assert any(".vp1" in p for v, p in m1.items() if v.startswith("S."))
    assert any(".vp2" in p for v, p in m2.items() if v.startswith("R."))
    assert any(".vp2" in p for v, p in m2.items() if v.startswith("S."))


def test_matview_rejects_bad_side_and_reserved_columns(spark, tmp_path):
    from kf_task_fhir_etl_spark.streaming import matview

    schema = "side string, k bigint, pri string, qty double, op int, __x int"
    res_src = str(tmp_path / "res_src")
    spark.createDataFrame([("R", 1, "a", None, 1, 0)], schema).coalesce(1).write.parquet(res_src)
    stream = spark.readStream.schema(schema).parquet(res_src)
    with pytest.raises(ValueError, match="reserved"):
        matview.join_agg_view_stream(
            stream, str(tmp_path / "s"), side_col="side",
            r_cols=["k", "pri"], s_cols=["k", "qty"], on=["k"], keys=["pri"],
            sum_cols={"sum_qty": "qty"},
        )
    schema2 = "side string, k bigint, pri string, qty double, op int"
    src = str(tmp_path / "badside_src")
    spark.createDataFrame([("X", 1, "a", None, 1)], schema2).coalesce(1).write.parquet(
        os.path.join(src, "e1")
    )
    stream2 = (
        spark.readStream.schema(schema2).option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src, "e*"))
    )
    q = matview.join_agg_view_stream(
        stream2, str(tmp_path / "badside_store"), side_col="side",
        r_cols=["k", "pri"], s_cols=["k", "qty"], on=["k"], keys=["pri"],
        sum_cols={"sum_qty": "qty"}, checkpoint=str(tmp_path / "badside_ckpt"),
    )
    with pytest.raises(Exception, match="side must be|StreamingQuery"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()


# ---------------------------------------------------------------------------
# partitioned CDC store (cdc_stream buckets=)
# ---------------------------------------------------------------------------


def test_cdc_partitioned_buckets_match_flat_store(spark, tmp_path):
    """The bucketed layout is a pure storage change: the same change
    stream must converge to the same live table as the flat store, with
    only touched buckets rewritten per batch."""
    from kf_task_fhir_etl_spark.streaming import cdc

    schema = "k bigint, v string, seq long, op string"
    batches = [
        [(1, "a", 1, "upsert"), (2, "b", 1, "upsert"), (3, "c", 1, "upsert")],
        [(2, "b2", 2, "upsert"), (3, None, 2, "delete")],
        [(3, "c3", 3, "upsert"), (4, "d", 3, "upsert")],  # resurrect 3
    ]
    src = str(tmp_path / "cdcsrc")
    for n, rows in enumerate(batches, 1):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            os.path.join(src, f"e{n}")
        )

    def run(name, buckets):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(src, "e*"))
        )
        store = str(tmp_path / f"{name}_store")
        q = cdc.cdc_stream(
            stream, store, key_cols=["k"], order_col="seq", op_col="op",
            checkpoint=str(tmp_path / f"{name}_ckpt"), buckets=buckets,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return store, sorted(tuple(r) for r in cdc.read_table(spark, store).collect())

    flat_store, flat = run("flat", None)
    part_store, part = run("part", 3)
    assert flat == part == [(1, "a"), (2, "b2"), (3, "c3"), (4, "d")]
    assert not vs.store_is_partitioned(spark, flat_store)
    assert vs.store_is_partitioned(spark, part_store)
    # batch 2 touched only keys 2 and 3: key 1's bucket (if distinct from
    # both) must still point into the batch-0 data dir at the end iff no
    # later batch touched it — verify via the manifest's path vintages
    m = vs.read_manifest(spark, part_store, 2)
    bucket_of = {
        r["k"]: r["b"]
        for r in spark.createDataFrame([(1,), (2,), (3,), (4,)], "k bigint")
        .select("k", F.concat(F.lit("b"), F.pmod(F.xxhash64("k"), F.lit(3)).cast("string")).alias("b"))
        .collect()
    }
    later_touched = {bucket_of[2], bucket_of[3], bucket_of[4]}
    if bucket_of[1] not in later_touched:
        assert ".vp0" in m[bucket_of[1]]


# ---------------------------------------------------------------------------
# apply_topk_delta NULL-key fold/recompute split (found via the leaderboard
# NULL-group gate: the name-list anti-join put a NULL-keyed group on BOTH
# paths, duplicating its rows)
# ---------------------------------------------------------------------------


def test_apply_topk_delta_null_key_member_delete_recomputes_once(spark):
    from kf_task_fhir_etl_spark.operators import ivm

    base_old = spark.createDataFrame(
        [(None, 1, 10.0), (None, 2, 8.0), (None, 3, 5.0), ("g", 9, 1.0)],
        "k string, id bigint, s double",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("k").orderBy(F.col("s").desc(), F.col("id"))
    view = (
        base_old.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= 2)
        .drop("__r")
    )
    # delete the NULL group's stored leader → bounded recompute of that group
    delta = spark.createDataFrame(
        [(None, 1, None, -1)], "k string, id bigint, s double, op int"
    )
    base_new = base_old.filter(~(F.col("k").isNull() & (F.col("id") == 1)))
    out = sorted(
        (
            tuple(r)
            for r in ivm.apply_topk_delta(
                view, base_new, delta, keys=["k"], id_col="id", score_col="s", k=2
            ).collect()
        ),
        key=repr,
    )
    assert out == sorted([(None, 2, 8.0), (None, 3, 5.0), ("g", 9, 1.0)], key=repr)


# ---------------------------------------------------------------------------
# leaderboard on the partitioned store (r09 ADVICE + VERDICT #2/#7)
# ---------------------------------------------------------------------------


def _lb_stream(spark, tmp_path, batches, name):
    schema = "g string, id bigint, price double, seq long, op string"
    src = str(tmp_path / f"{name}_src")
    for n, rows in enumerate(batches, 1):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            os.path.join(src, f"e{n}")
        )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src, "e*"))
    )


def _lb_go(spark, tmp_path, batches, name, buckets=4, k=2):
    from kf_task_fhir_etl_spark.streaming import leaderboard

    store = str(tmp_path / f"{name}_store")
    q = leaderboard.topk_stream(
        _lb_stream(spark, tmp_path, batches, name), store, keys=["g"],
        id_col="id", score_col="price", k=k, order_col="seq", op_col="op",
        checkpoint=str(tmp_path / f"{name}_ckpt"), buckets=buckets,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return store


def test_leaderboard_null_group_key_update_is_visible_to_the_diff(spark, tmp_path):
    """r09 ADVICE (medium): an entity whose GROUP KEY is NULL must still be
    diffed pre-vs-post — the old name-list joins dropped it, leaving a
    stale duplicate id in the maintained view after an update."""
    from kf_task_fhir_etl_spark.streaming import leaderboard

    b1 = [(None, 1, 10.0, 1, "upsert"), (None, 2, 8.0, 1, "upsert")]
    b2 = [(None, 1, 1.0, 2, "upsert")]  # demote the NULL-group leader
    store = _lb_go(spark, tmp_path, [b1, b2], "lb_nullg")
    view = sorted(
        tuple(r)
        for r in leaderboard.read_leaderboard(spark, store, ["g", "id", "price"]).collect()
    )
    # id=1 must appear ONCE, at its new score — never both scores
    assert view == [(None, 1, 1.0), (None, 2, 8.0)]
    live = sorted(
        tuple(r)
        for r in leaderboard.read_live_table(spark, store, ["g", "id", "price"]).collect()
    )
    assert live == [(None, 1, 1.0), (None, 2, 8.0)]


def test_leaderboard_null_op_raises_named_error(spark, tmp_path):
    """r09 ADVICE (low): a NULL op must be named as such, not mislabeled
    as the reserved '__view__' tag."""
    from kf_task_fhir_etl_spark.streaming import leaderboard

    b1 = [("a", 1, 1.0, 1, None)]
    store = str(tmp_path / "lb_nullop_store")
    q = leaderboard.topk_stream(
        _lb_stream(spark, tmp_path, [b1], "lb_nullop"), store, keys=["g"],
        id_col="id", score_col="price", k=2, order_col="seq", op_col="op",
        checkpoint=str(tmp_path / "lb_nullop_ckpt"),
    )
    with pytest.raises(Exception, match="NULL op|StreamingQuery"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def test_leaderboard_untouched_buckets_carry_forward(spark, tmp_path):
    """The write-amplification contract at the sink level: a microbatch
    touching one group rewrites that group's bucket + the view partition,
    while the other group's bucket files survive IN PLACE."""
    from kf_task_fhir_etl_spark.streaming import leaderboard

    # two groups in DISTINCT buckets under buckets=4 (verified below)
    b1 = [("a", 1, 10.0, 1, "upsert"), ("b", 7, 3.0, 1, "upsert")]
    b2 = [("a", 2, 20.0, 2, "upsert")]  # touches group a only
    store = _lb_go(spark, tmp_path, [b1, b2], "lb_carry", buckets=4)
    bucket_of = {
        r["g"]: r["b"]
        for r in spark.createDataFrame([("a",), ("b",)], "g string")
        .select("g", F.concat(F.lit("b"), F.pmod(F.xxhash64("g"), F.lit(4)).cast("string")).alias("b"))
        .collect()
    }
    assert bucket_of["a"] != bucket_of["b"], "pick groups in distinct buckets"
    m0 = vs.read_manifest(spark, store, 0)
    m1 = vs.read_manifest(spark, store, 1)
    # group b's bucket: same path (batch-0 data dir), untouched on disk;
    # group a's bucket and the view: rewritten by batch 1
    assert m1[bucket_of["b"]] == m0[bucket_of["b"]] and ".vp0" in m1[bucket_of["b"]]
    assert ".vp1" in m1[bucket_of["a"]] and ".vp1" in m1[leaderboard.VIEW_PART]
    view = sorted(
        tuple(r)
        for r in leaderboard.read_leaderboard(spark, store, ["g", "id", "price"]).collect()
    )
    assert view == [("a", 1, 10.0), ("a", 2, 20.0), ("b", 7, 3.0)]


def test_personalized_pagerank_one_iter_still_releases(spark):
    """The non-degenerate path keeps its r09 contract: exactly one survivor
    (the final round's checkpoint) after ≥1 iteration."""
    before = _n_stored_rdds(spark)
    e = spark.createDataFrame([(1, 2), (2, 1), (2, 3)], "src bigint, dst bigint")
    seeds = spark.createDataFrame([(1,)], "node bigint")
    out = graph.personalized_pagerank(e, seeds, iters=2)
    assert abs(sum(r["pr"] for r in out.collect()) - 1.0) < 1e-6  # mass conserved
    assert _wait_stored_at_most(spark, before + 1) <= before + 1


# ---------------------------------------------------------------------------
# plan-shape asserts (the r09 discipline): the r10 operators' delta-bounded
# probes compile to BroadcastHashJoin — a shuffled probe would re-exchange
# the table-sized side per batch, the exact cost the docstrings exclude
# ---------------------------------------------------------------------------


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_components_delta_probes_are_broadcast(spark):
    """apply_components_delta touches the full labeling only through
    broadcast probes: the delete-touched semi/anti pair and the insert
    label remap (LeftOuter). The intra-component edge slice joins are
    deliberately unhinted (component-sized, not delta-sized) and may
    shuffle."""
    from kf_task_fhir_etl_spark.operators import graph_delta

    comps = _comps_of(spark, [1, 2, 3, 4], [(1, 2), (3, 4)])
    delta = spark.createDataFrame(
        [(2, 3, 1), (3, 4, -1)], "id_a bigint, id_b bigint, op int"
    )
    e_new = spark.createDataFrame([(1, 2), (2, 3)], "id_a bigint, id_b bigint")
    out = graph_delta.apply_components_delta(comps, e_new, delta)
    plan = _executed_plan(out)
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin LeftSemi" not in plan and "SortMergeJoin LeftAnti" not in plan, plan
    # the remap itself is a broadcast left outer, not a labeling reshuffle
    assert "BroadcastHashJoin" in plan and "LeftOuter, BuildRight" in plan, plan


def test_matview_base_merge_and_store_probes_shapes(spark):
    """apply_base_delta's merge is a full-outer against the BATCH-sized
    per-tuple delta — assert the signed-multiset fold keeps exact bag
    semantics through a duplicate-heavy merge (values, not just plan:
    the full outer legitimately shuffles, there is no broadcast claim)."""
    from kf_task_fhir_etl_spark.streaming import matview

    cur = spark.createDataFrame([(1, "a", 2), (2, "b", 1)], "k bigint, v string, __m bigint")
    delta = spark.createDataFrame(
        [(1, "a", -1), (2, "b", -1), (3, "c", 1), (3, "c", 1)],
        "k bigint, v string, op int",
    )
    out = sorted(
        tuple(r)
        for r in matview.apply_base_delta(cur, delta, ["k", "v"], "op").collect()
    )
    assert out == [(1, "a", 1), (3, "c", 2)]  # exact-zero row (2,b) vanished
    expanded = sorted(
        tuple(r)
        for r in matview.expand_base(
            spark.createDataFrame([(3, "c", 2)], "k bigint, v string, __m bigint"),
            ["k", "v"],
            cur,
        ).collect()
    )
    assert expanded == [(3, "c"), (3, "c")]  # multiplicity re-expands exactly


# ---------------------------------------------------------------------------
# streaming COUNT(DISTINCT) view (streaming/matview.py::
# distinct_count_view_stream)
# ---------------------------------------------------------------------------


def test_distinct_view_stream_decrement_vs_removal_and_carry_forward(spark, tmp_path):
    """The COUNT(DISTINCT) crux through the stream: deleting one of a
    user's several rows must NOT drop the user from the count, deleting
    the last one must — and a batch touching one group's bucket leaves
    the other bucket's support files in place."""
    from kf_task_fhir_etl_spark.streaming import matview

    schema = "g string, u bigint, op int"
    b1 = [("a", 1, 1), ("a", 1, 1), ("a", 2, 1), ("b", 9, 1)]
    b2 = [("a", 1, -1), ("a", 2, -1)]  # u=1 decrements (stays), u=2 leaves
    src = str(tmp_path / "dcv_src")
    for n, rows in enumerate((b1, b2), 1):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            os.path.join(src, f"e{n}")
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src, "e*"))
    )
    store = str(tmp_path / "dcv_store")
    q = matview.distinct_count_view_stream(
        stream, store, keys=["g"], value_col="u", op_col="op",
        checkpoint=str(tmp_path / "dcv_ckpt"), buckets=4,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    view = sorted(
        tuple(r) for r in matview.read_distinct_view(spark, store, ["g"]).collect()
    )
    assert view == [("a", 1), ("b", 1)]
    sup = sorted(
        tuple(r)
        for r in matview.read_distinct_support(spark, store, ["g"], "u").collect()
    )
    assert sup == [("a", 1, 1), ("b", 9, 1)]
    # bucket carry-forward: if b's bucket differs from a's, batch 2 (a
    # only) must have left b's bucket at its batch-0 vintage
    bucket_of = {
        r["g"]: r["b"]
        for r in spark.createDataFrame([("a",), ("b",)], "g string")
        .select("g", F.concat(F.lit("b"), F.pmod(F.xxhash64("g"), F.lit(4)).cast("string")).alias("b"))
        .collect()
    }
    m1 = vs.read_manifest(spark, store, 1)
    if bucket_of["a"] != bucket_of["b"]:
        assert ".vp0" in m1[bucket_of["b"]]
    assert ".vp1" in m1[matview.VIEW_PART]


# ---------------------------------------------------------------------------
# incremental SSSP, insert-only (operators/graph_delta.py::apply_sssp_inserts)
# ---------------------------------------------------------------------------


def test_apply_sssp_inserts_matches_recompute_with_chained_improvements(spark):
    """An inserted shortcut whose improvement must PROPAGATE through old
    edges (multi-round wavefront), a new node reached only through an
    inserted edge, and an insert that improves nothing — all must land on
    the from-scratch answer."""
    from kf_task_fhir_etl_spark.operators import graph, graph_delta

    # path 0-1-2-3-4 with heavy weights; source = 0
    old = spark.createDataFrame(
        [(0, 1, 10), (1, 2, 10), (2, 3, 10), (3, 4, 10)],
        "src bigint, dst bigint, w bigint",
    )
    src = spark.createDataFrame([(0,)], "node bigint")
    dist_old = graph.sssp_distances(old, src)
    assert {r["node"]: r["dist"] for r in dist_old.collect()} == {
        0: 0, 1: 10, 2: 20, 3: 30, 4: 40,
    }
    # shortcut 0→2 (improves 2, then 3, then 4 through OLD edges — three
    # wavefront rounds), a new node 9 off node 4, and a useless heavy edge
    delta = spark.createDataFrame(
        [(0, 2, 1), (4, 9, 2), (0, 1, 99)], "src bigint, dst bigint, w bigint"
    )
    edges_new = old.unionByName(delta)
    got = {
        r["node"]: r["dist"]
        for r in graph_delta.apply_sssp_inserts(dist_old, edges_new, delta).collect()
    }
    want = {
        r["node"]: r["dist"]
        for r in graph.sssp_distances(edges_new, src).collect()
    }
    # hand-checkable witness: 2 takes the shortcut (1); 3 and 4 improve
    # THROUGH old edges in successive wavefront rounds (11, 21); 9 is the
    # new node (23); 1 keeps its direct 10 (the 99 insert is a no-op)
    assert got == want == {0: 0, 1: 10, 2: 1, 3: 11, 4: 21, 9: 23}


def test_apply_sssp_inserts_noop_batch_and_guard(spark):
    from kf_task_fhir_etl_spark.operators import graph, graph_delta

    old = spark.createDataFrame([(0, 1, 2), (1, 2, 2)], "src bigint, dst bigint, w bigint")
    src = spark.createDataFrame([(0,)], "node bigint")
    dist_old = graph.sssp_distances(old, src)
    # a no-improvement insert: one seed join, zero rounds, table unchanged
    delta = spark.createDataFrame([(0, 2, 99)], "src bigint, dst bigint, w bigint")
    got = {
        r["node"]: r["dist"]
        for r in graph_delta.apply_sssp_inserts(
            dist_old, old.unionByName(delta), delta
        ).collect()
    }
    assert got == {0: 0, 1: 2, 2: 4}
    # guard: a long improvement chain trips max_rounds loudly
    chain_old = spark.createDataFrame(
        [(i, i + 1, 100) for i in range(6)], "src bigint, dst bigint, w bigint"
    )
    d0 = graph.sssp_distances(chain_old, src)
    shortcut = spark.createDataFrame([(0, 1, 1)], "src bigint, dst bigint, w bigint")
    with pytest.raises(RuntimeError, match="max_rounds"):
        graph_delta.apply_sssp_inserts(
            d0, chain_old.unionByName(shortcut), shortcut, max_rounds=2
        )


def test_ooo_funnel_late_earlier_step_still_advances(spark, tmp_path):
    """Step-2 and step-3 events arrive a batch BEFORE the step-1 event
    that qualifies them (violating the in-order contract): the buffered
    matcher must still produce the full first-touch trajectory, and a
    decoy step-2 event EARLIER than step-1 must not count (strictly-after
    rule preserved through the buffer)."""
    import time as _time

    from kf_task_fhir_etl_spark.streaming.events import run_stream_to_memory
    from kf_task_fhir_etl_spark.streaming.patterns import streaming_funnel_trajectories

    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    b1 = [
        (1, _ts(2), 1, "click", 0.0, None),     # decoy: before the view
        (2, _ts(4), 1, "click", 0.0, None),     # real step 2 (arrives early)
        (3, _ts(5), 1, "purchase", 0.0, None),  # real step 3 (arrives early)
    ]
    b2 = [(4, _ts(3), 1, "view", 0.0, None)]    # LATE step 1
    s1 = [(-1, _ts(20), -1, "view", 0.0, None)]
    s2 = [(-2, _ts(23), -1, "view", 0.0, None)]
    src = str(tmp_path / "ooof_src")
    os.makedirs(src)
    now = _time.time()
    for i, rows in enumerate((b1, b2, s1, s2)):
        before = set(os.listdir(src))
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        for f in set(os.listdir(src)) - before:
            if f.endswith(".parquet"):
                os.utime(os.path.join(src, f), (now - 1000 + i * 100,) * 2)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    traj = streaming_funnel_trajectories(
        stream, ["view", "click", "purchase"], watermark="3 hours"
    )
    run_stream_to_memory(traj, "ooof_unit_mem", output_mode="update")
    rows = (
        spark.table("ooof_unit_mem")
        .filter(F.col("user_id") == 1)
        .orderBy(F.desc("reached"))
        .collect()
    )
    h = lambda hh: int(_ts(hh).replace(tzinfo=__import__("datetime").timezone.utc).timestamp() * 1_000_000)  # noqa: E731
    assert rows and tuple(rows[0]) == (1, 3, h(3), h(4), h(5))


def test_apply_sssp_inserts_handles_out_releases_final_checkpoint(spark):
    """The returned frame projects over the final merge's checkpoint —
    handles_out must hand it back for release after the terminal action
    (the k_core/sssp_distances lifecycle; r10 review)."""
    from kf_task_fhir_etl_spark import etl
    from kf_task_fhir_etl_spark.operators import graph, graph_delta
    from pyspark.sql import DataFrame

    old = spark.createDataFrame([(0, 1, 5)], "src bigint, dst bigint, w bigint")
    src = spark.createDataFrame([(0,)], "node bigint")
    d0 = graph.sssp_distances(old, src)
    delta = spark.createDataFrame([(1, 2, 1)], "src bigint, dst bigint, w bigint")
    handles: list[DataFrame] = []
    out = graph_delta.apply_sssp_inserts(
        d0, old.unionByName(delta), delta, handles_out=handles
    )
    assert len(handles) == 1
    assert {r["node"]: r["dist"] for r in out.collect()} == {0: 0, 1: 5, 2: 6}
    etl.release_checkpoints(handles)
    with pytest.raises(Exception):
        handles[0].count()  # blocks gone, truncated lineage → loud failure


def test_partitioned_store_as_of_snapshot_reads(spark, tmp_path):
    """Time travel within the retention window: the lag-buffer commit
    stays fully readable (carried-forward partitions included); a retired
    snapshot raises loudly instead of reading partially."""
    store = _store(tmp_path)

    def mk(rows, vals):
        def commit(read_parts):
            return _kv(spark, rows), "bucket", vals

        return commit

    assert vs.apply_batch_partitioned(
        spark, store, mk([("a", 1, "a0"), ("b", 2, "b0")], ["a", "b"]), batch_id=0
    )
    assert vs.apply_batch_partitioned(
        spark, store, mk([("b", 2, "b1")], ["b"]), batch_id=1
    )
    # latest: merged view; as_of=0: the original snapshot, partition a
    # carried forward INTO snapshot 1 but read from its original dir
    latest = {r["bucket"]: r["v"] for r in vs.read_partitions(spark, store).collect()}
    snap0 = {r["bucket"]: r["v"] for r in vs.read_partitions(spark, store, as_of=0).collect()}
    assert latest == {"a": "a0", "b": "b1"}
    assert snap0 == {"a": "a0", "b": "b0"}
    with pytest.raises(ValueError, match="never committed"):
        vs.read_partitions(spark, store, as_of=99)
    # retire snapshot 0 by advancing twice more; its marker is GC'd
    assert vs.apply_batch_partitioned(spark, store, mk([("b", 2, "b2")], ["b"]), batch_id=2)
    assert vs.apply_batch_partitioned(spark, store, mk([("b", 2, "b3")], ["b"]), batch_id=3)
    with pytest.raises((ValueError, RuntimeError)):
        vs.read_partitions(spark, store, as_of=0)


# ---------------------------------------------------------------------------
# randomized incremental ≡ recompute parity (seeded, not hypothesis — each
# example drives full Spark jobs; 3 seeds × both operators)
# ---------------------------------------------------------------------------


def test_components_delta_randomized_parity_with_recompute(spark):
    import random

    from kf_task_fhir_etl_spark.operators import dedup, graph_delta

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        nodes = list(range(1, 15))
        all_pairs = [(a, b) for a in nodes for b in nodes if a < b]
        old_edges = rng.sample(all_pairs, 12)
        comps = _comps_of(spark, nodes, old_edges)
        dels = rng.sample(old_edges, 4)
        ins = rng.sample([p for p in all_pairs if p not in old_edges], 4)
        ins += [(2, 20 + seed % 3)]  # one brand-new node per seed
        new_edges = [e for e in old_edges if e not in dels] + ins
        delta = spark.createDataFrame(
            [(a, b, -1) for a, b in dels] + [(a, b, 1) for a, b in ins],
            "id_a bigint, id_b bigint, op int",
        )
        e_new = spark.createDataFrame(new_edges, "id_a bigint, id_b bigint")
        got = {
            r["node"]: r["component"]
            for r in graph_delta.apply_components_delta(comps, e_new, delta).collect()
        }
        want = {
            r["node"]: r["component"]
            for r in dedup.connected_components(
                spark.createDataFrame(
                    [(x,) for x in nodes + [20 + seed % 3]], "node bigint"
                ),
                e_new,
                node_col="node",
            ).collect()
        }
        assert got == want, f"seed {seed}"


def test_sssp_inserts_randomized_parity_with_recompute(spark):
    import random

    from kf_task_fhir_etl_spark.operators import graph, graph_delta

    src = spark.createDataFrame([(1,), (9,)], "node bigint")
    for seed in (3, 41, 77):
        rng = random.Random(seed)
        nodes = list(range(1, 12))
        all_pairs = [(a, b) for a in nodes for b in nodes if a < b]
        old = [(a, b, rng.randint(1, 9)) for a, b in rng.sample(all_pairs, 14)]
        ins = [(a, b, rng.randint(1, 9)) for a, b in rng.sample(all_pairs, 5)]
        old_df = spark.createDataFrame(old, "src bigint, dst bigint, w bigint")
        ins_df = spark.createDataFrame(ins, "src bigint, dst bigint, w bigint")
        new_df = old_df.unionByName(ins_df)
        d0 = graph.sssp_distances(old_df, src)
        got = {
            r["node"]: r["dist"]
            for r in graph_delta.apply_sssp_inserts(d0, new_df, ins_df).collect()
        }
        want = {
            r["node"]: r["dist"] for r in graph.sssp_distances(new_df, src).collect()
        }
        assert got == want, f"seed {seed}"
