"""Structured Streaming smoke tests: the streaming forms of q21/q22 must
produce the same aggregates as their batch counterparts over the same input."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kf_task_fhir_etl_spark.streaming import events as se

from .conftest import SF_SMOKE


def _to_ts(df):
    # normalize events.ts to TimestampType regardless of testdata layout:
    # long ns (TIMESTAMP(NANOS) via nanosAsLong — integer division, float
    # corrupts 1.7e18 ns epochs) or naive µs (TIMESTAMP_NTZ; session TZ is
    # UTC so the cast preserves the wall clock)
    dtype = dict(df.dtypes)["ts"]
    if dtype == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dtype == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    # stream source wants a directory of parquet files with a fixed schema
    out = str(tmp_path_factory.mktemp("events_stream"))
    spark.read.parquet(f"{SF_SMOKE}/events.parquet").write.mode("overwrite").parquet(out)
    return out


def test_windowed_counts_stream_equals_batch(spark, events_dir):
    schema = spark.read.parquet(events_dir).schema
    raw = _to_ts(spark.readStream.format("parquet").schema(schema).load(events_dir))
    stream_agg = se.windowed_event_counts(raw, watermark="0 seconds")
    se.run_stream_to_memory(stream_agg, "win_counts", output_mode="complete")
    got = {
        (r["hour_bucket"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }

    batch = (
        _to_ts(spark.read.parquet(events_dir))
        .groupBy(
            F.date_format(F.window("ts", "1 hour").start, "yyyy-MM-dd HH:00").alias("hour_bucket"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    want = {(r["hour_bucket"], r["event_type"]): (r["n"], r["total_value"]) for r in batch.collect()}
    assert got == want


def test_session_windows_stream(spark, events_dir):
    schema = spark.read.parquet(events_dir).schema
    raw = _to_ts(spark.readStream.format("parquet").schema(schema).load(events_dir))
    sessions = se.sessionized_counts(raw, gap="30 minutes", watermark="0 seconds")
    se.run_stream_to_memory(sessions, "sessions", output_mode="complete")
    rows = spark.sql("SELECT * FROM sessions").collect()
    assert rows
    # session invariant: end - start ≥ 0 and every user appears
    assert all(r["session_end"] >= r["session_start"] for r in rows)
    n_users = spark.read.parquet(events_dir).select("user_id").distinct().count()
    assert len({r["user_id"] for r in rows}) == n_users


def test_stateful_dedup_first_seen_across_batches(spark, events_dir, tmp_path):
    from kf_task_fhir_etl_spark.streaming import stateful

    # two files => two microbatches (maxFilesPerTrigger=1); the second
    # re-delivers every event (plus nothing new), so the stateful op must
    # emit each event_id exactly once
    src = str(tmp_path / "dup_stream")
    base = _to_ts(spark.read.parquet(events_dir)).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    base.coalesce(1).write.parquet(f"{src}/b1.parquet")
    base.coalesce(1).write.parquet(f"{src}/b2.parquet")

    raw = (
        spark.readStream.format("parquet")
        .schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .load(f"{src}/*.parquet")
    )
    out = stateful.stateful_dedup(raw)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("sf_dedup")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT event_id, count(*) AS c FROM sf_dedup GROUP BY event_id").collect()
    n_keys = base.select("event_id").distinct().count()
    assert len(got) == n_keys
    assert all(r["c"] == 1 for r in got), "a key was emitted more than once"


def test_running_user_totals_converge_to_batch_aggregate(spark, events_dir, tmp_path):
    from kf_task_fhir_etl_spark.streaming import stateful

    src = str(tmp_path / "tot_stream")
    base = _to_ts(spark.read.parquet(events_dir)).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    # split into two batches on event parity so most users span both
    base.filter("event_id % 2 = 0").coalesce(1).write.parquet(f"{src}/b1.parquet")
    base.filter("event_id % 2 = 1").coalesce(1).write.parquet(f"{src}/b2.parquet")

    raw = (
        spark.readStream.format("parquet")
        .schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .load(f"{src}/*.parquet")
    )
    q = (
        stateful.running_user_totals(raw)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("sf_totals")
        .option("checkpointLocation", str(tmp_path / "ckpt_tot"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    # last emitted row per user == the batch aggregate
    import pandas as pd  # noqa: F401

    hist = spark.sql("SELECT * FROM sf_totals").toPandas()
    final = hist.groupby("user_id").last()
    want = {
        r["user_id"]: (r["n"], r["tv"])
        for r in base.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("tv"))
        .collect()
    }
    assert len(final) == len(want)
    for uid, row in final.iterrows():
        n, tv = want[uid]
        assert row["n_events"] == n
        assert abs(row["total_value"] - tv) < 0.05


def test_stream_stream_join_across_batches(spark, events_dir, tmp_path):
    """q59's multi-batch claim: with clicks and purchases split across
    DIFFERENT microbatches, the interval join still emits every qualifying
    pair — click state is retained (watermark + gap) until the matching
    purchase arrives in a later trigger."""
    src = str(tmp_path / "ss_stream")
    base = _to_ts(spark.read.parquet(events_dir)).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    # batch 1 = clicks only, batch 2 = purchases only: every pair spans batches
    base.filter("event_type = 'click'").coalesce(1).write.parquet(f"{src}/b1.parquet")
    base.filter("event_type = 'purchase'").coalesce(1).write.parquet(f"{src}/b2.parquet")

    raw = (
        spark.readStream.format("parquet")
        .schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .load(f"{src}/*.parquet")
    )
    joined = se.click_purchase_interval_join(
        raw.filter("event_type = 'click'"), raw.filter("event_type = 'purchase'")
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_join")
        .option("checkpointLocation", str(tmp_path / "ckpt_ss"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT count(*) AS c FROM ss_join").collect()[0]["c"]

    b = _to_ts(spark.read.parquet(events_dir))
    want = (
        b.filter("event_type = 'click'")
        .alias("a")
        .join(
            b.filter("event_type = 'purchase'").alias("p"),
            F.expr(
                "a.user_id = p.user_id AND p.ts >= a.ts AND p.ts <= a.ts + INTERVAL 1 HOUR"
            ),
        )
        .count()
    )
    assert got == want and want > 0


def test_streaming_rollup_sink_matches_batch(spark, tmp_path):
    """Continuous-aggregate maintenance on the streaming surface: three
    microbatches (maxFilesPerTrigger=1 over a 3-file source) each rolled up
    and merged into the parquet rollup store via foreachBatch must leave
    the store IDENTICAL to a one-shot batch rollup — counts/sums exactly,
    HLL sketch estimates register-exactly (union ≡ single pass)."""
    from kf_task_fhir_etl_spark.catalog import load_table
    from kf_task_fhir_etl_spark.operators import rollup
    from kf_task_fhir_etl_spark.streaming.rollup_sink import read_store, rollup_stream

    ev = load_table(spark, SF_SMOKE, "events")
    src = str(tmp_path / "stream_src")
    ev.repartition(3).write.parquet(src)

    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    store = str(tmp_path / "rollup_store")
    q = rollup_stream(stream, store, grain="hour", checkpoint=str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    def rows(df):
        return sorted(
            (r["bucket"], r["event_type"], r["n"], round(r["sum_value"], 4), r["approx_users"])
            for r in rollup.finalize_rollup(df).collect()
        )

    assert rows(read_store(spark, store)) == rows(rollup.time_bucket_rollup(ev, "hour"))


def test_rollup_sink_replay_guard_and_fs_probe(spark, tmp_path):
    """At-least-once replay safety (ADVICE r02): re-delivering an already
    committed batchId must be a no-op (no double counting), a NEWER batch
    must merge, and the store/meta probe goes through spark.read so the
    behavior is filesystem-agnostic."""
    from kf_task_fhir_etl_spark.catalog import load_table
    from kf_task_fhir_etl_spark.streaming.rollup_sink import (
        last_committed_batch,
        merge_batch_into_store,
        read_store,
    )

    ev = load_table(spark, SF_SMOKE, "events")
    store = str(tmp_path / "store")

    assert last_committed_batch(spark, store) == -1
    assert merge_batch_into_store(spark, ev, store, "hour", batch_id=0) is True
    once = sorted(map(tuple, read_store(spark, store).drop("hll_users").collect()))
    assert last_committed_batch(spark, store) == 0

    # replay of batch 0 (and of anything below it) is skipped
    assert merge_batch_into_store(spark, ev, store, "hour", batch_id=0) is False
    assert sorted(map(tuple, read_store(spark, store).drop("hll_users").collect())) == once

    # a genuinely new batch still merges (counts double exactly once)
    assert merge_batch_into_store(spark, ev, store, "hour", batch_id=1) is True
    twice = {
        (r["bucket"], r["event_type"]): r["n"]
        for r in read_store(spark, store).collect()
    }
    before = {(r[0], r[1]): r[2] for r in once}
    assert twice == {key: 2 * n for key, n in before.items()}


def test_rollup_sink_survives_crash_mid_version_write(spark, tmp_path):
    """The never-overwrite layout's crash invariant: a store version written
    WITHOUT its commit marker (the state a crash mid-commit leaves) is
    invisible — the previous version stays live, the guard still reports
    the previous batch, and the replayed batch merges cleanly on top."""
    import shutil

    from kf_task_fhir_etl_spark.catalog import load_table
    from kf_task_fhir_etl_spark.streaming.rollup_sink import (
        _version_path,
        last_committed_batch,
        merge_batch_into_store,
        read_store,
    )

    ev = load_table(spark, SF_SMOKE, "events")
    store = str(tmp_path / "store")
    assert merge_batch_into_store(spark, ev, store, "hour", batch_id=0)
    committed = sorted(map(tuple, read_store(spark, store).drop("hll_users").collect()))

    # simulate the crash: batch 1's version data exists, but no marker
    shutil.copytree(_version_path(store, 0), _version_path(store, 1))
    assert last_committed_batch(spark, store) == 0
    assert sorted(map(tuple, read_store(spark, store).drop("hll_users").collect())) == committed

    # the replayed batch 1 now commits over the orphan and doubles counts once
    assert merge_batch_into_store(spark, ev, store, "hour", batch_id=1)
    after = {
        (r["bucket"], r["event_type"]): r["n"] for r in read_store(spark, store).collect()
    }
    before = {(r[0], r[1]): r[2] for r in committed}
    assert after == {k: 2 * n for k, n in before.items()}


def test_cdc_apply_batch_boundary_independent_and_tombstones(spark, tmp_path):
    """streaming/cdc.py: ANY split of the change set into batches, applied
    in ANY order through the versioned store, converges to the same final
    table; an out-of-order late update older than an applied delete must
    NOT resurrect the row."""
    import itertools

    from kf_task_fhir_etl_spark.streaming import cdc, versioned_store

    changes = [
        # (key, attr, seq, op)
        (1, "a1", 1, "upsert"),
        (2, "b1", 1, "upsert"),
        (3, "c1", 1, "upsert"),
        (1, "a2", 2, "upsert"),
        (2, None, 3, "delete"),
        (2, "b2", 2, "upsert"),  # older than the delete — must stay dead
        (3, "c3", 3, "upsert"),
    ]
    schema = "key int, attr string, seq long, op string"
    want = {(1, "a2"), (3, "c3")}

    def run(split: list[list[tuple]], store: str) -> set:
        for i, batch_rows in enumerate(split):
            batch = spark.createDataFrame(batch_rows, schema)
            staged = batch.withColumnRenamed("op", "__op").withColumnRenamed("seq", "__order")
            versioned_store.apply_batch(
                spark,
                store,
                lambda cur, b=staged: cdc.cdc_apply_batch(cur, b, ["key"], "__order", "__op"),
                batch_id=i,
            )
        live = cdc.read_table(spark, store)
        return {(r["key"], r["attr"]) for r in live.collect()}

    splits = [
        [changes],  # one batch
        [changes[:3], changes[3:5], changes[5:]],  # three batches
        [changes[5:], changes[3:5], changes[:3]],  # reordered batch content
        [[c] for c in changes[::-1]],  # one change per batch, reversed
    ]
    for i, split in enumerate(splits):
        assert run(split, str(tmp_path / f"store{i}")) == want, f"split {i}"


def test_cdc_replay_guard_skips_committed_batches(spark, tmp_path):
    from kf_task_fhir_etl_spark.streaming import cdc, versioned_store

    store = str(tmp_path / "store")
    b = spark.createDataFrame([(1, "x", 1, "upsert")], "key int, attr string, seq long, op string")
    staged = b.withColumnRenamed("op", "__op").withColumnRenamed("seq", "__order")
    merge = lambda cur: cdc.cdc_apply_batch(cur, staged, ["key"], "__order", "__op")  # noqa: E731
    assert versioned_store.apply_batch(spark, store, merge, batch_id=0) is True
    # replayed batch (foreachBatch at-least-once) is a no-op
    assert versioned_store.apply_batch(spark, store, merge, batch_id=0) is False
    assert {(r["key"], r["attr"]) for r in cdc.read_table(spark, store).collect()} == {(1, "x")}


def test_cdc_delete_beats_upsert_on_equal_sequence(spark, tmp_path):
    from kf_task_fhir_etl_spark.streaming import cdc

    b = spark.createDataFrame(
        [(1, "x", 5, "upsert"), (1, None, 5, "delete")],
        "key int, attr string, __order long, __op string",
    )
    out = cdc.cdc_reduce(b, ["key"], "__order", "__op").collect()
    assert len(out) == 1 and out[0]["__op"] == "delete"


def test_cdc_stream_rejects_reserved_column_names(spark, tmp_path):
    """__op/__order are the store's internal LWW markers; a change stream
    carrying (or naming its op/order columns) either would have its marker
    columns dropped/duplicated INSIDE the sink — fail loudly at attach
    time instead (r06 review)."""
    from kf_task_fhir_etl_spark.streaming import cdc

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        .selectExpr("value AS k", "value AS seq", "'upsert' AS op")
    )
    with pytest.raises(ValueError, match="reserved"):
        cdc.cdc_stream(stream, str(tmp_path / "s"), ["k"], order_col="__order", op_col="op")
    with pytest.raises(ValueError, match="reserved"):
        cdc.cdc_stream(
            stream.withColumnRenamed("seq", "__op"),
            str(tmp_path / "s"), ["k"], order_col="k", op_col="op",
        )


@pytest.mark.parametrize("watermark", [None, "1 hour"])
def test_pattern_matchers_state_shape_per_mode(spark, tmp_path, watermark):
    """The watermark is the matchers' only mode switch, read off the
    logical plan without starting a query: in order (None) the state is
    the bare carry — 4 span scalars, k funnel bigints — under NoTimeout;
    with a delay the pending buffer joins it under EventTimeTimeout. An
    empty funnel raises in both modes."""
    import re

    from kf_task_fhir_etl_spark.streaming import patterns as spat

    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string"
    src = str(tmp_path / "shape_src")
    spark.createDataFrame([], schema).write.parquet(src)
    raw = spark.readStream.schema(schema).parquet(src)

    def state_of(df):
        plan = df._jdf.queryExecution().logical().toString()
        line = next(ln for ln in plan.splitlines() if "FlatMapGroupsInPandasWithState" in ln)
        return re.findall(r"StructField\((\w+),", line), line.rsplit(", ", 1)[-1]

    pending = [] if watermark is None else ["pend_us", "pend_t"]
    timeout = "NoTimeout" if watermark is None else "EventTimeTimeout"
    spans = spat.streaming_pattern_spans(raw, "view", "purchase", ["error"], watermark=watermark)
    assert state_of(spans) == (
        ["has_first", "last_first", "has_deny", "last_deny", *pending], timeout
    )
    funnel = spat.streaming_funnel_trajectories(raw, ["view", "click"], watermark=watermark)
    assert state_of(funnel) == (["t1", "t2", *pending], timeout)
    with pytest.raises(ValueError, match="empty step list"):
        spat.streaming_funnel_trajectories(raw, [], watermark=watermark)
