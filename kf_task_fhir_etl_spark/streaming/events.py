"""Structured Streaming operators over the events table.

The reference has no streaming surface (SURVEY.md §2.8); these are the
engine's stream-shaped counterparts of q21/q22: watermarked tumbling-window
aggregation and native session windows. Batch and stream share the same
transformation functions so correctness is checked once (DuckDB oracle on the
batch form) and the streaming execution is smoke-tested with the memory sink.

Scale notes: watermark bounds state; window aggregation state is partitioned
by (window, event_type) / (user_id) — the same hash-shuffle keys as the batch
plan, so skew and sizing reasoning carries over.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),  # naive µs in the parquet footer
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _sentinel_row(schema: T.StructType, **fields) -> list[tuple]:
    """One sentinel row built by FIELD NAME against the events schema.
    The previous positional 6-tuples silently misassigned every field if
    the events table ever reordered or grew a column (r10 ADVICE, low);
    this fails loudly on any drift and emits the tuple in schema order."""
    names = tuple(schema.fieldNames())
    if set(names) != set(fields):
        raise ValueError(
            f"events sentinel: schema fields {sorted(names)} != sentinel "
            f"fields {sorted(fields)} — update the sentinel construction"
        )
    return [tuple(fields[n] for n in names)]


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (one file = one microbatch
    locally; point at a directory of arriving files in production). The glob
    targets the events table only — a bare directory path would sweep every
    other table in the testdata dir into all-null event rows, while a bare
    file path fails FileStreamSource's basePath-must-be-a-directory check.

    Layout detection (ADVICE r01): the stream schema must match the parquet
    footer exactly, and the testdata has shipped two ``ts`` layouts — naive
    µs (→ TIMESTAMP_NTZ) and legacy TIMESTAMP(NANOS) (surfaced as long ns
    under ``spark.sql.legacy.parquet.nanosAsLong``). Probe the footer with a
    one-file batch read (driver-side metadata only, no data scan) and build
    the matching stream schema, normalizing both to TimestampType — the same
    dual-layout contract as ``catalog.load_table``."""
    ts_dtype = dict(spark.read.parquet(f"{sf_dir}/events.parquet").dtypes).get("ts")
    if ts_dtype == "bigint":  # legacy ns-epoch layout
        schema = T.StructType(
            [
                f if f.name != "ts" else T.StructField("ts", T.LongType())
                for f in EVENTS_SCHEMA.fields
            ]
        )
        raw = spark.readStream.schema(schema).format("parquet").load(f"{sf_dir}/events.parque*")
        # integer div: float division loses µs precision on 1.7e18 ns epochs
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    raw = spark.readStream.schema(EVENTS_SCHEMA).format("parquet").load(f"{sf_dir}/events.parque*")
    # session TZ is UTC, so NTZ → TimestampType preserves the wall clock
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def windowed_event_counts(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window counts — stream form of q21_window_agg.
    Late rows beyond the watermark are dropped; state is bounded."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:00").alias("hour_bucket"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sessionized_counts(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Native session windows (gap-based) per user — stream form of
    q22_sessionization's gap logic."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def run_stream_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "append",
    state_partitions: int | None = 8,
):
    """Drive a streaming query to completion over the available input (local
    smoke path): memory sink + processAllAvailable.

    ``state_partitions`` bounds the number of state stores for stateful
    queries (each shuffle partition gets its own store; at local scale 32
    stores of per-store open/commit overhead dwarf the actual work — a
    stream-stream join over sf0.1 drops ~3× with 8). The conf is restored
    after the run; a production deployment sizes it to cluster cores since
    it is fixed at the query's first checkpoint."""
    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = stream_df.writeStream.outputMode(output_mode).format("memory").queryName(name).start()
        q.processAllAvailable()
        q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return q


def click_purchase_interval_join(
    clicks: DataFrame, purchases: DataFrame, max_gap: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream inner join with an event-time range condition: each
    click joins the same user's purchases landing within ``max_gap`` after
    it. Both sides carry watermarks and the join predicate bounds purchase
    time relative to click time, so Spark derives exactly how long each
    side's state must be retained (click state: watermark + max_gap;
    purchase state: watermark) — the unbounded-state trap of naive
    stream-stream joins is closed by construction. State is hash-partitioned
    on user_id, the same key the batch oracle shuffles on."""
    c = (
        clicks.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
    )
    p = (
        purchases.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {max_gap}")),
        "inner",
    )


def read_events_stream_with_flush(
    spark: SparkSession, sf_dir: str, advance_hours: int = 6, flush_user: int = -1
) -> DataFrame:
    """Events stream plus ONE trailing sentinel event ``advance_hours``
    past max(ts) — delivered as a SECOND microbatch (maxFilesPerTrigger=1,
    sentinel file given the newer mtime) so the watermark advances past
    every real event and append-mode windowed/session aggregations FLUSH
    their trailing state. Without it a finite replay never emits the last
    sessions: append mode only releases a window once the watermark passes
    its end, and the watermark trails the newest seen event. This is the
    standard finite-replay/backfill closing pattern; a production stream
    doesn't need it (new data keeps arriving). Callers filter
    ``user_id = flush_user`` back out. The normalized two-file layout is
    staged once per (sf_dir basename, content fingerprint) under /tmp via
    ``catalog.staged_layout`` (atomic publish) — regenerated test data
    restages automatically."""
    import os
    import time

    from kf_task_fhir_etl_spark.catalog import load_table, staged_layout

    def build(tmp: str) -> None:
        ev = load_table(spark, sf_dir, "events")  # ts normalized to timestamp
        hi = ev.agg(F.max("ts").alias("m")).collect()[0]["m"]
        ev.coalesce(1).write.mode("overwrite").parquet(tmp)
        data_files = set(os.listdir(tmp))
        sentinel = spark.createDataFrame(
            _sentinel_row(
                ev.schema, event_id=-1, ts=hi, user_id=flush_user,
                event_type="__flush__", value=0.0, props=None,
            ),
            ev.schema,
        ).withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {advance_hours} HOURS"))
        sentinel.coalesce(1).write.mode("append").parquet(tmp)
        # FileStreamSource batches oldest-mtime-first: pin the order from
        # the listdir snapshot taken BETWEEN the two writes (file size is
        # no tiebreak — a tiny events table can compress below the
        # sentinel), so the sentinel can never jump the queue and
        # late-drop the real events
        now = time.time()
        for f in sorted(f for f in os.listdir(tmp) if f.endswith(".parquet")):
            is_sentinel = f not in data_files
            os.utime(os.path.join(tmp, f), (now - (0 if is_sentinel else 100),) * 2)

    stage = staged_layout("flush_stream", sf_dir, ["events"], build)
    schema = spark.read.parquet(stage).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(stage)
    )


def read_events_stream_time_split(spark: SparkSession, sf_dir: str, n_splits: int = 3) -> DataFrame:
    """Events stream delivered as ``n_splits`` microbatches in EVENT-TIME
    order — the monotone log-segment replay shape the stateful pattern
    operators' ordering contract names (streaming/patterns.py): the staged
    layout splits the events table into ``n_splits`` files on ts-quantile
    cut values (splits are by VALUE, so same-µs rows always land in one
    batch) with ascending mtimes, and ``maxFilesPerTrigger=1`` replays
    them oldest-first. NULL-ts rows ride in the first file so the stream
    still carries the full table (stateful intakes filter them). A
    production deployment gets this ordering from time-partitioned file
    drops or per-key-ordered Kafka; this staging makes the contract
    reproducible over the flat testdata parquet."""
    import os
    import time

    from kf_task_fhir_etl_spark.catalog import load_table, staged_layout

    if n_splits < 2:
        raise ValueError(f"read_events_stream_time_split: n_splits must be >= 2, got {n_splits}")

    def build(tmp: str) -> None:
        ev = load_table(spark, sf_dir, "events")  # ts normalized to timestamp
        us = ev.select(F.unix_micros("ts").cast("double").alias("u"))
        cuts = sorted(
            set(us.approxQuantile("u", [i / n_splits for i in range(1, n_splits)], 0.001))
        )
        if not cuts:  # empty / all-NULL-ts table: one batch is all there is
            ev.coalesce(1).write.mode("append").parquet(tmp)
            return
        buckets = []
        lo = None
        for c in cuts:
            cond = F.unix_micros("ts") <= F.lit(int(c))
            if lo is not None:
                cond = cond & (F.unix_micros("ts") > F.lit(int(lo)))
            else:
                cond = cond | F.col("ts").isNull()
            buckets.append(ev.filter(cond))
            lo = c
        buckets.append(ev.filter(F.unix_micros("ts") > F.lit(int(lo))))
        seen: set[str] = set()
        now = time.time()
        for i, b in enumerate(buckets):
            b.coalesce(1).write.mode("append").parquet(tmp)
            new = {f for f in os.listdir(tmp) if f.endswith(".parquet")} - seen
            # one data file per bucket (coalesce(1)); distinct ascending
            # mtimes pin FileStreamSource's oldest-first batch order
            for f in new:
                os.utime(os.path.join(tmp, f), (now - 1000 + i * 100,) * 2)
            seen |= new

    stage = staged_layout(f"tsplit{n_splits}_stream", sf_dir, ["events"], build)
    schema = spark.read.parquet(stage).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(stage)
    )


def read_events_stream_late_shifted(
    spark: SparkSession,
    sf_dir: str,
    n_splits: int = 3,
    late_mod: int = 5,
    flush_type: str = "error",
    flush_user: int = -1,
):
    """Events stream with REAL cross-batch event-time disorder, plus the
    watermark bound that covers it — the out-of-order counterpart of
    ``read_events_stream_time_split`` (r10, VERDICT r09 Next #4). The
    staged layout splits events into ``n_splits`` ts-quantile slices, then
    DELAYS every event with ``event_id % late_mod == 0`` by one batch:
    batch i+1 carries slice i+1's regular rows plus slice i's latecomers,
    so per-user event time is NOT monotone across microbatches and the
    in-order contract of ``streaming_pattern_spans`` (``watermark=None``)
    is genuinely violated (its watermark mode must absorb it). The
    disorder is bounded by one slice's time width, so the returned
    watermark delay — max slice width plus an hour of slack — guarantees
    no latecomer is ever watermark-dropped.

    TWO trailing sentinel microbatches close the finite replay: each holds
    one ``flush_type`` event for ``flush_user`` far past max(ts). The
    first advances the watermark computation past every buffered event;
    the second triggers one more microbatch so the event-time TIMEOUTS
    actually fire with that advanced watermark (the timeout check runs per
    batch, and the watermark a batch sees was computed at the previous
    batch's end — one sentinel alone would advance it with nothing left to
    deliver the wake-up). Sentinels are REAL typed events (not a filtered
    pseudo-type): a pushed-down type filter must never drop them before
    the watermark node collects their event time. Callers filter
    ``user_id = flush_user`` out of results.

    Returns ``(stream, watermark_delay_str)``."""
    import os
    import time

    from kf_task_fhir_etl_spark.catalog import load_table, staged_layout

    if n_splits < 2:
        raise ValueError(f"read_events_stream_late_shifted: n_splits must be >= 2, got {n_splits}")

    # The derived watermark delay is a pure function of the events table
    # (bounds + quantile cuts), so it is persisted INTO the staged layout as
    # a `_watermark` meta file (underscore prefix: FileStreamSource and the
    # staging fingerprint both skip it) — without this every call re-ran the
    # bounds aggregate + approxQuantile over the full events table even when
    # the staging already existed (~2 driver jobs per call; the bench pays
    # the source 3× per gate per run — guide §1/§2: don't recompute what a
    # fingerprint-keyed artifact already holds). Regenerated test data gets
    # a new fingerprint → a fresh staging → a fresh meta file.
    def _derive_cuts_and_delay():
        ev = load_table(spark, sf_dir, "events")
        us = F.unix_micros(F.col("ts"))
        bounds = ev.agg(
            F.min(us).alias("lo"), F.max(us).alias("hi"), F.max("ts").alias("hi_ts")
        ).collect()[0]
        lo, hi, hi_ts = bounds["lo"], bounds["hi"], bounds["hi_ts"]
        if lo is None:
            raise ValueError("read_events_stream_late_shifted: events table has no timestamps")
        cuts = sorted(
            set(
                ev.select(us.cast("double").alias("u")).approxQuantile(
                    "u", [i / n_splits for i in range(1, n_splits)], 0.001
                )
            )
        )
        edges = [lo] + [int(c) for c in cuts] + [hi]
        width = max(b - a for a, b in zip(edges, edges[1:])) if len(edges) > 1 else hi - lo
        delay_us = int(width) + 3_600_000_000
        return ev, cuts, hi_ts, delay_us

    # resolved lazily: populated by build() on a cache miss, read back from
    # the meta file on a hit (the staged bytes already encode everything else)
    derived: dict[str, object] = {}

    def build(tmp: str) -> None:
        ev, cuts, hi_ts, delay_us = _derive_cuts_and_delay()
        derived["delay_us"] = delay_us
        us = F.unix_micros(F.col("ts"))
        # slice index by quantile cut, then shift latecomers one batch out
        idx = F.lit(0)
        for c in cuts:
            idx = idx + F.when(us > F.lit(int(c)), 1).otherwise(0)
        # ts-NULL rows must not match `late`: their idx is the literal 0
        # (every cut comparison is NULL -> otherwise(0)), so without the
        # isNotNull guard they would satisfy __batch == 1 AND the file-0
        # isNull clause and be staged TWICE (r10 review)
        late = (
            F.col("ts").isNotNull()
            & (F.col("event_id") % late_mod == 0)
            & (idx < F.lit(len(cuts)))
        )
        shifted = (idx + F.when(late, 1).otherwise(0)).alias("__batch")
        staged_df = ev.select("*", shifted)
        files = []
        for i in range(len(cuts) + 1):
            cond = F.col("__batch") == i
            if i == 0:
                cond = cond | F.col("ts").isNull()
            files.append(staged_df.filter(cond).drop("__batch"))
        for n, sent_us in enumerate((delay_us + 7_200_000_000, 2 * (delay_us + 7_200_000_000))):
            files.append(
                spark.createDataFrame(
                    _sentinel_row(
                        ev.schema, event_id=-1 - n, ts=hi_ts, user_id=flush_user,
                        event_type=flush_type, value=0.0, props=None,
                    ),
                    ev.schema,
                ).withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {sent_us // 1_000_000} SECONDS"))
            )
        seen: set[str] = set()
        now = time.time()
        for i, b in enumerate(files):
            b.coalesce(1).write.mode("append").parquet(tmp)
            new = {f for f in os.listdir(tmp) if f.endswith(".parquet")} - seen
            # distinct ascending mtimes pin FileStreamSource's batch order
            for f in new:
                os.utime(os.path.join(tmp, f), (now - 1000 + i * 100,) * 2)
            seen |= new
        with open(os.path.join(tmp, "_watermark"), "w") as fh:
            fh.write(str(delay_us))

    # the tag carries EVERY layout-shaping parameter: two consumers with
    # different sentinel types (q153's deny-typed, q158's step-typed) must
    # never share a staging (caught live: the funnel gate inherited the
    # spans gate's 'error' sentinels, which its type filter dropped before
    # they could advance the watermark)
    # v2: the NULL-ts late-route fix (r10 review) changes the staged BYTES
    # for the same input data, so the tag carries a layout version — a
    # cached v1 staging must not satisfy v2 code
    # v3 (r12): the staging gained the `_watermark` meta file — a cached
    # v2 staging without it must not satisfy v3 code
    stage = staged_layout(
        f"lateshift{n_splits}m{late_mod}{flush_type}v3_stream", sf_dir, ["events"], build
    )
    if "delay_us" in derived:
        delay_us = int(derived["delay_us"])  # build ran this call
    else:
        with open(os.path.join(stage, "_watermark")) as fh:
            delay_us = int(fh.read().strip())
    watermark = f"{delay_us // 1_000_000} seconds"
    schema = spark.read.parquet(stage).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(stage)
    )
    return stream, watermark
