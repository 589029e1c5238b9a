"""Catalog of named DataFrames over a testdata scale-factor directory.

Mirrors the reference's snapshot abstraction ``{endpoint: DataFrame}``
(reference ``etl/ingest.py:94-122``): one named table per parquet file,
read by ``load_table`` (or ``cached_table``, memoized per application).
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan — Catalyst pushes filters/column pruning into it.

    Timestamp normalization: the testdata parquet stores naive µs timestamps
    (``timestamp[us]``, isAdjustedToUTC=false → Spark TIMESTAMP_NTZ). The
    session timezone is pinned to UTC (session.py), so casting NTZ →
    TimestampType preserves the wall clock and hash-matches DuckDB, which
    reads the same columns as naive TIMESTAMP. Older generations of the
    testdata stored ``events.ts`` as TIMESTAMP(NANOS), surfaced as long ns
    via ``spark.sql.legacy.parquet.nanosAsLong`` — both layouts normalize to
    the same TimestampType column here, and downstream operators never see
    the difference. The cast is a zero-shuffle projection; pushdown/pruning
    still reach the scan.
    """
    df = spark.read.parquet(table_path(sf_dir, name))
    if any(dtype == "timestamp_ntz" for _, dtype in df.dtypes):
        # The NTZ→timestamp cast preserves the wall clock ONLY under a UTC
        # session timezone; a session built outside session.get_spark would
        # silently shift every timestamp relative to the DuckDB oracle. Fail
        # loudly instead (ADVICE r01).
        tz = spark.conf.get("spark.sql.session.timeZone")
        if tz != "UTC":
            raise AssertionError(
                f"load_table requires spark.sql.session.timeZone=UTC (got {tz!r}); "
                "build the session via kf_task_fhir_etl_spark.session.get_spark"
            )
    for col_name, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col_name, F.col(col_name).cast("timestamp"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer division — float division loses precision on 1.7e18 ns
        # epochs (double mantissa is 53 bits) and can round across a µs
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


# {(applicationId, sf_dir, table): (fingerprint, DataFrame)} — cached_table.
# _TABLE_LOCK orders sweep/insert across threads (resident-driver callers
# hit this concurrently — q115's two-study pool; an unsynchronized dict
# iteration racing an insert raises RuntimeError, r06 review). load_table
# itself runs OUTSIDE the lock: a double-load race wastes one probe and the
# second entry wins — both DataFrames are valid plans over the same files.
_TABLE_LOCK = threading.Lock()
_TABLE_MEMO: dict[tuple[str, str, str], tuple[str, DataFrame]] = {}


def cached_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``load_table`` with a per-application, fingerprint-checked memo.

    ``spark.read.parquet`` runs a small schema-inference job (file listing +
    footer read) on EVERY call; plan-construction-heavy pipelines (q85 builds
    ~12 endpoint tables from 5 base tables) pay it repeatedly for the same
    path. The returned DataFrame is an immutable lazy plan, so reusing it is
    behavior-identical — this just skips the re-probe. Keyed by
    applicationId so a restarted JVM never serves dead py4j references;
    entries from dead applications are dropped on access.

    Every call re-checks the table's ``content_fingerprint`` (a stat walk
    of that one table's files — no data read, orders of magnitude cheaper
    than the schema-inference job it replaces): an in-place regeneration of
    the table therefore gets a fresh probe instead of a memoized DataFrame
    whose captured file listing points at deleted part files
    (FileNotFoundException until JVM restart — r06 review). The check is
    INTERNAL so every caller inherits it. Callers that need an
    unconditional fresh probe use ``load_table``."""
    app = spark.sparkContext.applicationId
    key = (app, sf_dir, name)
    if not os.path.exists(table_path(sf_dir, name)):
        # keep load_table's failure mode: a missing table must surface as
        # Spark's AnalysisException [PATH_NOT_FOUND] naming the table path,
        # not a bare FileNotFoundError from the fingerprint stat (r06
        # review — callers migrated from load_table match on the former)
        return load_table(spark, sf_dir, name)
    fp = content_fingerprint(sf_dir, [name])
    with _TABLE_LOCK:
        for k in [k for k in list(_TABLE_MEMO) if k[0] != app]:
            _TABLE_MEMO.pop(k, None)  # dead app
        hit = _TABLE_MEMO.get(key)
    if hit is not None and hit[0] == fp:
        return hit[1]
    df = load_table(spark, sf_dir, name)
    with _TABLE_LOCK:
        _TABLE_MEMO[key] = (fp, df)
    return df


def content_fingerprint(sf_dir: str, tables: list[str]) -> str:
    """Short md5 over (path, size, mtime_ns) of the given tables' parquet
    files — the cheap content tag every /tmp staging cache keys on (no data
    read), so regenerated test data restages instead of silently reusing a
    stale layout. Shared by the bucketed (q95), partitioned (q119), and
    flush-stream (q120) stagers."""
    import hashlib

    parts = []
    for t in tables:
        p = table_path(sf_dir, t)
        if os.path.isdir(p):
            # recurse: a directory table may nest partition subdirectories
            # (part=.../file.parquet), and stat'ing only the top-level
            # entries would miss regenerated nested files whose parent
            # dir's size/mtime did not change (ADVICE r04). Prune marker /
            # temp SUBTREES ('_temporary', '_spark_metadata', hidden dirs)
            # the same way marker files are skipped — their contents are
            # not data and must not churn the fingerprint.
            def _raise(err: OSError) -> None:
                # os.walk's default swallows scandir errors — an unreadable
                # table would fingerprint as EMPTY, turning an I/O flap into
                # a silently wrong cache key; fail loudly like the flat
                # os.listdir path does (r05 review)
                raise err

            files = []
            for root, dirs, names in os.walk(p, onerror=_raise):
                dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
                files.extend(
                    os.path.join(root, f) for f in names if not f.startswith((".", "_"))
                )
            files.sort()
        else:
            files = [p]
        for f in files:
            st = os.stat(f)
            parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:10]


def sanitize_tag(tag: str) -> str:
    """Filesystem-safe tag: every character outside [alnum-_.] becomes
    '_' — the single sanitizer shared by the staging paths and bench.py's
    archive filenames (a raw tag with '/' would escape the target dir)."""
    return "".join(c if c.isalnum() or c in "-_." else "_" for c in tag)


def staged_base(kind: str, sf_dir: str, tables: list[str]) -> str:
    """The fingerprint-keyed staging path convention in ONE place:
    ``{tempdir}/kf_spark_{kind}/{sf basename}_{content fingerprint}``.
    ``staged_layout`` publishes built layouts atomically at this path;
    stateful consumers that manage their own directory lifecycle (q128's
    CDC store+checkpoint) use it directly so every staged artifact shares
    the same temp root, cleanup, and regeneration-invalidation behavior
    (r06 review: a hand-built '/tmp' variant diverged on hosts where
    TMPDIR is elsewhere)."""
    import tempfile

    tag = sanitize_tag(os.path.basename(sf_dir.rstrip("/")))
    return os.path.join(
        tempfile.gettempdir(),
        f"kf_spark_{kind}",
        f"{tag}_{content_fingerprint(sf_dir, tables)}",
    )


def staged_layout(kind: str, sf_dir: str, tables: list[str], build) -> str:
    """Build-once /tmp staging with ATOMIC publish: the target path is
    ``/tmp/kf_spark_{kind}/{sf basename}_{content fingerprint}``; if absent,
    ``build(tmp_path)`` materializes the layout into a unique sibling temp
    dir which is then ``os.rename``d into place — a crash or a concurrent
    racer can never leave a half-built directory that passes the existence
    probe (the poisoned-cache failure a bare isdir guard allows: the
    fingerprint keys on the SOURCE, so a torn stage would otherwise be
    reused forever). The rename loser cleans up its temp dir and uses the
    winner's."""
    import shutil
    import uuid

    stage = staged_base(kind, sf_dir, tables)
    if os.path.isdir(stage):
        return stage
    os.makedirs(os.path.dirname(stage), exist_ok=True)
    tmp = f"{stage}.tmp.{os.getpid()}.{uuid.uuid4().hex[:6]}"
    build(tmp)
    try:
        os.rename(tmp, stage)
    except OSError:
        # EITHER another process published first (use theirs) OR the rename
        # itself failed (cross-device /tmp, permissions, path length) — only
        # the first is benign. Discard our build, then verify the winner's
        # directory actually exists; if not, this was a real rename failure
        # and swallowing it would surface later as a confusing missing-path
        # read, so re-raise the original error (ADVICE r04).
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(stage):
            raise
    return stage
