"""S8/S9 — sinks: FHIR REST upsert (parity mode) and keyed idempotent
parquet MERGE (engine mode).

S8 reproduces ``submit`` (reference ``kf_api_fhir_service.py:37-94``): PUT
``/{type}/{id}`` when an id is present, falling back to POST when the server
reports the id unknown; executed with ``foreachPartition`` so each executor
holds one retrying HTTP session and streams its partition (the Spark analog
of the reference's async submit loop, ``etl/ingest.py:514``).

S9's dependency order is data in ``plans.transform.ALL_TARGETS``; ``load_all``
walks it.

Why S9's ``keyed_parquet_upsert`` is not routed through
``streaming/versioned_store.apply_batch``, the other keyed upsert: the two
serve different contracts. ``keyed_parquet_upsert`` publishes PLAIN
``<study>/<target>/`` parquet tables by local rename — the CLI's on-disk
layout, which any parquet reader (pyarrow in the benchmark's
``etl_studies`` check) reads with no protocol. ``apply_batch`` commits
``.v{id}`` versions that readers resolve through marker files on the Hadoop
FileSystem API, and its batch-id replay guard serves ``foreachBatch``'s
at-least-once delivery; a plain reader of that layout would see every
retained version.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

Submit = Callable[[str, str, str, dict], str]
"""submit(host, api_path, resource_id, body) -> server-assigned id."""


def default_submit(headers: dict | None = None, auth: tuple[str, str] | None = None) -> Submit:
    """PUT-else-POST on a ``rest.retrying_session`` (bounded retries on
    connection errors and, for the PUT, on 429/5xx)."""
    from kf_task_fhir_etl_spark.sources.rest import retrying_session

    session = retrying_session()

    def submit(host: str, api_path: str, resource_id: str, body: dict) -> str:
        resp = None
        if resource_id:
            url = "/".join(v.strip("/") for v in (host, api_path, resource_id))
            resp = session.put(url, json=body, headers=headers, auth=auth)
            if resp.status_code not in {200, 201} and "no resource with this ID exists" in resp.text:
                resp = None
        if resp is None:
            url = "/".join(v.strip("/") for v in (host, api_path))
            resp = session.post(url, json=body, headers=headers, auth=auth)
        if resp.status_code in {200, 201}:
            return resp.json()["id"]
        raise RuntimeError(f"Sent to /{api_path}: {resp.status_code} {resp.text[:500]}")

    return submit


def fhir_upsert_sink(resources: DataFrame, host: str, submit_factory: Callable[[], Submit]) -> None:
    """Write a builder-output DataFrame (resource_type, target_id,
    resource_json) to a FHIR server. ``submit_factory`` is called once per
    partition on the executor (sessions are not picklable)."""

    def write_partition(rows) -> None:
        submit = submit_factory()
        for row in rows:
            body = json.loads(row["resource_json"])
            submit(host, row["resource_type"], row["target_id"], body)

    resources.foreachPartition(write_partition)


def _recover(live: str) -> None:
    """Finish or undo an interrupted publish of ``live``: a ``live.old``
    without ``live`` (stopped between the two renames) is moved back; one
    beside ``live`` (stopped before the delete) is dropped."""
    old = live + ".old"
    if os.path.exists(old):
        if os.path.exists(live):
            shutil.rmtree(old)
        else:
            os.rename(old, live)


def _publish(new: str, live: str) -> None:
    """Swap a fully written table in by rename: live aside, new in, old
    deleted."""
    old = live + ".old"
    if os.path.exists(live):
        os.rename(live, old)
        os.rename(new, live)
        shutil.rmtree(old)
    else:
        os.rename(new, live)


def keyed_parquet_upsert(spark: SparkSession, df: DataFrame, path: str, key: str | list[str]) -> None:
    """Idempotent keyed MERGE into a parquet table (engine mode; Delta's
    MERGE INTO without the Delta jar): existing rows not matched by the new
    keys survive, matched keys are replaced, new keys append.

    ``key`` is a column name, or ``[part, name]``: ``part`` then splits the
    table into plain subdirectories ``path/<value>/`` holding the rows
    without that column, and keys match within their own partition only
    (the CLI's ``["target", "target_id"]`` keeps one table per target).
    Partition values must be plain directory names (no ``.``, ``/``, ``=``).

    One scan of the current rows (explicit schema; the partition value is
    the directory name), one write of the merged rows to ``path.staging``,
    then each written partition (or the table, for a plain key) is
    published by rename: live aside, new in, old deleted. A partition with
    no rows in the merge is left as it is. If the publish fails, every
    table stays readable at its old or new version: the renames are undone
    at once, and a process killed between them is repaired on the next
    call, which also discards any leftover staging directory."""
    if isinstance(key, str):
        part, keys = None, [key]
    else:
        part, _ = key
        keys = list(key)
    path = path.rstrip("/")
    staging = path + ".staging"
    current = None
    if part:
        os.makedirs(path, exist_ok=True)
        for name in os.listdir(path):
            if name.endswith(".old"):
                _recover(os.path.join(path, name[: -len(".old")]))
        dirs = sorted(
            os.path.join(path, d) for d in os.listdir(path)
            if "." not in d and os.path.isdir(os.path.join(path, d))
        )
        if dirs:
            current = (
                spark.read.schema(df.drop(part).schema)
                .parquet(*dirs)
                .withColumn(part, F.element_at(F.split(F.col("_metadata.file_path"), "/"), -2))
            )
    else:
        _recover(path)
        if os.path.exists(path):
            current = spark.read.schema(df.schema).parquet(path)
    shutil.rmtree(staging, ignore_errors=True)
    merged = df if current is None else (
        current.join(df.select(*keys), on=keys, how="left_anti").unionByName(df)
    )

    writer = merged.write.mode("overwrite")
    if part:
        writer.partitionBy(part).parquet(staging)
        prefix = part + "="
        moves = [
            (os.path.join(staging, n), os.path.join(path, n[len(prefix):]))
            for n in sorted(os.listdir(staging)) if n.startswith(prefix)
        ]
    else:
        writer.parquet(staging)
        moves = [(staging, path)]
    try:
        for new, live in moves:
            _publish(new, live)
    except BaseException:
        for _, live in moves:
            _recover(live)
        raise
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def load_all(
    resources_by_target: dict[str, DataFrame],
    ordered_targets: list[str],
    write: Callable[[str, DataFrame], None],
) -> list[str]:
    """S9 — dependency-ordered load driver: walk the fixed target order
    (reference ``kf_api_fhir_service.py:115-132``; subset rule
    ``etl/ingest.py:487-489``) and hand each resource DataFrame to ``write``.
    Returns the targets written, in order."""
    written = []
    for target in ordered_targets:
        df = resources_by_target.get(target)
        if df is not None:
            write(target, df)
            written.append(target)
    return written
