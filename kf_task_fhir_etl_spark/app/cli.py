"""CLI entry point — E1 parity with the reference's click surface
(reference ``app/cli.py:11-29``: ``kidsfirst fhir-etl SD_X SD_Y`` →
``Ingest(kf_study_ids).run()``).

The Spark engine's run is the same three stages the reference drives —
snapshot → transform/build → dependency-ordered load — with the extract and
load ends swapped for engine-mode equivalents:

- **extract**: instead of a live Dataservice Postgres (no JDBC jar in this
  container; the Derby round-trip in ``tests/test_sources_sinks.py`` proves
  the S1/S2 scan path), the snapshot reads a directory of endpoint parquet
  tables (``studies.parquet``, ``participants.parquet``, …) and applies the
  S3 descendant fan-out (``sources.lineage.descendant_snapshot``) per study.
- **build**: ``run_pipeline`` returns the study's fused
  ``(target, resource_type, target_id, resource_json)`` union.
- **load**: with ``--out``, one keyed idempotent parquet MERGE per study:
  the union is merged on ``(target, target_id)`` into
  ``<out>/<study>/<target>/`` in one scan and one write
  (``sources.sinks.keyed_parquet_upsert``); with ``--fhir-url``, the union
  is checkpointed once and its per-target views (``etl.by_target``) go
  through the S8 FHIR REST upsert in dependency order (reference
  ``kf_api_fhir_service.py:37-94``).

Each study's checkpoints are released once it is loaded, so a run over many
studies holds at most one study's tables in executor memory.
"""

from __future__ import annotations

import os

import click

from kf_task_fhir_etl_spark import __version__

CONTEXT_SETTINGS = {"help_option_names": ["-h", "--help"]}


@click.group(context_settings=CONTEXT_SETTINGS)
@click.version_option(version=__version__)
def cli() -> None:
    pass


@click.command()
@click.argument("kf_study_ids", required=True, nargs=-1)
@click.option(
    "--source",
    "source_dir",
    required=True,
    type=click.Path(exists=True, file_okay=False),
    help="Directory of endpoint parquet tables (the Dataservice snapshot in engine form).",
)
@click.option(
    "--out",
    "out_dir",
    default=None,
    type=click.Path(file_okay=False),
    help="Output directory: one keyed parquet table per <study>/<target>. Required unless --fhir-url.",
)
@click.option(
    "--fhir-url",
    default=None,
    help="Load via FHIR REST upsert (PUT-else-POST) against this base URL instead of parquet.",
)
def fhir_etl(kf_study_ids: tuple[str, ...], source_dir: str, out_dir: str | None, fhir_url: str | None) -> None:
    """Ingest a Kids First study(ies) into the engine sink or a FHIR server.

    \b
    Arguments:
        \b
        KF_STUDY_IDS - a KF study ID(s) concatenated by whitespace, e.g., SD_BHJXBDQK SD_M3DBXD12
    """
    if out_dir is None and fhir_url is None:
        raise click.UsageError("one of --out or --fhir-url is required")

    from kf_task_fhir_etl_spark.etl import by_target, release_checkpoints, run_pipeline
    from kf_task_fhir_etl_spark.plans.transform import applicable_targets
    from kf_task_fhir_etl_spark.session import get_spark
    from kf_task_fhir_etl_spark.sources.lineage import descendant_snapshot
    from kf_task_fhir_etl_spark.sources.sinks import (
        default_submit,
        fhir_upsert_sink,
        keyed_parquet_upsert,
        load_all,
    )

    spark = get_spark("kf-task-fhir-etl")
    tables = {
        fname[: -len(".parquet")]: spark.read.parquet(os.path.join(source_dir, fname))
        for fname in sorted(os.listdir(source_dir))
        if fname.endswith(".parquet")
    }

    for kf_study_id in kf_study_ids:
        click.echo(f"⏳ {kf_study_id}")
        snapshot = descendant_snapshot(tables, kf_study_id, strict=True)
        # the study's checkpoints, released once it is loaded so that a
        # finished study does not hold executor memory while the next builds
        pinned: list = []
        union = run_pipeline(snapshot, checkpoints=pinned)
        try:
            if fhir_url is not None:
                # one materialization: without it each of the per-target views
                # would re-run the fused explode and its serializations
                union = union.localCheckpoint(eager=True)
                pinned.append(union)
                targets = applicable_targets(snapshot)
                written = load_all(
                    by_target(union, targets),
                    targets,
                    lambda target, df: fhir_upsert_sink(df, fhir_url, default_submit),
                )
            else:
                study_out = os.path.join(out_dir, kf_study_id)
                keyed_parquet_upsert(spark, union, study_out, ["target", "target_id"])
                written = applicable_targets(snapshot)
                # partitionBy writes no directory for a target that built no
                # rows; it still gets its readable, empty table
                empty = union.drop("target").limit(0)
                for target in written:
                    if not os.path.isdir(os.path.join(study_out, target)):
                        keyed_parquet_upsert(spark, empty, os.path.join(study_out, target), "target_id")
        finally:
            release_checkpoints(pinned)
        click.echo(f"✅ {kf_study_id}: {', '.join(written)}")


cli.add_command(fhir_etl)
