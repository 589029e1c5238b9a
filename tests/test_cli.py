"""E1 — CLI smoke: ``fhir-etl SD_00000001 --source DIR --out DIR`` runs the
snapshot → fused pipeline → keyed-merge load path end-to-end (reference
``app/cli.py:11-29``), and its sink matches the pipeline's per-target views;
``--fhir-url`` loads the same resources into a loopback FHIR stub.
Invoked in-process via click's CliRunner (a subprocess would pay a second
20 s SparkSession; the surface under test — argument parsing, snapshot
wiring, sink calls — is identical)."""

from __future__ import annotations

import json
import os

from click.testing import CliRunner
from pyspark.sql import functions as F

from tests.fixtures import endpoint_tables, two_study_endpoint_tables

STUDY = "SD_00000001"


def _write_source(tables, path) -> str:
    path.mkdir()
    for endpoint, df in tables.items():
        df.write.parquet(str(path / f"{endpoint}.parquet"))
    return str(path)


def _run_cli(source: str, out, studies: tuple[str, ...] = (STUDY,)) -> str:
    from kf_task_fhir_etl_spark.app.cli import cli

    result = CliRunner().invoke(cli, ["fhir-etl", *studies, "--source", source, "--out", str(out)])
    assert result.exit_code == 0, result.output
    return result.output


def _assert_sink_equals_pipeline(spark, source: str, out) -> dict:
    """Every applicable target's ``<study>/<target>`` table equals its
    ``by_target`` view of ``run_pipeline(snapshot)`` row for row, with
    byte-identical ``resource_json``. Returns the rows."""
    from kf_task_fhir_etl_spark.etl import by_target, run_pipeline
    from kf_task_fhir_etl_spark.plans.transform import applicable_targets
    from kf_task_fhir_etl_spark.sources.lineage import descendant_snapshot

    tables = {
        f[: -len(".parquet")]: spark.read.parquet(os.path.join(source, f)) for f in os.listdir(source)
    }
    snapshot = descendant_snapshot(tables, STUDY, strict=True)
    expected = by_target(run_pipeline(snapshot), applicable_targets(snapshot))
    study_out = out / STUDY
    assert sorted(os.listdir(study_out)) == sorted(expected)

    def rows(df):
        return sorted(tuple(r) for r in df.select("resource_type", "target_id", "resource_json").collect())

    got = {}
    for target, df in expected.items():
        sink = spark.read.parquet(str(study_out / target))
        assert set(sink.columns) == {"resource_type", "target_id", "resource_json"}
        got[target] = rows(sink)
        assert got[target] == rows(df), target
    return got


def test_cli_fhir_etl_end_to_end(spark, tmp_path):
    """Load, then reload after an ``external_id`` edit: both times every
    target table equals the pipeline's rows for it (the edited resources
    replace their keys; nothing duplicates)."""
    from kf_task_fhir_etl_spark.plans.transform import ALL_TARGETS

    tables = endpoint_tables(spark)
    source = _write_source(tables, tmp_path / "source")
    out = tmp_path / "out"
    output = _run_cli(source, out)

    written = sorted(os.listdir(out / STUDY))
    assert "Patient" in written and "ResearchStudy" in written
    # targets are echoed in the fixed dependency order
    echoed = output.split(f"{STUDY}: ")[-1].strip().split(", ")
    assert echoed == [t for t in ALL_TARGETS if t in echoed]
    loaded = _assert_sink_equals_pipeline(spark, source, out)
    assert loaded["Patient"]
    assert all(json.loads(r[2])["resourceType"] == "Patient" for r in loaded["Patient"])

    edited = dict(tables)
    edited["participants"] = tables["participants"].withColumn(
        "external_id",
        F.when(F.col("kf_id") == "PT_00000001", F.lit("p1-edited")).otherwise(F.col("external_id")),
    )
    edited_source = _write_source(edited, tmp_path / "source_edited")
    _run_cli(edited_source, out)
    reloaded = _assert_sink_equals_pipeline(spark, edited_source, out)
    assert len(reloaded["Patient"]) == len(loaded["Patient"])
    assert sum("p1-edited" in r[2] for r in reloaded["Patient"]) == 1


def test_cli_zero_row_target_keeps_empty_table(spark, tmp_path):
    """An applicable target that builds no rows (an empty ``outcomes``
    table makes VitalStatus applicable) still gets a readable, empty
    ``<study>/VitalStatus`` table and is echoed, on load and on reload."""
    tables = dict(endpoint_tables(spark))
    tables["outcomes"] = tables["outcomes"].limit(0)
    source = _write_source(tables, tmp_path / "source")
    out = tmp_path / "out"
    output = _run_cli(source, out)
    got = _assert_sink_equals_pipeline(spark, source, out)
    assert got["VitalStatus"] == [] and got["Patient"]
    assert "VitalStatus" in output.split(f"{STUDY}: ")[-1].strip().split(", ")

    output = _run_cli(source, out)
    assert "VitalStatus" in output.split(f"{STUDY}: ")[-1].strip().split(", ")
    assert spark.read.parquet(str(out / STUDY / "VitalStatus")).count() == 0


def test_cli_fhir_url_loads_every_target_in_dependency_order(spark, tmp_path):
    """``--fhir-url`` PUTs every resource of every applicable target into a
    loopback FHIR stub, target after target in ``ALL_TARGETS`` order, and
    each body is the resource the ``--out`` sink holds for the same study."""
    from kf_task_fhir_etl_spark.app.cli import cli
    from kf_task_fhir_etl_spark.plans.transform import ALL_TARGETS, applicable_targets

    from tests.fhir_stub import FhirStub

    tables = endpoint_tables(spark)
    source = _write_source(tables, tmp_path / "source")
    out = tmp_path / "out"
    _run_cli(source, out)
    targets = applicable_targets(tables)
    # (resource_type, target_id) → (target, resource) from the --out sink
    rows = [
        (target, r)
        for target in targets
        for r in spark.read.parquet(str(out / STUDY / target)).collect()
    ]
    expected = {
        (r["resource_type"], r["target_id"]): (target, json.loads(r["resource_json"])) for target, r in rows
    }
    assert len(expected) == len(rows)
    assert {t for t, _ in expected.values()} == set(targets)

    with FhirStub() as stub:
        result = CliRunner().invoke(cli, ["fhir-etl", STUDY, "--source", source, "--fhir-url", stub.url])
    assert result.exit_code == 0, result.output
    assert result.output.split(f"{STUDY}: ")[-1].strip().split(", ") == targets

    assert all(method == "PUT" for method, _, _ in stub.requests)
    sent = {tuple(path.strip("/").split("/")): body for _, path, body in stub.requests}
    assert len(sent) == len(stub.requests)  # one PUT per resource
    assert sent == {key: resource for key, (_, resource) in expected.items()}
    arrived = [expected[tuple(path.strip("/").split("/"))][0] for _, path, _ in stub.requests]
    order = [ALL_TARGETS.index(t) for t in arrived]
    assert order == sorted(order)
    assert list(dict.fromkeys(arrived)) == targets


def test_cli_releases_each_study_checkpoints(spark, tmp_path):
    """A two-study run on either sink leaves none of its checkpoints (each
    study's wide and family-relationship tables, and the ``--fhir-url``
    union) cached in executor memory once it returns."""
    from kf_task_fhir_etl_spark.app.cli import cli

    from tests.fhir_stub import FhirStub

    studies = (STUDY, "SD_00000002")
    source = _write_source(two_study_endpoint_tables(spark), tmp_path / "source")
    jsc = spark.sparkContext._jsc.sc()
    # a set difference, not a count: the ContextCleaner may retire storage
    # of earlier tests meanwhile
    ids_before = {info.id() for info in jsc.getRDDStorageInfo()}
    output = _run_cli(source, tmp_path / "out", studies)
    assert all(f"✅ {study}: " in output for study in studies)
    assert {info.id() for info in jsc.getRDDStorageInfo()} <= ids_before

    with FhirStub() as stub:
        result = CliRunner().invoke(cli, ["fhir-etl", *studies, "--source", source, "--fhir-url", stub.url])
    assert result.exit_code == 0, result.output
    assert stub.requests
    assert {info.id() for info in jsc.getRDDStorageInfo()} <= ids_before


def test_cli_unknown_study_fails(spark, tmp_path):
    from kf_task_fhir_etl_spark.app.cli import cli

    source = _write_source(endpoint_tables(spark), tmp_path / "source")
    result = CliRunner().invoke(
        cli, ["fhir-etl", "SD_MISSING", "--source", source, "--out", str(tmp_path / "o")]
    )
    assert result.exit_code != 0
    assert "SD_MISSING not found" in str(result.exception)

