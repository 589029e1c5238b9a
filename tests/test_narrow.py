"""Narrow-path ≡ wide-path equivalence: every builder must emit identical
resources from its minimal join as from the full wide table (the per-target
views of the fused ``run_pipeline`` union)."""

from __future__ import annotations

import json

import pytest

from kf_task_fhir_etl_spark.etl import by_target, run_pipeline
from kf_task_fhir_etl_spark.plans.narrow import build_resources_narrow
from kf_task_fhir_etl_spark.plans.transform import applicable_targets

from .fixtures import endpoint_tables


def _wide(tables):
    return by_target(run_pipeline(tables), applicable_targets(tables))


@pytest.fixture(scope="module")
def both_paths(spark):
    tables = endpoint_tables(spark)
    wide = _wide(tables)
    narrow = build_resources_narrow(tables)
    return wide, narrow


def test_same_targets(both_paths):
    wide, narrow = both_paths
    assert set(wide) == set(narrow)


def test_resources_identical(both_paths):
    wide, narrow = both_paths
    for target in wide:
        w = {r["target_id"]: json.loads(r["resource_json"]) for r in wide[target].collect()}
        n = {r["target_id"]: json.loads(r["resource_json"]) for r in narrow[target].collect()}
        assert set(w) == set(n), f"{target}: id sets differ"
        for tid in w:
            assert w[tid] == n[tid], f"{target}/{tid}: resource differs\nwide={w[tid]}\nnarrow={n[tid]}"


def test_children_build_without_participants(spark):
    """Disease/Phenotype/VitalStatus carry their own participant FK — absent
    participants must not silently drop them (wide-path parity: the wide
    cascade still emits their rows with null study columns)."""
    tables = endpoint_tables(spark)
    sub = {k: tables[k] for k in ("studies", "diagnoses")}
    wide = _wide(sub)
    narrow = build_resources_narrow(sub)
    assert list(wide) == ["ResearchStudy", "Disease"]
    assert "Disease" in narrow and "Disease" in wide
    w = {r["target_id"]: json.loads(r["resource_json"]) for r in wide["Disease"].collect()}
    n = {r["target_id"]: json.loads(r["resource_json"]) for r in narrow["Disease"].collect()}
    assert w and w == n


def test_drs_builds_without_sequencing_experiments(spark):
    """sequencing-experiment-genomic-files WITHOUT sequencing-experiments:
    SEQUENCING|TARGET_SERVICE_ID exists but STRATEGY doesn't — the A2
    aggregation must widen the key without referencing STRATEGY."""
    tables = endpoint_tables(spark)
    sub = {
        k: tables[k]
        for k in (
            "studies", "participants", "biospecimens", "biospecimen-genomic-files",
            "genomic-files", "sequencing-experiment-genomic-files",
        )
    }
    wide = _wide(sub)
    narrow = build_resources_narrow(sub)
    assert list(wide) == [
        "Patient", "ProbandStatus", "ResearchStudy", "ResearchSubject",
        "SequencingCenter", "Specimen", "DRSDocumentReference",
    ]
    w = {r["target_id"]: json.loads(r["resource_json"]) for r in wide["DRSDocumentReference"].collect()}
    n = {r["target_id"]: json.loads(r["resource_json"]) for r in narrow["DRSDocumentReference"].collect()}
    assert w and w == n


def test_drs_builds_from_genomic_files_alone(spark):
    """Wide path targets DRSDocumentReference whenever genomic-files is
    present; narrow path must too (empty participant/biospecimen lists)."""
    tables = endpoint_tables(spark)
    sub = {"genomic-files": tables["genomic-files"]}
    wide = _wide(sub)
    narrow = build_resources_narrow(sub)
    assert list(wide) == ["DRSDocumentReference"]
    w = {r["target_id"]: json.loads(r["resource_json"]) for r in wide["DRSDocumentReference"].collect()}
    n = {r["target_id"]: json.loads(r["resource_json"]) for r in narrow["DRSDocumentReference"].collect()}
    assert w and w == n
