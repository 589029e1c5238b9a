"""Builder golden-behavior tests (SURVEY.md §5.2): run extract→transform→build
over the FIXTURES.md tables and check the emitted FHIR JSON semantics."""

from __future__ import annotations

import json

import pytest

from kf_task_fhir_etl_spark.etl import by_target, run_pipeline
from kf_task_fhir_etl_spark.plans.transform import applicable_targets, transform_study

from .fixtures import endpoint_tables


def _per_target(tables):
    return by_target(run_pipeline(tables), applicable_targets(tables))


@pytest.fixture(scope="module")
def resources(spark):
    out = _per_target(endpoint_tables(spark))
    return {name: [json.loads(r["resource_json"]) for r in df.collect()] for name, df in out.items()}


def test_all_sixteen_targets_emit(resources):
    assert len(resources) == 16
    for name, docs in resources.items():
        assert docs, f"{name} emitted no resources"


def test_patient_race_ethnicity_gender(resources):
    patients = {p["identifier"][0]["value"]: p for p in resources["Patient"]}
    assert len(patients) == 3
    p1 = patients["PT_00000001"]
    assert p1["gender"] == "female"
    assert p1["meta"]["tag"] == [{"code": "SD_00000001"}]
    race_ext = [e for e in p1["extension"] if e["url"].endswith("us-core-race")][0]
    assert race_ext["extension"][0] == {"url": "text", "valueString": "White"}
    assert race_ext["extension"][1]["valueCoding"]["code"] == "2106-3"
    # unmapped race → text sub-extension only
    p2 = patients["PT_00000002"]
    race_ext2 = [e for e in p2["extension"] if e["url"].endswith("us-core-race")][0]
    assert len(race_ext2["extension"]) == 1
    # secondary identifier only when external_id present
    p3 = patients["PT_00000003"]
    assert len(p3["identifier"]) == 1
    assert len(patients["PT_00000001"]["identifier"]) == 2


def test_proband_status_domain_assert(resources):
    # PT_3 has null is_proband → filtered (proband_status.py:40)
    obs = resources["ProbandStatus"]
    assert len(obs) == 2
    texts = {o["valueCodeableConcept"]["text"] for o in obs}
    assert texts == {"True", "False"}
    codes = {o["valueCodeableConcept"]["coding"][0]["code"] for o in obs}
    assert codes == {"Y", "N"}
    # bool("False") is True bug reproduced: identifier value always true
    assert all(o["identifier"][0]["value"] is True for o in obs)


def test_disease_sentinels_and_relative_date(resources):
    diseases = {d["identifier"][0]["value"]: d for d in resources["Disease"]}
    d1 = diseases["DG_00000001"]
    systems = [c["system"] for c in d1["code"]["coding"]]
    assert "http://purl.obolibrary.org/obo/mondo.owl" in systems
    assert "http://purl.obolibrary.org/obo/ncit.owl" in systems
    # icd was a sentinel → not coded
    assert "https://www.who.int/classifications/classification-of-diseases" not in systems
    ext = d1["_recordedDate"]["extension"][0]
    assert ext["url"] == "http://hl7.org/fhir/StructureDefinition/relative-date"
    offset = [e for e in ext["extension"] if e["url"] == "offset"][0]
    assert offset["valueDuration"]["value"] == 365
    # non-numeric age → _recordedDate absent (swallowed cast)
    d2 = diseases["DG_00000002"]
    assert "_recordedDate" not in d2
    assert "coding" not in d2["code"]


def test_family_group_membership(resources):
    groups = resources["Family"]
    assert len(groups) == 1
    g = groups[0]
    assert g["quantity"] == 2
    assert g["type"] == "person"
    assert len(g["member"]) == 2
    assert all(m["entity"]["reference"].startswith("Patient/") for m in g["member"])


def test_family_relationship_recode(resources):
    frs = {f["identifier"][0]["value"]: f for f in resources["FamilyRelationship"]}
    mother = frs["FR_00000001"]
    assert mother["valueCodeableConcept"]["coding"][0]["code"] == "MTH"
    assert mother["subject"]["reference"].startswith("Patient/")
    assert mother["focus"][0]["reference"].startswith("Patient/")
    # unmapped relation → text only
    other = frs["FR_00000002"]
    assert other["valueCodeableConcept"]["text"] == "Some Unmapped Relation"
    assert "coding" not in other["valueCodeableConcept"]


def test_research_study_dbgap_and_composite_category(resources):
    rs = resources["ResearchStudy"][0]
    secondary = [i for i in rs["identifier"] if i["use"] == "secondary"][0]
    assert secondary["value"] == "phs001138.v1"
    category = rs["category"][0]
    assert category["text"] == "CANCERANDBIRTHDEFECT"
    codes = [c["code"] for c in category["coding"]]
    assert codes == ["86049000", "276720006"]  # CANCER then BIRTHDEFECT
    assert rs["principalInvestigator"]["reference"].startswith("PractitionerRole/")
    assert [k["coding"][0]["code"] for k in rs["keyword"]] == ["Kids First", "KF-S1"]


def test_specimen_maps_and_swallowed_casts(resources):
    specimens = {s["identifier"][0]["value"]: s for s in resources["Specimen"]}
    s1 = specimens["BS_00000001"]
    coding_systems = {c["system"] for c in s1["type"]["coding"]}
    assert "http://purl.obolibrary.org/obo/ncit.owl" in coding_systems
    assert "http://purl.obolibrary.org/obo/obi.owl" in coding_systems  # DNA analyte
    assert s1["collection"]["quantity"]["value"] == 5.5
    assert s1["collection"]["method"]["coding"][0]["code"] == "396540005"
    assert {sec["code"] for sec in s1["meta"]["security"]} == {"GRU", "phs001138.c1"}
    s2 = specimens["BS_00000002"]
    assert "quantity" not in s2["collection"]  # bad-volume swallowed
    # EFO prefix dispatch
    efo = [c for c in s2["collection"]["bodySite"]["coding"] if c["code"] == "EFO:0000001"][0]
    assert efo["system"] == "http://www.ebi.ac.uk/efo/efo.owl"
    # XYZ: prefix fails NCIT gate → absent; uberon EFO present only
    assert len(s2["collection"]["bodySite"]["coding"]) == 1


def test_histopathology_sentinel_and_refs(resources):
    hists = {h["identifier"][0]["value"]: h for h in resources["Histopathology"]}
    h1 = hists["BD_00000001"]
    assert h1["subject"]["reference"].startswith("Patient/")
    assert h1["focus"][0]["reference"].startswith("Condition/")
    assert h1["specimen"]["reference"].startswith("Specimen/")
    assert h1["valueCodeableConcept"]["text"] == "Primary"
    # "Unavailable" is a histopathology missing-data sentinel → value absent
    h2 = hists["BD_00000002"]
    assert "valueCodeableConcept" not in h2


def test_drs_document_reference_grouping_and_gates(resources):
    docs = {d["identifier"][0]["value"]: d for d in resources["DRSDocumentReference"]}
    assert len(docs) == 2
    d1 = docs["GF_00000001"]
    # single-participant file → subject emitted
    assert d1["subject"]["reference"].startswith("Patient/")
    assert d1["type"]["coding"][0]["code"] == "Aligned-Reads"
    assert d1["category"][0]["text"] == "WGS"
    assert d1["category"][1]["coding"][0]["code"] == "Genomics"
    assert d1["context"]["related"][0]["reference"].startswith("Specimen/")
    # securityLabel from wide-table fallback: controlled → coding + text true
    assert d1["securityLabel"][0]["coding"][0]["code"] == "controlled"
    d2 = docs["GF_00000002"]
    # shared by two participants → no subject (multi-subject skip)
    assert "subject" not in d2
    # tbi + SNV → imputed " Index" → excluded from context.related
    assert d2["type"]["text"] == "Simple Nucleotide Variations Index"
    assert "context" not in d2


def test_vital_status_codings(resources):
    obs = {o["identifier"][0]["value"]: o for o in resources["VitalStatus"]}
    alive = obs["OC_00000001"]
    assert alive["valueCodeableConcept"]["coding"][0]["code"] == "438949009"
    offset = [
        e for e in alive["_effectiveDateTime"]["extension"][0]["extension"] if e["url"] == "offset"
    ][0]
    assert offset["valueDuration"]["value"] == 500
    dead = obs["OC_00000002"]
    assert dead["valueCodeableConcept"]["coding"][0]["code"] == "419099009"
    assert "_effectiveDateTime" not in dead


def test_deterministic_ids_consistent_across_builders(spark):
    """A referencing builder computes the same ID the referenced builder
    assigns — the engine's replacement for get_target_id_from_record."""
    out = _per_target(endpoint_tables(spark))
    patient_ids = {r["target_id"] for r in out["Patient"].collect()}
    subj_refs = {
        json.loads(r["resource_json"])["subject"]["reference"].split("/")[1]
        for r in out["ProbandStatus"].collect()
    }
    assert subj_refs <= patient_ids


# ---------------------------------------------------------------------------
# Multi-study concurrency (driver-side scheduling)
# ---------------------------------------------------------------------------


def test_run_pipeline_two_studies_concurrently_equals_sequential(spark):
    """O(studies) orchestration parallelism: two studies' pipelines built on
    concurrent threads (plan construction + the eager wide-table
    checkpoints overlap) must produce exactly the resources of sequential
    runs — py4j and Catalyst analysis are thread-safe for independent
    lineages, which is what lets a driver program scale with study count."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    def study(seed: int):
        # two disjoint "studies": the fixture study as-is, and a variant
        # with re-keyed external ids so outputs must differ
        tables = endpoint_tables(spark)
        if seed:
            tables = {
                name: df.withColumn(
                    "external_id", F.concat(F.lit(f"s{seed}-"), F.col("external_id"))
                )
                if "external_id" in df.columns
                else df
                for name, df in tables.items()
            }
        return tables

    def snapshot(out):
        return sorted(tuple(r) for r in out.select("target", "resource_json").collect())

    seq = [snapshot(run_pipeline(study(i))) for i in (0, 1)]
    with ThreadPoolExecutor(max_workers=2) as ex:
        conc = list(ex.map(lambda i: snapshot(run_pipeline(study(i))), (0, 1)))
    assert conc[0] == seq[0]
    assert conc[1] == seq[1]
    # the re-keyed study genuinely differs (the test isn't vacuous)
    assert seq[0] != seq[1]


def test_fused_build_equals_per_builder_build(spark):
    """The fused one-scan build (etl.build_resources) must emit EXACTLY the
    rows of each BUILDERS module's own ``build()`` over the same padded,
    checkpointed transform tables — same targets, same target_ids,
    byte-identical resource_json — since both consume the same builder
    ``plan()`` expressions. This is the guard that lets q85 and the CLI run
    the fused path while q74-q84 and the narrow path gate the per-builder
    bytes."""
    from kf_task_fhir_etl_spark.builders import BUILDERS
    from kf_task_fhir_etl_spark.etl import build_resources
    from kf_task_fhir_etl_spark.plans.mappings import pad_concepts

    transformed = transform_study(endpoint_tables(spark))
    union = build_resources(transformed)  # checkpoints transformed.tables
    fused = sorted(tuple(r) for r in union.collect())
    padded = {key: pad_concepts(df) for key, df in transformed.tables.items()}
    per_builder = sorted(
        (target, r["resource_type"], r["target_id"], r["resource_json"])
        for target in transformed.targets
        for r in BUILDERS[target][0].build(padded[BUILDERS[target][1]]).collect()
    )
    assert fused == per_builder
    assert {row[0] for row in fused} == set(transformed.targets)


def test_fused_plan_builders_ignore_their_dataframe_arg(spark):
    """The fused build (etl.build_resources) constructs the 13 fused
    ``plan()`` expressions CONCURRENTLY with the wide-table
    materialization, against the pre-checkpoint frames — which is only sound because every fused builder's ``plan()`` is a pure
    ``F.col`` expression tree that never consults its DataFrame argument.
    Pin that contract in its crispest form: ``plan(None)`` must succeed and
    the produced expressions must resolve against a wide table the builder
    never saw."""
    from pyspark.sql import functions as F

    from kf_task_fhir_etl_spark.builders import BUILDERS
    from kf_task_fhir_etl_spark.plans.mappings import pad_concepts

    transformed = transform_study(endpoint_tables(spark))
    wide = pad_concepts(transformed.tables["default"])
    n_fused = 0
    for target, (module, table_key) in BUILDERS.items():
        if table_key != "default" or not hasattr(module, "plan"):
            continue
        tid, resource, keep = module.plan(None)  # must not touch the arg
        cols = [tid.alias("tid"), F.to_json(resource).alias("r")]
        if keep is not None:  # keep=None means keep-all (fused_element contract)
            cols.append(keep.alias("k"))
        out = wide.select(*cols)
        assert out.limit(1).count() >= 0  # resolvable against an unseen table
        n_fused += 1
    assert n_fused == 13
