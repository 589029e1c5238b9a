"""Synthetic Dataservice endpoint tables per /root/repo/FIXTURES.md.

Every table carries uuid/created_at/modified_at (always dropped, reference
``etl/ingest.py:121``); values are strings with literal "True"/"False"
booleans, including missing-data sentinels, non-numeric ages, phs/non-phs
accessions, and a genomic file shared by two participants (multi-subject
skip, ``drs_document_reference.py:304-313``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

AUDIT = {"uuid": "u", "created_at": "2020-01-01", "modified_at": "2020-01-02"}


def _df(spark: SparkSession, rows: list[dict]) -> DataFrame:
    rows = [dict(r, **AUDIT) for r in rows]
    cols = sorted({k for r in rows for k in r})
    schema = ", ".join(f"`{c}` string" for c in cols)
    data = [tuple(r.get(c) for c in cols) for r in rows]
    return spark.createDataFrame(data, schema=schema)


def endpoint_tables(spark: SparkSession) -> dict[str, DataFrame]:
    studies = _df(
        spark,
        [
            {
                "kf_id": "SD_00000001",
                "investigator_id": "IG_00000001",
                "attribution": "attr",
                "data_access_authority": "dbGaP",
                "domain": "CANCERANDBIRTHDEFECT",
                "external_id": "phs001138.v1.p2",
                "name": "Study One",
                "program": "Kids First",
                "release_status": "Released",
                "short_code": "KF-S1",
                "short_name": "S1",
                "version": "v1",
                "visible": "True",
            }
        ],
    )
    investigators = _df(
        spark,
        [
            {
                "kf_id": "IG_00000001",
                "external_id": "inv-1",
                "institution": "Children's Hospital",
                "name": "Jane Doe",
                "visible": "True",
            }
        ],
    )
    participants = _df(
        spark,
        [
            {
                "kf_id": "PT_00000001",
                "study_id": "SD_00000001",
                "family_id": "FM_00000001",
                "affected_status": "True",
                "diagnosis_category": "Cancer",
                "external_id": "p1",
                "ethnicity": "Hispanic or Latino",
                "gender": "Female",
                "is_proband": "True",
                "race": "White",
                "species": "Homo Sapiens",
                "visible": "True",
            },
            {
                "kf_id": "PT_00000002",
                "study_id": "SD_00000001",
                "family_id": "FM_00000001",
                "affected_status": "False",
                "diagnosis_category": "Cancer",
                "external_id": "p2",
                "ethnicity": "Not Reported",  # unmapped ethnicity → text only
                "gender": "Male",
                "is_proband": "False",
                "race": "Some Free Text Race",  # unmapped race → text only
                "species": "Homo Sapiens",
                "visible": "True",
            },
            {
                "kf_id": "PT_00000003",
                "study_id": "SD_00000001",
                "family_id": None,  # no family
                "affected_status": None,
                "diagnosis_category": None,
                "external_id": None,  # no secondary identifier
                "ethnicity": None,
                "gender": "Other",
                "is_proband": None,  # fails the proband domain assert → skipped
                "race": "Asian",
                "species": "Homo Sapiens",
                "visible": "True",
            },
        ],
    )
    families = _df(
        spark,
        [{"kf_id": "FM_00000001", "external_id": "fam-1", "visible": "True"}],
    )
    family_relationships = _df(
        spark,
        [
            {
                "kf_id": "FR_00000001",
                "participant1_id": "PT_00000001",
                "participant2_id": "PT_00000002",
                "participant1_to_participant2_relation": "Mother",
                "external_id": "fr-1",
                "visible": "True",
            },
            {
                "kf_id": "FR_00000002",
                "participant1_id": "PT_00000002",
                "participant2_id": "PT_00000001",
                "participant1_to_participant2_relation": "Some Unmapped Relation",
                "external_id": None,
                "visible": "True",
            },
        ],
    )
    diagnoses = _df(
        spark,
        [
            {
                "kf_id": "DG_00000001",
                "participant_id": "PT_00000001",
                "external_id": "dg-1",
                "source_text_diagnosis": "Neuroblastoma",
                "diagnosis_category": "Cancer",
                "source_text_tumor_location": "Abdomen",
                "spatial_descriptor": None,
                "age_at_event_days": "365",
                "mondo_id_diagnosis": "MONDO:0005072",
                "icd_id_diagnosis": "Not Reported",  # sentinel → no coding
                "ncit_id_diagnosis": "NCIT:C3270",
                "uberon_id_tumor_location": "UBERON:0000916",
                "visible": "True",
            },
            {
                "kf_id": "DG_00000002",
                "participant_id": "PT_00000002",
                "external_id": None,
                "source_text_diagnosis": "Cleft palate",
                "diagnosis_category": "Structural Birth Defect",
                "source_text_tumor_location": None,
                "spatial_descriptor": None,
                "age_at_event_days": "not-a-number",  # swallowed cast → no _recordedDate
                "mondo_id_diagnosis": None,
                "icd_id_diagnosis": None,
                "ncit_id_diagnosis": None,
                "uberon_id_tumor_location": None,
                "visible": "True",
            },
        ],
    )
    phenotypes = _df(
        spark,
        [
            {
                "kf_id": "PH_00000001",
                "participant_id": "PT_00000001",
                "external_id": "ph-1",
                "source_text_phenotype": "Macrocephaly",
                "hpo_id_phenotype": "HP:0000256",
                "snomed_id_phenotype": "19410003",
                "observed": "Positive",
                "age_at_event_days": "400",
                "visible": "True",
            },
            {
                "kf_id": "PH_00000002",
                "participant_id": "PT_00000002",
                "external_id": None,
                "source_text_phenotype": "Seizures",
                "hpo_id_phenotype": "Unknown",  # sentinel
                "snomed_id_phenotype": None,
                "observed": "Negative",
                "age_at_event_days": None,
                "visible": "True",
            },
        ],
    )
    outcomes = _df(
        spark,
        [
            {
                "kf_id": "OC_00000001",
                "participant_id": "PT_00000001",
                "vital_status": "Alive",
                "age_at_event_days": "500",
                "disease_related": "False",
                "external_id": "oc-1",
                "visible": "True",
            },
            {
                "kf_id": "OC_00000002",
                "participant_id": "PT_00000002",
                "vital_status": "Deceased",
                "age_at_event_days": None,
                "disease_related": "True",
                "external_id": None,
                "visible": "True",
            },
        ],
    )
    biospecimen_diagnoses = _df(
        spark,
        [
            {
                "kf_id": "BD_00000001",
                "biospecimen_id": "BS_00000001",
                "diagnosis_id": "DG_00000001",
                "external_id": "bd-1",
                "visible": "True",
            },
            {
                "kf_id": "BD_00000002",
                "biospecimen_id": "BS_00000002",
                "diagnosis_id": "DG_00000002",
                "external_id": "bd-2",
                "visible": "True",
            },
        ],
    )
    biospecimens = _df(
        spark,
        [
            {
                "kf_id": "BS_00000001",
                "participant_id": "PT_00000001",
                "sequencing_center_id": "SC_DGDDMBVV",
                "analyte_type": "DNA",
                "composition": "Blood",
                "consent_type": "GRU",
                "dbgap_consent_code": "phs001138.c1",
                "external_aliquot_id": "al-1",
                "external_sample_id": "sa-1",
                "method_of_smaple_procurement": "Blood Draw",
                "ncit_id_anatomical_site": "NCIT:C12468",
                "ncit_id_tissue_type": "NCIT:C14165",
                "source_text_anatomical_site": "Arm",
                "source_text_tissue_type": "Normal",
                "source_text_tumor_descriptor": "Primary",
                "spatial_descriptor": None,
                "uberon_id_anatomical_site": "UBERON:0002101",
                "age_at_event_days": "450",
                "volume_ul": "5.5",
                "visible": "True",
            },
            {
                "kf_id": "BS_00000002",
                "participant_id": "PT_00000002",
                "sequencing_center_id": "SC_UNKNOWN1",
                "analyte_type": "RNA",
                "composition": "Some Unmapped Composition",
                "consent_type": None,
                "dbgap_consent_code": None,
                "external_aliquot_id": None,
                "external_sample_id": None,
                "method_of_smaple_procurement": "Not Reported",
                "ncit_id_anatomical_site": "XYZ:123",  # fails NCIT: prefix gate
                "ncit_id_tissue_type": None,
                "source_text_anatomical_site": None,
                "source_text_tissue_type": "Tumor",
                "source_text_tumor_descriptor": "Unavailable",  # histopathology sentinel
                "spatial_descriptor": None,
                "uberon_id_anatomical_site": "EFO:0000001",  # EFO prefix dispatch
                "age_at_event_days": None,
                "volume_ul": "bad-volume",  # swallowed cast → no quantity
                "visible": "True",
            },
        ],
    )
    biospecimen_genomic_files = _df(
        spark,
        [
            {
                "kf_id": "BG_00000001",
                "biospecimen_id": "BS_00000001",
                "genomic_file_id": "GF_00000001",
                "external_id": "bg-1",
                "visible": "True",
            },
            {
                "kf_id": "BG_00000002",
                "biospecimen_id": "BS_00000002",
                "genomic_file_id": "GF_00000002",  # shared file: 2nd biospecimen
                "external_id": "bg-2",
                "visible": "True",
            },
            {
                "kf_id": "BG_00000003",
                "biospecimen_id": "BS_00000001",
                "genomic_file_id": "GF_00000002",  # shared file: 1st biospecimen
                "external_id": "bg-3",
                "visible": "True",
            },
        ],
    )
    genomic_files = _df(
        spark,
        [
            {
                "kf_id": "GF_00000001",
                "latest_did": "11111111-1111-1111-1111-111111111111",
                "external_id": "gf-1",
                "is_harmonized": "True",
                "reference_genome": "GRCh38",
                "availability": "Immediate Download",
                "data_type": "Aligned Reads",
                "file_format": "cram",
                "controlled_access": "True",
                "visible": "True",
            },
            {
                "kf_id": "GF_00000002",
                "latest_did": "22222222-2222-2222-2222-222222222222",
                "external_id": "gf-2",
                "is_harmonized": "False",
                "reference_genome": "GRCh38",
                "availability": "Immediate Download",
                "data_type": "Simple Nucleotide Variations",
                "file_format": "tbi",  # → imputed " Index" → excluded from related
                "controlled_access": "False",
                "visible": "True",
            },
        ],
    )
    sequencing_experiment_genomic_files = _df(
        spark,
        [
            {
                "kf_id": "SG_00000001",
                "sequencing_experiment_id": "SE_00000001",
                "genomic_file_id": "GF_00000001",
                "external_id": "sg-1",
                "visible": "True",
            }
        ],
    )
    sequencing_experiments = _df(
        spark,
        [
            {
                "kf_id": "SE_00000001",
                "experiment_strategy": "WGS",
                "external_id": "se-1",
                "visible": "True",
            }
        ],
    )

    return {
        "studies": studies,
        "investigators": investigators,
        "participants": participants,
        "families": families,
        "family-relationships": family_relationships,
        "diagnoses": diagnoses,
        "phenotypes": phenotypes,
        "outcomes": outcomes,
        "biospecimen-diagnoses": biospecimen_diagnoses,
        "biospecimens": biospecimens,
        "biospecimen-genomic-files": biospecimen_genomic_files,
        "genomic-files": genomic_files,
        "sequencing-experiment-genomic-files": sequencing_experiment_genomic_files,
        "sequencing-experiments": sequencing_experiments,
    }


def two_study_endpoint_tables(spark: SparkSession) -> dict[str, DataFrame]:
    """``endpoint_tables`` plus a second study, ``SD_00000002``, with one
    participant (``PT_99999999``) and one diagnosis of its own."""
    tables = dict(endpoint_tables(spark))
    extra_study = spark.createDataFrame(
        [("SD_00000002", None, "other", "False")],
        "kf_id string, investigator_id string, external_id string, visible string",
    )
    tables["studies"] = tables["studies"].unionByName(extra_study, allowMissingColumns=True)
    extra_participant = spark.createDataFrame(
        [("PT_99999999", "SD_00000002", None)],
        "kf_id string, study_id string, family_id string",
    )
    tables["participants"] = tables["participants"].unionByName(extra_participant, allowMissingColumns=True)
    extra_diag = spark.createDataFrame(
        [("DG_99999999", "PT_99999999")], "kf_id string, participant_id string"
    )
    tables["diagnoses"] = tables["diagnoses"].unionByName(extra_diag, allowMissingColumns=True)
    return tables
