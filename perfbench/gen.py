"""Seeded input generators for the benchmark.

Everything here is plain Python + pyarrow: no Spark, so generation cost is
the same whatever the engine does, and the expected counts are computed from
the generator's own parameters, never from the program under test.

- ``study``: a Dataservice snapshot in engine form (the 14 endpoint parquet
  tables the ``fhir-etl`` CLI reads) holding one study, with multi-child
  fan-out per participant.
- ``edit_study``: the same snapshot after a seeded edit to some
  participants, for the re-ingest phase.
- ``registry_tables``: ``documents``, ``events`` and ``lineitem`` with the
  schemas and value distributions of the registry testdata, for the graph,
  streaming and dedup queries.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

AUDIT = {"uuid": "u", "created_at": "2020-01-01", "modified_at": "2020-01-02"}

# Fan-out per participant (children of each kind) and per biospecimen.
DIAGNOSES_PER_PT = 2
PHENOTYPES_PER_PT = 2
BIOSPECIMENS_PER_PT = 2
FAMILY_SIZE = 3  # trios: proband + mother + father
SEQ_CENTERS = ("SC_DGDDMBVV", "SC_X1N69WJM", "SC_K52V7463", "SC_WWEQ9HFY", "SC_FN7NH453")
EDITED_PREFIX = "edited-"


STUDY = "SD_BENCH000"


def _table(rows: list[dict]) -> pa.Table:
    rows = [dict(r, **AUDIT) for r in rows]
    cols = sorted({k for r in rows for k in r})
    return pa.table({c: pa.array([r.get(c) for r in rows], pa.string()) for c in cols})


def study(seed: int, participants: int) -> dict[str, list[dict]]:
    """Endpoint rows for one study of ``participants`` participants."""
    rng = random.Random(seed)
    t: dict[str, list[dict]] = {k: [] for k in ENDPOINTS}
    sd, ig = STUDY, "IG_BENCH000"
    t["studies"].append({
        "kf_id": sd, "investigator_id": ig, "attribution": "attr",
        "data_access_authority": "dbGaP",
        "domain": rng.choice(["CANCER", "BIRTHDEFECT", "CANCERANDBIRTHDEFECT"]),
        "external_id": f"phs{rng.randrange(1000, 9999):06d}.v1.p1", "name": "Study 0",
        "program": "Kids First", "release_status": "Released", "short_code": "KF-0",
        "short_name": "S0", "version": "v1", "visible": "True",
    })
    t["investigators"].append({
        "kf_id": ig, "external_id": "inv-0", "institution": "Institute 0",
        "name": "Investigator 0", "visible": "True",
    })
    for i in range(participants):
        k = f"{i:08d}"
        pt = f"PT_{k}"
        fam = f"FM_{i // FAMILY_SIZE:08d}"
        role = i % FAMILY_SIZE
        if role == 0:
            t["families"].append({"kf_id": fam, "external_id": f"fam-{k}", "visible": "True"})
        else:
            t["family-relationships"].append({
                "kf_id": f"FR_{k}", "participant1_id": pt,
                "participant2_id": f"PT_{i - role:08d}",
                "participant1_to_participant2_relation": "Mother" if role == 1 else "Father",
                "external_id": f"fr-{k}", "visible": "True",
            })
        t["participants"].append({
            "kf_id": pt, "study_id": sd, "family_id": fam,
            "affected_status": rng.choice(["True", "False"]),
            "diagnosis_category": "Cancer", "external_id": f"p-{k}",
            "ethnicity": rng.choice(["Hispanic or Latino", "Not Hispanic or Latino"]),
            "gender": ("Female", "Female", "Male")[role] if role else rng.choice(["Male", "Female"]),
            "is_proband": "True" if role == 0 else "False",
            "race": rng.choice(["White", "Asian", "Black or African American"]),
            "species": "Homo Sapiens", "visible": "True",
        })
        diagnoses = []
        for d in range(DIAGNOSES_PER_PT):
            dg = f"DG_{k}{d}"
            diagnoses.append(dg)
            t["diagnoses"].append({
                "kf_id": dg, "participant_id": pt, "external_id": f"dg-{k}{d}",
                "source_text_diagnosis": rng.choice(["Neuroblastoma", "Medulloblastoma", "Ependymoma"]),
                "diagnosis_category": "Cancer", "source_text_tumor_location": "Brain",
                "spatial_descriptor": None, "age_at_event_days": str(rng.randrange(1, 6000)),
                "mondo_id_diagnosis": f"MONDO:{rng.randrange(5000000, 5999999):07d}",
                "icd_id_diagnosis": "C71.9", "ncit_id_diagnosis": f"NCIT:C{rng.randrange(1000, 9999)}",
                "uberon_id_tumor_location": "UBERON:0000955", "visible": "True",
            })
        for h in range(PHENOTYPES_PER_PT):
            t["phenotypes"].append({
                "kf_id": f"PH_{k}{h}", "participant_id": pt, "external_id": f"ph-{k}{h}",
                "source_text_phenotype": rng.choice(["Macrocephaly", "Seizures", "Hypotonia"]),
                "hpo_id_phenotype": f"HP:{rng.randrange(1, 9999999):07d}",
                "snomed_id_phenotype": str(rng.randrange(10000000, 99999999)),
                "observed": rng.choice(["Positive", "Negative"]),
                "age_at_event_days": str(rng.randrange(1, 6000)), "visible": "True",
            })
        t["outcomes"].append({
            "kf_id": f"OC_{k}", "participant_id": pt,
            "vital_status": rng.choice(["Alive", "Deceased"]),
            "age_at_event_days": str(rng.randrange(1, 6000)),
            "disease_related": rng.choice(["True", "False"]),
            "external_id": f"oc-{k}", "visible": "True",
        })
        for b in range(BIOSPECIMENS_PER_PT):
            bs, gf = f"BS_{k}{b}", f"GF_{k}{b}"
            t["biospecimens"].append({
                "kf_id": bs, "participant_id": pt,
                "sequencing_center_id": rng.choice(SEQ_CENTERS),
                "analyte_type": rng.choice(["DNA", "RNA"]),
                "composition": rng.choice(["Blood", "Saliva", "Bone Marrow"]),
                "consent_type": "GRU", "dbgap_consent_code": "phs001138.c1",
                "external_aliquot_id": f"al-{k}{b}", "external_sample_id": f"sa-{k}{b}",
                "method_of_smaple_procurement": rng.choice(["Blood Draw", "Biopsy"]),
                "ncit_id_anatomical_site": "NCIT:C12468", "ncit_id_tissue_type": "NCIT:C14165",
                "source_text_anatomical_site": "Arm",
                "source_text_tissue_type": rng.choice(["Normal", "Tumor"]),
                "source_text_tumor_descriptor": "Primary", "spatial_descriptor": None,
                "uberon_id_anatomical_site": "UBERON:0002101",
                "age_at_event_days": str(rng.randrange(1, 6000)),
                "volume_ul": f"{rng.uniform(1, 50):.1f}", "visible": "True",
            })
            t["biospecimen-diagnoses"].append({
                "kf_id": f"BD_{k}{b}", "biospecimen_id": bs, "diagnosis_id": diagnoses[b % DIAGNOSES_PER_PT],
                "external_id": f"bd-{k}{b}", "visible": "True",
            })
            t["biospecimen-genomic-files"].append({
                "kf_id": f"BG_{k}{b}", "biospecimen_id": bs, "genomic_file_id": gf,
                "external_id": f"bg-{k}{b}", "visible": "True",
            })
            t["genomic-files"].append({
                "kf_id": gf, "latest_did": f"{rng.getrandbits(128):032x}",
                "external_id": f"gf-{k}{b}", "is_harmonized": "True", "reference_genome": "GRCh38",
                "availability": "Immediate Download",
                "data_type": rng.choice(["Aligned Reads", "Simple Nucleotide Variations"]),
                "file_format": rng.choice(["cram", "vcf"]),
                "controlled_access": rng.choice(["True", "False"]), "visible": "True",
            })
            t["sequencing-experiment-genomic-files"].append({
                "kf_id": f"SG_{k}{b}", "sequencing_experiment_id": f"SE_{k}{b}",
                "genomic_file_id": gf, "external_id": f"sg-{k}{b}", "visible": "True",
            })
            t["sequencing-experiments"].append({
                "kf_id": f"SE_{k}{b}", "experiment_strategy": rng.choice(["WGS", "WXS", "RNA-Seq"]),
                "external_id": f"se-{k}{b}", "visible": "True",
            })
    return t


ENDPOINTS = (
    "studies", "investigators", "participants", "families", "family-relationships",
    "diagnoses", "phenotypes", "outcomes", "biospecimen-diagnoses", "biospecimens",
    "biospecimen-genomic-files", "genomic-files", "sequencing-experiment-genomic-files",
    "sequencing-experiments",
)


def edit_study(tables: dict[str, list[dict]], seed: int, share: float = 0.1) -> tuple[dict[str, list[dict]], set[str]]:
    """A copy of ``tables`` in which a seeded ``share`` of the participants
    carry a new ``external_id`` (the Patient identifier). Returns the edited
    tables and the edited external ids."""
    rng = random.Random(seed ^ 0x5EED)
    edited: set[str] = set()
    participants = []
    for row in tables["participants"]:
        if rng.random() < share:
            row = dict(row, external_id=EDITED_PREFIX + row["external_id"])
            edited.add(row["external_id"])
        participants.append(row)
    return dict(tables, participants=participants), edited


def study_counts(tables: dict[str, list[dict]], participants: int) -> dict[str, int]:
    """Resources per target, from the generator's parameters and the
    sequencing centres it drew. Every generated value passes the builders'
    keep rules, so each entity yields exactly one resource."""
    centers = {r["sequencing_center_id"] for r in tables["biospecimens"]}
    families = -(-participants // FAMILY_SIZE)
    biospecimens = participants * BIOSPECIMENS_PER_PT
    return {
        "Practitioner": 1, "Organization": 1, "PractitionerRole": 1,
        "Patient": participants, "ProbandStatus": participants,
        "FamilyRelationship": participants - families, "Family": families,
        "ResearchStudy": 1, "ResearchSubject": participants,
        "Disease": participants * DIAGNOSES_PER_PT,
        "Phenotype": participants * PHENOTYPES_PER_PT,
        "VitalStatus": participants,
        "SequencingCenter": len(centers),
        "Specimen": biospecimens, "Histopathology": biospecimens,
        "DRSDocumentReference": biospecimens,
    }


def write_tables(tables: dict[str, list[dict]], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, rows in tables.items():
        pq.write_table(_table(rows), os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# registry tables (schemas and distributions of the testdata in TESTDATA.md)
# ---------------------------------------------------------------------------

WORDS = (
    "a the big small fast slow spark stream batch table column row key value data "
    "query join group sort filter hash scan merge order line part customer window "
    "vector agg"
).split()


def documents(rng: random.Random, n: int, dup_share: float = 0.05) -> pa.Table:
    """Random texts over a 31-word vocabulary; ``dup_share`` of them are
    near-copies (one word replaced) of an earlier document."""
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < dup_share:
            words = texts[rng.randrange(i)].split()
            words[rng.randrange(len(words))] = rng.choice(WORDS)
        else:
            words = [rng.choice(WORDS) for _ in range(rng.randrange(10, 100))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [rng.choice(["en", "en", "en", "zh", "es", "fr", "de"]) for _ in range(n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def events(rng: random.Random, n: int, users: int) -> pa.Table:
    """``n`` events over 30 days, sorted by time, uniform over 5 types."""
    start = dt.datetime(2024, 1, 1)
    span_us = 30 * 86400 * 10**6
    offsets = sorted(rng.randrange(span_us) for _ in range(n))
    return pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array([start + dt.timedelta(microseconds=o) for o in offsets], pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(users) for _ in range(n)], pa.int64()),
        "event_type": [rng.choice(["view", "click", "signup", "purchase", "error"]) for _ in range(n)],
        "value": [round(rng.expovariate(1 / 50), 2) for _ in range(n)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n)],
    })


def lineitem(rng: random.Random, orders: int, parts: int) -> pa.Table:
    """TPC-H lineitem shape: 1-7 lines per order."""
    cols: dict[str, list] = {c: [] for c in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")}
    start = dt.datetime(1992, 1, 1)
    for o in range(1, orders + 1):
        for ln in range(1, rng.randrange(2, 9)):
            qty = float(rng.randrange(1, 51))
            cols["l_orderkey"].append(o)
            cols["l_partkey"].append(rng.randrange(parts))
            cols["l_suppkey"].append(rng.randrange(max(parts // 20, 1)))
            cols["l_linenumber"].append(ln)
            cols["l_quantity"].append(qty)
            cols["l_extendedprice"].append(round(qty * rng.uniform(900, 2000), 2))
            cols["l_discount"].append(round(rng.randrange(11) / 100, 2))
            cols["l_tax"].append(round(rng.randrange(9) / 100, 2))
            cols["l_returnflag"].append(rng.choice("ANR"))
            cols["l_linestatus"].append(rng.choice("OF"))
            cols["l_shipdate"].append(start + dt.timedelta(days=rng.randrange(2500)))
    types = {"l_orderkey": pa.int64(), "l_partkey": pa.int64(), "l_suppkey": pa.int64(),
             "l_linenumber": pa.int32(), "l_shipdate": pa.timestamp("us")}
    return pa.table({c: pa.array(v, types.get(c)) for c, v in cols.items()})


def registry_tables(seed: int, out_dir: str, docs: int, n_events: int, users: int, orders: int) -> None:
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in (
        ("documents", documents(rng, docs)),
        ("events", events(rng, n_events, users)),
        ("lineitem", lineitem(rng, orders, parts=orders // 7 + 1)),
    ):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
