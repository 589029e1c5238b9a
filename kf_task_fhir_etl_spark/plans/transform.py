"""The transform stage: conditional full-outer equi-join cascade J1-J12.

Re-expresses reference ``etl/ingest.py:129-493`` (``Ingest.transform``) as a
declarative Spark plan:

- each endpoint table is renamed into the flat concept namespace (P2);
- present tables join into one wide table via a fixed left-deep cascade of
  **full outer** equi-joins — every join is conditional on table presence,
  and J8 (biospecimens) switches to a composite key when
  biospecimen-diagnoses joined before it (reference ``etl/ingest.py:381-395``);
- ``family-relationships`` stays its OWN output table, normalized separately
  (reference ``etl/ingest.py:256-258``);
- the entity-builder targets follow from table presence alone
  (``applicable_targets``) and are emitted in the fixed dependency order of
  ``all_targets`` (reference ``target_api_plugins/kf_api_fhir_service.py:115-132``,
  subset-preserving filter at ``etl/ingest.py:487-489``).

Scale notes (100 TB): full-outer joins cannot broadcast (both sides emit
unmatched rows), so the cascade is a sort-merge chain — but the fan-out joins
(diagnoses × phenotypes × outcomes per participant) all share the
PARTICIPANT|TARGET_SERVICE_ID key, so Spark reuses one hash-partitioning
across J4-J6/J8 instead of re-shuffling, and AQE handles skewed participants
and coalesces the tiny dim-side exchanges. The wide table is the
*compatibility/oracle* surface; builders can also run from the narrow
per-entity tables to avoid materializing the multiplicative fan-out
(SURVEY.md §4).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kf_task_fhir_etl_spark.functions.normalize import normalize
from kf_task_fhir_etl_spark.plans.mappings import rename_to_concepts

DEFAULT_KEY = "default"

# Fixed global dependency order of entity builders
# (reference ``kf_api_fhir_service.py:115-132``).
ALL_TARGETS = (
    "Practitioner",
    "Organization",
    "PractitionerRole",
    "Patient",
    "ProbandStatus",
    "FamilyRelationship",
    "Family",
    "ResearchStudy",
    "ResearchSubject",
    "Disease",
    "Phenotype",
    "VitalStatus",
    "SequencingCenter",
    "Specimen",
    "Histopathology",
    "DRSDocumentReference",
)

# The endpoint tables whose presence makes each target applicable: the
# transform adds a target when it joins its table (reference
# ``etl/ingest.py:137-476``); Histopathology needs the composite J8 key.
TARGET_ENDPOINTS = {
    "Practitioner": ("investigators",),
    "Organization": ("investigators",),
    "PractitionerRole": ("investigators",),
    "Patient": ("participants",),
    "ProbandStatus": ("participants",),
    "FamilyRelationship": ("family-relationships",),
    "Family": ("families",),
    "ResearchStudy": ("studies",),
    "ResearchSubject": ("participants",),
    "Disease": ("diagnoses",),
    "Phenotype": ("phenotypes",),
    "VitalStatus": ("outcomes",),
    "SequencingCenter": ("biospecimens",),
    "Specimen": ("biospecimens",),
    "Histopathology": ("biospecimens", "biospecimen-diagnoses"),
    "DRSDocumentReference": ("genomic-files",),
}


def applicable_targets(endpoint_tables: dict[str, DataFrame | None]) -> list[str]:
    """The targets a study's tables can build, in dependency order. Decided
    on table presence, not content: a present but empty table still makes
    its targets applicable (they build zero rows)."""
    return [
        t for t in ALL_TARGETS
        if all(endpoint_tables.get(e) is not None for e in TARGET_ENDPOINTS[t])
    ]


@dataclass
class TransformResult:
    """Mirror of the reference's per-study transform output:
    ``{"default": wide_df, "family_relationship": fr_df}`` + ordered targets."""

    tables: dict[str, DataFrame] = field(default_factory=dict)
    targets: list[str] = field(default_factory=list)


def _outer(left: DataFrame | None, right: DataFrame, on: list[str]) -> DataFrame:
    """Full outer equi-join on shared concept key(s) — ``outer_merge``
    equivalent (reference ``etl/ingest.py:178-183`` et al.). Spark's
    ``on=[names]`` coalesces the key columns like pandas' ``on=`` does.

    Two partial-presence generalizations the reference cannot express (pandas
    ``merge`` raises KeyError; the combos are FK-unreachable in a real
    Dataservice snapshot but in-contract for ``transform_study``):
    - ``left is None`` → the cascade simply starts at ``right``;
    - a key column absent from ``left`` is treated as all-null (SQL null keys
      never match), so the join degenerates to a schema-padded union and rows
      from both sides survive."""
    if left is None:
        return right
    missing = [k for k in on if k not in left.columns]
    if missing:
        right_types = dict(right.dtypes)
        left = left.select(
            "*", *[F.lit(None).cast(right_types.get(k, "string")).alias(k) for k in missing]
        )
    return left.join(right, on=on, how="full")


def transform_study(endpoint_tables: dict[str, DataFrame]) -> TransformResult:
    """Run the presence-conditional join cascade over whatever endpoint
    tables exist, exactly as reference ``etl/ingest.py:137-493``.

    ``endpoint_tables`` keys use the reference endpoint names
    (``studies``, ``investigators``, ``participants``, ``families``,
    ``family-relationships``, ``diagnoses``, ``phenotypes``, ``outcomes``,
    ``biospecimen-diagnoses``, ``biospecimens``, ``biospecimen-genomic-files``,
    ``genomic-files``, ``sequencing-experiment-genomic-files``,
    ``sequencing-experiments``).
    """
    result = TransformResult()

    def get(endpoint: str) -> DataFrame | None:
        df = endpoint_tables.get(endpoint)
        return rename_to_concepts(df, endpoint) if df is not None else None

    merged: DataFrame | None = None

    # J1: studies ⟗ investigators (1-row dims; full outer cannot broadcast —
    # AQE keeps these early exchanges tiny)
    studies = get("studies")

    investigators = get("investigators")
    if investigators is not None:
        merged = _outer(studies, investigators, ["INVESTIGATOR|TARGET_SERVICE_ID"])

    # J2: ⟗ participants on STUDY|TARGET_SERVICE_ID
    participants = get("participants")
    if participants is not None:
        merged = _outer(
            merged if merged is not None else studies, participants, ["STUDY|TARGET_SERVICE_ID"]
        )

    # J3: ⟗ families on FAMILY|TARGET_SERVICE_ID
    families = get("families")
    if families is not None:
        merged = _outer(merged, families, ["FAMILY|TARGET_SERVICE_ID"])

    # family-relationships: separate output table, NOT merged
    # (reference etl/ingest.py:256-258)
    family_relationships = get("family-relationships")
    if family_relationships is not None:
        result.tables["family_relationship"] = normalize(family_relationships)

    # J4: ⟗ diagnoses on PARTICIPANT|TARGET_SERVICE_ID (1-to-many fan-out)
    diagnoses = get("diagnoses")
    if diagnoses is not None:
        merged = _outer(merged, diagnoses, ["PARTICIPANT|TARGET_SERVICE_ID"])

    # J5: ⟗ phenotypes — fan-out × fan-out cross product per participant,
    # reproduced faithfully (reference etl/ingest.py:305-310)
    phenotypes = get("phenotypes")
    if phenotypes is not None:
        merged = _outer(merged, phenotypes, ["PARTICIPANT|TARGET_SERVICE_ID"])

    # J6: ⟗ outcomes
    outcomes = get("outcomes")
    if outcomes is not None:
        merged = _outer(merged, outcomes, ["PARTICIPANT|TARGET_SERVICE_ID"])

    # J7: ⟗ biospecimen-diagnoses on DIAGNOSIS|TARGET_SERVICE_ID
    biospecimen_diagnoses = get("biospecimen-diagnoses")
    if biospecimen_diagnoses is not None:
        merged = _outer(merged, biospecimen_diagnoses, ["DIAGNOSIS|TARGET_SERVICE_ID"])

    # J8: ⟗ biospecimens — composite-key switch (reference etl/ingest.py:381-395)
    biospecimens = get("biospecimens")
    if biospecimens is not None:
        on = ["PARTICIPANT|TARGET_SERVICE_ID"]
        if biospecimen_diagnoses is not None:
            on.append("BIOSPECIMEN|TARGET_SERVICE_ID")
        merged = _outer(merged, biospecimens, on)

    # J9: ⟗ biospecimen-genomic-files on BIOSPECIMEN|TARGET_SERVICE_ID
    biospecimen_genomic_files = get("biospecimen-genomic-files")
    if biospecimen_genomic_files is not None:
        merged = _outer(merged, biospecimen_genomic_files, ["BIOSPECIMEN|TARGET_SERVICE_ID"])

    # J10: ⟗ genomic-files on GENOMIC_FILE|TARGET_SERVICE_ID
    genomic_files = get("genomic-files")
    if genomic_files is not None:
        merged = _outer(merged, genomic_files, ["GENOMIC_FILE|TARGET_SERVICE_ID"])

    # J11: ⟗ sequencing-experiment-genomic-files
    seq_exp_gf = get("sequencing-experiment-genomic-files")
    if seq_exp_gf is not None:
        merged = _outer(merged, seq_exp_gf, ["GENOMIC_FILE|TARGET_SERVICE_ID"])

    # J12: ⟗ sequencing-experiments — only when J11 ran
    # (reference etl/ingest.py:466-469)
    sequencing_experiments = get("sequencing-experiments")
    if seq_exp_gf is not None and sequencing_experiments is not None:
        merged = _outer(merged, sequencing_experiments, ["SEQUENCING|TARGET_SERVICE_ID"])

    if merged is None and studies is not None:
        # studies-only run: the reference would crash (clean_up_df(None),
        # etl/ingest.py:485); we emit the renamed studies table so
        # ResearchStudy can still build.
        merged = studies

    if merged is not None:
        # clean_up_df parity: stringify + trim + dedupe (reference etl/ingest.py:485)
        result.tables[DEFAULT_KEY] = normalize(merged)
    result.targets = applicable_targets(endpoint_tables)
    return result
