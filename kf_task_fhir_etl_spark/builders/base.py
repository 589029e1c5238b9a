"""Entity-builder framework: the reference's plugin contract, Spark-first.

Reference contract (SURVEY.md §2.9): each builder class provides
``get_key_components`` (unique key), ``query_target_ids``/``submit``
(server-assigned resource IDs), and ``build_entity`` (row → nested JSON).
The cross-entity callback ``get_target_id_from_record(OtherClass, record)``
re-enters ID resolution for referenced entities.

Spark-first re-design (SURVEY.md §7):

- **Deterministic surrogate IDs**: ``target_id = md5(class_name || '|' ||
  key components)``. Because the ID is a pure function of the key, the
  reference's re-entrant network lookup flattens into an inline column
  expression — a builder referencing Patient just computes Patient's ID
  formula over its own columns. Zero joins, zero shuffles, works identically
  on every executor at 100 TB. (Live-FHIR parity mode would swap this for a
  join against a server-ID mapping table; the builders only depend on the
  ``*_id`` expression functions, so the swap is local.)
- **Null key → no resource**: the reference's ``not_none`` raise-and-skip
  becomes null-propagation (``F.concat`` returns null on any null input)
  plus a final ``target_id IS NOT NULL`` filter.
- **One resource per key**: builders project only the columns they read,
  then ``dropDuplicates`` on them — collapsing the wide table's join fan-out
  exactly like the reference's idempotent re-upserts do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DATASERVICE = "https://kf-api-dataservice.kidsfirstdrc.org"


def col(name: str) -> Column:
    """Concept columns contain ``|`` — always backtick-quote."""
    return F.col(f"`{name}`")


def surrogate_id(class_name: str, *components: Column) -> Column:
    """Deterministic target ID from (class_name, key components).

    Uses ``F.concat`` (NOT ``concat_ws``) so a null component nulls the whole
    ID — the engine's equivalent of the reference's ``not_none`` raise
    (``common/utils.py:17-20``)."""
    parts: list[Column] = [F.lit(class_name)]
    for c in components:
        parts.append(F.lit("|"))
        parts.append(c)
    return F.md5(F.concat(*parts))


def identifier(use: str, value: Column, system: str | None = None) -> Column:
    """One FHIR identifier element; fixed struct shape (nullable system) so
    official + secondary elements share an array type."""
    return F.struct(
        F.lit(use).alias("use"),
        (F.lit(system) if system else F.lit(None).cast("string")).alias("system"),
        value.alias("value"),
    )


def identifiers(official_system: str, official_value: Column, external_id: Column | None = None) -> Column:
    """The identifier array every builder emits: an official Dataservice
    identifier plus a secondary one when ``external_id`` is present
    (e.g. reference ``patient.py:148-164``)."""
    elems = [identifier("official", official_value, official_system)]
    if external_id is not None:
        elems.append(F.when(external_id.isNotNull(), identifier("secondary", external_id)))
    return F.filter(F.array(*elems), lambda x: x.isNotNull())


def meta(profile: str, study_id: Column | None = None) -> Column:
    """``meta`` block: profile + per-study tag (reference ``patient.py:144-147``)."""
    fields = [F.array(F.lit(profile)).alias("profile")]
    if study_id is not None:
        fields.append(F.array(F.struct(study_id.alias("code"))).alias("tag"))
    return F.struct(*fields)


def reference(api_path: str, target_id: Column) -> Column:
    """``{"reference": "Type/id"}`` struct; null when the target ID is null."""
    return F.when(target_id.isNotNull(), F.struct(F.concat(F.lit(api_path), F.lit("/"), target_id).alias("reference")))


def non_empty_array(arr: Column) -> Column:
    """setdefault-only-if-nonempty semantics: null out empty arrays so the
    field is absent in the serialized JSON."""
    compact = F.filter(arr, lambda x: x.isNotNull())
    return F.when(F.size(compact) > 0, compact)


def build_from_plan(plan_fn, wide: DataFrame, api_path: str) -> DataFrame:
    """Per-builder output from a ``plan()`` seam: every row-wise builder
    exposes ``plan(wide) -> (target_id, resource, keep | None)`` (pure
    unresolved Columns over the padded wide table) and derives its
    ``build()`` through here (the narrow path ``plans/narrow.py`` and the
    per-target gates) — while ``etl.build_resources`` consumes the same
    seam to fuse ALL row-wise builders into one select over ONE scan of the
    checkpointed wide table. Both routes share the expression code, so they
    cannot drift (equivalence pinned in
    tests/test_builders.py::test_fused_build_equals_per_builder_build and
    by q85)."""
    tid, resource, keep = plan_fn(wide)
    if keep is not None:
        wide = wide.filter(keep)
    return finalize(wide.select(tid.alias("target_id"), resource.alias("resource")), api_path)


def fused_element(target: str, api_path: str, tid: Column, resource: Column, keep: Column | None) -> Column:
    """One builder's contribution to the fused single-pass select: a
    ``(target, resource_type, target_id, resource_json)`` struct, or NULL
    for rows the builder would have filtered/skipped — the null-element
    form lets 13 builders ride one array/explode over a single scan.
    ``target`` (the registry name) is the union discriminator; API_PATH is
    NOT unique across builders (four Observations, two Conditions)."""
    payload = F.struct(
        F.lit(target).alias("target"),
        F.lit(api_path).alias("resource_type"),
        tid.alias("target_id"),
        F.to_json(resource, {"ignoreNullFields": "true"}).alias("resource_json"),
    )
    cond = tid.isNotNull() if keep is None else (keep & tid.isNotNull())
    return F.when(cond, payload)


def finalize(df: DataFrame, resource_type: str) -> DataFrame:
    """Common tail for every builder: require a resolvable ID, one row per
    resource, serialize with absent-if-null fields."""
    return (
        df.filter(F.col("target_id").isNotNull())
        .dropDuplicates(["target_id"])
        .select(
            F.lit(resource_type).alias("resource_type"),
            "target_id",
            F.to_json(F.col("resource"), {"ignoreNullFields": "true"}).alias("resource_json"),
        )
    )


# --- Deterministic ID expressions per entity class -------------------------
# Each mirrors the reference's get_key_components. Composite/reference keys
# reproduce the exact "Type/id" strings the reference uses as key components
# (practitioner_role.py:21-28, research_subject.py:24-31).


def practitioner_id() -> Column:
    return surrogate_id("practitioner", col("INVESTIGATOR|TARGET_SERVICE_ID"))


def organization_id() -> Column:
    return surrogate_id("organization", col("INVESTIGATOR|TARGET_SERVICE_ID"))


def practitioner_role_id() -> Column:
    return surrogate_id(
        "practitioner_role",
        F.concat(F.lit("Practitioner/"), practitioner_id()),
        F.concat(F.lit("Organization/"), organization_id()),
    )


def patient_id() -> Column:
    return surrogate_id("patient", col("PARTICIPANT|TARGET_SERVICE_ID"))


def research_study_id() -> Column:
    return surrogate_id("research_study", col("STUDY|TARGET_SERVICE_ID"))


def research_subject_id() -> Column:
    return surrogate_id(
        "research_subject",
        F.concat(F.lit("ResearchStudy/"), research_study_id()),
        F.concat(F.lit("Patient/"), patient_id()),
    )


def proband_status_id() -> Column:
    # key = fixed SNOMED code + Patient reference (proband_status.py:36-45)
    return surrogate_id(
        "proband_status",
        F.lit("http://snomed.info/sct|85900004"),
        F.concat(F.lit("Patient/"), patient_id()),
    )


def family_id() -> Column:
    return surrogate_id("family", col("FAMILY|TARGET_SERVICE_ID"))


def family_relationship_id() -> Column:
    return surrogate_id("family_relationship", col("FAMILY_RELATIONSHIP|TARGET_SERVICE_ID"))


def disease_id() -> Column:
    return surrogate_id("disease", col("DIAGNOSIS|TARGET_SERVICE_ID"))


def phenotype_id() -> Column:
    return surrogate_id("phenotype", col("PHENOTYPE|TARGET_SERVICE_ID"))


def vital_status_id() -> Column:
    return surrogate_id("vital_status", col("OUTCOME|TARGET_SERVICE_ID"))


def sequencing_center_id() -> Column:
    return surrogate_id("sequencing_center", col("SEQUENCING|CENTER|TARGET_SERVICE_ID"))


def specimen_id(from_col: Column | None = None) -> Column:
    return surrogate_id("specimen", from_col if from_col is not None else col("BIOSPECIMEN|TARGET_SERVICE_ID"))


def histopathology_id() -> Column:
    return surrogate_id("histopathology", col("BIOSPECIMEN_DIAGNOSIS|TARGET_SERVICE_ID"))


def drs_document_reference_id() -> Column:
    return surrogate_id("drs_document_reference", col("GENOMIC_FILE|TARGET_SERVICE_ID"))


def patient_id_from(participant_col: Column) -> Column:
    """Patient ID computed from an arbitrary participant-ID column — the
    engine form of ``get_target_id_from_record(Patient, {PARTICIPANT|TSID: x})``
    (family.py:102-107, family_relationship.py:376-391)."""
    return surrogate_id("patient", participant_col)


def coded_concept(text: Column, coding: Column | None = None) -> Column:
    """``{"text": ..., "coding": [...]}`` with the reference's setdefault
    semantics: whole struct absent when text is null; coding array absent
    when the lookup misses."""
    fields = []
    if coding is not None:
        fields.append(coding.alias("coding"))
    fields.append(text.alias("text"))
    return F.when(text.isNotNull(), F.struct(*fields))
