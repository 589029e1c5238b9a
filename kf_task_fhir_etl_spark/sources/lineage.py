"""S3 — descendant fan-out scan: all endpoint rows belonging to one study.

The reference calls ``kf_utils.dataservice.descendants.find_descendants_by_kfids``
(reference ``etl/ingest.py:83-92``), which walks the Dataservice schema graph
from a study to every descendant row. The schema graph has no recursion, so
in Spark the walk is a fixed chain of **semi-joins** — each endpoint table
filtered by the key set produced one hop earlier (SURVEY.md §2.1-S3).

Scale: the key side of every semi-join is the already-filtered subset (one
study's rows), which is orders of magnitude smaller than the full table →
broadcast it; the big side streams map-side with zero shuffle. The full-table
scans prune to the join key + payload columns automatically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _semi(big: DataFrame, big_key: str, keys: DataFrame, key_col: str) -> DataFrame:
    """big WHERE big.big_key IN keys.key_col — broadcast semi-join.

    The key side is broadcast as is, duplicates and all: a left-semi join
    emits each ``big`` row at most once whatever the key side holds, and
    a ``distinct`` would cost a shuffle job per hop."""
    key_df = F.broadcast(keys.select(F.col(key_col).alias(big_key)))
    return big.join(key_df, on=[big_key], how="left_semi")


def descendant_snapshot(
    tables: dict[str, DataFrame], study_id: str, strict: bool = False
) -> dict[str, DataFrame]:
    """Per-study snapshot ``{endpoint: DataFrame}`` — the engine form of
    ``find_descendants_by_kfids(db_url, "studies", study_id, kfids_only=False)``
    with the hidden-contributor filter disabled (reference ``etl/ingest.py:87``:
    visibility is kept as data, never filtered)."""
    out: dict[str, DataFrame] = {}

    studies = tables.get("studies")
    if studies is None:
        raise ValueError("snapshot requires a studies table")
    study = studies.filter(F.col("kf_id") == study_id)
    if strict and study.isEmpty():
        # A4 count-reconciliation assert (reference etl/ingest.py:71-72,96-98)
        raise ValueError(f"{study_id} not found")
    out["studies"] = study

    investigators = tables.get("investigators")
    if investigators is not None:
        out["investigators"] = _semi(investigators, "kf_id", study, "investigator_id")

    participants = tables.get("participants")
    if participants is None:
        return out
    participants = _semi(participants, "study_id", study, "kf_id")
    out["participants"] = participants

    families = tables.get("families")
    if families is not None:
        out["families"] = _semi(families, "kf_id", participants, "family_id")

    frs = tables.get("family-relationships")
    if frs is not None:
        # membership via either endpoint of the relationship
        p1 = _semi(frs, "participant1_id", participants, "kf_id")
        p2 = _semi(frs, "participant2_id", participants, "kf_id")
        out["family-relationships"] = p1.union(p2).dropDuplicates(["kf_id"])

    for endpoint in ("diagnoses", "phenotypes", "outcomes", "biospecimens"):
        t = tables.get(endpoint)
        if t is not None:
            out[endpoint] = _semi(t, "participant_id", participants, "kf_id")

    biospecimens = out.get("biospecimens")
    if biospecimens is not None:
        for endpoint in ("biospecimen-diagnoses", "biospecimen-genomic-files"):
            t = tables.get(endpoint)
            if t is not None:
                out[endpoint] = _semi(t, "biospecimen_id", biospecimens, "kf_id")

    bgf = out.get("biospecimen-genomic-files")
    genomic_files = tables.get("genomic-files")
    if bgf is not None and genomic_files is not None:
        genomic_files = _semi(genomic_files, "kf_id", bgf, "genomic_file_id")
        out["genomic-files"] = genomic_files

        segf = tables.get("sequencing-experiment-genomic-files")
        if segf is not None:
            segf = _semi(segf, "genomic_file_id", genomic_files, "kf_id")
            out["sequencing-experiment-genomic-files"] = segf
            seq = tables.get("sequencing-experiments")
            if seq is not None:
                out["sequencing-experiments"] = _semi(seq, "kf_id", segf, "sequencing_experiment_id")

    return out
