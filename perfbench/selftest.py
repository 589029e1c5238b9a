#!/usr/bin/env python3
"""Tiny-scale self-tests for the benchmark itself. Run from the repository
root (about three minutes; one local Spark session):

    python3 perfbench/selftest.py

They show that the generators are deterministic under a seed, that the
expected counts match what the ``fhir-etl`` CLI writes for a one-study
snapshot, that a corrupted result is reported as failed and left out of the
metrics, and that every metric the benchmark defines is emitted and listed
in BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

# Every metric this benchmark is meant to report, under any of PREFIXES.
SPEC_METRICS = (
    "setup_s", "wall_s", "study_load_s", "study_reload_s", "resources_per_s", "peak_rss_mb",
    "failed_frac", "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
    "spark.job_busy_s", "driver.gap_s", "spark.executor_run_s", "spark.executor_cpu_s",
    "spark.gc_s", "spark.input_bytes", "spark.output_bytes", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.core_util", "spark.single_task_stage_s",
    "query.build_s", "query.action_s", "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "streaming.batches", "streaming.input_rows", "streaming.add_batch_s",
    "streaming.planning_s", "streaming.log_commit_s", "streaming.start_stop_s",
    "streaming.state_update_s", "streaming.state_commit_s", "streaming.state_rows_total",
    "streaming.state_rows_updated", "streaming.state_bytes", "pyworkers.cpu_s",
    "sources.snapshot_s", "plans.transform_s", "builders.build_s", "etl.materialize_s",
    "driver.py_cpu_s", "sources.sinks.upsert_s", "sources.sinks.rows_written",
    "sources.sinks.write_amp", "sources.sinks.read_bytes", "jvm.cpu_s",
    *(f"builders.{t}_s" for t in workloads.TARGETS),
)
PREFIXES = ("", "load.", "reload.", *(f"{q}." for q in workloads.REGISTRY_OPS))


def test_generators_are_deterministic(tmp: str) -> None:
    assert gen.study(7, 9) == gen.study(7, 9)
    assert gen.study(7, 9) != gen.study(8, 9)
    assert gen.edit_study(gen.study(7, 9), 7) == gen.edit_study(gen.study(7, 9), 7)
    for d in ("a", "b"):
        gen.registry_tables(3, os.path.join(tmp, d), docs=40, n_events=100, users=10, orders=50)
    for name in ("documents", "events", "lineitem"):
        a, b = (open(os.path.join(tmp, d, f"{name}.parquet"), "rb").read() for d in ("a", "b"))
        assert a == b, name


def test_metric_catalogue() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(workloads.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(workloads.PER_LAYER)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    assert units == {**workloads.END_TO_END, **workloads.PER_LAYER}
    listed = set(units)
    missing = [m for m in SPEC_METRICS if not any(p + m in listed for p in PREFIXES)]
    assert not missing, missing


def test_result_emits_exactly_the_catalogue() -> None:
    for traced, names in ((False, workloads.END_TO_END), (True, workloads.PER_LAYER)):
        r = workloads.Run(1, traced, "", 0.0)
        r.jvm = os.getpid()
        r.attempted = 1
        out = r.result(1.0, 1.0, correct=True)
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert list(out["metrics"]) == list(names)


def test_registry_check_rejects_a_corrupted_result(tmp: str, spark) -> None:
    from kf_task_fhir_etl_spark import queries

    tables = os.path.join(tmp, "registry")
    gen.registry_tables(5, tables, docs=40, n_events=100, users=10, orders=50)
    name = next(n for n in queries.queries() if n.startswith("q98_"))
    df = queries.queries()[name](spark, tables)
    rows = [tuple(r) for r in df.collect()]
    expected = workloads.oracle(tables, queries.oracle_sql()[name])
    assert workloads.canonical(df.columns, rows) == expected
    corrupted = [rows[0][:-1] + ("corrupted",)] + rows[1:]
    assert workloads.canonical(df.columns, corrupted) != expected
    assert workloads.canonical(df.columns, rows[1:]) != expected


def test_failed_operation_is_left_out_of_every_metric(tmp: str, spark) -> None:
    """A traced pass in which q89's result fails its check: the failure is
    counted, and none of q89's figures reach the per-layer metrics."""
    from kf_task_fhir_etl_spark import queries

    q89_sql = queries.oracle_sql()[next(n for n in queries.queries() if n.startswith("q89_"))]
    real_oracle, sizes = workloads.oracle, workloads.REGISTRY_SIZES

    def oracle(inputs: str, sql: str):
        columns, rows = real_oracle(inputs, sql)
        return columns, rows[1:] if sql == q89_sql else rows

    workloads.oracle = oracle
    workloads.REGISTRY_SIZES = {"docs": 40, "n_events": 100, "users": 10, "orders": 50}
    try:
        result = workloads.graph_stream_dedup(workloads.Run(3, True, os.path.join(tmp, "failed-op"), time.time()))
    finally:
        workloads.oracle, workloads.REGISTRY_SIZES = real_oracle, sizes
    assert (result["attempted"], result["failed"], result["correct"]) == (4, 1, False), result
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["q89.wall_s"] == m["q89.spark.jobs"] == 0, m
    assert m["q157.spark.jobs"] > 0 and m["q12.wall_s"] > 0, m
    assert m["spark.jobs"] == sum(m[f"{q}.spark.jobs"] for q in workloads.REGISTRY_OPS), m


def test_etl_counts_and_corruption(tmp: str, spark) -> None:
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq
    from kf_task_fhir_etl_spark.app.cli import cli

    participants = 7
    tables = gen.study(11, participants)
    edited_tables, edited = gen.edit_study(tables, 11, share=0.5)
    src, src_edit, sink = (os.path.join(tmp, d) for d in ("src", "src_edit", "sink"))
    gen.write_tables(tables, src)
    gen.write_tables(edited_tables, src_edit)
    study = gen.STUDY
    expected = gen.study_counts(tables, participants)
    assert expected["Patient"] == participants and expected["Family"] == 3

    cli.main(["fhir-etl", study, "--source", src, "--out", sink], standalone_mode=False)
    assert workloads.check_sink(sink, study, expected, None) == []
    # the reload must carry the edits; before it, the check says so
    assert edited
    assert workloads.check_sink(sink, study, expected, edited)
    cli.main(["fhir-etl", study, "--source", src_edit, "--out", sink], standalone_mode=False)
    assert workloads.check_sink(sink, study, expected, edited) == []

    # corruption: a duplicated resource and a lost target
    patient = os.path.join(sink, study, "Patient")
    pq.write_table(ds.dataset(patient, format="parquet").to_table().slice(0, 1),
                   os.path.join(patient, "part-duplicate.parquet"))
    shutil.rmtree(os.path.join(sink, study, "Specimen"))
    problems = workloads.check_sink(sink, study, expected, edited)
    assert any("Patient" in p and "duplicate" in p for p in problems), problems
    assert any("Specimen: missing" in p for p in problems), problems


def main() -> int:
    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    run.isolate(work, run.host_settings())
    try:
        test_generators_are_deterministic(os.path.join(work, "gen"))
        test_metric_catalogue()
        test_result_emits_exactly_the_catalogue()
        from kf_task_fhir_etl_spark.session import get_spark

        spark = get_spark("perfbench-selftest")
        test_registry_check_rejects_a_corrupted_result(work, spark)
        test_failed_operation_is_left_out_of_every_metric(work, spark)
        test_etl_counts_and_corruption(work, spark)
    finally:
        run.stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print("perfbench self-tests passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
