"""The benchmark's workloads, their correctness checks and their metrics.

Each workload is a closed loop with one client: operations run one after
another in this process against ``local[nproc]`` Spark. Timing metrics
count only operations whose output checked correct; the checks run outside
the timed region.
"""

from __future__ import annotations

import contextlib
import io
import os
import random
import time

import gen
import probes

# --- sizes -----------------------------------------------------------------

# One study of a real study's size (README.md, "Sizes"): 1,000 participants
# with 2:2:2 fan-out, about 15,000 resources.
ETL_PARTICIPANTS = 1000
# The row counts of the registry testdata at sf0.01 (TESTDATA.md), the scale
# of the repository's oracle-checked correctness runs: 500 documents, 10,000
# events over 150 users, 15,000 orders (about 60,000 lineitem rows).
REGISTRY_SIZES = {"docs": 500, "n_events": 10_000, "users": 150, "orders": 15_000}
# The registry tables' shape (the near-duplicate graph, the co-purchase
# graph, the event mix) is fixed, as the testdata of TESTDATA.md is; the
# run's seed drives the order of the operations.
REGISTRY_SEED = 42
# registry operations (README.md: graph fixpoint, keyed-state streaming,
# MinHash dedup, text quality filter)
REGISTRY_OPS = ("q157", "q145", "q12", "q89")

# --- metric catalogue --------------------------------------------------------

# CPU seconds, not wall seconds: on a shared host other guests take up to a
# third of the CPUs at times, which moved elapsed times by up to 2.7x between
# runs and CPU times far less (README.md). Wall times are per-layer metrics.
END_TO_END = {"cpu_s": "s", "setup_s": "s"}

SPARK_METRICS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.job_busy_s": "s", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.core_util": "ratio",
    "spark.single_task_stage_s": "s",
}
STREAM_METRICS = {
    "streaming.batches": "count", "streaming.input_rows": "count", "streaming.add_batch_s": "s",
    "streaming.planning_s": "s", "streaming.log_commit_s": "s", "streaming.start_stop_s": "s",
    "streaming.state_update_s": "s", "streaming.state_commit_s": "s",
    "streaming.state_rows_total": "count", "streaming.state_rows_updated": "count",
    "streaming.state_bytes": "bytes",
}
OP_METRICS = {
    "wall_s": "s", "cpu_s": "s", "spark.jobs": "count", "spark.tasks": "count", "driver.gap_s": "s",
    "spark.core_util": "ratio", "spark.single_task_stage_s": "s", "query.build_s": "s",
    "query.action_s": "s",
}
PHASE_METRICS = {
    "sources.snapshot_s": "s", "plans.transform_s": "s", "builders.build_s": "s",
    "etl.materialize_s": "s", "sources.sinks.upsert_s": "s", "sources.sinks.rows_written": "count",
    "sources.sinks.write_amp": "ratio", "sources.sinks.read_bytes": "bytes",
    "etl.span_coverage": "ratio",
}
TARGETS = (
    "Practitioner", "Organization", "PractitionerRole", "Patient", "ProbandStatus",
    "FamilyRelationship", "Family", "ResearchStudy", "ResearchSubject", "Disease", "Phenotype",
    "VitalStatus", "SequencingCenter", "Specimen", "Histopathology", "DRSDocumentReference",
)

PER_LAYER: dict[str, str] = {
    **SPARK_METRICS,
    "driver.gap_s": "s", "driver.py_cpu_s": "s", "jvm.cpu_s": "s", "pyworkers.cpu_s": "s",
    "failed_frac": "ratio", "wall_s": "s", "peak_rss_mb": "MB", "host.steal_s": "s",
    "setup.wall_s": "s", "setup.session_s": "s", "setup.inputs_s": "s", "setup.staging_s": "s",
    # registry (0 on etl_studies)
    "query.build_s": "s", "query.action_s": "s",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    **STREAM_METRICS,
    **{f"{q}.{m}": u for q in REGISTRY_OPS for m, u in OP_METRICS.items()},
    # ETL (0 on graph_stream_dedup)
    "study_load_s": "s", "study_reload_s": "s", "resources_per_s": "1/s",
    **{f"{ph}.{m}": u for ph in ("load", "reload") for m, u in PHASE_METRICS.items()},
    **{f"load.builders.{t}_s": "s" for t in TARGETS},
}


class Run:
    """State shared by a workload run: arguments, directories, session."""

    def __init__(self, seed: int, traced: bool, work: str, t_start: float):
        self.seed, self.traced = seed, traced
        self.work, self.t_start = work, t_start
        self.rng = random.Random(seed)
        self.layer: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
        self.attempted = self.failed = 0
        self.spark = self.jvm = None
        self.status = self.streams = None
        self.setup_cpu_s = self.setup_wall_s = 0.0
        self.walls: dict[str, float] = {}  # unbounded wall times, for the record line

    def start_session(self) -> None:
        t = time.time()
        from kf_task_fhir_etl_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.layer["setup.session_s"] = time.time() - t
        self.jvm = probes.jvm_pid(self.spark)
        if self.traced:
            self.status = probes.SparkStatus(self.spark)
            self.streams = probes.stream_listener()
            self.spark.streams.addListener(self.streams)

    def counters(self) -> dict[str, float]:
        """CPU seconds so far of this process, the JVM and the JVM's Python
        workers, and the CPU time the host has given to other guests."""
        return {
            "driver.py_cpu_s": probes.cpu_s(os.getpid()), "jvm.cpu_s": probes.cpu_s(self.jvm),
            "pyworkers.cpu_s": probes.pyworkers_cpu_s(self.jvm), "host.steal_s": probes.steal_s(),
        }

    def setup_done(self) -> None:
        """Set-up ends here: everything the process tree did so far."""
        self.setup_wall_s = time.time() - self.t_start
        c = self.counters()
        self.setup_cpu_s = c["driver.py_cpu_s"] + c["jvm.cpu_s"] + c["pyworkers.cpu_s"]
        if self.traced:
            self.status.new_jobs()
            self.streams.drain(timeout=0)

    def op_begin(self) -> tuple[float, dict[str, float]]:
        counters = self.counters()
        return time.time(), counters  # the clock starts after the probes

    def op_end(self, begin: tuple[float, dict[str, float]]) -> tuple[float, dict]:
        """Wall time and figures of the operation since ``op_begin``; the
        Spark status figures in traced runs only."""
        wall = time.time() - begin[0]
        now = self.counters()
        figures: dict = {k: now[k] - begin[1][k] for k in now}
        figures["cpu_s"] = figures["driver.py_cpu_s"] + figures["jvm.cpu_s"] + figures["pyworkers.cpu_s"]
        figures["wall_s"] = wall
        if self.traced:
            jobs, stages = self.status.new_jobs()
            figures.update(probes.spark_summary(jobs, stages, self.status.cores))
            figures["driver.gap_s"] = wall - figures["spark.job_busy_s"]
            figures["_jobs"], figures["_stages"] = jobs, stages
        return wall, figures

    def add(self, figures: dict[str, float], prefix: str = "") -> None:
        for k, v in figures.items():
            if prefix + k in self.layer and not k.startswith("_"):
                self.layer[prefix + k] += v

    def peak_rss_mb(self) -> float:
        return probes.vm_hwm_mb(os.getpid()) + probes.vm_hwm_mb(self.jvm)

    def result(self, cpu_s: float, wall_s: float, correct: bool) -> dict:
        # the run-wide core utilisation comes from the sums, not from the
        # operations' own ratios
        busy = self.layer["spark.job_busy_s"]
        cores = self.status.cores if self.status else 1
        self.layer["spark.core_util"] = self.layer["spark.executor_run_s"] / (busy * cores) if busy else 0.0
        self.layer.update({
            "failed_frac": self.failed / max(self.attempted, 1), "wall_s": wall_s,
            "peak_rss_mb": self.peak_rss_mb(), "setup.wall_s": self.setup_wall_s,
        })
        self.walls = {"pass_s": wall_s, "setup_s": self.setup_wall_s}
        metrics = {"cpu_s": cpu_s, "setup_s": self.setup_cpu_s}
        chosen = (
            {k: (self.layer[k], u) for k, u in PER_LAYER.items()} if self.traced
            else {k: (metrics[k], u) for k, u in END_TO_END.items()}
        )
        return {
            "correct": correct and self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in chosen.items()},
        }


# ---------------------------------------------------------------------------
# etl_studies: the fhir-etl CLI over generated studies
# ---------------------------------------------------------------------------


def check_sink(sink: str, study: str, expected: dict[str, int], edited: set[str] | None) -> list[str]:
    """Problems in one study's sink tables, read with pyarrow (not Spark):
    per-target resource counts, unique ``target_id``, and, after a reload,
    every edited external id present exactly once in the Patient table."""
    import pyarrow.dataset as ds

    problems = []
    for target, want in expected.items():
        path = os.path.join(sink, study, target)
        if not os.path.isdir(path):
            problems.append(f"{study}/{target}: missing")
            continue
        table = ds.dataset(path, format="parquet").to_table(columns=["target_id", "resource_json"])
        ids = table.column("target_id").to_pylist()
        if len(ids) != want:
            problems.append(f"{study}/{target}: {len(ids)} resources, expected {want}")
        if len(set(ids)) != len(ids):
            problems.append(f"{study}/{target}: duplicate target_id")
        if target == "Patient" and edited is not None:
            docs = table.column("resource_json").to_pylist()
            found = sum(1 for d in docs if gen.EDITED_PREFIX in d)
            if found != len(edited) or any(not any(e in d for d in docs) for e in edited):
                problems.append(f"{study}/Patient: {found} edited resources, expected {len(edited)}")
    return problems


def _etl_spans(spans: probes.Spans) -> None:
    """Wrap the public functions the CLI calls (traced runs only)."""
    from kf_task_fhir_etl_spark import builders, etl
    from kf_task_fhir_etl_spark.sources import lineage, sinks

    spans.wrap(lineage, "descendant_snapshot", "sources.snapshot")
    spans.wrap(etl, "run_pipeline", "etl.run_pipeline")
    spans.wrap(etl, "transform_study", "plans.transform")
    spans.wrap(etl, "build_resources", "builders.build")
    for target, (module, _) in builders.BUILDERS.items():
        spans.wrap(module, "build", f"builders.{target}")
    spans.wrap(sinks, "keyed_parquet_upsert", "sources.sinks.upsert",
               info=lambda spark, df, path, key: {"path": path})
    # the CLI's own reads of the endpoint tables (the extract stage)
    from pyspark.sql.readwriter import DataFrameReader

    spans.wrap(DataFrameReader, "parquet", "sources.read")


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
        if not f.startswith((".", "_"))
    )


def _phase_figures(records, figures: dict, wall: float) -> dict[str, float]:
    import pyarrow.dataset as ds

    upserts = [(t0, t1) for n, t0, t1, _ in records if n == "sources.sinks.upsert"]
    upsert_jobs = probes.jobs_within(figures["_jobs"], upserts)
    stage_ids = {s for j in upsert_jobs for s in j["stages"]}
    stages = [figures["_stages"][s] for s in stage_ids if s in figures["_stages"]]
    paths = [info["path"] for n, _, _, info in records if n == "sources.sinks.upsert"]
    on_disk = sum(_dir_bytes(p) for p in paths)
    pipeline = probes.total_s(records, "etl.run_pipeline")
    # endpoint reads outside the sink's own read-back count as extract
    reads = [(t0, t1) for n, t0, t1, _ in records
             if n == "sources.read" and not any(a <= t0 <= b for a, b in upserts)]
    out = {
        "sources.snapshot_s": probes.total_s(records, "sources.snapshot") + probes.union_s(reads),
        "plans.transform_s": probes.total_s(records, "plans.transform"),
        "builders.build_s": probes.total_s(records, "builders.build"),
        "sources.sinks.upsert_s": probes.total_s(records, "sources.sinks.upsert"),
        "sources.sinks.rows_written": sum(ds.dataset(p, format="parquet").count_rows() for p in paths),
        "sources.sinks.write_amp": sum(s["out"] for s in stages) / on_disk if on_disk else 0.0,
        "sources.sinks.read_bytes": sum(s["in"] for s in stages),
    }
    out["etl.materialize_s"] = pipeline - out["plans.transform_s"] - out["builders.build_s"]
    top = [(t0, t1) for n, t0, t1, _ in records
           if n in ("sources.snapshot", "etl.run_pipeline", "sources.sinks.upsert")]
    out["etl.span_coverage"] = probes.union_s(top + reads) / wall
    for t in TARGETS:
        out[f"builders.{t}_s"] = probes.total_s(records, f"builders.{t}")
    return out


def etl_studies(run: Run) -> dict:
    t = time.time()
    src, src_edit, sink = (os.path.join(run.work, d) for d in ("source", "source_edited", "sink"))
    study = gen.STUDY
    tables = gen.study(run.seed, ETL_PARTICIPANTS)
    edited_tables, edited = gen.edit_study(tables, run.seed)
    gen.write_tables(tables, src)
    gen.write_tables(edited_tables, src_edit)
    expected = gen.study_counts(tables, ETL_PARTICIPANTS)
    run.layer["setup.inputs_s"] = time.time() - t
    run.start_session()

    from kf_task_fhir_etl_spark.app.cli import cli

    spans = probes.Spans()
    if run.traced:
        _etl_spans(spans)
    run.setup_done()
    done: dict[str, tuple[float, float]] = {}  # phase -> (wall, cpu) of a checked ingest
    try:
        # the reload re-ingests, after the edit, the study the load wrote
        for phase, source in (("load", src), ("reload", src_edit)):
            run.attempted += 1
            begin = run.op_begin()
            problems: list[str] = []
            try:
                with contextlib.redirect_stdout(io.StringIO()):
                    cli.main(["fhir-etl", study, "--source", source, "--out", sink], standalone_mode=False)
            except Exception as e:  # noqa: BLE001 - any failure is a failed operation
                problems.append(f"{study}: {type(e).__name__}: {e}")
            wall, figures = run.op_end(begin)
            records = spans.take()
            problems += check_sink(sink, study, expected, edited if phase == "reload" else None)
            if problems:
                run.failed += 1
                print("FAILED", phase, *problems, flush=True)
                continue
            done[phase] = (wall, figures["cpu_s"])
            if run.traced:
                run.add(figures)
                run.add(_phase_figures(records, figures, wall), prefix=f"{phase}.")
    finally:
        spans.restore()
    (load_s, load_cpu), (reload_s, reload_cpu) = (done.get(p, (0.0, 0.0)) for p in ("load", "reload"))
    run.layer.update(study_load_s=load_s, study_reload_s=reload_s,
                     resources_per_s=len(done) * sum(expected.values()) / ((load_s + reload_s) or 1))
    return run.result(load_cpu + reload_cpu, load_s + reload_s, correct=len(done) == 2)


# ---------------------------------------------------------------------------
# graph_stream_dedup: registry operations over generated tables
# ---------------------------------------------------------------------------


def canonical(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name; rows projected in that order, floats rounded
    to 6 places, sorted by repr (the DuckDB-oracle comparison rule)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = [tuple(round(v, 6) if isinstance(v, float) else v for v in (r[i] for i in order)) for r in rows]
    return [columns[i] for i in order], sorted(canon, key=repr)


def oracle(inputs: str, sql: str) -> tuple[list[str], list[tuple]]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("documents", "events", "lineitem"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(inputs, t)}.parquet')")
        res = con.execute(sql)
        return canonical([d[0] for d in res.description], res.fetchall())
    finally:
        con.close()


def graph_stream_dedup(run: Run) -> dict:
    t = time.time()
    inputs = os.path.join(run.work, "inputs")
    gen.registry_tables(REGISTRY_SEED, inputs, **REGISTRY_SIZES)
    run.layer["setup.inputs_s"] = time.time() - t
    run.start_session()

    from kf_task_fhir_etl_spark import queries
    from kf_task_fhir_etl_spark.streaming.events import read_events_stream_time_split

    registry, oracles = queries.queries(), queries.oracle_sql()
    full = {q: next(n for n in registry if n.startswith(q + "_")) for q in REGISTRY_OPS}

    def execute(q: str):
        t0 = time.time()
        df = registry[full[q]](run.spark, inputs)
        t1 = time.time()
        rows = df.collect()
        return df, rows, t1 - t0, time.time() - t1

    # the /tmp staging of the measured tables (q145's time-split replay)
    t = time.time()
    read_events_stream_time_split(run.spark, inputs, n_splits=3)
    run.layer["setup.staging_s"] = time.time() - t
    run.setup_done()

    results: list[tuple[str, dict, list[str] | None, list]] = []  # op, figures, columns, rows
    for q in run.rng.sample(REGISTRY_OPS, len(REGISTRY_OPS)):
        begin = run.op_begin()
        try:
            df, rows, b, a = execute(q)
        except Exception as e:  # noqa: BLE001
            print(f"FAILED {q}: {type(e).__name__}: {e}", flush=True)
            run.op_end(begin)  # keeps the failed operation's jobs out of the next one
            if run.traced:
                run.streams.drain()
            results.append((q, {}, None, []))
            continue
        wall, figures = run.op_end(begin)
        if run.traced:
            figures.update(probes.catalyst_ms(df), **{"query.build_s": b, "query.action_s": a})
            progress = run.streams.drain()
            if progress:
                figures.update(probes.stream_summary(progress, wall))
        results.append((q, figures, df.columns, rows))

    # checks, outside the timed region; only checked operations are counted
    wall_s = cpu_s = 0.0
    for q, figures, columns, rows in results:
        run.attempted += 1
        if columns is None or canonical(columns, rows) != oracle(inputs, oracles[full[q]]):
            run.failed += 1
            if columns is not None:
                print(f"FAILED {q}: result differs from the DuckDB oracle", flush=True)
            continue
        wall_s += figures["wall_s"]
        cpu_s += figures["cpu_s"]
        if run.traced:
            run.add(figures)
            run.add({k: figures[k] for k in OP_METRICS}, prefix=f"{q}.")
    return run.result(cpu_s, wall_s, correct=run.failed == 0)


WORKLOADS = {"etl_studies": etl_studies, "graph_stream_dedup": graph_stream_dedup}
