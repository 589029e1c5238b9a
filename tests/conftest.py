from __future__ import annotations

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kf_task_fhir_etl_spark.catalog import TPCH_TABLES, table_path
from kf_task_fhir_etl_spark.session import get_spark

# ---------------------------------------------------------------------------
# Whole-suite sharding (r13 — VERDICT r12 Next #2: the driver's pytest window
# hit its time cap at ~60% of the suite; the suite is Spark-action-latency
# bound and strictly serial under vanilla pytest, ~40 min for 585 tests).
# A full-suite invocation (`pytest tests/ -x -q`, the driver's shape) is
# split BY FILE into N weight-balanced subprocess shards, each a normal
# pytest run in its own working directory (own Derby metastore + Spark
# warehouse, so the bucketed-table tests cannot collide; /tmp stagings are
# fingerprint-keyed with atomic publish, already concurrency-safe).
# Everything else — running a single file, -k/-m filters, explicit node
# ids, --collect-only — executes serially exactly as before, and
# SPARK_GRAFT_TEST_SERIAL=1 forces the old behavior for the full suite.
# Shard results are aggregated into one honest summary line and the exit
# code is the worst shard's. Measured: 40:19 serial -> ~12 min at 4 shards
# on 32 cores, identical tests, zero skips.
# ---------------------------------------------------------------------------

# measured per-file wall-clock weights (seconds, 2026-08-18 durations run +
# ~2.5 s/test baseline for files outside the top-60); unknown files fall
# back to test-count × 2.5
_SHARD_WEIGHTS = {
    "test_new_ops_r09.py": 372, "test_builders.py": 225,
    "test_new_ops_r10.py": 240, "test_new_ops_r12.py": 172, "test_new_ops_r11.py": 163,
    "test_new_ops_r06.py": 139, "test_corpus.py": 132,
    "test_new_ops_r08.py": 115, "test_properties.py": 106,
    "test_operators.py": 95, "test_new_ops_r07.py": 68,
    "test_partitioning.py": 65, "test_cli.py": 53, "test_streaming.py": 43,
    "test_narrow.py": 39, "test_sources_sinks.py": 28,
    "test_oracle_parity.py": 25, "test_transform.py": 23,
}


_COUNT = re.compile(r"(\d+) (passed|failed|errors?|skipped)\b")


def summarize_shards(outputs: list[str]) -> str:
    """One pytest-style verdict ("1 failed, 9 passed, 2 skipped, 1 error")
    over the shards' outputs, read from each shard's final summary line —
    errors and skips included, so a shard that errored at collection or
    skipped tests cannot hide behind a bare "N passed"."""
    totals = {"failed": 0, "passed": 0, "skipped": 0, "error": 0}
    for text in outputs:
        lines = [ln for ln in text.splitlines() if _COUNT.search(ln)]
        for n, kind in _COUNT.findall(lines[-1]) if lines else ():
            totals["error" if kind.startswith("error") else kind] += int(n)
    return ", ".join(
        f"{n} {kind}{'s' if kind == 'error' and n > 1 else ''}"
        for kind, n in totals.items()
        if n or kind == "passed"
    )


def _is_whole_suite_invocation(config) -> bool:
    if os.environ.get("SPARK_GRAFT_TEST_SHARD") or os.environ.get("SPARK_GRAFT_TEST_SERIAL"):
        return False
    for opt in ("keyword", "markexpr", "collectonly"):
        if config.getoption(opt, default=None):
            return False
    here = os.path.dirname(os.path.abspath(__file__))
    args = config.args
    if not args:
        return False
    for a in args:
        p = os.path.abspath(a.split("::")[0])
        if p != here:  # anything narrower than the whole tests dir runs serially
            return False
    return True


def pytest_cmdline_main(config):
    if not _is_whole_suite_invocation(config):
        return None
    import glob
    import subprocess
    import tempfile
    import time

    here = os.path.dirname(os.path.abspath(__file__))
    files = sorted(glob.glob(os.path.join(here, "test_*.py")))

    def weight(path: str) -> float:
        base = os.path.basename(path)
        if base in _SHARD_WEIGHTS:
            return float(_SHARD_WEIGHTS[base])
        with open(path) as fh:
            n = sum(1 for line in fh if line.lstrip().startswith("def test"))
        return 2.5 * max(n, 1)

    n_shards = min(4, max(1, (os.cpu_count() or 8) // 8))
    if n_shards < 2:
        return None
    bins: list[tuple[float, list[str]]] = [(0.0, []) for _ in range(n_shards)]
    for f in sorted(files, key=weight, reverse=True):
        w, members = min(bins, key=lambda b: b[0])
        i = bins.index((w, members))
        members.append(f)
        bins[i] = (w + weight(f), members)

    passthrough = [a for a in sys.argv[1:] if os.path.abspath(a.split("::")[0]) != here]
    procs = []
    t0 = time.time()
    for i, (_, members) in enumerate(bins):
        if not members:
            continue
        cwd = tempfile.mkdtemp(prefix=f"pytest_shard{i}_")
        out = open(os.path.join(cwd, "out.txt"), "w+")
        repo = os.path.dirname(here)
        env = dict(
            os.environ,
            SPARK_GRAFT_TEST_SHARD=str(i + 1),
            # the repo is on the driver's sys.path via this conftest, but
            # PYTHON WORKERS resolve pickled module references through
            # PYTHONPATH — with the shard cwd moved off the repo, the
            # package must ride the env or every pandas/stateful kernel
            # dies with ModuleNotFoundError
            PYTHONPATH=repo + os.pathsep + os.environ.get("PYTHONPATH", ""),
        )
        procs.append(
            (
                subprocess.Popen(
                    [sys.executable, "-m", "pytest", *members, *passthrough],
                    cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                ),
                out,
                i,
            )
        )
    fail_fast = config.getoption("maxfail", default=0)
    worst = 0
    while any(p.poll() is None for p, _, _ in procs):
        time.sleep(2)
        if fail_fast and any(p.poll() not in (None, 0) for p, _, _ in procs):
            # -x semantics across shards: first failing shard stops the run
            for p, _, _ in procs:
                if p.poll() is None:
                    p.terminate()
            break
    outputs = []
    for p, out, i in procs:
        p.wait()
        worst = max(worst, p.returncode)
        out.seek(0)
        text = out.read()
        out.close()
        tail = "\n".join(text.splitlines()[-30:])
        sys.stdout.write(f"\n---- shard {i + 1}/{len(procs)} (exit {p.returncode}) ----\n{tail}\n")
        outputs.append(text)
    dur = time.time() - t0
    verdict = summarize_shards(outputs)
    sys.stdout.write(
        f"\n============ {verdict} in {dur:.2f}s ({len(procs)} shards) ============\n"
    )
    sys.stdout.flush()
    return worst

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"
SF_BENCH = "/root/testdata/sf0.1"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("kf_task_fhir_etl_spark-tests")
    yield spark
    spark.stop()


def make_duck(sf_dir: str):
    """DuckDB connection with the driver's pre-registered views."""
    import duckdb

    con = duckdb.connect()
    for name in TPCH_TABLES:
        path = table_path(sf_dir, name)
        if os.path.exists(path):
            con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


@pytest.fixture(scope="session")
def duck_smoke():
    return make_duck(SF_SMOKE)


def normalize_rows(rows, ndigits: int = 6):
    """Order-insensitive, float-tolerant canonical form for row comparison."""
    out = []
    for row in rows:
        canon = []
        for v in row:
            if isinstance(v, float):
                canon.append(round(v, ndigits))
            else:
                canon.append(v)
        out.append(tuple(canon))
    return sorted(out, key=repr)
