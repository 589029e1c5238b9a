"""Mimics the driver's correctness gate locally: every registered query runs
on Spark AND its DuckDB oracle at sf0.001, then row-counts, column names, and
values must match (order-insensitive)."""

from __future__ import annotations

import pytest

from kf_task_fhir_etl_spark import queries as q

from .conftest import SF_SMOKE, normalize_rows


def all_query_names():
    return sorted(q.queries().keys())


# q57's GK degeneracy guard (r06) RAISES at sf0.001 by design: the smallest
# event_type group there holds ~200 rows, under the ≥400 the ±0.005 rank
# band needs. The driver's gate runs at sf0.01 (groups ≥2k), so parity for
# q57 is checked at SF_CORRECTNESS below; at SF_SMOKE we pin the raise —
# a q57 that silently "passes" on a too-small corpus would be the bug.
DEGENERATE_AT_SMOKE = {"q57_approx_sketches": "q57 GK band degenerate"}


@pytest.fixture(scope="module")
def duck_correctness():
    from .conftest import SF_CORRECTNESS, make_duck

    con = make_duck(SF_CORRECTNESS)
    yield con
    con.close()


@pytest.mark.parametrize("name", all_query_names())
def test_query_matches_oracle(name, spark, duck_smoke, request):
    fn = q.queries()[name]
    if name in DEGENERATE_AT_SMOKE:
        from .conftest import SF_CORRECTNESS

        with pytest.raises(Exception, match=DEGENERATE_AT_SMOKE[name]):
            fn(spark, SF_SMOKE).collect()
        sdf = fn(spark, SF_CORRECTNESS)
        # lazy lookup: only this one case pays the sf0.01 DuckDB setup
        duck = request.getfixturevalue("duck_correctness")
    else:
        sdf = fn(spark, SF_SMOKE)
        duck = duck_smoke

    oracle = q.oracle_sql().get(name)
    if oracle is None:
        # driver falls back to rows-only check
        assert len(sdf.collect()) >= 0
        return
    _assert_matches_oracle(name, sdf, duck, oracle)


def _assert_matches_oracle(label, sdf, duck, oracle):
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns
    res = duck.execute(oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = [tuple(r) for r in res.fetchall()]

    assert sorted(spark_cols) == sorted(duck_cols), f"{label}: column mismatch"
    assert len(spark_rows) == len(duck_rows), f"{label}: row count {len(spark_rows)} vs {len(duck_rows)}"

    # align column order by name before value compare (driver sorts by name)
    s_idx = [spark_cols.index(c) for c in sorted(spark_cols)]
    d_idx = [duck_cols.index(c) for c in sorted(duck_cols)]
    s_vals = normalize_rows([tuple(r[i] for i in s_idx) for r in spark_rows])
    d_vals = normalize_rows([tuple(r[i] for i in d_idx) for r in duck_rows])
    mismatches = [(a, b) for a, b in zip(s_vals, d_vals) if a != b]
    assert not mismatches, f"{label}: first value mismatches: {mismatches[:3]}"


def test_fhir_pipelines_repeat_calls_match_oracle(spark, duck_smoke):
    """bench.py runs every gate three times in one session. Each repeat of
    the two ``etl.run_pipeline`` gates rebuilds the pipeline from scratch
    (new transform, new checkpoints, new builder plans), so a repeat must
    still match the oracle exactly as the first call does."""
    for name in ("q85_fhir_full_pipeline", "q115_multi_study_pipeline"):
        for call in (1, 2):
            sdf = q.queries()[name](spark, SF_SMOKE)
            _assert_matches_oracle(f"{name} call {call}", sdf, duck_smoke, q.oracle_sql()[name])


# ---------------------------------------------------------------------------
# sf0.1 spot checks for the two biggest builders (VERDICT r02 #5): a 10× row
# count vs the driver's sf0.01 window catches volume-dependent
# nondeterminism (e.g. collect_set ordering under real parallelism) that the
# small factors can hide. Full-registry sf0.1 parity would double the suite's
# runtime; these two dominate the byte-identical surface.
# ---------------------------------------------------------------------------

SF_BIG = "/root/testdata/sf0.1"


@pytest.fixture(scope="module")
def duck_big():
    import os

    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        p = f"{SF_BIG}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", ["q83_fhir_specimen_json", "q84_fhir_drs_json"])
def test_big_builders_match_oracle_at_sf01(name, spark, duck_big):
    sdf = q.queries()[name](spark, SF_BIG)
    _assert_matches_oracle(f"{name}@sf0.1", sdf, duck_big, q.oracle_sql()[name])
