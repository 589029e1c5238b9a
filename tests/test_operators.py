"""Unit tests for the training-data operators (semantics beyond what the
oracle-parity queries already pin down)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kf_task_fhir_etl_spark.operators import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),  # exact dup
        (3, "the quick brown fox jumps over the lazy dog again and AGAIN?"),  # near dup
        (4, "completely different text about spark query engines at scale"),
        (5, ""),  # empty
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_min_id(docs):
    survivors = dedup.exact_dedup(docs, ["text"], "doc_id")
    ids = {r["doc_id"] for r in survivors.collect()}
    assert ids == {1, 3, 4, 5}


def test_minhash_candidates_find_near_dups(docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_candidates(docs.filter("doc_id < 5")).collect()
    }
    assert (1, 2) in pairs  # identical docs always collide
    assert (1, 4) not in pairs and (2, 4) not in pairs and (3, 4) not in pairs


def test_minhash_dedup_drops_verified_dups(docs):
    survivors = dedup.minhash_dedup(docs.filter("doc_id < 5"), threshold=0.8)
    ids = {r["doc_id"] for r in survivors.collect()}
    assert 1 in ids and 4 in ids
    assert 2 not in ids  # exact dup of 1, jaccard 1.0


def test_simhash_near_dup_distance(docs, spark):
    sig = docs.filter("doc_id in (1,2,3,4)").select(
        "doc_id", dedup.simhash_bits(F.col("text"), 32).alias("s")
    )
    rows = {r["doc_id"]: r["s"] for r in sig.collect()}
    assert rows[1] == rows[2]
    ham = lambda a, b: sum(x != y for x, y in zip(a, b))
    assert ham(rows[1], rows[3]) <= 8
    assert ham(rows[1], rows[4]) > ham(rows[1], rows[3])


def test_simhash_candidates(docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_candidates(docs.filter("doc_id < 5"), bands=16, max_hamming=8).collect()
    }
    assert (1, 2) in pairs


def test_simhash_candidates_rejects_broken_pigeonhole(docs):
    import pytest

    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_candidates(docs, bands=4, max_hamming=8)


def test_verify_jaccard_restrict_broadcast_parity(docs):
    corpus = docs.filter("doc_id < 5")
    cands = dedup.minhash_lsh_candidates(corpus)
    base = {
        (r["id_a"], r["id_b"], r["jacc"])
        for r in dedup.verify_jaccard_pairs(corpus, cands, threshold=0.5).collect()
    }
    restricted = {
        (r["id_a"], r["id_b"], r["jacc"])
        for r in dedup.verify_jaccard_pairs(
            corpus, cands, threshold=0.5, restrict_broadcast=True
        ).collect()
    }
    assert base == restricted and (1, 2, 1.0) in base


def test_jaccard_column(spark):
    df = spark.createDataFrame([(["a", "b", "c"], ["b", "c", "d"])], "a array<string>, b array<string>")
    val = df.select(dedup.jaccard(F.col("a"), F.col("b")).alias("j")).collect()[0]["j"]
    assert abs(val - 0.5) < 1e-9


def test_language_id_heuristic(spark):
    rows = [
        (1, "the cat and the dog of a house is it in"),
        (2, "el perro y la casa de que los en un"),
        (3, "xyzzy qwerty plugh"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["lang"] for r in df.select("doc_id", text.language_id(F.col("text")).alias("lang")).collect()}
    assert got[1] == "en"
    assert got[2] == "es"
    assert got[3] == "und"


def test_rolling_fingerprints_overlap(spark):
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    b = a[:100] + " totally different suffix content here"
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    fps = df.select("doc_id", text.rolling_fingerprints(F.col("text")).alias("fps")).collect()
    sets = {r["doc_id"]: set(r["fps"]) for r in fps}
    assert sets[1] & sets[2], "overlapping prefixes must share fingerprints"


def test_cosine_topk_self_excluded(spark):
    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.cosine_topk(df, df.filter("vec_id = 0"), k=2).collect()
    assert all(r["neighbor_id"] != 0 for r in out)
    assert len(out) == 2


def test_ann_lsh_matches_bruteforce_top1(spark):
    # clustered vectors: LSH must recover the exact nearest neighbor
    base = [1.0] * 8
    rows = [
        (0, base),
        (1, [v + 0.01 for v in base]),  # near-identical to 0
        (2, [-v for v in base]),
        (3, [1.0, -1.0] * 4),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter("vec_id = 0")
    ann = similarity.ann_lsh_topk(df, q, dim=8, k=1, planes=4).collect()
    assert ann and ann[0]["neighbor_id"] == 1


def test_ann_ivf_probe_all_is_exact_and_partial_probe_recalls(spark):
    # deterministic clustered corpus: 3 clusters of 6 vectors in 8 dims
    import math

    rows = []
    for c in range(3):
        center = [math.cos(c * 2.1 + j) for j in range(8)]
        for i in range(6):
            rows.append((c * 6 + i, [v + 0.01 * ((i * 7 + j) % 5) for j, v in enumerate(center)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter("vec_id IN (0, 6, 12)")

    exact = similarity.cosine_topk(df, q, k=3).collect()
    probe_all = similarity.ann_ivf_topk(df, q, nlist=4, nprobe=4, k=3).collect()
    assert [tuple(r) for r in probe_all] == [tuple(r) for r in exact]

    # partial probe: top-1 neighbors live in the query's own cluster, which
    # the nearest probed list contains
    top1 = {r["query_id"]: r["neighbor_id"] for r in exact if r["rank"] == 1}
    partial = similarity.ann_ivf_topk(df, q, nlist=4, nprobe=2, k=1).collect()
    got = {r["query_id"]: r["neighbor_id"] for r in partial}
    recall = sum(got.get(k) == v for k, v in top1.items()) / len(top1)
    assert recall >= 2 / 3

    # Lloyd refinement keeps probe-all exactness (centroids only move)
    refined = similarity.ann_ivf_topk(df, q, nlist=4, nprobe=4, k=3, iters=2).collect()
    assert [tuple(r) for r in refined] == [tuple(r) for r in exact]


def test_multimodal_feature_extraction(spark):
    rows = [
        (1, "image", bytearray(b"\x89PNGfake"), ("image/png", 64, 64, None)),
        (2, "video", bytearray(b"\x00\x00ftypfake"), ("video/mp4", 640, 480, 3000)),
        (3, "image", None, ("image/png", 8, 8, None)),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    feats = multimodal.extract_features(media, dim=8).collect()
    by_id = {r["media_id"]: r for r in feats}
    assert len(by_id[1]["feature"]) == 8
    assert by_id[3]["n_bytes"] == 0
    # deterministic stub: same bytes → same features
    feats2 = multimodal.extract_features(media, dim=8).collect()
    assert {r["media_id"]: r["feature"] for r in feats2} == {r["media_id"]: r["feature"] for r in feats}


def test_multimodal_frame_sample(spark):
    rows = [(2, "video", bytearray(b"v"), ("video/mp4", 640, 480, 3000))]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    frames = multimodal.frame_sample(media, every_ms=1000).collect()
    assert [r["ts_ms"] for r in frames] == [0, 1000, 2000, 3000]


def test_recode_sql_literal_escaping(spark):
    # the recode helpers emit parsed SQL string literals — keys/values with
    # quotes and backslashes must survive round-trip
    from kf_task_fhir_etl_spark.functions.recode import recode, recode_coding

    df = spark.createDataFrame(
        [("Mother's Milk",), ("back\\slash",), ("plain",), (None,)], "v string"
    )
    mapping = {"Mother's Milk": "MM", "back\\slash": "BS"}
    got = {r["v"]: r["out"] for r in df.select("v", recode(F.col("v"), mapping).alias("out")).collect()}
    assert got["Mother's Milk"] == "MM"
    assert got["back\\slash"] == "BS"
    assert got["plain"] is None
    assert got[None] is None

    coding = {"Mother's Milk": ("sys'1", "c\\1", "d1")}
    row = df.filter("v = \"Mother's Milk\"").select(
        recode_coding(F.col("v"), coding).alias("c")
    ).collect()[0]["c"]
    assert (row["system"], row["code"], row["display"]) == ("sys'1", "c\\1", "d1")


def test_approx_sketches_error_bounds(spark):
    """q57's contract: the in-query within-bound booleans come out TRUE for
    working sketches (HLL within max(5%, 5) of exact; each GK quantile
    inside the ±0.005 rank band), and the exact columns match an
    independently computed count. Runs at sf0.01 — the band needs
    n ≳ 400 per group to be non-degenerate (q57 docstring)."""
    from kf_task_fhir_etl_spark.training_queries import q57_approx_sketches

    sf = "/root/testdata/sf0.01"
    rows = {r["event_type"]: r for r in q57_approx_sketches(spark, sf).collect()}
    ev = spark.read.parquet(f"{sf}/events.parquet")
    exact = {
        r["event_type"]: r["users"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("users"))
        .collect()
    }
    assert set(rows) == set(exact)
    for et, row in rows.items():
        assert row["exact_users"] == exact[et]
        assert row["users_within_bound"] is True, (et, row)
        assert row["quantiles_within_bound"] is True, (et, row)
        assert row["p50"] < row["p90"] < row["p99"]


def test_lsh_neardup_recall_floor(spark):
    """q88's contract: OR-amplified LSH near-dup (8 tables x 3 planes)
    recovers >= 0.8 of the exact pair set at threshold 0.4, and every LSH
    pair is a true pair (precision 1.0 — in-bucket verification is exact)."""
    from kf_task_fhir_etl_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = similarity.embedding_neardup_pairs(emb, threshold=0.4).select("id_a", "id_b")
    lsh = similarity.embedding_neardup_lsh(
        emb, threshold=0.4, dim=64, planes=3, tables=8
    ).select("id_a", "id_b")
    n_exact = exact.count()
    n_lsh = lsh.count()
    n_hits = lsh.join(exact, ["id_a", "id_b"], "leftsemi").count()
    assert n_hits == n_lsh  # precision 1.0: LSH pairs ⊆ exact pairs
    if n_exact:
        assert n_hits / n_exact >= 0.8, (n_hits, n_exact)


def test_deterministic_split_stable_and_near_frac(spark):
    from kf_task_fhir_etl_spark.operators.sampling import deterministic_split

    docs = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    full = {r["doc_id"]: r["split"] for r in deterministic_split(docs, "doc_id").collect()}
    # near the requested fraction (md5 is uniform; 2000 draws, ±4%)
    frac = sum(1 for v in full.values() if v == "train") / len(full)
    assert 0.76 < frac < 0.84
    # incremental-ingest stability: assignments on a subset are unchanged
    sub = {r["doc_id"]: r["split"] for r in deterministic_split(docs.filter("doc_id < 500"), "doc_id").collect()}
    assert all(full[k] == v for k, v in sub.items())


def test_quota_sample_bounds_and_determinism(spark):
    from kf_task_fhir_etl_spark.operators.sampling import quota_sample

    df = spark.createDataFrame(
        [(i, f"src_{i % 3}") for i in range(300)], "doc_id long, source string"
    )
    kept1 = sorted((r["source"], r["doc_id"]) for r in quota_sample(df, "source", "doc_id", 10).collect())
    assert len(kept1) == 30
    # repartitioning must not change the chosen set (order key is the md5, not arrival)
    kept2 = sorted(
        (r["source"], r["doc_id"])
        for r in quota_sample(df.repartition(13), "source", "doc_id", 10).collect()
    )
    assert kept1 == kept2


def test_chunk_text_covers_and_overlaps(spark):
    from kf_task_fhir_etl_spark.operators.sampling import chunk_text

    df = spark.createDataFrame([(1, "a" * 250), (2, ""), (3, None)], "doc_id long, text string")
    rows = chunk_text(df, "text", size=100, stride=80).orderBy("doc_id", "chunk_start").collect()
    one = [r for r in rows if r["doc_id"] == 1]
    # starts 1, 81, 161, 241; reconstruction: stitching strides re-covers the text
    assert [r["chunk_start"] for r in one] == [1, 81, 161, 241]
    text = "a" * 250
    rebuilt = one[0]["chunk"] + "".join(r["chunk"][20:] for r in one[1:])
    assert rebuilt == text
    # consecutive chunks overlap by size-stride
    assert all(
        a["chunk"][80:] == b["chunk"][: len(a["chunk"]) - 80]
        for a, b in zip(one, one[1:])
    )
    # empty and null text keep one empty chunk each
    assert [(r["doc_id"], r["chunk_start"], r["chunk"]) for r in rows if r["doc_id"] > 1] == [
        (2, 1, ""),
        (3, 1, ""),
    ]


def test_connected_components_multihop_chain(spark):
    """A---B, B---C, C---D with no direct A---D edge must still land in one
    component (transitivity), and disjoint subgraphs must stay apart."""
    from kf_task_fhir_etl_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(8)], "node long")
    edges = spark.createDataFrame(
        [(3, 1), (1, 2), (2, 0), (5, 6)], "id_a long, id_b long"
    )
    got = {r["node"]: r["component"] for r in connected_components(nodes, edges).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5, 7: 7}


def test_connected_components_guard_raises_instead_of_splitting(spark):
    """A 40-node path needs 39 productive rounds. Under max_iter=25 the
    labels have travelled only 25 hops, so returning them would split the
    one component: the call must raise, releasing every checkpoint it
    pinned. With room it returns the single component."""
    from kf_task_fhir_etl_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(40)], "node long")
    edges = spark.createDataFrame([(i, i + 1) for i in range(39)], "id_a long, id_b long")
    jsc = spark.sparkContext._jsc.sc()
    before = {info.id() for info in jsc.getRDDStorageInfo()}
    with pytest.raises(RuntimeError, match="max_iter"):
        connected_components(nodes, edges, max_iter=25)
    assert {info.id() for info in jsc.getRDDStorageInfo()} <= before
    got = {r["component"] for r in connected_components(nodes, edges, max_iter=50).collect()}
    assert got == {0}


def test_fixpoint_operators_job_shape(spark):
    """Pin the Spark job shape of the fixpoint loops
    (graph.iterate_to_fixpoint: one action per round, planned statically).
    On a path of n nodes from node 0, sssp_distances, then
    apply_sssp_inserts with a shortcut onto node 1, then
    connected_components each take n rounds (n - 1 productive + the
    confirmation round); k_core (k=2) of the path closed into a triangle
    at 0-1-2 peels one chain node a round. So one more node adds one
    round to each call.
    Jobs are counted over one job group. Inside the static scope a round
    is ONE job; adaptive execution would submit every shuffle-map and
    broadcast stage as a job of its own (6 per shortest-path round, 7
    per connected-components round). An extra per-round action (a
    separate materialization or frontier count) raises the per-round
    figure."""
    from kf_task_fhir_etl_spark.operators import graph, graph_delta
    from kf_task_fhir_etl_spark.operators.dedup import connected_components

    sc = spark.sparkContext
    source = spark.createDataFrame([(0,)], "node bigint")
    shortcut = spark.createDataFrame([(0, 1, 1)], "src bigint, dst bigint, w bigint")
    triangle = spark.createDataFrame([(0, 2)], "id_a bigint, id_b bigint")

    def jobs(n: int) -> int:
        heavy = spark.createDataFrame(
            [(i, i + 1, 100) for i in range(n - 1)], "src bigint, dst bigint, w bigint"
        )
        nodes = spark.createDataFrame([(i,) for i in range(n)], "node bigint")
        pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "id_a bigint, id_b bigint")
        group = f"fixpoint-job-shape-{n}"
        sc.setJobGroup(group, group)
        try:
            dist = graph.sssp_distances(heavy, source)
            dist = graph_delta.apply_sssp_inserts(dist, heavy.unionByName(shortcut), shortcut)
            comps = connected_components(nodes, pairs)
            core = graph.k_core(pairs.unionByName(triangle), 2, "id_a", "id_b")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert {r["node"]: r["dist"] for r in dist.collect()} == {
            i: 1 + 100 * (i - 1) if i else 0 for i in range(n)
        }
        assert {r["component"] for r in comps.collect()} == {0}
        assert {(r["node"], r["deg"]) for r in core.collect()} == {(0, 2), (1, 2), (2, 2)}
        return len(sc.statusTracker().getJobIdsForGroup(group))

    five, six = jobs(5), jobs(6)
    assert six - five == 1 + 1 + 1 + 1
    # sssp: 5 rounds + the source state's distinct, planned adaptively
    # before the scope opens; apply: 5 rounds + the broadcast of the
    # inserted edges in its seed round; components: 5 rounds; k_core: 3
    # rounds (2 peels + the confirmation) + the edge normalization's
    # distinct, planned adaptively before the scope opens, + the count of
    # the normalized edges
    assert five == 6 + 6 + 5 + 5


def _session_plan_settings(spark) -> tuple[str, str]:
    return (
        spark.conf.get("spark.sql.adaptive.enabled"),
        spark.conf.get("spark.sql.shuffle.partitions"),
    )


def test_fixpoint_restores_session_plan_settings(spark):
    """A fixpoint plans its rounds with adaptive execution off and a
    data-sized shuffle partition count; both session settings hold their
    prior values once it returns."""
    from kf_task_fhir_etl_spark.operators import graph

    before = _session_plan_settings(spark)
    edges = spark.createDataFrame([(0, 1, 2), (1, 2, 3)], "src bigint, dst bigint, w bigint")
    source = spark.createDataFrame([(0,)], "node bigint")
    got = {r["node"]: r["dist"] for r in graph.sssp_distances(edges, source).collect()}
    assert got == {0: 0, 1: 2, 2: 5}
    assert _session_plan_settings(spark) == before


def test_fixpoint_guard_restores_session_plan_settings(spark):
    """The connected-components guard raising on the 40-node path
    (max_iter=25) leaves both session plan settings as they were."""
    from kf_task_fhir_etl_spark.operators.dedup import connected_components

    before = _session_plan_settings(spark)
    nodes = spark.createDataFrame([(i,) for i in range(40)], "node long")
    edges = spark.createDataFrame([(i, i + 1) for i in range(39)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="max_iter"):
        connected_components(nodes, edges, max_iter=25)
    assert _session_plan_settings(spark) == before


def test_relaxation_round_reads_staged_edges_without_exchange(spark, monkeypatch):
    """Pin the executed plan of the relaxation rounds: the staged edge
    set is hash-partitioned on ``s`` once, so the frontier join reads it
    with no Exchange above its scan and only the frontier side is
    shuffled. Planned adaptively, a checkpoint reports no partitioning
    and every round re-shuffled the whole edge list."""
    import re

    from pyspark.sql.classic.dataframe import DataFrame

    from kf_task_fhir_etl_spark.operators import graph

    plans: list[str] = []
    checkpoint = DataFrame.localCheckpoint

    def capture(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return checkpoint(self, *args, **kwargs)

    edges = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(5)], "src bigint, dst bigint, w bigint"
    )
    source = spark.createDataFrame([(0,)], "node bigint")
    monkeypatch.setattr(DataFrame, "localCheckpoint", capture)
    got = {r["node"]: r["dist"] for r in graph.sssp_distances(edges, source).collect()}
    monkeypatch.undo()
    assert got == {i: i for i in range(6)}

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-|"))

    rounds = [p for p in plans if "__cand" in p]
    assert len(rounds) == 6  # 5 productive rounds + the confirmation round
    for plan in rounds:
        lines = plan.splitlines()
        scan = next(
            i for i, ln in enumerate(lines) if re.search(r"Scan ExistingRDD\[s#\d+L?,t#", ln)
        )
        above, d = [], depth(lines[scan])
        for ln in reversed(lines[:scan]):
            if depth(ln) < d:
                if "Join" in ln:
                    break
                above.append(ln.strip())
                d = depth(ln)
        assert not [ln for ln in above if "Exchange" in ln], plan
        assert "Exchange" in plan  # the frontier side is still shuffled


def test_lsh_max_bucket_path_matches_minimal_band_path(spark):
    """Pins the equivalence VERDICT r01 asked to protect: the ``max_bucket``
    join+distinct path and the default minimal-band path produce the IDENTICAL
    pair set whenever no bucket exceeds the cap (with a cap larger than the
    corpus nothing can be dropped). A silent divergence between the two code
    paths would otherwise only surface on degenerate corpora."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kwargs = dict(num_hashes=8, bands=4, shingle_size=5, max_chars=200)
    default_pairs = sorted(
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_candidates(docs, **kwargs).collect()
    )
    capped_pairs = sorted(
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_candidates(docs, max_bucket=10**9, **kwargs).collect()
    )
    assert default_pairs == capped_pairs and default_pairs


def test_verify_jaccard_join_form_matches_broadcast_kernel(spark):
    """The scale-safe relational default and the opt-in broadcast kernel must
    agree pair-for-pair (same xxhash64 token sets, same threshold semantics)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cands = dedup.minhash_lsh_candidates(docs, num_hashes=8, bands=4, shingle_size=5, max_chars=200)
    join_form = sorted(
        map(tuple, dedup.verify_jaccard_pairs(docs, cands, threshold=0.5).collect())
    )
    kernel_form = sorted(
        map(
            tuple,
            dedup.verify_jaccard_pairs(docs, cands, threshold=0.5, small_corpus=True).collect(),
        )
    )
    assert join_form == kernel_form and join_form


def test_embedding_neardup_blocked_matches_broadcast_kernel(spark):
    """The distributed block-pair default must reproduce the broadcast
    kernel's exact pair set for any block count (every pair meets in exactly
    one block-pair group)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    kernel = sorted(
        map(tuple, similarity.embedding_neardup_pairs(emb, threshold=0.4, broadcast_kernel=True).collect())
    )
    for blocks in (1, 3, 8):
        blocked = sorted(
            map(tuple, similarity.embedding_neardup_pairs(emb, threshold=0.4, blocks=blocks).collect())
        )
        assert blocked == kernel
    assert kernel


def test_embedding_neardup_lsh_is_subset_of_exact(spark):
    """LSH bucketing may only MISS pairs, never invent them; at a high
    threshold near-identical vectors share most hyperplane signs, so recall
    should be substantial."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"]) for r in similarity.embedding_neardup_pairs(emb, threshold=0.4).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_neardup_lsh(emb, threshold=0.4, dim=64, planes=3).collect()
    }
    assert approx <= exact
    assert approx  # non-trivial at planes=3


def test_incremental_rollup_merge_and_reroll_match_direct(spark):
    """Mergeable-rollup invariants: (1) rollup(A) ⊎ rollup(B) ≡ rollup(A∪B)
    — counts/sums exactly, HLL sketches register-exactly (union takes the
    per-register max, so merged state is identical to single-pass state);
    (2) re-rolling the stored hourly rollup to day grain ≡ day rollup of
    raw events; (3) the sketch estimate tracks exact distinct counts."""
    from kf_task_fhir_etl_spark.catalog import load_table
    from kf_task_fhir_etl_spark.operators import rollup

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    a = ev.filter(F.col("event_id") % 2 == 0)
    b = ev.filter(F.col("event_id") % 2 != 0)

    def rows(df):
        return sorted(
            (
                (r["bucket"], r["event_type"], r["n"], round(r["sum_value"], 4), r["approx_users"])
                for r in rollup.finalize_rollup(df).collect()
            ),
        )

    merged = rollup.merge_rollups(
        rollup.time_bucket_rollup(a, "hour"), rollup.time_bucket_rollup(b, "hour")
    )
    assert rows(merged) == rows(rollup.time_bucket_rollup(ev, "hour"))

    daily_rerolled = rollup.reroll_to_grain(merged, "day")
    assert rows(daily_rerolled) == rows(rollup.time_bucket_rollup(ev, "day"))

    exact = {
        (r["bucket"], r["event_type"]): r["exact_users"]
        for r in ev.groupBy(F.date_trunc("day", "ts").alias("bucket"), "event_type")
        .agg(F.countDistinct("user_id").alias("exact_users"))
        .collect()
    }
    for bucket, etype, _, _, approx in rows(daily_rerolled):
        assert abs(approx - exact[(bucket, etype)]) <= max(3, 0.05 * exact[(bucket, etype)])


def test_ivf_index_partition_pruning_and_parity(spark, tmp_path):
    """The persisted IVF index must (1) reproduce brute force when every
    list is probed, (2) reproduce the in-memory IVF operator at partial
    nprobe (same deterministic centroids), and (3) plan the probed-list
    filter as a PARTITION filter — unprobed inverted lists are pruned at
    planning time, never read."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf")
    similarity.ivf_build_index(emb, path, nlist=8)
    queries = emb.filter(F.col("vec_id") < 5)

    exact = [tuple(r) for r in similarity.cosine_topk(emb, queries, k=3).collect()]
    probe_all = [
        tuple(r) for r in similarity.ann_ivf_topk_indexed(spark, path, queries, nprobe=8, k=3).collect()
    ]
    assert probe_all == exact

    in_memory = [
        tuple(r) for r in similarity.ann_ivf_topk(emb, queries, nlist=8, nprobe=2, k=3).collect()
    ]
    indexed = [
        tuple(r) for r in similarity.ann_ivf_topk_indexed(spark, path, queries, nprobe=2, k=3).collect()
    ]
    assert indexed == in_memory

    plan = (
        similarity.ann_ivf_topk_indexed(spark, path, queries, nprobe=2, k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "list_id" in plan


def test_pack_sequences_boundaries_and_determinism(spark):
    """Contiguous-fill packing: exclusive cumsum drives seq assignment, a
    doc starting before a boundary straddles it (belongs to the sequence of
    its start offset), and the assignment is invariant to input
    partitioning/order."""
    from kf_task_fhir_etl_spark.operators.sampling import pack_sequences

    rows = [("s", i, t) for i, t in enumerate([60, 60, 60, 10, 100, 5])]
    df = spark.createDataFrame(rows, "grp string, doc_id long, n_tok long")
    packed = {
        r["doc_id"]: (r["seq_id"], r["seq_offset"])
        for r in pack_sequences(df, 100, "grp", "doc_id", "n_tok").collect()
    }
    # cum_excl: 0, 60, 120, 180, 190, 290
    assert packed == {0: (0, 0), 1: (0, 60), 2: (1, 20), 3: (1, 80), 4: (1, 90), 5: (2, 90)}

    shuffled = {
        r["doc_id"]: (r["seq_id"], r["seq_offset"])
        for r in pack_sequences(df.repartition(7).sortWithinPartitions(F.desc("n_tok")),
                                100, "grp", "doc_id", "n_tok").collect()
    }
    assert shuffled == packed


def test_operators_handle_degenerate_inputs(spark):
    """Empty/degenerate inputs must produce empty (or identity) results, not
    errors — the difference between an operator and a demo."""
    from kf_task_fhir_etl_spark.operators import rollup
    from kf_task_fhir_etl_spark.operators.sampling import pack_sequences, stratified_sample

    docs = spark.createDataFrame([], "doc_id long, text string, source string")
    # dedup / candidates over an empty corpus
    assert dedup.exact_dedup(docs, ["text"], "doc_id").count() == 0
    assert dedup.minhash_lsh_candidates(docs).count() == 0
    # verification with empty candidate set
    empty_pairs = spark.createDataFrame([], "id_a long, id_b long")
    some_docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    assert dedup.verify_jaccard_pairs(some_docs, empty_pairs).count() == 0
    # connected components with no edges → every node its own component
    nodes = spark.createDataFrame([(1,), (2,)], "node long")
    comps = {
        (r["node"], r["component"])
        for r in dedup.connected_components(nodes, empty_pairs, node_col="node").collect()
    }
    assert comps == {(1, 1), (2, 2)}
    # stratified sampling: stratum absent from fractions → dropped by default
    d2 = spark.createDataFrame([(1, "x", "keep"), (2, "y", "drop")], "doc_id long, text string, source string")
    kept = stratified_sample(d2, "source", "doc_id", fractions={"keep": 1.0})
    assert [r["source"] for r in kept.collect()] == ["keep"]
    # packing an empty frame
    empty_tok = spark.createDataFrame([], "grp string, doc_id long, n_tok long")
    assert pack_sequences(empty_tok, 100, "grp", "doc_id", "n_tok").count() == 0
    # merging a rollup with an EMPTY increment is the identity
    ev = spark.createDataFrame(
        [(1, "2024-01-01 00:10:00", 7, "click", 1.5)],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    base = rollup.time_bucket_rollup(ev, "hour")
    empty_ev = ev.filter(F.lit(False))
    merged = rollup.merge_rollups(base, rollup.time_bucket_rollup(empty_ev, "hour"))
    want = [(r["bucket"], r["event_type"], r["n"], r["sum_value"]) for r in base.collect()]
    got = [(r["bucket"], r["event_type"], r["n"], r["sum_value"]) for r in merged.collect()]
    assert got == want


def test_stratified_sample_thresholds_nest(spark):
    """Core guarantee of deterministic fractional sampling: the kept set at
    a smaller fraction is a SUBSET of the kept set at any larger fraction —
    re-mixing a corpus never swaps documents in and out."""
    from kf_task_fhir_etl_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kept = {}
    for frac in (0.25, 0.5, 1.0):
        kept[frac] = {
            r["doc_id"]
            for r in stratified_sample(
                docs, "source", "doc_id", fractions={}, default_frac=frac
            ).collect()
        }
    assert kept[0.25] <= kept[0.5] <= kept[1.0]
    assert kept[1.0] == {r["doc_id"] for r in docs.collect()}
    assert 0 < len(kept[0.25]) < len(kept[0.5]) < len(kept[1.0])


def test_rolling_fingerprint_rows_matches_array_form(spark):
    """The codegen'd explode form and the interpreted array form must emit
    the identical (doc, fingerprint) set."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    array_form = {
        (r["doc_id"], r["fp"])
        for r in docs.select(
            "doc_id", F.explode(text.rolling_fingerprints(F.col("text"))).alias("fp")
        ).collect()
    }
    row_form = {
        (r["id"], r["fp"]) for r in text.rolling_fingerprint_rows(docs).collect()
    }
    assert row_form == array_form and row_form


def test_quality_metrics_known_values(spark):
    """Hand-computed metric values: 6 words, 'a' appears 3x -> top_word 0.5;
    bigrams [a b, b a, a b, b a, a cat] -> 3 distinct of 5 -> dup 0.4."""
    from kf_task_fhir_etl_spark.operators import filters

    df = spark.createDataFrame([(1, "a b a b a cat"), (2, ""), (3, None)], "id long, text string")
    m = filters.quality_metrics(F.col("text"))
    rows = {r["id"]: r for r in df.select("id", *[e.alias(k) for k, e in m.items()]).collect()}
    r1 = rows[1]
    assert r1["n_words"] == 6
    assert r1["distinct_word_ratio"] == round(3 / 6, 6)
    assert r1["top_word_ratio"] == round(3 / 6, 6)
    assert r1["dup_bigram_ratio"] == round(1 - 3 / 5, 6)
    assert r1["mean_word_len"] == round((1 + 1 + 1 + 1 + 1 + 3) / 6, 6)
    assert r1["alpha_word_ratio"] == 1.0
    for empty_id in (2, 3):
        r = rows[empty_id]
        assert r["n_words"] == 0 and r["top_word_ratio"] == 0.0 and r["dup_bigram_ratio"] == 0.0


def test_gopher_keep_thresholds(spark):
    """keep flips exactly at the documented thresholds."""
    from kf_task_fhir_etl_spark.operators import filters

    good = " ".join(f"w{i}" for i in range(30))          # 30 distinct words
    too_short = "one two three"                           # < min_words
    dominated = " ".join(["spam"] * 25 + ["x", "y", "z", "q", "r"])  # top_word 25/30
    df = spark.createDataFrame(
        [(1, good), (2, too_short), (3, dominated)], "id long, text string"
    )
    out = {r["id"]: r["keep"] for r in filters.apply_quality_filters(df).collect()}
    assert out == {1: True, 2: False, 3: False}


def test_contamination_scores_exact(spark):
    """A doc sharing its full prefix with the eval set scores 1.0; a
    disjoint doc scores 0.0; a half-overlapping doc scores the exact
    fraction of its distinct 5-grams."""
    from kf_task_fhir_etl_spark.operators import filters

    eval_docs = spark.createDataFrame([(100, "e1 e2 e3 e4 e5 e6")], "doc_id long, text string")
    docs = spark.createDataFrame(
        [
            (1, "e1 e2 e3 e4 e5 e6"),       # identical: 2 grams, both hit
            (2, "x1 x2 x3 x4 x5 x6"),       # disjoint: 2 grams, none hit
            (3, "e1 e2 e3 e4 e5 z6"),       # grams: [e1..e5 hit, e2..z6 miss]
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["total_ngrams"], r["contaminated_ngrams"], r["contamination_ratio"])
        for r in filters.contamination_scores(docs, eval_docs, n=5).collect()
    }
    assert got == {1: (2, 2, 1.0), 2: (2, 0, 0.0), 3: (2, 1, 0.5)}
    # hashed and string-keyed paths agree
    got_str = {
        r["doc_id"]: r["contamination_ratio"]
        for r in filters.contamination_scores(docs, eval_docs, n=5, use_hash=False).collect()
    }
    assert got_str == {k: v[2] for k, v in got.items()}
