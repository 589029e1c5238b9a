r"""Corpus-construction and incremental-ETL query gates (q91-q112): TF-IDF
keywords, PII redaction, semantic dedup, mixture/importance/budget
sampling, bucketed co-located joins, streaming dedup + quality filtering +
static-join enrichment, sharded deterministic shuffling, span dedup,
percentile quality filtering, the composed corpus build, SCD2 history
maintenance, PageRank, data profiling, unpivot, fuzzy matching, and KMV
sketches — each paired with a DuckDB oracle recomputing the identical
engine-portable formulas (or, for q101, deriving the same result by an
independent method).
"""

from __future__ import annotations

import os
import re
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kf_task_fhir_etl_spark.catalog import load_table
from kf_task_fhir_etl_spark.operators import bucketing, corpus, scd, semantic
from kf_task_fhir_etl_spark.queries import register

# ---------------------------------------------------------------------------
# q91 — TF-IDF keyword extraction (source-level top terms)
# ---------------------------------------------------------------------------


@register(
    "q91_tfidf_keywords",
    oracle=r"""
    WITH toks AS (
      SELECT source AS grp,
             UNNEST(string_split_regex(trim(lower(text)), '\s+')) AS term
      FROM documents WHERE len(trim(text)) > 0
    ), tf AS (
      SELECT grp, term, COUNT(*) AS tf FROM toks GROUP BY grp, term
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (
      SELECT COUNT(DISTINCT grp) AS n_groups FROM tf
    ), scored AS (
      SELECT grp, tf.term AS term, tf, df,
             ROUND(tf * ln((n_groups + 1.0) / (df + 1.0)), 6) AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT grp AS "group", rnk, term, tf, df, tfidf FROM (
      SELECT grp, term, tf, df, tfidf,
             ROW_NUMBER() OVER (PARTITION BY grp ORDER BY tfidf DESC, term ASC) AS rnk
      FROM scored)
    WHERE rnk <= 5
    ORDER BY "group", rnk
    """,
)
def q91_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus keyword extraction (operators/corpus.py::tfidf): each source is
    one term-frequency document; smoothed IDF weighs down boilerplate terms
    shared by every source; top-5 per source by score. The only corpus-sized
    intermediate is the (group, term, tf) table — df/N are aggregates OF
    that table, so at 100 TB the raw text is scanned once. The oracle
    recomputes tf·ln((N+1)/(df+1)) with the same double ops and 6dp
    rounding before the rank comparison."""
    docs = load_table(spark, sf_dir, "documents")
    scored = corpus.tfidf(docs, "source")
    return corpus.top_terms(scored, 5).orderBy("group", "rnk")


# ---------------------------------------------------------------------------
# q92 — PII redaction
# ---------------------------------------------------------------------------


@register(
    "q92_pii_redaction",
    oracle=r"""
    WITH aug AS (
      SELECT doc_id, text
        || CASE WHEN doc_id % 7 = 0
                THEN ' contact user' || doc_id || '@example.com please' ELSE '' END
        || CASE WHEN doc_id % 11 = 0
                THEN ' host 10.0.' || (doc_id % 256) || '.' || (doc_id % 250) || ' up' ELSE '' END
        || CASE WHEN doc_id % 13 = 0
                THEN ' call 555-201-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END
        AS aug_text
      FROM documents)
    -- counts mirror the engine's sequential attribution: each category is
    -- counted on the text AFTER the previous categories' replacements
    SELECT doc_id,
           len(regexp_extract_all(aug_text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
           len(regexp_extract_all(r1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
           len(regexp_extract_all(r2, '\b\d{3}-\d{3}-\d{4}\b')) AS n_phone,
           md5(regexp_replace(r2, '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g')) AS redacted_md5
    FROM (
      SELECT doc_id, aug_text,
             regexp_replace(aug_text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS r1,
             regexp_replace(r1,
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS r2
      FROM aug)
    ORDER BY doc_id
    """,
)
def q92_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub gate (operators/corpus.py::redact_pii): deterministic
    synthetic PII (emails / IPv4 / phone numbers derived from doc_id) is
    appended to a subset of documents, then the redactor must find and
    replace every instance — per-category counts AND the md5 of the fully
    redacted text are hash-checked, so both a missed entity and an
    over-eager replacement (false positive on organic text) fail the gate.
    The whole pass is one codegen projection (regexp_count +
    regexp_replace), zero shuffle — the map-side scrub a 100 TB pipeline
    runs alongside quality filtering. Patterns stay in the ASCII subset
    where Java regex and DuckDB's RE2 agree."""
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 7 == 0,
                F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com please")),
            ).otherwise(F.lit("")),
            F.when(
                did % 11 == 0,
                F.concat(
                    F.lit(" host 10.0."),
                    (did % 256).cast("string"),
                    F.lit("."),
                    (did % 250).cast("string"),
                    F.lit(" up"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 13 == 0,
                F.concat(
                    F.lit(" call 555-201-"),
                    F.lpad((did % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("aug_text"),
    )
    red = corpus.redact_pii(aug, "aug_text", "redacted")
    return red.select(
        "doc_id",
        "n_email",
        "n_ip",
        "n_phone",
        F.md5(F.col("redacted")).alias("redacted_md5"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q93 — semantic (cluster-bounded) dedup
# ---------------------------------------------------------------------------


@register(
    "q93_semantic_dedup",
    oracle="""
    WITH cent AS (
      SELECT label, list(cavg ORDER BY dim) AS cvec FROM (
        SELECT label, dim, ROUND(AVG(val), 4) + 0.0 AS cavg
        FROM (SELECT label, UNNEST(embedding) AS val,
                     generate_subscripts(embedding, 1) AS dim
              FROM embeddings)
        GROUP BY label, dim)
      GROUP BY label
    ), assigned AS (
      SELECT vec_id, embedding, cluster FROM (
        SELECT e.vec_id, e.embedding, c.label AS cluster,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], c.cvec), 6) DESC,
                          c.label ASC) AS rn
        FROM embeddings e CROSS JOIN cent c)
      WHERE rn = 1
    ), pairs AS (
      SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
             ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
      FROM assigned a JOIN assigned b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
    SELECT cluster, id_b AS vec_id, MAX(cos) AS max_cos
    FROM pairs WHERE cos >= 0.4
    GROUP BY cluster, id_b
    ORDER BY cluster, vec_id
    """,
)
def q93_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup gate (operators/semantic.py): embeddings are assigned to
    their nearest per-label prototype (broadcast K×dim table, 6dp-rounded
    cosine argmax, min-label tie-break), then near-dup pairs are searched
    ONLY within clusters and every doc with a smaller-id neighbor at
    cosine ≥ 0.4 is dropped. Output is the dropped set with each doc's
    strongest in-cluster neighbor similarity — assignment, pair cosine,
    and the survivor rule are all recomputed by the oracle, so a single
    flipped cluster assignment fails the hash. Scale shape: pair space is
    cluster-bounded (the SemDeDup argument: duplicates co-embed, so
    confining the O(m²) join to clusters loses almost nothing while
    dividing the work by K)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return semantic.semantic_dedup_dropped(emb, threshold=0.4).orderBy("cluster", "vec_id")


# ---------------------------------------------------------------------------
# q94 — temperature-scaled mixture resampling
# ---------------------------------------------------------------------------


@register(
    "q94_mixture_resample",
    oracle="""
    WITH stats AS (
      SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
    ), d AS (
      SELECT SUM(POWER(n, 0.5)) AS denom FROM stats
    ), quotas AS (
      SELECT lang, LEAST(n, CAST(FLOOR(300.0 * ROUND(POWER(n, 0.5) / denom, 6)) AS BIGINT)) AS quota
      FROM stats CROSS JOIN d
    ), ranked AS (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
      FROM documents)
    SELECT r.lang, r.doc_id FROM ranked r JOIN quotas q USING (lang)
    WHERE rn <= quota ORDER BY lang, doc_id
    """,
)
def q94_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture gate (operators/corpus.py::mixture_resample): the
    corpus is resampled toward the α=0.5 temperature mixture over languages
    (w ∝ n^α — the multilingual-pretraining rule that keeps head languages
    from drowning tail ones), with membership decided by deterministic
    md5 rank within each language. The gate hash-checks the EXACT kept row
    set, so quota arithmetic (6dp-rounded weights before the floor) and
    the rank order must both match the oracle. One window on the group key
    plus a broadcast quota join — no RNG, no driver state, snapshot-stable
    under incremental ingest."""
    docs = load_table(spark, sf_dir, "documents")
    kept = corpus.mixture_resample(docs, "lang", "doc_id", alpha=0.5, target_total=300)
    return kept.select("lang", "doc_id").orderBy("lang", "doc_id")


# ---------------------------------------------------------------------------
# q95 — bucketed co-located join (shuffle-once, join-free-forever)
# ---------------------------------------------------------------------------


def _content_fingerprint(sf_dir: str, tables: list[str]) -> str:
    """Shared content tag — see catalog.content_fingerprint (hoisted there
    in r04 so the bucketed/partitioned/flush-stream stagers cannot
    drift)."""
    from kf_task_fhir_etl_spark.catalog import content_fingerprint

    return content_fingerprint(sf_dir, tables)


@register(
    "q95_bucketed_colocated_join",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_items,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q95_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table join gate (operators/bucketing.py): lineitem and
    orders are written ONCE as 16-bucket tables hash-partitioned and
    sorted on the order key, then joined with zero Exchange under the join
    — ``require_no_shuffle_join`` raises if either side re-shuffles, so
    the gate fails (errors, not mis-hashes) the moment the layout stops
    being exploited. This is the 100 TB pattern for fact-fact joins that
    recur every run: pay the orderkey shuffle at ingest, never again.
    The revenue aggregate is hash-checked against the plain-join oracle,
    proving bucketing is invisible to results."""
    # the tag carries a CONTENT fingerprint (size+mtime of the source
    # parquet) on top of the sf_dir basename: if the test data is
    # regenerated in place, the fingerprint changes and a fresh bucketed
    # copy is written instead of silently joining the stale tables a bare
    # tableExists probe would have reused (stale copies in /tmp are
    # garbage, never read)
    tag = re.sub(r"[^A-Za-z0-9]", "_", os.path.basename(sf_dir.rstrip("/")))
    tag = f"{tag}_{_content_fingerprint(sf_dir, ['lineitem', 'orders'])}"
    ltab, otab = f"kf_li_bucketed_{tag}", f"kf_ord_bucketed_{tag}"
    base = os.path.join(tempfile.gettempdir(), "kf_spark_bucketed")
    if not spark.catalog.tableExists(ltab):
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        )
        bucketing.write_bucketed(li, ltab, "l_orderkey", buckets=16, path=os.path.join(base, ltab))
    if not spark.catalog.tableExists(otab):
        orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
        bucketing.write_bucketed(
            orders, otab, "o_orderkey", buckets=16, path=os.path.join(base, otab)
        )
    joined = bucketing.bucketed_join(
        spark, ltab, otab, left_key="l_orderkey", right_key="o_orderkey", hint="merge"
    )
    out = (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
        .orderBy("o_orderpriority")
    )
    bucketing.require_no_shuffle_join(out)
    return out


# ---------------------------------------------------------------------------
# q96 — streaming deduplication
# ---------------------------------------------------------------------------


@register(
    "q96_streaming_dedup",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q96_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup gate: the event stream is unioned with itself
    (every event arrives exactly twice — the at-least-once delivery shape)
    and ``dropDuplicatesWithinWatermark`` on event_id must collapse each
    pair back to one row, bounded by the 2-hour watermark instead of
    unbounded keep-all-keys state. The deduped sink aggregates to
    per-type counts/sums, which the batch oracle recomputes from the
    ORIGINAL (unduplicated) table — any leaked duplicate doubles a count
    and fails the hash. State at 100 TB: keys expire with the watermark,
    so memory is bounded by the duplication window, not the stream
    length."""
    from kf_task_fhir_etl_spark.streaming.events import read_events_stream, run_stream_to_memory

    ev = read_events_stream(spark, sf_dir)
    doubled = ev.union(read_events_stream(spark, sf_dir))
    deduped = doubled.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(["event_id"])
    run_stream_to_memory(deduped, "q96_dedup_mem", output_mode="append")
    return (
        spark.table("q96_dedup_mem")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q97 — sharded deterministic shuffle (training order)
# ---------------------------------------------------------------------------


@register(
    "q97_shuffle_shards",
    oracle="""
    WITH h AS (
      SELECT doc_id, md5('1:' || doc_id::VARCHAR) AS hh FROM documents
    ), s AS (
      SELECT doc_id, hh, ('0x' || substr(hh, 1, 4))::INT % 16 AS shard FROM h)
    SELECT doc_id, shard,
           ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hh, doc_id) AS pos
    FROM s ORDER BY shard, pos
    """,
)
def q97_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order gate (operators/corpus.py::
    shuffle_shards): every document gets a (shard, position) from the md5
    of (seed, key) — a reproducible global shuffle with NO global sort:
    one hash shuffle on the shard key and a per-shard window, parallelism
    = shard count. The oracle recomputes every shard id and rank, so the
    gate pins both the hash layout and the within-shard order; epoch seeds
    re-key the hash for fresh orders over the same corpus. Contrast
    ``orderBy(rand())``: nondeterministic per run/retry and a full
    range-partitioned sort at 100 TB."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return corpus.shuffle_shards(docs, "doc_id", shards=16, seed=1).orderBy("shard", "pos")


# ---------------------------------------------------------------------------
# q98 — cross-corpus span dedup (repeated-passage removal)
# ---------------------------------------------------------------------------

_SPANS_SQL = r"""
    wtab AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      FROM {src} WHERE len(trim(text)) > 0
    ), spans AS (
      SELECT doc_id, i AS pos,
             array_to_string(w[(i * 10 + 1):(i * 10 + 10)], ' ') AS span
      FROM wtab, UNNEST(range(0, CAST(ceil(len(w) / 10.0) AS BIGINT))) AS t(i)
    ), firsts AS (
      SELECT doc_id, pos, span,
             ROW_NUMBER() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
      FROM spans
    ), totals AS (
      SELECT doc_id, COUNT(*) AS n_spans FROM spans GROUP BY doc_id
    ), rebuilt AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(span, ' ' ORDER BY pos) AS kept_text
      FROM firsts WHERE rn = 1 GROUP BY doc_id
    )
"""


@register(
    "q98_span_dedup",
    oracle="WITH "
    + _SPANS_SQL.format(src="documents")
    + """
    SELECT d.doc_id,
           COALESCE(t.n_spans, 0) AS n_spans,
           COALESCE(r.n_kept, 0) AS n_kept,
           md5(COALESCE(r.kept_text, '')) AS kept_md5
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN totals t USING (doc_id)
    LEFT JOIN rebuilt r USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def q98_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-passage removal (operators/corpus.py::span_dedup): every
    10-word span that already appeared earlier in the corpus (by (doc, pos)
    order) is cut, and documents are reassembled from their surviving
    spans — the C4/CCNet passage-dedup stage that removes boilerplate and
    mirrored content EXACT dedup can't see (it needs whole-document
    equality) and MinHash only flags (it doesn't excise). The gate hashes
    each doc's span counts AND the md5 of its reassembled text, so a
    single mis-kept or mis-ordered span fails. Plan: map-side span
    explode, one first-occurrence window on the span key, one reassembly
    groupBy — two shuffles total."""
    from kf_task_fhir_etl_spark.operators.parallelism import widen_for_cpu

    # widened (r13, guide §2.5): the span explode + md5 is CPU-dense over a
    # one-file scan; a no-op at scale, 32-way locally
    docs = widen_for_cpu(load_table(spark, sf_dir, "documents"))
    dd = corpus.span_dedup(docs, "doc_id", "text", span_words=10)
    return dd.select(
        "doc_id", "n_spans", "n_kept", F.md5(F.col("kept_text")).alias("kept_md5")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q99 — percentile-threshold quality filter
# ---------------------------------------------------------------------------


@register(
    "q99_percentile_quality_filter",
    oracle=r"""
    WITH m AS (
      SELECT source, doc_id,
             CASE WHEN len(trim(text)) = 0 THEN 0.0
                  ELSE ROUND(len(list_distinct(string_split_regex(trim(text), '\s+')))::DOUBLE
                       / len(string_split_regex(trim(text), '\s+')), 6) END AS score
      FROM documents
    ), r AS (
      SELECT source, doc_id, score,
             ROUND(PERCENT_RANK() OVER (PARTITION BY source ORDER BY score, doc_id), 6) AS pr
      FROM m)
    SELECT source, doc_id, score, pr FROM r
    WHERE pr >= 0.25 ORDER BY source, doc_id
    """,
)
def q99_percentile_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive quality gate (operators/corpus.py::percentile_filter): each
    source keeps its top 75% of documents by distinct-word ratio — the
    per-domain percentile form of a fixed threshold, which survives domain
    drift (a clean domain isn't truncated by a dirty domain's scale and
    vice versa). The kept row SET, each score, and each percent_rank are
    hash-checked; the (score, doc_id) order is total so rank is
    deterministic in both engines. One window per source group — same
    shuffle as any per-domain ranking."""
    from kf_task_fhir_etl_spark.operators import filters

    docs = load_table(spark, sf_dir, "documents")
    score = F.round(filters.distinct_word_ratio(F.col("text")), 6)
    kept = corpus.percentile_filter(docs, "source", score, "doc_id", min_pr=0.25)
    return kept.select("source", "doc_id", "score", "pr").orderBy("source", "doc_id")


# ---------------------------------------------------------------------------
# q100 — end-to-end corpus build (filter → span-dedup → reshard)
# ---------------------------------------------------------------------------


@register(
    "q100_corpus_build_pipeline",
    oracle=r"""
    WITH wtab0 AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      FROM documents WHERE len(trim(text)) > 0
    ), m AS (
      SELECT doc_id, w, len(w) AS n_words,
             CASE WHEN len(w) > 0
                  THEN ROUND(list_sum(list_transform(w, x -> len(x)))::DOUBLE / len(w), 6)
                  ELSE 0.0 END AS mwl,
             CASE WHEN len(w) > 0
                  THEN ROUND(len(list_distinct(w))::DOUBLE / len(w), 6)
                  ELSE 0.0 END AS dwr,
             CASE WHEN len(w) > 0
                  THEN ROUND(list_max(list_transform(list_distinct(w),
                       d -> len(list_filter(w, x -> x = d))))::DOUBLE / len(w), 6)
                  ELSE 0.0 END AS twr,
             CASE WHEN len(w) >= 3
                  THEN ROUND(1.0 - len(list_distinct(list_transform(range(1, len(w) - 1),
                       i -> array_to_string(w[i:i+2], ' '))))::DOUBLE / (len(w) - 2), 6)
                  ELSE 0.0 END AS dtr
      FROM wtab0
    ), wtab AS (
      SELECT doc_id, w FROM m
      WHERE n_words BETWEEN 20 AND 100000 AND mwl BETWEEN 2.0 AND 10.0
        AND dwr >= 0.25 AND twr <= 0.20 AND dtr <= 0.30
    ), spans AS (
      SELECT doc_id, i AS pos,
             array_to_string(w[(i * 10 + 1):(i * 10 + 10)], ' ') AS span
      FROM wtab, UNNEST(range(0, CAST(ceil(len(w) / 10.0) AS BIGINT))) AS t(i)
    ), firsts AS (
      SELECT doc_id, pos, span,
             ROW_NUMBER() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
      FROM spans
    ), rebuilt AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(span, ' ' ORDER BY pos) AS kept_text
      FROM firsts WHERE rn = 1 GROUP BY doc_id
    ), toks AS (
      -- LEFT join: a doc whose every span was already seen keeps a row
      -- with n_kept = 0 (the engine does not drop it; dedup decisions
      -- stay visible downstream)
      SELECT k.doc_id, COALESCE(r.n_kept, 0) AS n_kept,
             CASE WHEN r.kept_text IS NULL OR len(r.kept_text) = 0 THEN 0
                  ELSE len(string_split_regex(r.kept_text, '\s+')) END AS n_tokens,
             ('0x' || substr(md5('2:' || k.doc_id::VARCHAR), 1, 4))::INT % 8 AS shard
      FROM wtab k LEFT JOIN rebuilt r USING (doc_id))
    SELECT shard, COUNT(*) AS n_docs,
           CAST(SUM(n_kept) AS BIGINT) AS total_spans,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           md5(string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id)) AS docs_md5
    FROM toks GROUP BY shard ORDER BY shard
    """,
)
def q100_corpus_build_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-build capstone: Gopher quality gate (q89's thresholds) →
    cross-corpus span dedup (q98) → token recount on the deduplicated text
    → deterministic 8-shard reshard (q97's hash layout, seed 2) →
    per-shard corpus stats with an md5 over the exact member list. Every
    stage is one of the individually-gated operators; this gate pins their
    COMPOSITION (filter-before-dedup ordering, dedup-before-count, the
    reshard keying) — the actual shape of a pretraining data build. The
    oracle replays the full chain in SQL, so a drifted threshold, a
    mis-kept span, or one doc landing in the wrong shard all fail."""
    from kf_task_fhir_etl_spark.operators import filters
    from kf_task_fhir_etl_spark.operators.parallelism import widen_for_cpu

    # widened (r13, guide §2.5): quality metrics + span md5s are CPU-dense
    # over a one-file scan; a no-op at scale, 32-way locally
    docs = widen_for_cpu(load_table(spark, sf_dir, "documents"))
    kept = (
        filters.apply_quality_filters(docs)
        .filter(F.col("keep"))
        .select("doc_id", "text")
    )
    dd = corpus.span_dedup(kept, "doc_id", "text", span_words=10)
    toks = dd.select(
        "doc_id",
        "n_kept",
        F.size(filters.words(F.col("kept_text"))).alias("n_tokens"),
    )
    sharded = corpus.shuffle_shards(toks, "doc_id", shards=8, seed=2)
    return (
        sharded.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_kept").alias("total_spans"),
            F.sum("n_tokens").alias("total_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string")
                    ),
                    ",",
                )
            ).alias("docs_md5"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# q101 — SCD type-2 dimension history (incremental snapshot merges)
# ---------------------------------------------------------------------------


@register(
    "q101_scd2_history",
    oracle="""
    WITH s1 AS (
      SELECT o_orderkey AS order_key, o_orderstatus AS status, o_totalprice AS price
      FROM orders
    ), s2 AS (
      SELECT order_key,
             CASE WHEN order_key % 7 = 0 THEN 'X2' ELSE status END AS status,
             CASE WHEN order_key % 11 = 0 THEN ROUND(price + 10, 2) ELSE price END AS price
      FROM s1
    ), s3 AS (
      SELECT order_key,
             CASE WHEN order_key % 5 = 0 THEN 'X3' ELSE status END AS status,
             price
      FROM s2 WHERE order_key % 13 != 0
    ), vers AS (
      SELECT order_key, status, price, 1 AS t FROM s1
      UNION ALL SELECT order_key, status, price, 2 FROM s2
      UNION ALL SELECT order_key, status, price, 3 FROM s3
    ), marked AS (
      SELECT order_key, status, price, t,
             CASE WHEN LAG(status) OVER w IS NULL
                       OR status IS DISTINCT FROM LAG(status) OVER w
                       OR price IS DISTINCT FROM LAG(price) OVER w
                  THEN 1 ELSE 0 END AS chg
      FROM vers WINDOW w AS (PARTITION BY order_key ORDER BY t)
    ), islands AS (
      SELECT order_key, status, price, t,
             SUM(chg) OVER (PARTITION BY order_key ORDER BY t) AS grp
      FROM marked
    ), hist AS (
      SELECT order_key, status, price,
             CAST(MIN(t) AS INT) AS valid_from, MAX(t) AS last_t
      FROM islands GROUP BY order_key, status, price, grp)
    SELECT order_key, status, price, valid_from,
           CAST(CASE WHEN last_t = 3 THEN 9999 ELSE last_t + 1 END AS INT) AS valid_to
    FROM hist ORDER BY order_key, valid_from
    """,
)
def q101_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 gate (operators/scd.py): three deterministic order-table
    snapshots (epoch 2 flips statuses/prices for some keys; epoch 3 flips
    more and DELETES every 13th key) are merged into a versioned history —
    unchanged rows stay open, changed rows close-and-reopen, deletions
    close. The engine applies snapshots ITERATIVELY (one full-outer join
    per epoch, the nightly-merge shape); the oracle derives the identical
    final history by a deliberately different method — gaps-and-islands over
    the unioned snapshot versions — so agreement pins the merge semantics,
    not the implementation. Open intervals carry the 9999 high-epoch
    sentinel, keeping the history hash-comparable and the as-of predicate
    sargable."""
    o = load_table(spark, sf_dir, "orders")
    k = F.col("order_key")
    s1 = o.select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    s2 = s1.select(
        "order_key",
        F.when(k % 7 == 0, F.lit("X2")).otherwise(F.col("status")).alias("status"),
        F.when(k % 11 == 0, F.round(F.col("price") + 10, 2)).otherwise(F.col("price")).alias(
            "price"
        ),
    )
    s3 = s2.filter(k % 13 != 0).select(
        "order_key",
        F.when(k % 5 == 0, F.lit("X3")).otherwise(F.col("status")).alias("status"),
        "price",
    )
    keys, attrs = ["order_key"], ["status", "price"]
    hist = scd.scd2_init(s1, keys, attrs, t=1)
    hist = scd.scd2_apply(hist, s2, keys, attrs, t=2)
    hist = scd.scd2_apply(hist, s3, keys, attrs, t=3)
    return hist.orderBy("order_key", "valid_from")


# ---------------------------------------------------------------------------
# q102 — PageRank over the buyer-supplier graph (fixed power iterations)
# ---------------------------------------------------------------------------


def _q102_oracle(iters: int = 5) -> str:
    head = """
    WITH e0 AS (
      SELECT DISTINCT 'c' || o_custkey AS a, 's' || l_suppkey AS b
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE EXTRACT(year FROM o_orderdate) = 1995
    ), edges AS (
      SELECT a AS src, b AS dst FROM e0 UNION SELECT b, a FROM e0
    ), deg AS (
      SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
    ), nn AS (
      SELECT COUNT(*) AS n FROM deg
    ), r0 AS (
      SELECT src AS node, 1.0 / n AS pr FROM deg CROSS JOIN nn
    )"""
    its = ""
    prev = "r0"
    for i in range(1, iters + 1):
        its += f""", it{i} AS (
      SELECT e.dst AS node,
             ROUND(0.15 / MAX(nn.n) + 0.85 * SUM(r.pr / d.deg), 12) AS pr
      FROM edges e JOIN {prev} r ON e.src = r.node
                   JOIN deg d ON e.src = d.src
                   CROSS JOIN nn
      GROUP BY e.dst
    )"""
        prev = f"it{i}"
    return head + its + f"""
    SELECT node, ROUND(pr, 6) AS pr FROM {prev} ORDER BY node
    """


@register("q102_pagerank", oracle=_q102_oracle(5))
def q102_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-depth PageRank (operators/graph.py) over the TPC-H
    buyer-supplier graph (customer c bought from supplier s in 1995,
    symmetrized — the year predicate pushes into the orders scan and keeps
    the gate's graph verification-sized; the operator itself is
    size-agnostic).
    Five power iterations from the uniform vector; every per-round rank is
    rounded to 12dp so distributed partial sums and the oracle's
    sequential sums stay bit-identical, and the oracle UNROLLS the same
    five rounds as chained CTEs — the whole trajectory, not just the fixed
    point, must match. Same iterative-DataFrame shape as
    dedup.connected_components: per-round join + aggregate on the node
    key, lineage checkpointed, edges shuffled to their partitioning
    once. The symmetrized gate graph has no dangling nodes, so the
    operator's dangling-mass term is identically zero here and the oracle
    elides it (pytest covers the dangling case on a directed graph)."""
    from kf_task_fhir_etl_spark.operators import graph

    o = load_table(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1995)
    li = load_table(spark, sf_dir, "lineitem")
    e0 = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("a"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("b"),
        )
        .distinct()
    )
    edges = graph.symmetrize(e0, "a", "b")
    return graph.pagerank(edges, iters=5).orderBy("node")


# ---------------------------------------------------------------------------
# q103 — one-pass data profiling
# ---------------------------------------------------------------------------


@register(
    "q103_data_profile",
    oracle="""
    SELECT 'o_custkey' AS "column",
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
           CAST(MIN(o_custkey) AS VARCHAR) AS min_value,
           CAST(MAX(o_custkey) AS VARCHAR) AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_orderdate',
           CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
           CAST(MIN(o_orderdate) AS VARCHAR), CAST(MAX(o_orderdate) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderkey',
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT),
           CAST(MIN(o_orderkey) AS VARCHAR), CAST(MAX(o_orderkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority',
           CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
           MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus',
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
           MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    ORDER BY "column"
    """,
)
def q103_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-profiling gate (operators/profile.py): null counts, EXACT
    distinct cardinalities, and native-order min/max for five orders
    columns, computed in ONE aggregate over one scan (4×|cols| agg
    expressions in a single reduction, then a struct-explode to long form)
    — versus the oracle's five separate scans. Min/max are taken in the
    column's own type and rendered afterwards, so integer columns don't
    sort lexicographically; the timestamp column pins cross-engine string
    rendering. At 100 TB the same pass swaps exact distinct for HLL
    (documented in the operator)."""
    from kf_task_fhir_etl_spark.operators import profile

    o = load_table(spark, sf_dir, "orders")
    cols = ["o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority", "o_orderstatus"]
    return profile.profile(o, cols).orderBy("column")


# ---------------------------------------------------------------------------
# q104 — unpivot/melt (wide yearly revenue back to long form)
# ---------------------------------------------------------------------------


@register(
    "q104_unpivot_yearly_revenue",
    oracle="""
    SELECT o_orderpriority,
           'y' || CAST(y AS VARCHAR) AS yr,
           ROUND(SUM(CASE WHEN EXTRACT(year FROM o_orderdate) = y
                          THEN o_totalprice ELSE 0 END), 2) AS revenue
    FROM orders CROSS JOIN (VALUES (1993), (1994), (1995), (1996)) t(y)
    GROUP BY o_orderpriority, y
    ORDER BY o_orderpriority, yr
    """,
)
def q104_unpivot_yearly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot gate (§2.6 engine surface): a conditional-aggregate wide
    table (one revenue column per year) melts back to long form with the
    native ``DataFrame.unpivot`` — the inverse of q49's pivot, closing the
    reshape pair. The oracle computes the long form directly, so melt
    column naming, ordering, and the zero-fill of empty (priority, year)
    cells are all pinned."""
    o = load_table(spark, sf_dir, "orders")
    years = [1993, 1994, 1995, 1996]
    wide = o.groupBy("o_orderpriority").agg(
        *[
            F.round(
                F.sum(
                    F.when(F.year("o_orderdate") == y, F.col("o_totalprice")).otherwise(
                        F.lit(0.0)
                    )
                ),
                2,
            ).alias(f"y{y}")
            for y in years
        ]
    )
    return (
        wide.unpivot(
            ids=["o_orderpriority"],
            values=[f"y{y}" for y in years],
            variableColumnName="yr",
            valueColumnName="revenue",
        )
        .orderBy("o_orderpriority", "yr")
    )


# ---------------------------------------------------------------------------
# q105 — blocked fuzzy matching (entity resolution)
# ---------------------------------------------------------------------------


@register(
    "q105_fuzzy_match",
    oracle="""
    WITH clean AS (
      SELECT DISTINCT p_name FROM part
    ), dirty AS (
      SELECT p_partkey,
             substr(p_name, 1, pos - 1) || substr(p_name, pos + 1) AS dirty_name
      FROM (SELECT p_partkey, p_name,
                   (p_partkey % (len(p_name) - 1)) + 2 AS pos
            FROM part)
    ), cand AS (
      SELECT d.p_partkey, d.dirty_name, c.p_name AS cname,
             levenshtein(d.dirty_name, c.p_name) AS dist
      FROM dirty d JOIN clean c
        ON substr(d.dirty_name, 1, 1) = substr(c.p_name, 1, 1)
    ), best AS (
      SELECT p_partkey, dirty_name, cname, dist,
             ROW_NUMBER() OVER (PARTITION BY p_partkey ORDER BY dist, cname) AS rn
      FROM cand)
    SELECT p_partkey, dirty_name, cname AS matched, dist
    FROM best WHERE rn = 1 ORDER BY p_partkey
    """,
)
def q105_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution gate (operators/fuzzy.py): every part name is
    deterministically corrupted (one character deleted at a key-derived
    position ≥ 2) and must be matched back to the clean name list by
    blocked Levenshtein — the dirty-feed reconciliation an ETL engine runs
    on supplier/product/customer reference data. The first-character block
    is provably corruption-stable here (deletions never touch position 1),
    making the blocked join's recall exact, so every match AND distance is
    hash-checked. Clean side is a broadcast reference list; distances run
    in codegen inside blocks — never all-pairs."""
    from kf_task_fhir_etl_spark.operators import fuzzy

    p = load_table(spark, sf_dir, "part")
    name = F.col("p_name")
    pos = (F.col("p_partkey") % (F.length(name) - 1) + 2).cast("int")
    dirty = p.select(
        "p_partkey",
        F.concat(
            name.substr(F.lit(1), pos - 1),
            name.substr(pos + 1, F.length(name)),
        ).alias("dirty_name"),
    )
    clean = p.select("p_name")
    return fuzzy.blocked_fuzzy_match(
        dirty, clean, "p_partkey", "dirty_name", "p_name",
        block_fn=fuzzy.first_char_block,  # corruption-stable for this model
    ).orderBy("p_partkey")


# ---------------------------------------------------------------------------
# q106 — deterministic KMV distinct sketches (+ exact mergeability)
# ---------------------------------------------------------------------------


@register(
    "q106_kmv_distinct",
    oracle="""
    WITH d AS (
      SELECT DISTINCT event_type AS g, user_id AS key FROM events
    ), h AS (
      -- DISTINCT hash VALUES: the engine's sketch state is a set of
      -- hashes, so 32-bit collisions collapse on both paths
      SELECT DISTINCT g, ('0x' || substr(md5(key::VARCHAR), 1, 8))::BIGINT / 4294967296.0 AS h
      FROM d
    ), rk AS (
      SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn FROM h
    ), state AS (
      SELECT g, COUNT(*) AS sz, MAX(CASE WHEN rn = 64 THEN h END) AS h64
      FROM rk WHERE rn <= 64 GROUP BY g
    ), exact AS (
      SELECT g, COUNT(*) AS n_exact FROM d GROUP BY g
    ), hh AS (
      SELECT g, half, h, ROW_NUMBER() OVER (PARTITION BY g, half ORDER BY h) AS rn
      FROM (SELECT DISTINCT event_type AS g, event_id % 2 AS half,
                   ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT / 4294967296.0 AS h
            FROM events)
    ), mu AS (
      SELECT DISTINCT g, h FROM hh WHERE rn <= 64
    ), mrk AS (
      SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn FROM mu
    ), mstate AS (
      SELECT g, COUNT(*) AS sz, MAX(CASE WHEN rn = 64 THEN h END) AS h64
      FROM mrk WHERE rn <= 64 GROUP BY g)
    SELECT e.g AS event_type, e.n_exact,
           CASE WHEN s.sz < 64 THEN s.sz::DOUBLE ELSE ROUND(63.0 / s.h64, 6) END AS kmv_est,
           CASE WHEN m.sz < 64 THEN m.sz::DOUBLE ELSE ROUND(63.0 / m.h64, 6) END AS merged_est
    FROM exact e JOIN state s ON e.g = s.g JOIN mstate m ON e.g = m.g
    ORDER BY event_type
    """,
)
def q106_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic approximate-distinct gate (operators/sketch.py): KMV
    sketches of users-per-event-type, estimated directly AND via two
    half-stream sketches merged with ``kmv_merge`` — KMV's merge is exact
    (k smallest of a union = k smallest of the per-part minima), so
    ``merged_est`` must hash-equal the direct estimate, pinning the
    mergeability property sketches exist for. Unlike q57's HLL++ (whose
    binary state is engine-internal and therefore gates rows-only), every
    KMV value is a pure md5 function the oracle recomputes — the
    hash-checkable face of the sketch family. State per group is k
    doubles; shuffles carry sketch state, never key sets."""
    from kf_task_fhir_etl_spark.operators import sketch

    ev = load_table(spark, sf_dir, "events")
    exact = (
        ev.select(F.col("event_type").alias("group"), "user_id")
        .distinct()
        .groupBy("group")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    direct = sketch.kmv_estimate(sketch.kmv_state(ev, "event_type", "user_id", 64), 64)
    halves = sketch.kmv_state(
        ev.filter(F.col("event_id") % 2 == 0), "event_type", "user_id", 64
    ).unionByName(
        sketch.kmv_state(ev.filter(F.col("event_id") % 2 == 1), "event_type", "user_id", 64)
    )
    merged = sketch.kmv_estimate(sketch.kmv_merge(halves, 64), 64)
    return (
        exact.join(direct.withColumnRenamed("n_est", "kmv_est"), "group")
        .join(merged.withColumnRenamed("n_est", "merged_est"), "group")
        .select(F.col("group").alias("event_type"), "n_exact", "kmv_est", "merged_est")
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q109 — streaming corpus gatekeeping (quality filter on a document stream)
# ---------------------------------------------------------------------------


def _q109_oracle() -> str:
    from kf_task_fhir_etl_spark.training_queries import _Q89_METRIC_SQL

    return _Q89_METRIC_SQL + """
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_words BETWEEN 20 AND 100000
                          AND mean_word_len BETWEEN 2.0 AND 10.0
                          AND distinct_word_ratio >= 0.25
                          AND top_word_ratio <= 0.20
                          AND dup_trigram_ratio <= 0.30
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN n_words BETWEEN 20 AND 100000
                          AND mean_word_len BETWEEN 2.0 AND 10.0
                          AND distinct_word_ratio >= 0.25
                          AND top_word_ratio <= 0.20
                          AND dup_trigram_ratio <= 0.30
                         THEN n_words ELSE 0 END) AS BIGINT) AS kept_words
    FROM m GROUP BY source ORDER BY source
    """


@register("q109_streaming_quality_filter", oracle=_q109_oracle())
def q109_streaming_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus gatekeeping (§2.8 × operators/filters.py): the
    Gopher quality metrics and keep decision run UNCHANGED on a document
    STREAM — they are pure column expressions, so the microbatch engine
    executes the same codegen projection per trigger (the
    filter-on-arrival form of q89's batch pass; per-doc decisions land in
    the sink, the per-source funnel aggregates the sink table in batch).
    The oracle is q89's batch SQL, so stream execution must be decision-
    for-decision identical to batch — the stateless half of the
    batch/stream unification the engine claims; stateful halves are gated
    by q37/q59/q70/q96."""
    from kf_task_fhir_etl_spark.operators import filters
    from kf_task_fhir_etl_spark.streaming.documents import read_documents_stream
    from kf_task_fhir_etl_spark.streaming.events import run_stream_to_memory

    stream = read_documents_stream(spark, sf_dir)
    ann = filters.apply_quality_filters(stream).select("source", "n_words", "keep")
    run_stream_to_memory(ann, "q109_quality_mem", output_mode="append")
    return (
        spark.table("q109_quality_mem")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(F.col("keep"), F.col("n_words")).otherwise(0)).alias("kept_words"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q110 — importance (quality-proportional) sampling
# ---------------------------------------------------------------------------


@register(
    "q110_importance_sample",
    oracle=r"""
    WITH m AS (
      SELECT doc_id, source,
             CASE WHEN len(trim(text)) = 0 THEN 0.0
                  ELSE ROUND(len(list_distinct(string_split_regex(trim(text), '\s+')))::DOUBLE
                       / len(string_split_regex(trim(text), '\s+')), 6) END AS w
      FROM documents)
    SELECT source, doc_id, w
    FROM m
    WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT % 65536 < w * 65536.0
    ORDER BY source, doc_id
    """,
)
def q110_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-proportional sampling gate (operators/sampling.py::
    importance_sample): every document survives with probability equal to
    its distinct-word ratio — per-ROW acceptance versus q69's per-stratum
    fractions. Membership is the md5-bucket-vs-weight·2¹⁶ comparison, so
    the exact kept set hash-checks, monotone weight increases only ADD
    rows, and the whole pass is a zero-shuffle map filter."""
    from kf_task_fhir_etl_spark.operators import filters, sampling

    docs = load_table(spark, sf_dir, "documents")
    w = F.round(filters.distinct_word_ratio(F.col("text")), 6)
    kept = sampling.importance_sample(docs.withColumn("w", w), "doc_id", F.col("w"))
    return kept.select("source", "doc_id", "w").orderBy("source", "doc_id")


# ---------------------------------------------------------------------------
# q111 — per-domain token-budget selection (greedy best-first)
# ---------------------------------------------------------------------------


@register(
    "q111_budget_select",
    oracle=r"""
    WITH m AS (
      SELECT doc_id, source,
             CASE WHEN len(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
             CASE WHEN len(trim(text)) = 0 THEN 0.0
                  ELSE ROUND(len(list_distinct(string_split_regex(trim(text), '\s+')))::DOUBLE
                       / len(string_split_regex(trim(text), '\s+')), 6) END AS score
      FROM documents
    ), c AS (
      SELECT source, doc_id, n_tokens, score,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY score DESC, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM m)
    SELECT source, doc_id, n_tokens, score AS sel_score
    FROM c WHERE cum <= 800 ORDER BY source, doc_id
    """,
)
def q111_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus cut (operators/sampling.py::budget_select): each
    source keeps its best documents (distinct-word ratio desc, doc_id
    ties) while the running token total stays within an 800-token budget —
    the greedy best-first fill that cuts a corpus to a per-domain token
    target. One cumulative-sum window per source over a total order; the
    kept set, scores, and token counts all hash-check. The boundary-
    crossing document is excluded (strict bound) in both engines."""
    from kf_task_fhir_etl_spark.operators import filters, sampling

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_tokens", F.size(filters.words(F.col("text")))
    )
    score = F.round(filters.distinct_word_ratio(F.col("text")), 6)
    kept = sampling.budget_select(docs, "source", "doc_id", "n_tokens", score, budget=800)
    return kept.select("source", "doc_id", "n_tokens", "sel_score").orderBy("source", "doc_id")


# ---------------------------------------------------------------------------
# q112 — stream-static enrichment join
# ---------------------------------------------------------------------------


@register(
    "q112_stream_static_join",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_events,
           ROUND(SUM(e.value), 2) AS total_value
    FROM events e JOIN customer c ON e.user_id + 1 = c.c_custkey
    GROUP BY c.c_mktsegment ORDER BY segment
    """,
)
def q112_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment (§2.8 — the remaining core Structured
    Streaming join shape next to q59's stream-stream form): the event
    stream joins a STATIC customer dimension per microbatch; Spark plans
    the static side as an ordinary broadcast, so enrichment adds no
    streaming state at all — the canonical pattern for attaching dimension
    attributes on ingest. Joined rows land in the sink; the per-segment
    rollup aggregates the sink table in batch and must equal the pure
    batch join oracle row-for-row."""
    from kf_task_fhir_etl_spark.streaming.events import read_events_stream, run_stream_to_memory

    ev = read_events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        (F.col("c_custkey") - 1).alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    enriched = ev.join(F.broadcast(cust), "user_id").select("segment", "value")
    run_stream_to_memory(enriched, "q112_enriched_mem", output_mode="append")
    return (
        spark.table("q112_enriched_mem")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# q113 — IVF Lloyd refinement (the trained coarse quantizer, round by round)
# ---------------------------------------------------------------------------


def _kmeans_ctes(nlist: int, iters: int) -> tuple[str, str]:
    """The shared unrolled-k-means CTE chain (the q102 unrolled-CTE
    pattern): ``emb`` (double-cast vectors), ``c0`` (the nlist vectors with
    the smallest md5(id), normalized), then per round r: ``a{r}`` assigns
    every vector to its argmax centroid (similarity (v.c)/|v| rounded to
    12dp before the argmax, ties to the lowest list id), ``n{r}`` recomputes
    per-list means (rounded 12dp), ``c{r}`` renormalizes (components rounded
    12dp; empty lists keep the previous centroid) — the identical per-round
    rounding discipline ``ivf_train_centroids(round_digits=12)`` applies —
    including the zero-norm conventions (``_safe_norms``: a zero vector
    keeps norm 1, so its components/similarities stay 0 instead of
    NULL-propagating; a zero-norm per-list mean keeps the previous
    centroid) — so every assignment decision and every component is
    reproduced exactly.
    Returns (cte_sql, name_of_final_centroid_cte); used by the q113 and
    q114 oracles."""
    sql = f"""
    WITH emb AS (
      SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    c0 AS (
      SELECT list_id,
             list_transform(v, x -> round(x / (CASE WHEN list_inner_product(v, v) = 0 THEN 1 ELSE sqrt(list_inner_product(v, v)) END), 12)) AS c
      FROM (
        SELECT CAST(row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) - 1 AS INT)
                 AS list_id, v
        FROM emb ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT {nlist}
      )
    )"""
    prev = "c0"
    for r in range(1, iters + 1):
        sql += f""",
    a{r} AS (
      SELECT id, v, list_id FROM (
        SELECT e.id, e.v, c.list_id,
               row_number() OVER (
                 PARTITION BY e.id
                 ORDER BY round(list_inner_product(e.v, c.c)
                                / (CASE WHEN list_inner_product(e.v, e.v) = 0 THEN 1 ELSE sqrt(list_inner_product(e.v, e.v)) END), 12) DESC,
                          c.list_id ASC) AS rn
        FROM emb e CROSS JOIN {prev} c)
      WHERE rn = 1
    ),
    n{r} AS (
      SELECT list_id, list(m ORDER BY dim) AS mv FROM (
        SELECT list_id, dim, round(avg(val), 12) AS m
        FROM (SELECT list_id, generate_subscripts(v, 1) AS dim, UNNEST(v) AS val FROM a{r})
        GROUP BY list_id, dim)
      GROUP BY list_id
    ),
    c{r} AS (
      SELECT p.list_id,
             -- NULL mv = empty list; zero-norm mv = degenerate mean: both
             -- keep the previous centroid (`if n > 0` in _refine_centroids)
             CASE WHEN n.mv IS NULL OR list_inner_product(n.mv, n.mv) = 0 THEN p.c
                  ELSE list_transform(n.mv,
                         x -> round(x / sqrt(list_inner_product(n.mv, n.mv)), 12))
             END AS c
      FROM {prev} p LEFT JOIN n{r} n USING (list_id)
    )"""
        prev = f"c{r}"
    return sql, prev


def _ivf_lloyd_oracle(nlist: int, iters: int) -> str:
    """q113's oracle: the shared k-means chain plus a final assignment pass
    and the long-form centroid projection."""
    ctes, prev = _kmeans_ctes(nlist, iters)
    return ctes + f""",
    af AS (
      SELECT id, list_id FROM (
        SELECT e.id, c.list_id,
               row_number() OVER (
                 PARTITION BY e.id
                 ORDER BY round(list_inner_product(e.v, c.c)
                                / (CASE WHEN list_inner_product(e.v, e.v) = 0 THEN 1 ELSE sqrt(list_inner_product(e.v, e.v)) END), 12) DESC,
                          c.list_id ASC) AS rn
        FROM emb e CROSS JOIN {prev} c)
      WHERE rn = 1
    ),
    counts AS (SELECT list_id, COUNT(*) AS n_members FROM af GROUP BY list_id)
    SELECT comp.list_id, comp.dim, comp.component,
           CAST(COALESCE(n_members, 0) AS BIGINT) AS n_members
    FROM (
      SELECT list_id, CAST(generate_subscripts(c, 1) - 1 AS INT) AS dim,
             UNNEST(c) + 0.0 AS component
      FROM {prev}
    ) comp LEFT JOIN counts USING (list_id)
    ORDER BY list_id, dim
    """


@register("q113_ivf_lloyd_refinement", oracle=_ivf_lloyd_oracle(nlist=4, iters=2))
def q113_ivf_lloyd_refinement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd-refined IVF coarse quantizer gate
    (operators/similarity.py::ivf_train_centroids): 2 k-means rounds from
    deterministic md5 seeds, every per-round mean/similarity/component
    rounded at 12dp so the oracle's unrolled CTEs replay the identical
    trajectory — the whole trained state (4 × 64 centroid components plus
    final per-list membership counts) is value-hashed. This closes the one
    operator path that was pytest-only through r03 (``iters > 0``); q36
    continues to gate the iters=0 serving path end-to-end."""
    from kf_task_fhir_etl_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.ivf_train_centroids(emb, nlist=4, iters=2, round_digits=12)
    return out.select(
        "list_id",
        "dim",
        (F.col("component") + F.lit(0.0)).alias("component"),
        "n_members",
    ).orderBy("list_id", "dim")


# ---------------------------------------------------------------------------
# q114 — unsupervised SemDeDup (k-means prototypes, no label column)
# ---------------------------------------------------------------------------


def _semantic_unsup_oracle(k: int, iters: int, threshold: float) -> str:
    """q114's oracle: the shared k-means chain supplies the prototypes,
    then the q93 assignment/pair recomputation runs against THOSE centroids
    — assignment by full cosine at 6dp (``assign_clusters``' discipline,
    distinct from the trainer's internal 12dp (v·c)/|v| argmax, each step
    replicated with its own rounding), dropped = every member with a
    smaller-id in-cluster neighbor at cos ≥ threshold."""
    ctes, prev = _kmeans_ctes(k, iters)
    return ctes + f""",
    cent AS (SELECT list_id AS label, c AS cvec FROM {prev}),
    assigned AS (
      SELECT vec_id, embedding, cluster FROM (
        SELECT e0.vec_id, e0.embedding, c.label AS cluster,
               ROW_NUMBER() OVER (
                 PARTITION BY e0.vec_id
                 ORDER BY ROUND(list_cosine_similarity(e0.embedding::DOUBLE[], c.cvec), 6) DESC,
                          c.label ASC) AS rn
        FROM embeddings e0 CROSS JOIN cent c)
      WHERE rn = 1
    ),
    pairs AS (
      SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
             ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
      FROM assigned a JOIN assigned b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
    SELECT cluster, id_b AS vec_id, MAX(cos) AS max_cos
    FROM pairs GROUP BY cluster, id_b HAVING MAX(cos) >= {threshold}
    ORDER BY cluster, vec_id
    """


@register(
    "q114_semantic_dedup_unsupervised",
    oracle=_semantic_unsup_oracle(k=4, iters=1, threshold=0.4),
)
def q114_semantic_dedup_unsupervised(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsupervised SemDeDup gate (operators/semantic.py::kmeans_prototypes
    + semantic_dedup_dropped(prototypes=...)): unlike q93, the input
    carries NO label column — the prototypes come from the deterministic
    k-means trainer (md5 seeds, 1 Lloyd round, 12dp discipline), which is
    how real SemDeDup clusters a raw corpus. The oracle replays k-means,
    assignment, and the in-cluster pair triangle end-to-end, so the gate
    pins the full unlabeled path: trainer → prototype reshape → broadcast
    assignment → per-cluster Arrow kernel."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    protos = semantic.kmeans_prototypes(emb, k=4, iters=1, round_digits=12)
    dropped = semantic.semantic_dedup_dropped(emb, threshold=0.4, prototypes=protos)
    return dropped.select("cluster", "vec_id", "max_cos").orderBy("cluster", "vec_id")


# ---------------------------------------------------------------------------
# q116 — deterministic weighted sampling (Efraimidis-Spirakis)
# ---------------------------------------------------------------------------


@register(
    "q116_weighted_sample",
    oracle=r"""
    WITH clocks AS (
      SELECT lang, doc_id,
             CASE WHEN (len(text) + 1) > 0
                   AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT > 0
             THEN
               ROUND(-ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT)
                         / 281474976710656.0)
                     / (len(text) + 1), 10) END AS sample_clock
      FROM documents
    ), ranked AS (
      SELECT lang, doc_id, sample_clock,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY sample_clock, doc_id) AS rn
      FROM clocks WHERE sample_clock IS NOT NULL)
    SELECT lang, doc_id, sample_clock FROM ranked WHERE rn <= 20
    ORDER BY lang, doc_id
    """,
)
def q116_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-sampling gate (operators/sampling.py::weighted_sample): per
    language, 20 documents drawn WITHOUT replacement with inclusion odds
    proportional to a weight (here text length + 1) via the
    Efraimidis-Spirakis exponential clock on a 48-bit md5 uniform — the
    deterministic distributed reservoir a corpus-audit/eval-subset step
    needs. Every clock VALUE (rounded 10dp) plus the chosen set is
    hash-checked, so the uniform derivation, the -ln(u)/w transform, and
    the per-group rank must all match the oracle exactly. The oracle also
    restates the operator's invalid-weight contract (non-positive/NULL
    weight → dropped before ranking, never padded into short groups), so
    a NULL-text document in a future test corpus diverges loudly in
    neither engine."""
    from kf_task_fhir_etl_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    picked = sampling.weighted_sample(
        docs, "lang", "doc_id", F.length("text") + F.lit(1), k=20
    )
    return picked.select("lang", "doc_id", "sample_clock").orderBy("lang", "doc_id")


# ---------------------------------------------------------------------------
# q117 — bigram language-model fluency scoring (CCNet-style)
# ---------------------------------------------------------------------------


@register(
    "q117_bigram_lm_score",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(coalesce(text, ''))), '\s+'),
                         x -> len(x) > 0) AS t
      FROM documents
    ), pairs AS (
      SELECT doc_id,
             UNNEST(list_slice(t, 1, len(t) - 1)) AS w1,
             UNNEST(list_slice(t, 2, len(t))) AS w2
      FROM toks WHERE len(t) >= 2
    ), bg AS (
      SELECT w1, w2, COUNT(*) AS c12 FROM pairs GROUP BY w1, w2
    ), ctx AS (
      SELECT w1, SUM(c12) AS c1 FROM bg GROUP BY w1
    ), voc AS (
      SELECT COUNT(DISTINCT w) AS v FROM (SELECT UNNEST(t) AS w FROM toks)
    ), agg AS (
      SELECT doc_id, COUNT(*) AS n_bigrams,
             ROUND(AVG(-ln((c12 + 0.5) / (c1 + 0.5 * v))), 6) AS nll
      FROM pairs JOIN bg USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN voc
      GROUP BY doc_id)
    SELECT d.doc_id, COALESCE(n_bigrams, 0) AS n_bigrams, agg.nll
    FROM documents d LEFT JOIN agg USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def q117_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency gate (operators/text.py::bigram_logprob_scores):
    fit an add-0.5-smoothed bigram model on the corpus itself, score every
    document by its average bigram negative log-probability — the
    CCNet-style perplexity filter signal. The oracle refits the identical
    model relationally and every per-doc nll (6dp) is value-hashed; rows
    anchor on the input set (sub-2-token docs keep n_bigrams=0, nll NULL —
    no silent drops)."""
    from kf_task_fhir_etl_spark.operators import text as text_ops

    docs = load_table(spark, sf_dir, "documents")
    return text_ops.bigram_logprob_scores(docs).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q118 — sparse TF-IDF cosine pairs (lexical near-dup, no embeddings)
# ---------------------------------------------------------------------------


@register(
    "q118_tfidf_doc_pairs",
    oracle=r"""
    WITH tf AS (
      SELECT doc_id AS id, term, COUNT(*) AS tf FROM (
        SELECT doc_id,
               UNNEST(list_filter(string_split_regex(trim(lower(coalesce(text, ''))), '\s+'),
                                  x -> len(x) > 0)) AS term
        FROM documents)
      GROUP BY id, term
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (SELECT COUNT(DISTINCT id) AS n_docs FROM tf),
    vec AS (
      SELECT id, tf.term AS term,
             ROUND(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) AS w
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
      WHERE df <= n_docs * 0.5
    ), norms AS (
      SELECT id, ROUND(sqrt(SUM(w * w)), 6) AS nrm FROM vec GROUP BY id
    ), dots AS (
      SELECT a.id AS doc_a, b.id AS doc_b, SUM(a.w * b.w) AS dot
      FROM vec a JOIN vec b ON a.term = b.term AND a.id < b.id
      GROUP BY a.id, b.id)
    SELECT doc_a, doc_b, cosine FROM (
      SELECT doc_a, doc_b,
             ROUND(dot / (na.nrm * nb.nrm), 6) AS cosine
      FROM dots JOIN norms na ON na.id = doc_a JOIN norms nb ON nb.id = doc_b)
    WHERE cosine >= 0.5
    ORDER BY doc_a, doc_b
    """,
)
def q118_tfidf_doc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse lexical near-dup gate (operators/corpus.py::tfidf_doc_pairs):
    documents pair through shared sub-cap-df terms only (the df cap is part
    of the vector semantics AND the Σ df² work bound — never all-pairs),
    and the exact filtered-vocabulary TF-IDF cosine decides at 6dp. The
    no-embedding complement to q15/q66: MinHash finds shingle overlap,
    this finds weighted-term overlap robust to reordering. Every surviving
    pair's cosine is value-hashed."""
    from kf_task_fhir_etl_spark.operators import corpus as corpus_ops

    docs = load_table(spark, sf_dir, "documents")
    return corpus_ops.tfidf_doc_pairs(docs, threshold=0.5).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# q119 — dynamic partition pruning over a partitioned layout
# ---------------------------------------------------------------------------


@register(
    "q119_dynamic_partition_pruning",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q119_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned-layout gate (operators/bucketing.py::write_partitioned +
    require_dynamic_partition_pruning) — the directory-pruning complement
    to q95's bucketing gate: orders are written ONCE partitioned by
    priority (content-fingerprinted path, q95's regeneration guard), then
    joined to a dimension whose selective filter ('keep' rows only) is
    knowable ONLY through the join — so static pruning cannot fire and the
    gate RAISES unless Spark inserts a dynamicpruning subquery that skips
    the three dropped priorities' directories at execution time. At 100 TB
    this is the difference between reading 2/5 and 5/5 of a fact table
    every dashboard refresh. The aggregate is hash-checked against an
    independent IN-list oracle, proving pruning is invisible to results."""
    from kf_task_fhir_etl_spark.catalog import staged_layout

    def _build(tmp: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        )
        bucketing.write_partitioned(orders, tmp, "o_orderpriority")

    # atomic publish: a crash mid-write can never leave a half-staged
    # layout that passes the existence probe (catalog.staged_layout)
    path = staged_layout("partitioned_orders", sf_dir, ["orders"], _build)
    facts = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [
            ("1-URGENT", "keep"),
            ("2-HIGH", "keep"),
            ("3-MEDIUM", "drop"),
            ("4-NOT SPECIFIED", "drop"),
            ("5-LOW", "drop"),
        ],
        ["prio", "action"],
    )
    out = (
        facts.join(
            F.broadcast(dim.filter(F.col("action") == "keep")),
            facts.o_orderpriority == dim.prio,
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )
    bucketing.require_dynamic_partition_pruning(out)
    return out


# ---------------------------------------------------------------------------
# q120 — streaming session windows (append mode, watermark-flushed)
# ---------------------------------------------------------------------------


@register(
    "q120_streaming_session_windows",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM gaps)
    SELECT user_id,
           epoch_us(MIN(ts)) AS session_start_us,
           epoch_us(MAX(ts)) + 1800000000 AS session_end_us,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM sess GROUP BY user_id, sid
    ORDER BY user_id, session_start_us
    """,
)
def q120_streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session windows end-to-end (§2.8's last primitive):
    ``session_window(ts, 30 min)`` per user in APPEND mode — the mode that
    only releases a session once the watermark passes its end, which is
    exactly what makes naive finite replays emit nothing; the
    flush-sentinel source (streaming/events.py::read_events_stream_with_flush)
    advances the watermark past every real session in a second microbatch,
    the production-shaped backfill close. Every emitted session's exact
    boundaries (Spark's half-open [first, last+gap) — hence the oracle's
    ``>= gap`` split, deliberately different from q22's ``> gap`` batch
    operator), event count, and value sum are hash-checked against a
    gaps-and-islands oracle. State is partitioned on user_id and expires
    with the watermark — bounded by the gap, not the stream length."""
    from kf_task_fhir_etl_spark.streaming.events import (
        read_events_stream_with_flush,
        run_stream_to_memory,
    )

    ev = read_events_stream_with_flush(spark, sf_dir)
    sess = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("__tv"))
    )
    run_stream_to_memory(sess, "q120_sessions_mem", output_mode="append")
    return (
        spark.table("q120_sessions_mem")
        .filter(F.col("user_id") >= 0)
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            F.unix_micros(F.col("session_window.end")).alias("session_end_us"),
            "n_events",
            F.round(F.col("__tv"), 2).alias("total_value"),
        )
        .orderBy("user_id", "session_start_us")
    )


# ---------------------------------------------------------------------------
# q121 — Count-Min sketch frequency estimates (deterministic, mergeable)
# ---------------------------------------------------------------------------


@register(
    "q121_count_min_sketch",
    oracle="""
    WITH rows_ AS (SELECT r FROM (VALUES (0), (1), (2), (3)) t(r)),
    pairs AS (
      SELECT e.user_id, r,
             (('0x' || substr(md5(r || ':' || CAST(e.user_id AS VARCHAR)), 1, 12))::BIGINT)
               % 256 AS bucket
      FROM events e CROSS JOIN rows_
    ), cms AS (
      SELECT r, bucket, COUNT(*) AS c FROM pairs GROUP BY r, bucket
    ), kb AS (
      SELECT DISTINCT user_id, r, bucket FROM pairs
    ), est AS (
      SELECT user_id, MIN(c) AS cms_est FROM kb JOIN cms USING (r, bucket) GROUP BY user_id
    ), exact AS (
      SELECT user_id, COUNT(*) AS exact_n FROM events GROUP BY user_id
    )
    SELECT k.user_id, exact_n, cms_est, cms_est - exact_n AS overcount
    FROM exact k JOIN est USING (user_id)
    ORDER BY user_id
    """,
)
def q121_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch gate (operators/sketch.py::cms_build/cms_estimate):
    per-user event frequencies estimated from a 4×256 sketch, next to the
    exact counts and the (always ≥ 0) overcount. Because the hash rows are
    md5-derived, the sketch CONTENTS — not merely its error contract — are
    engine-portable: the oracle rebuilds the identical counter table and
    every estimate hash-matches exactly, making this the deterministic
    frequency-sketch sibling of q106's KMV distinct sketch (and the
    contrast to q57's engine-internal HLL, gated via within-bound
    booleans). Mergeable by construction: counters are additive, so
    per-shard sketches union+re-sum into the global sketch with zero
    error vs a single build."""
    from kf_task_fhir_etl_spark.operators import sketch

    ev = load_table(spark, sf_dir, "events")
    cms = sketch.cms_build(ev, "user_id", depth=4, width=256)
    est = sketch.cms_estimate(cms, ev.select("user_id"), "user_id")
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    return (
        exact.join(est, "user_id")
        .select(
            "user_id",
            "exact_n",
            "cms_est",
            (F.col("cms_est") - F.col("exact_n")).alias("overcount"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q122 — approximate profiling (HLL++ distinct counts, within-bound gated)
# ---------------------------------------------------------------------------


@register(
    "q122_profile_approx",
    oracle="""
    SELECT 'o_custkey' AS "column",
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
           TRUE AS nd_within_bound,
           CAST(MIN(o_custkey) AS VARCHAR) AS min_value,
           CAST(MAX(o_custkey) AS VARCHAR) AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_orderdate',
           CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderdate) AS BIGINT), TRUE,
           CAST(MIN(o_orderdate) AS VARCHAR), CAST(MAX(o_orderdate) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderkey',
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT), TRUE,
           CAST(MIN(o_orderkey) AS VARCHAR), CAST(MAX(o_orderkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority',
           CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT), TRUE,
           MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus',
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT), TRUE,
           MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    ORDER BY "column"
    """,
)
def q122_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``profile(exact=False)`` — the 100 TB profiling mode — driver-gated
    via the q57 within-bound pattern (VERDICT r04 item #3): HLL++ distinct
    estimates are engine-internal, so the raw estimate can never be a
    cross-engine column, but the CONTRACT is deterministic. The gate runs
    BOTH modes over the same five orders columns (exactly q103's, so the
    two gates differ only in the flag), joins on the column name, and
    emits the exact metrics plus ``nd_within_bound`` =
    |HLL estimate − exact| ≤ max(⌈5·rsd·exact⌉, 5) — 5× the published
    rsd=0.01 bound, so a correct sketch can never flip it, while a wrong
    column, wrong rsd, or garbage regression fails the value hash. Also
    pins the flag contract itself: both modes return the identical schema,
    so the equi-join on ``column`` only works while callers really can
    flip the flag without touching downstream code."""
    from kf_task_fhir_etl_spark.operators import profile

    o = load_table(spark, sf_dir, "orders")
    cols = ["o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority", "o_orderstatus"]
    rsd = 0.01  # single source for both the sketch precision and the bound
    exact = profile.profile(o, cols, exact=True)
    approx = profile.profile(o, cols, exact=False, rsd=rsd).select(
        "column", F.col("n_distinct").alias("__nd_hll")
    )
    return (
        exact.join(approx, "column")
        .select(
            "column",
            "n_nulls",
            "n_distinct",
            (
                F.abs(F.col("__nd_hll") - F.col("n_distinct"))
                <= F.greatest(F.ceil(F.col("n_distinct") * (5 * rsd)), F.lit(5))
            ).alias("nd_within_bound"),
            "min_value",
            "max_value",
        )
        .orderBy("column")
    )


# ---------------------------------------------------------------------------
# q123 — Count-Min heavy hitters (token-frequency audit, exact-verified)
# ---------------------------------------------------------------------------


@register(
    "q123_cms_heavy_hitters",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents
    ), words AS (
      SELECT word FROM toks WHERE word <> ''
    ), rows_ AS (SELECT r FROM (VALUES (0), (1), (2), (3)) t(r)),
    pairs AS (
      SELECT word, r,
             (('0x' || substr(md5(r || ':' || word), 1, 12))::BIGINT) % 512 AS bucket
      FROM words CROSS JOIN rows_
    ), cms AS (
      SELECT r, bucket, COUNT(*) AS c FROM pairs GROUP BY r, bucket
    ), kb AS (
      SELECT DISTINCT word, r, bucket FROM pairs
    ), est AS (
      SELECT word, MIN(c) AS cms_est FROM kb JOIN cms USING (r, bucket) GROUP BY word
    ), topk AS (
      SELECT word, cms_est FROM est ORDER BY cms_est DESC, word LIMIT 20
    ), exact AS (
      SELECT word, COUNT(*) AS exact_n FROM words GROUP BY word
    )
    SELECT t.word, t.cms_est, e.exact_n, t.cms_est - e.exact_n AS overcount
    FROM topk t JOIN exact e USING (word)
    ORDER BY cms_est DESC, word
    """,
)
def q123_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters (operators/sketch.py::cms_topk — VERDICT r04
    item #4): the token-frequency audit a 100 TB corpus actually runs. The
    document stream explodes to words (map-side combined before any
    shuffle), a 4×512 sketch summarizes it, and the top-20 tokens by
    sketch estimate are reported next to their EXACT counts — every
    reported heavy hitter's estimate AND exact count hash-checked, with
    the always-≥0 overcount column making the CMS one-sided-error
    contract itself a gated value. The md5 bucketing keeps the sketch
    contents engine-portable (q121), so the oracle rebuilds the identical
    counter table, ranks the same candidates, and must reproduce the same
    top-20 byte-for-byte — including boundary ties, which the
    (estimate DESC, word) total order pins. Ranking is
    TakeOrderedAndProject (per-partition top-k), never a global sort."""
    from kf_task_fhir_etl_spark.operators import lifecycle, sketch

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")).filter(
        F.col("word") != ""
    )
    # three consumers (sketch build, candidate estimate, exact counts) share
    # the token stream: checkpoint it once so the scan + explode runs once,
    # not three times (the shared-subplan rule every multi-consumer gate
    # follows)
    from kf_task_fhir_etl_spark import etl

    words = words.localCheckpoint(eager=False)
    # lifecycle.prepared: cms_estimate would otherwise take its own
    # INTERNAL lazy checkpoint of the raw build (sketch.py) — a pinned
    # 4×512 sketch per gate call with no reachable release handle (r07
    # review); the prepared handle is released below with words
    cms = lifecycle.prepared(sketch.cms_build(words, "word", depth=4, width=512))
    top = sketch.cms_topk(cms, words, "word", k=20)
    exact = words.groupBy("word").agg(F.count(F.lit(1)).alias("exact_n"))
    result = (
        top.join(exact, "word")
        .select(
            "word",
            "cms_est",
            "exact_n",
            (F.col("cms_est") - F.col("exact_n")).alias("overcount"),
        )
        # eager: materializes the token stream's one execution NOW so the
        # corpus-sized words checkpoint AND the sketch checkpoint can be
        # released before returning — a resident driver re-running this
        # gate otherwise accumulates one pinned token-stream copy plus one
        # sketch per call (ADVICE r06 + r07 review); the 20 rows pinned
        # here are the whole residue
        .localCheckpoint(eager=True)
    )
    etl.release_checkpoints([words, cms])
    return result.orderBy(F.desc("cms_est"), "word")


# ---------------------------------------------------------------------------
# q125 — weighted label propagation (community detection, fixed rounds)
# ---------------------------------------------------------------------------


def _q125_oracle(iters: int = 3) -> str:
    head = """
    WITH e0 AS (
      SELECT 'c' || o_custkey AS a, 's' || l_suppkey AS b, COUNT(*) AS w
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE EXTRACT(year FROM o_orderdate) = 1995
      GROUP BY 1, 2
    ), edges AS (
      SELECT a AS src, b AS dst, w FROM e0
      UNION ALL SELECT b, a, w FROM e0
    ), nodes AS (
      SELECT DISTINCT src AS node FROM edges
    ), l0 AS (
      SELECT node, node AS label FROM nodes
    )"""
    its = ""
    prev = "l0"
    for i in range(1, iters + 1):
        its += f""", s{i} AS (
      SELECT e.dst AS node, r.label, SUM(e.w) AS w_sum
      FROM edges e JOIN {prev} r ON e.src = r.node
      GROUP BY e.dst, r.label
    ), p{i} AS (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node ORDER BY w_sum DESC, label ASC) AS rn
        FROM s{i}) WHERE rn = 1
    ), l{i} AS (
      SELECT n.node, COALESCE(p.label, n.label) AS label
      FROM {prev} n LEFT JOIN p{i} p ON n.node = p.node
    )"""
        prev = f"l{i}"
    return head + its + f"""
    SELECT node, label FROM {prev} ORDER BY node
    """


@register("q125_label_propagation", oracle=_q125_oracle(3))
def q125_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted label propagation (operators/graph.py::label_propagation —
    the weighted-graph generalization of q63's connected components, VERDICT
    r05 #6) over the 1995 buyer-supplier graph, edge weight = number of
    line items linking the pair. Three synchronous rounds from
    self-labels; each node adopts the incoming label with the largest
    weight sum (ties → smallest label). Weights are integral so the
    distributed partial sums are exact, and the oracle UNROLLS the same
    three rounds as chained CTEs — the whole trajectory must match, the
    q102 discipline. Plan shape per round: one edges⋈labels join on the
    pre-shuffled edge table + one (node, label) aggregate + one argmax
    window; state is a |V|-row vector, lineage checkpointed per round."""
    from kf_task_fhir_etl_spark.operators import graph

    o = load_table(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1995)
    li = load_table(spark, sf_dir, "lineitem")
    e0 = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("a"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    edges = e0.select(F.col("a").alias("src"), F.col("b").alias("dst"), "w").unionByName(
        e0.select(F.col("b").alias("src"), F.col("a").alias("dst"), "w")
    )
    return graph.label_propagation(edges, iters=3, weight="w").orderBy("node")


# ---------------------------------------------------------------------------
# q126 — t-digest mergeable quantiles (sketch family: q57 GK, q106 KMV,
# q121/q123 CMS)
# ---------------------------------------------------------------------------


@register(
    "q126_tdigest_quantiles",
    oracle="""
    SELECT event_type,
           COUNT(value)                          AS n,
           ROUND(quantile_cont(value, 0.5), 6)   AS p50,
           ROUND(quantile_cont(value, 0.9), 6)   AS p90,
           ROUND(quantile_cont(value, 0.99), 6)  AS p99,
           TRUE AS p50_in_band, TRUE AS p90_in_band, TRUE AS p99_in_band,
           TRUE AS state_bounded
    FROM events
    WHERE value IS NOT NULL AND NOT isnan(value)
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q126_tdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-digest quantiles (operators/tdigest.py, VERDICT r05 #6): per-type
    digests built by the two-level map-side-combine pattern (partition
    partials via mapInPandas → one digest-row shuffle → per-group merge),
    then p50/p90/p99 estimated from the centroid state. Estimates are
    implementation-defined across engines, so the gate uses the q57 sketch
    discipline: hash the EXACT quantiles (Spark percentile ≡ DuckDB
    quantile_cont) plus within-band booleans — each estimate must lie
    between the exact quantiles at rank ±0.02, ~10× the k1 bound at δ=200
    (rank error ≤ ~1/δ at the median, tighter at the tails) — and a
    ``state_bounded`` boolean pinning the centroid count ≤ δ+1 (typical
    counts are ~δ/2; δ+1 is the compress sweep's worst case, so a correct
    digest can never flip the boolean). The driver corpora's
    groups are 2k-40k rows, far above the ~100 rows the ±0.02 band needs
    to straddle a data value."""
    from kf_task_fhir_etl_spark.operators import tdigest

    ev = load_table(spark, sf_dir, "events")
    # exact side sees EXACTLY the values the digest folds (non-null,
    # non-NaN — tdigest_build's own filter): without this, a group whose
    # values are all NaN appears on the exact side (COUNT counts NaN in
    # both engines) but has no digest row, and the inner join drops it
    # only in Spark (r06 review, 10th pass); mixed-NaN groups would also
    # skew Spark's percentile (NaN sorts greatest) against the bands
    ev = ev.filter(F.col("value").isNotNull() & ~F.isnan("value"))
    from kf_task_fhir_etl_spark import etl

    delta = 200.0  # single source for the build AND the state bound below
    # two consumers (quantile estimation, centroid-count boolean) share the
    # digest build — checkpoint so the scan + merge runs once; released
    # after the result materializes (below)
    digests = tdigest.tdigest_build(ev, "event_type", "value", delta=delta).localCheckpoint(
        eager=False
    )
    est = (
        tdigest.tdigest_quantiles(digests, [0.5, 0.9, 0.99])
        .groupBy("group")
        .agg(
            F.max(F.when(F.col("prob") == 0.5, F.col("est"))).alias("e50"),
            F.max(F.when(F.col("prob") == 0.9, F.col("est"))).alias("e90"),
            F.max(F.when(F.col("prob") == 0.99, F.col("est"))).alias("e99"),
        )
    )
    state = digests.select("group", F.size("means").alias("n_centroids"))
    probs = [0.5, 0.9, 0.99, 0.48, 0.52, 0.88, 0.92, 0.97, 1.0]
    exact = ev.groupBy("event_type").agg(
        F.count("value").alias("n"),
        F.percentile("value", F.array(*[F.lit(p) for p in probs])).alias("__ex"),
    )
    # (value-less groups vanish in BOTH engines under the shared
    # non-null/non-NaN row filter above — the WHERE in the oracle — so no
    # separate n>0 gate is needed; r06 review passes 7 and 10)
    ex = lambda i: F.col("__ex").getItem(i)  # noqa: E731
    result = (
        # eqNullSafe: SQL GROUP BY (both engines) keeps the null group, and
        # tdigest_build emits its digest row (dropna=False) — a null-unsafe
        # equi-join would silently drop that row on the Spark side only,
        # diverging from the oracle on null-bearing corpora (r06 review)
        exact.join(est, exact["event_type"].eqNullSafe(est["group"]))
        .join(state.withColumnRenamed("group", "g2"), F.col("event_type").eqNullSafe(F.col("g2")))
        .select(
            "event_type",
            "n",
            F.round(ex(0), 6).alias("p50"),
            F.round(ex(1), 6).alias("p90"),
            F.round(ex(2), 6).alias("p99"),
            F.col("e50").between(ex(3), ex(4)).alias("p50_in_band"),
            F.col("e90").between(ex(5), ex(6)).alias("p90_in_band"),
            F.col("e99").between(ex(7), ex(8)).alias("p99_in_band"),
            # bound is δ+1, not δ: the one-pass compress sweep's worst case
            # is δ+1 clusters (each emitted extent just under 1 k-unit over
            # a δ/2 total k-range, plus the always-emitted trailing
            # cluster) — a correct digest AT the bound must not flip the
            # boolean (r06 review; observed counts sit near δ/2)
            (F.col("n_centroids") <= F.lit(int(delta) + 1)).alias("state_bounded"),
        )
        # eager: materializes the digest build's one execution NOW so its
        # checkpoint can be released before returning (ADVICE r06 — the
        # per-call lazy checkpoint otherwise pins blocks per gate call in
        # a resident driver); the per-group result rows are the residue
        .localCheckpoint(eager=True)
    )
    etl.release_checkpoints([digests])
    # nulls last matches DuckDB's ORDER BY default (Spark defaults to
    # NULLS FIRST ascending); the driver compare is order-insensitive,
    # but the published ordering should not silently diverge
    return result.orderBy(F.asc_nulls_last("event_type"))


# ---------------------------------------------------------------------------
# q127 — small-file compaction (partitioned-layout maintenance)
# ---------------------------------------------------------------------------


@register(
    "q127_compact_small_files",
    oracle="""
    SELECT event_type, COUNT(*) AS n_rows, TRUE AS rows_match,
           TRUE AS files_reduced, TRUE AS bins_match
    FROM events WHERE event_type IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def q127_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (operators/compaction.py, VERDICT r05 #6): a
    deliberately fragmented partitioned layout (events partitioned by
    event_type, written through repartition(24) so every partition dir
    holds up to 24 small files — the streaming-append pathology) is
    compacted into cumulative-stride bins sized so each partition lands ~4
    output files. The gate hash-checks, per partition: the row count of the
    COMPACTED layout (the oracle recomputes it from the source table — rows
    must survive the rewrite exactly), rows_match (compacted count ==
    fragmented count), files_reduced (fewer files than before), and
    bins_match (exactly one output file per planned bin — the rewrite
    honored the plan). Both layouts are staged build-once behind
    catalog.staged_layout's fingerprint + atomic-rename publish (the q119
    discipline), so run 1 pays the rewrite and repeats measure the
    maintenance op's steady state; the file/bin statistics are recomputed
    from listings every run (metadata-sized)."""
    from kf_task_fhir_etl_spark.catalog import staged_layout
    from kf_task_fhir_etl_spark.operators import compaction

    def build_frag(tmp: str) -> None:
        ev = load_table(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
        ev.repartition(24).write.partitionBy("event_type").parquet(tmp)

    src = staged_layout("fragsrc", sf_dir, ["events"], build_frag)
    files = compaction.list_files(src)
    n_parts = len({f["partition"] for f in files}) or 1
    target = max(sum(f["bytes"] for f in files) // (n_parts * 4), 1)
    dst = staged_layout(
        "compacted", sf_dir, ["events"], lambda tmp: compaction.compact(spark, src, tmp, target)
    )
    plan_stats = (
        compaction.compaction_plan(spark, files, target)
        .groupBy("partition")
        .agg(
            F.count(F.lit(1)).alias("n_files_before"),
            F.countDistinct("bin").alias("n_bins"),
        )
    )
    after = spark.createDataFrame(
        compaction.list_files(dst), "partition string, file string, bytes bigint"
    ).groupBy("partition").agg(F.count(F.lit(1)).alias("n_files_after"))
    # partition label → value via compaction.partition_values (the parser
    # that stays correct on multi-level / '='-containing labels — r06
    # review caught a naive split('=') here); the label set is
    # metadata-sized, so the mapping is a tiny local-relation join
    part_map = spark.createDataFrame(
        [
            (p, compaction.partition_values(p).get("event_type"))
            for p in sorted({f["partition"] for f in files})
        ],
        "partition string, event_type string",
    )
    stats = (
        plan_stats.join(after, "partition")
        .join(part_map, "partition")
        .select("event_type", "n_files_before", "n_bins", "n_files_after")
    )
    rows_before = (
        spark.read.parquet(src).groupBy("event_type").agg(F.count(F.lit(1)).alias("n_before"))
    )
    rows_after = (
        spark.read.parquet(dst).groupBy("event_type").agg(F.count(F.lit(1)).alias("n_rows"))
    )
    return (
        rows_after.join(rows_before, "event_type")
        .join(stats, "event_type")
        .select(
            "event_type",
            "n_rows",
            (F.col("n_rows") == F.col("n_before")).alias("rows_match"),
            (F.col("n_files_after") < F.col("n_files_before")).alias("files_reduced"),
            (F.col("n_files_after") == F.col("n_bins")).alias("bins_match"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q128 — streaming CDC apply (LWW keyed-table maintenance from a change
# stream, the streaming complement of q101's batch SCD2)
# ---------------------------------------------------------------------------


@register(
    "q128_streaming_cdc_apply",
    oracle="""
    SELECT o_orderkey AS order_key,
           CASE WHEN o_orderkey % 7 = 0 THEN 'X2' ELSE o_orderstatus END AS status,
           ROUND(o_totalprice, 2) AS price
    FROM orders WHERE o_orderkey % 13 <> 0
    ORDER BY order_key
    """,
)
def q128_streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply (streaming/cdc.py): three change epochs derived
    from orders — (1) upsert every key, (2) upsert status 'X2' for keys
    %7==0, (3) DELETE keys %13==0 — staged as one parquet file each and
    streamed through ``foreachBatch`` with maxFilesPerTrigger=1, so the
    sink applies three microbatches of last-writer-wins merges (tombstones
    retained in the store) onto the shared versioned-marker store. The
    gate hash-checks the final LIVE table against the oracle's closed-form
    last-writer-wins: deleted keys absent, %7 keys updated, everything
    else at its epoch-1 value. Store + checkpoint are keyed by the source
    content fingerprint (regenerated data rebuilds; a re-run replays into
    the replay guard and reads the committed store — the restart
    idempotency the marker layout exists for). Batch-boundary independence
    is pytest-pinned separately by replaying the same changes in shuffled
    batch splits."""
    import os as _os

    from kf_task_fhir_etl_spark.catalog import staged_base, staged_layout
    from kf_task_fhir_etl_spark.streaming import cdc

    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")

    def build_changes(tmp: str) -> None:
        e1 = orders.select(
            k.alias("order_key"),
            F.col("o_orderstatus").alias("status"),
            F.round(F.col("o_totalprice"), 2).alias("price"),
            F.lit(1).cast("long").alias("seq"),
            F.lit(cdc.OP_UPSERT).alias("op"),
        )
        e2 = orders.filter(k % 7 == 0).select(
            k.alias("order_key"),
            F.lit("X2").alias("status"),
            F.round(F.col("o_totalprice"), 2).alias("price"),
            F.lit(2).cast("long").alias("seq"),
            F.lit(cdc.OP_UPSERT).alias("op"),
        )
        e3 = orders.filter(k % 13 == 0).select(
            k.alias("order_key"),
            F.lit(None).cast("string").alias("status"),
            F.lit(None).cast("double").alias("price"),
            F.lit(3).cast("long").alias("seq"),
            F.lit(cdc.OP_DELETE).alias("op"),
        )
        # one file per epoch, in epoch order (file mtime drives microbatch
        # order locally — though LWW makes ANY order converge)
        for i, df in enumerate((e1, e2, e3), start=1):
            df.coalesce(1).write.parquet(_os.path.join(tmp, f"e{i}"))

    changes_dir = staged_layout("cdc_changes", sf_dir, ["orders"], build_changes)
    # staged_base (not a hand-built path): the store+checkpoint pair keys on
    # the same tag+fingerprint convention as every other staged artifact,
    # under the same temp root
    base = staged_base("cdcstore", sf_dir, ["orders"])
    _os.makedirs(base, exist_ok=True)
    store = _os.path.join(base, "store")
    stream = (
        spark.readStream.schema(
            "order_key bigint, status string, price double, seq long, op string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(_os.path.join(changes_dir, "e*"))
    )
    q = cdc.cdc_stream(
        stream,
        store,
        key_cols=["order_key"],
        order_col="seq",
        op_col="op",
        checkpoint=_os.path.join(base, "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    live = cdc.read_table(spark, store)
    if live is None:
        # no commit marker: the store was removed out from under a surviving
        # stream checkpoint (e.g. a /tmp cleaner took base/store but not
        # base/ckpt, so every change file is already marked processed and no
        # batch re-applies). Fail LOUDLY with the actual condition — the
        # versioned store's contract — instead of an opaque NoneType deref.
        raise RuntimeError(
            f"q128: CDC store at {store} has no committed version; "
            "remove the stream checkpoint to replay the changes"
        )
    return live.select("order_key", "status", "price").orderBy("order_key")


# ---------------------------------------------------------------------------
# q129 — Bloom-filter join pruning (sketch family: q57 HLL/GK, q106 KMV,
# q121/q123 CMS, q126 t-digest — this is the JOIN-pruning member)
# ---------------------------------------------------------------------------


@register(
    "q129_bloom_join_pruning",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
             AS revenue,
           TRUE AS fpr_ok
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q129_bloom_join_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning (operators/bloom.py): build a one-row
    relational Bloom filter over the urgent orders' keys, broadcast it, and
    prune lineitem MAP-SIDE (codegen'd O(1) dense-array bit tests, zero
    big-side shuffle — the gate RAISES if the pruned plan loses its
    BroadcastNestedLoopJoin-over-one-row shape, the q95/q119 plan-assert
    discipline) before the exact join. Blooms have no false negatives, so
    prune → exact join returns EXACTLY the plain join's rows: the oracle is
    the plain SQL join, value-hashed — a silently broken filter (wrong
    seed, dropped word, bad bit test) loses rows and fails the hash.
    ``fpr_ok`` pins the other failure direction: the number of
    false-positive rows surviving the prune must stay under max(1% of
    lineitem, 100) — the filter is SIZED FROM THE DATA at 16 bits/key (k=7
    hashes → FPR ≈ 7e-4, ~15× under the band; a fixed size flipped the
    boolean at sf0.1, where 30k urgent keys drowned a 64 Kbit filter at
    FPR ≈ 0.75 — sizing is part of the operator's contract, so the gate
    exercises it), while an all-pass regression (a membership expr
    collapsing to TRUE) flips it instantly. The two counts this costs are
    dim-side sizing plus a zero-column lineitem count (n_big) — the pruned
    frame itself is scanned ONCE: the exact join is a LEFT join whose
    single groupBy carries both the matched aggregates and the
    false-positive total (r06's form scanned the bloom-filtered lineitem
    twice — grouped + n_pruned; VERDICT r07 #6). The filter is
    ``bloom_prepare``d and RELEASED after the one scan materializes
    (ADVICE r06: the gate previously pinned the filter's checkpoint
    forever). At 1000 executors the dense word array (16n bits ≈ 60 KiB at
    sf0.1) rides the broadcast; lineitem never moves."""
    from kf_task_fhir_etl_spark import etl
    from kf_task_fhir_etl_spark.operators import bloom

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    keys = orders.select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem")
    n_keys = keys.count()
    # zero-column count for the FPR band's denominator — reads parquet
    # row-group metadata, not data pages; never part of the big-side plan
    n_big = li.count()
    num_bits = 64 * max(1, (16 * n_keys + 63) // 64)
    bl = bloom.bloom_prepare(
        bloom.bloom_build(keys, "o_orderkey", num_bits=num_bits, num_hashes=7)
    )
    pruned = bloom.bloom_prune(li, "l_orderkey", bl)

    # plan assert: the prune must be a broadcast of the ONE-ROW filter over
    # the unshuffled lineitem scan. Release the prepared filter BEFORE
    # raising — a resident driver retrying a shape-failed gate would
    # otherwise pin one filter checkpoint per call (r07 review, seventh
    # pass; the bloom_prune._reject / run_pipeline domain-clash class)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    if "BroadcastNestedLoopJoin" not in plan:
        etl.release_checkpoints([bl])
        raise AssertionError(
            "q129: bloom_prune lost its broadcast-one-row plan shape:\n" + plan
        )

    # ONE scan of the pruned frame: LEFT join against the dim keys, then a
    # single groupBy that carries BOTH the matched aggregates (n_rows,
    # revenue — count/sum over non-null o_orderkey only, ≡ the inner join)
    # AND the total surviving rows (n_seen, matched + false positives).
    joined = pruned.join(
        F.broadcast(keys), pruned["l_orderkey"] == keys["o_orderkey"], "left"
    )
    matched = keys["o_orderkey"].isNotNull()
    grouped = (
        joined.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_seen"),
            F.count(keys["o_orderkey"]).alias("n_rows"),
            # DECIMAL accumulation: a double SUM is partition-order
            # dependent and flips the 2dp rounding vs the sequential oracle
            # at sf0.1 row counts (measured); per-row products cast to
            # DECIMAL(18,4) sum exactly and associatively in both engines
            F.sum(
                F.when(
                    matched,
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    ),
                )
            )
            .cast("double")
            .alias("revenue"),
        )
        # EAGER: materializes the one big-side scan NOW so the filter's
        # broadcast-sized checkpoint can be released before returning —
        # the ≤|distinct flags| rows pinned here are the whole residue
        .localCheckpoint(eager=True)
    )
    etl.release_checkpoints([bl])
    stats = (
        grouped.agg(
            F.sum("n_seen").alias("n_pruned"), F.sum("n_rows").alias("n_matched")
        ).select(
            (
                (F.col("n_pruned") - F.col("n_matched"))
                <= F.greatest(F.lit(n_big // 100), F.lit(100))
            ).alias("fpr_ok")
        )
    )
    return (
        # drop flag groups that survived ONLY as false positives (n_rows=0
        # — possible in principle, absent at our FPR): the oracle's inner
        # join never emits them
        grouped.filter(F.col("n_rows") > 0)
        .crossJoin(F.broadcast(stats))
        .select("l_returnflag", "n_rows", "revenue", "fpr_ok")
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# q130 — Z-order clustering (multi-dimensional data skipping; layout family:
# q95 bucketing, q119 partition pruning, q127 compaction)
# ---------------------------------------------------------------------------

# the 8-bit Morton interleave, written once for both engines: Spark builds
# the same expression via zorder.z_value; the oracle inlines this literal
# SQL arithmetic so z-values hash-check cross-engine
_Z_TERMS_SQL = " | ".join(
    f"(((qa >> {i}) & 1) << {2 * i}) | (((qb >> {i}) & 1) << {2 * i + 1})"
    for i in range(8)
)


@register(
    "q130_zorder_clustering",
    oracle=f"""
    SELECT event_id,
           {_Z_TERMS_SQL} AS z,
           TRUE AS zorder_skips, TRUE AS beats_random
    FROM (SELECT event_id,
                 user_id % 16 AS qa,
                 -- explicit NULL/NaN passthrough mirrors quantize_fixed:
                 -- GREATEST/LEAST ignore NULLs in DuckDB too, and the
                 -- engines DISAGREE on NaN (Spark floor->0, DuckDB sorts
                 -- NaN greatest->255), so both map to NULL z (r06 review)
                 CASE WHEN value IS NULL OR isnan(value) THEN NULL
                      ELSE CAST(LEAST(GREATEST(FLOOR(value / 500.0 * 256), 0), 255) AS BIGINT)
                 END AS qb
          FROM events)
    WHERE event_id % 97 = 0
    ORDER BY event_id
    """,
)
def q130_zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering (operators/zorder.py): events quantized on
    (user_id % 16, value→8-bit fixed range), Morton-interleaved, and
    range-partitioned into 24 files so each file carries a tight per-dim
    min/max envelope — the Delta OPTIMIZE ZORDER technique as plain Spark.
    Two-part gate: (1) EXACT cross-engine z-values for a deterministic row
    sample — the oracle recomputes the identical shift/mask interleave in
    SQL, so any drift in quantization or bit placement fails the hash;
    (2) the skipping property MEASURED each run: per-file envelopes (one
    metadata-sized aggregation) drive min/max pruning for a box query
    (half the user buckets × values 100-200, populated at every sf), and
    the booleans pin that the z-layout reads ≤ half its files AND strictly
    fewer than a same-file-count random layout (which a box query touches
    ~completely — measured 2/16 vs 16/16 on synthetic 2-D data). Layouts
    stage build-once behind catalog.staged_layout (q119/q127 discipline);
    run 1 pays the two writes, repeats re-measure from listings. At scale
    the write is one range exchange (RangePartitioner samples the
    z-distribution) — the same cost as any global sort-write, bought once
    per maintenance cycle."""
    import os as _os

    from kf_task_fhir_etl_spark.catalog import staged_layout
    from kf_task_fhir_etl_spark.operators import zorder

    ev = load_table(spark, sf_dir, "events")
    qa = (F.col("user_id") % 16).cast("bigint")
    qb = zorder.quantize_fixed(F.col("value"), 0.0, 500.0, 8)
    zcol = zorder.z_value([qa, qb], bits=8)
    n_files = 24

    def build(tmp: str) -> None:
        src = ev.select("event_id", qa.alias("qa"), qb.alias("qb"))
        zorder.zorder_write(src, _os.path.join(tmp, "zo"), zorder.z_value(
            [F.col("qa"), F.col("qb")], bits=8
        ), n_files)
        # comparison layout: same file count, insertion order (the shape an
        # unclustered ingest produces)
        src.repartition(n_files).write.parquet(_os.path.join(tmp, "rand"))

    # the writer's PARAMETERS are part of the staging key (r06 review: the
    # fingerprint covers only the SOURCE, so a write-path change — file
    # count, quantization bits, or a zorder_write strategy regression —
    # would silently keep measuring the previously staged good layout);
    # bump the suffix when the write path changes materially
    base = staged_layout(f"zorder_events_{n_files}f_8b_v1", sf_dir, ["events"], build)
    box = {"qa": (4, 11), "qb": (51, 102)}  # user buckets 4-11 × value 100-200
    hits = {}
    for name in ("zo", "rand"):
        env = zorder.file_envelopes(spark, _os.path.join(base, name), ["qa", "qb"])
        hits[name] = zorder.box_query_file_hits(env, box)
    flags = (
        hits["zo"]
        .select(F.col("n_files").alias("nf_z"), F.col("n_hit").alias("hit_z"))
        .crossJoin(
            hits["rand"].select(F.col("n_hit").alias("hit_r"))
        )
        .select(
            (F.col("hit_z") <= F.col("nf_z") / 2).alias("zorder_skips"),
            (F.col("hit_z") < F.col("hit_r")).alias("beats_random"),
        )
    )
    sample = ev.filter(F.col("event_id") % 97 == 0).select(
        "event_id", zcol.alias("z")
    )
    return (
        sample.crossJoin(F.broadcast(flags))
        .select("event_id", "z", "zorder_skips", "beats_random")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# q131 — triangle counting (graph family: q102 pagerank, q125 label
# propagation, q63/q72 connected components — this is the motif-counting
# member)
# ---------------------------------------------------------------------------


@register(
    "q131_triangle_count",
    oracle="""
    WITH li AS (
      SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 10 = 0
    ), e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), tri AS (
      SELECT p1.u AS x, p1.v AS y, p2.v AS z
      FROM e p1
      JOIN e p2 ON p1.u = p2.u AND p1.v < p2.v
      JOIN e p3 ON p3.u = p1.v AND p3.v = p2.v
    ), corners AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    )
    SELECT node, COUNT(*) AS n_tri FROM corners GROUP BY node ORDER BY node
    """,
)
def q131_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (operators/graph.py::triangle_count) over
    the part co-purchase graph — parts co-occurring in an order are
    linked. The Spark side runs the DEGREE-ORDERED orientation algorithm
    (each triangle produced exactly once from its lowest-(degree,id)
    corner; wedge fan-out bounded by oriented out-degree — O(sqrt E), the
    arboricity bound, so no hub explosion at 100 TB); the oracle counts
    the same triangles by the id-ordered textbook 3-join — an INDEPENDENT
    method whose agreement pins both the orientation logic and the corner
    explode. No global rank/row_number anywhere: the orientation order is
    a per-edge (degree, id) struct comparison. The graph is the 10%-part
    subgraph (l_partkey % 10 = 0 — pushed below the self-join, so the
    pair generation works on a tenth of the scan): the FULL co-purchase
    graph at sf0.1 is near-complete per order neighborhood (1.2M edges,
    1.9M triangles, ~30M wedges — measured 25-34 s, all spent counting
    an analytically uninteresting quasi-clique), while the subgraph
    keeps a healthy 464→1,916 triangle growth across sf0.01→0.1 at
    interactive cost; the operator itself is unrestricted. The staged
    edge/orientation frames are checkpointed via handles_out and
    RELEASED after the per-node counts materialize (the q123/q126/q134
    lifecycle — without it the pair-generation self-join re-derives once
    per plan appearance, r07 review)."""
    from kf_task_fhir_etl_spark import etl
    from kf_task_fhir_etl_spark.operators import graph

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .filter(F.col("l_partkey") % 10 == 0)
    )
    pairs = _copurchase_pairs(li)
    handles: list[DataFrame] = []
    counts = graph.triangle_count(pairs, handles_out=handles)
    result = counts.localCheckpoint(eager=True)  # per-node rows — the residue
    etl.release_checkpoints(handles)
    return result.orderBy("node")


# ---------------------------------------------------------------------------
# q132 — data-quality expectations suite (validation family: A4's
# count-match asserts generalized; operators/expectations.py)
# ---------------------------------------------------------------------------


@register(
    "q132_expectations_suite",
    oracle="""
    SELECT * FROM (
      -- COUNT(col), not COUNT(*): duplicates among NON-NULL keys only
      -- (SQL UNIQUE semantics — NULLs are the not_null check's business)
      SELECT 'orders_pk_unique' AS constraint_name,
             CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS DOUBLE) AS metric,
             COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) = 0 AS passed
      FROM orders
      UNION ALL
      SELECT 'orders_custkey_not_null',
             CAST(COUNT(*) - COUNT(o_custkey) AS DOUBLE),
             COUNT(*) - COUNT(o_custkey) <= 0
      FROM orders
      UNION ALL
      SELECT 'orders_totalprice_nonnegative',
             CAST(COALESCE(SUM(CASE WHEN o_totalprice IS NOT NULL AND o_totalprice < 0
                                    THEN 1 ELSE 0 END), 0) AS DOUBLE),
             COALESCE(SUM(CASE WHEN o_totalprice IS NOT NULL AND o_totalprice < 0
                               THEN 1 ELSE 0 END), 0) = 0
      FROM orders
      UNION ALL
      SELECT 'orders_totalprice_le_100k',
             CAST(COALESCE(SUM(CASE WHEN o_totalprice IS NOT NULL AND o_totalprice > 100000
                                    THEN 1 ELSE 0 END), 0) AS DOUBLE),
             COALESCE(SUM(CASE WHEN o_totalprice IS NOT NULL AND o_totalprice > 100000
                               THEN 1 ELSE 0 END), 0) = 0
      FROM orders
      UNION ALL
      SELECT 'orders_status_accepted',
             CAST(COALESCE(SUM(CASE WHEN o_orderstatus IS NOT NULL
                                     AND o_orderstatus NOT IN ('O', 'F', 'P')
                                    THEN 1 ELSE 0 END), 0) AS DOUBLE),
             COALESCE(SUM(CASE WHEN o_orderstatus IS NOT NULL
                                AND o_orderstatus NOT IN ('O', 'F', 'P')
                               THEN 1 ELSE 0 END), 0) = 0
      FROM orders
      UNION ALL
      SELECT 'lineitem_orderkey_fk',
             CAST(COALESCE(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END), 0) AS DOUBLE),
             COALESCE(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END), 0) = 0
      FROM (SELECT l_orderkey FROM lineitem WHERE l_orderkey IS NOT NULL) l
      LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        ON l.l_orderkey = o.o_orderkey
      UNION ALL
      SELECT 'orders_custkey_fk',
             CAST(COALESCE(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END), 0) AS DOUBLE),
             COALESCE(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END), 0) = 0
      FROM (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL) ord
      LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        ON ord.o_custkey = c.c_custkey
    ) ORDER BY constraint_name
    """,
)
def q132_expectations_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations (operators/expectations.py): five
    aggregate checks against orders compiled into ONE scan (uniqueness,
    null ratio, two range bounds, accepted values — N constraints, one
    aggregate pass, unpivoted relationally) plus two FK-containment
    checks as left-anti joins against distinct parent keys (NULL FKs
    excluded, SQL semantics). The le_100k bound FAILS by construction
    (TPC-H totalprice tops ~500k) so the gate hash-pins BOTH branches of
    ``passed`` and the violation metric's exact magnitude, not just a
    vacuous all-green report. Generalizes the reference's count-match
    asserts (SURVEY §2 A4) into the publish-gate a 100 TB ingest runs."""
    from kf_task_fhir_etl_spark.operators import expectations as ex

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    suite = ex.expect_suite(
        orders,
        [
            {"name": "orders_pk_unique", "kind": "unique", "cols": ["o_orderkey"]},
            {"name": "orders_custkey_not_null", "kind": "not_null", "col": "o_custkey"},
            {"name": "orders_totalprice_nonnegative", "kind": "range", "col": "o_totalprice", "lo": 0.0},
            {"name": "orders_totalprice_le_100k", "kind": "range", "col": "o_totalprice", "hi": 100000.0},
            {"name": "orders_status_accepted", "kind": "values", "col": "o_orderstatus", "allowed": ["O", "F", "P"]},
        ],
    )
    fks = [
        ex.expect_referential(li, "l_orderkey", orders, "o_orderkey", "lineitem_orderkey_fk"),
        ex.expect_referential(orders, "o_custkey", cust, "c_custkey", "orders_custkey_fk"),
    ]
    return ex.union_results([suite, *fks]).orderBy("constraint_name")


# ---------------------------------------------------------------------------
# q133 — incremental aggregate view maintenance (operators/ivm.py; the
# changelog→aggregate path of every streaming-SQL engine, batch form)
# ---------------------------------------------------------------------------


@register(
    "q133_incremental_view_maintenance",
    oracle="""
    SELECT o_custkey,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM orders
    WHERE (o_orderdate < TIMESTAMP '1997-01-01 00:00:00' AND o_orderkey % 7 <> 0)
       OR o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY o_custkey
    ORDER BY o_custkey
    """,
)
def q133_incremental_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (operators/ivm.py::apply_agg_delta):
    a per-customer (COUNT, SUM) view over pre-1997 orders is maintained
    through a signed changelog — DELETE every 7th pre-1997 order, INSERT
    everything from 1997 on — by delta aggregation + one full-outer merge,
    never rescanning the fact table. The oracle RECOMPUTES the view from
    scratch over the post-changelog row set: incremental ≡ recompute is
    the IVM correctness contract itself, so any drift in the signed
    arithmetic, the key coalescing, or the zero-count group removal
    (customers whose every order was deleted must VANISH, not linger at
    0) breaks the hash. DECIMAL accumulation keeps the sums exact and
    associative in both engines (the q129 lesson); the published total
    casts back to DOUBLE."""
    from kf_task_fhir_etl_spark.operators import ivm

    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01 00:00:00").cast("timestamp")
    price = F.col("o_totalprice").cast("decimal(18,4)")
    base = orders.filter(F.col("o_orderdate") < cutoff)
    view = base.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(price).alias("total"),
    )
    deletes = base.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_custkey", price.alias("price"), F.lit(-1).alias("op")
    )
    inserts = orders.filter(F.col("o_orderdate") >= cutoff).select(
        "o_custkey", price.alias("price"), F.lit(1).alias("op")
    )
    out = ivm.apply_agg_delta(
        view,
        deletes.unionByName(inserts),
        keys=["o_custkey"],
        sum_cols={"total": "price"},
        count_col="n_orders",
    )
    return out.select(
        "o_custkey", "n_orders", F.col("total").cast("double").alias("total")
    ).orderBy("o_custkey")


# ---------------------------------------------------------------------------
# q134 — ordered funnel / sequence match (operators/funnel.py; the
# MATCH_RECOGNIZE special case every event warehouse ships)
# ---------------------------------------------------------------------------


# Shared by q134 (batch) and q147 (stream): the stream ≡ batch contract is
# literally "same oracle" — one SQL string, two execution surfaces (the
# q137/q145 pattern).
_FUNNEL_ORACLE_SQL = """
    WITH s1 AS (
      -- ts/user IS NOT NULL mirrors the operator's intake filter: NULL
      -- timestamps cannot order and a NULL user would mint one phantom
      -- step-1 group no later equi-join can advance (r07 fourth pass;
      -- r08 twelfth pass)
      SELECT user_id AS u, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' AND ts IS NOT NULL AND user_id IS NOT NULL
      GROUP BY 1
    ), s2 AS (
      SELECT e.user_id AS u, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.u
      WHERE e.event_type = 'click' AND e.ts IS NOT NULL AND e.ts > s1.t1 GROUP BY 1
    ), s2j AS (
      SELECT s1.u, s1.t1, s2.t2 FROM s1 JOIN s2 ON s1.u = s2.u
    ), s3 AS (
      SELECT e.user_id AS u, MIN(e.ts) AS t3
      FROM events e JOIN s2j ON e.user_id = s2j.u
      WHERE e.event_type = 'purchase' AND e.ts IS NOT NULL AND e.ts > s2j.t2 GROUP BY 1
    ), s3j AS (
      SELECT s2j.u, s2j.t1, s3.t3 FROM s2j JOIN s3 ON s2j.u = s3.u
    )
    SELECT * FROM (
      SELECT 1 AS step_idx, 'view' AS step,
             (SELECT COUNT(*) FROM s1) AS n_users,
             0.0 AS avg_s_from_first
      UNION ALL
      SELECT 2, 'click', (SELECT COUNT(*) FROM s2j),
             -- INTEGER µs sum, one double division: matches the Spark
             -- side's exact accumulation (a double AVG's inner sum is
             -- summation-order dependent at rounding midpoints)
             (SELECT CASE WHEN COUNT(*) = 0 THEN 0.0 ELSE
                ROUND(SUM(epoch_us(t2) - epoch_us(t1)) / (COUNT(*) * 1000000.0), 4)
              END FROM s2j)
      UNION ALL
      SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3j),
             (SELECT CASE WHEN COUNT(*) = 0 THEN 0.0 ELSE
                ROUND(SUM(epoch_us(t3) - epoch_us(t1)) / (COUNT(*) * 1000000.0), 4)
              END FROM s3j)
    ) ORDER BY step_idx
    """


@register("q134_event_funnel", oracle=_FUNNEL_ORACLE_SQL)
def q134_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch ordered funnel (operators/funnel.py::funnel_counts):
    view → click → purchase, step k counted only when its event lands
    STRICTLY AFTER the user's step-(k−1) completion. Per step: one
    type-filtered scan (predicate pushed), one join + min-aggregate on
    the user key — the same partitioning end to end; the report is ONE
    aggregate over the trajectory frame. Per-step completion frames are
    lazily checkpointed (shared subplans — each feeds the trajectory AND
    the next step) and RELEASED after the result materializes (the
    q123/q126 lifecycle). The oracle chains the identical first-touch
    CTEs; gaps accumulate as INTEGER microseconds in both engines (exact
    and associative — a double AVG's inner sum is partition-order
    dependent at rounding midpoints, the q129 lesson), so only the one
    final division is floating."""
    from kf_task_fhir_etl_spark import etl
    from kf_task_fhir_etl_spark.operators import funnel

    ev = load_table(spark, sf_dir, "events")
    handles: list[DataFrame] = []
    counts = funnel.funnel_counts(
        ev, ["view", "click", "purchase"], handles_out=handles
    )
    result = counts.localCheckpoint(eager=True)  # 3 rows — the residue
    etl.release_checkpoints(handles)
    return result.orderBy("step_idx")


# ---------------------------------------------------------------------------
# q135 — exact set-similarity join via prefix filtering (dedup family:
# q10 exact, q11/q12 MinHash-LSH, q13 SimHash — this is the EXACT-recall
# member; operators/setsim.py)
# ---------------------------------------------------------------------------


@register(
    "q135_set_similarity_join",
    oracle=r"""
    WITH d AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
    ), t AS (
      SELECT DISTINCT doc_id, w FROM (
        SELECT doc_id,
               UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS w
        FROM d
      ) WHERE w <> ''
    ), size_ AS (
      SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
      FROM t a JOIN t b ON a.w = b.w AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b, i.c AS n_inter,
           ROUND(i.c / (sa.n + sb.n - i.c), 6) AS jaccard
    FROM inter i
    JOIN size_ sa ON i.id_a = sa.doc_id
    JOIN size_ sb ON i.id_b = sb.doc_id
    WHERE i.c * 10 >= 9 * (sa.n + sb.n - i.c)
    ORDER BY id_a, id_b
    """,
)
def q135_set_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join at Jaccard ≥ 0.9
    (operators/setsim.py): the AllPairs/prefix-filtering algorithm — every
    set ordered by the rarest-first global token order, candidates only
    from prefix-token collisions, NO false negatives by the prefix lemma —
    against a brute-force oracle that intersects EVERY id-ordered pair: an
    independent method, so agreement pins the prefix-length arithmetic
    (the classic off-by-one silently DROPS boundary pairs), the global
    order, and the verify. The threshold is the rational 9/10 and both
    engines decide membership in INTEGER arithmetic (|∩|·10 ≥ 9·|∪|) —
    no float boundary anywhere (0.9·n ceils wrong in doubles for n=10k).
    The corpus is the doc_id % 10 subset: the synthetic documents are
    template-generated near-duplicates (57% of ALL pairs exceed J=0.6 —
    measured), so the full corpus is a quasi-clique whose quadratic
    output, not the algorithm, dominates; the operator itself is
    unrestricted and its pruning is the rare-token prefix join. The
    staged token/prefix frames are checkpointed via handles_out and
    RELEASED after the pair rows materialize (the q123/q126/q134
    lifecycle; r07 review)."""
    from kf_task_fhir_etl_spark import etl
    from kf_task_fhir_etl_spark.operators import setsim

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .select(
            "doc_id",
            F.array_remove(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"), ""
            ).alias("toks"),
        )
    )
    handles: list[DataFrame] = []
    out = setsim.set_similarity_join(
        docs, "doc_id", "toks", t_num=9, t_den=10, handles_out=handles
    )
    result = out.select(
        F.col("id_a"), F.col("id_b"), "n_inter", "jaccard"
    ).localCheckpoint(eager=True)  # pair rows — the residue
    etl.release_checkpoints(handles)
    return result.orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# q136 — snapshot diff → changelog (table-versioning family: q101 SCD2,
# q128 CDC apply — this is the INVERSE of apply: derive the change feed
# two full snapshots imply; operators/scd.py::snapshot_diff)
# ---------------------------------------------------------------------------


@register(
    "q136_snapshot_diff",
    oracle="""
    WITH old_ AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 11 <> 0
    ), new_ AS (
      SELECT o_orderkey, o_orderstatus,
             o_totalprice + CASE WHEN o_orderkey % 5 = 0 THEN 100.0 ELSE 0.0 END
               AS o_totalprice
      FROM orders WHERE o_orderkey % 7 <> 0
    ), j AS (
      SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
             CASE WHEN o.o_orderkey IS NULL THEN 'I'
                  WHEN n.o_orderkey IS NULL THEN 'D'
                  WHEN n.o_orderstatus IS DISTINCT FROM o.o_orderstatus
                    OR n.o_totalprice IS DISTINCT FROM o.o_totalprice THEN 'U'
             END AS op,
             n.o_orderstatus, n.o_totalprice
      FROM old_ o FULL JOIN new_ n ON o.o_orderkey = n.o_orderkey
    )
    SELECT * FROM j WHERE op IS NOT NULL ORDER BY o_orderkey
    """,
)
def q136_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-changelog diff (operators/scd.py::snapshot_diff): two
    synthetic snapshots of the orders table — the new one drops every 7th
    key (deletes), gains every 11th (inserts, absent from old), and bumps
    totalprice by 100 on every 5th (updates) — and the operator emits
    exactly the I/U/D feed that turns old into new: one null-safe
    full-outer join on the key, null-safe column comparison (NULL→NULL is
    unchanged, NULL→value is a change), identical rows dropped. The
    oracle recomputes the same feed with FULL JOIN + IS DISTINCT FROM —
    the lakehouse change-data-feed contract, value-hashed. Update
    arithmetic (+100.0) is exact in both engines; no aggregation, so no
    rounding is needed anywhere."""
    from kf_task_fhir_etl_spark.operators import scd

    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 11 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        (
            F.col("o_totalprice")
            + F.when(F.col("o_orderkey") % 5 == 0, F.lit(100.0)).otherwise(F.lit(0.0))
        ).alias("o_totalprice"),
    )
    return scd.snapshot_diff(old, new, ["o_orderkey"]).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# q137 — event-pattern spans with negation (operators/patterns.py; the
# MATCH_RECOGNIZE-shaped generalization of the q134 funnel — VERDICT r07 #6)
# ---------------------------------------------------------------------------


# Shared by q137 (batch) and q145 (stream): the stream ≡ batch contract is
# literally "same oracle" — one SQL string, two execution surfaces.
_SPANS_ORACLE_SQL = """
    WITH b AS (
      SELECT user_id AS u, epoch_us(ts) AS us FROM events
      WHERE event_type = 'purchase' AND ts IS NOT NULL
    ), a AS (
      SELECT user_id AS u, epoch_us(ts) AS us FROM events
      WHERE event_type = 'view' AND ts IS NOT NULL
    ), n AS (
      SELECT user_id AS u, epoch_us(ts) AS us FROM events
      WHERE event_type = 'error' AND ts IS NOT NULL
    ), spans AS (
      SELECT b.u,
             (SELECT MAX(a.us) FROM a WHERE a.u = b.u AND a.us < b.us) AS start_us,
             b.us AS end_us
      FROM b
    )
    SELECT u AS user_id, start_us, end_us FROM spans
    WHERE start_us IS NOT NULL
      AND NOT EXISTS (
        SELECT 1 FROM n
        WHERE n.u = spans.u AND n.us > spans.start_us AND n.us < spans.end_us
      )
    ORDER BY user_id, start_us, end_us
    """


@register("q137_pattern_spans", oracle=_SPANS_ORACLE_SQL)
def q137_pattern_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All view→purchase spans with NO error strictly between
    (operators/patterns.py::pattern_spans) — existential all-matches
    semantics: every purchase pairs with its latest strictly-earlier view
    and survives only if no error event sits in the open µs interval.
    The Spark side is ONE window pass per user over the type-pruned scan
    (running max of anchor/deny µs with a RANGE frame ending 1 µs before
    the row — a SET rule, so same-µs ties cannot split the engines); the
    oracle derives the same spans by the INDEPENDENT correlated-subquery
    + NOT EXISTS method. Microsecond integers end to end — no float
    anywhere near the match decision."""
    from kf_task_fhir_etl_spark.operators import patterns

    ev = load_table(spark, sf_dir, "events")
    return patterns.pattern_spans(ev, "view", "purchase", ["error"]).orderBy(
        "user_id", "start_us", "end_us"
    )


# ---------------------------------------------------------------------------
# q138 — strict funnel with per-transition negation (operators/patterns.py)
# ---------------------------------------------------------------------------


@register(
    "q138_negated_funnel",
    oracle="""
    WITH s1 AS (
      -- user_id IS NOT NULL mirrors the operator intake (r08, twelfth
      -- pass): a NULL user would be one phantom step-1 group
      SELECT user_id AS u, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' AND ts IS NOT NULL AND user_id IS NOT NULL
      GROUP BY 1
    ), s2 AS (
      SELECT e.user_id AS u, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.u
      WHERE e.event_type = 'click' AND e.ts IS NOT NULL AND e.ts > s1.t1 GROUP BY 1
    ), s2j AS (
      SELECT s1.u, s1.t1, s2.t2 FROM s1 JOIN s2 ON s1.u = s2.u
    ), s3 AS (
      SELECT e.user_id AS u, MIN(e.ts) AS t3
      FROM events e JOIN s2j ON e.user_id = s2j.u
      WHERE e.event_type = 'purchase' AND e.ts IS NOT NULL AND e.ts > s2j.t2 GROUP BY 1
    ), s3j AS (
      SELECT s2j.u, s2j.t1, s2j.t2, s3.t3 FROM s2j JOIN s3 ON s2j.u = s3.u
    ), v1 AS (
      -- transition view→click voided by an 'error' strictly inside (t1, t2)
      SELECT u FROM s2j
      WHERE NOT EXISTS (
        SELECT 1 FROM events n
        WHERE n.user_id = s2j.u AND n.event_type = 'error' AND n.ts IS NOT NULL
          AND epoch_us(n.ts) > epoch_us(s2j.t1) AND epoch_us(n.ts) < epoch_us(s2j.t2)
      )
    ), v2 AS (
      -- the void CASCADES: step 3 requires BOTH transitions clean
      SELECT s3j.u FROM s3j JOIN v1 ON s3j.u = v1.u
      WHERE NOT EXISTS (
        SELECT 1 FROM events n
        WHERE n.user_id = s3j.u AND n.event_type = 'signup' AND n.ts IS NOT NULL
          AND epoch_us(n.ts) > epoch_us(s3j.t2) AND epoch_us(n.ts) < epoch_us(s3j.t3)
      )
    )
    SELECT * FROM (
      SELECT 1 AS step_idx, 'view' AS step, (SELECT COUNT(*) FROM s1) AS n_users
      UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM v1)
      UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM v2)
    ) ORDER BY step_idx
    """,
)
def q138_negated_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict three-step funnel view→click→purchase where an 'error'
    strictly inside the user's first-touch (t1, t2) window voids the
    view→click transition and a 'signup' inside (t2, t3) voids
    click→purchase — and a void CASCADES to every later step
    (operators/patterns.py::funnel_with_negation; first-touch-with-veto
    semantics, deliberately NOT backtracking — documented in the module).
    The veto pass is ONE scan of the union of denied types + one user-key
    join + one groupBy regardless of how many transitions are guarded;
    trajectory frames are staged and RELEASED after the 3-row report
    materializes (the q134 lifecycle). The oracle chains the q134
    first-touch CTEs with per-transition NOT EXISTS windows — the same
    semantics by an independent relational method, integer-µs boundaries
    on both sides."""
    from kf_task_fhir_etl_spark import etl
    from kf_task_fhir_etl_spark.operators import patterns

    ev = load_table(spark, sf_dir, "events")
    handles: list[DataFrame] = []
    counts = patterns.funnel_with_negation(
        ev,
        ["view", "click", "purchase"],
        denies=[["error"], ["signup"]],
        handles_out=handles,
    )
    result = counts.localCheckpoint(eager=True)  # 3 rows — the residue
    etl.release_checkpoints(handles)
    return result.orderBy("step_idx")


# ---------------------------------------------------------------------------
# q139 — k-core decomposition by iterative peeling (operators/graph.py;
# rounds out the graph family: pagerank q102, label prop q125, CC q63,
# triangles q131)
# ---------------------------------------------------------------------------


_ORDER_SAMPLED_PAIRS_SQL = """
    WITH li AS (
      SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 20 = 0
    ), pairs AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )"""
# ^ the SQL twin of _copurchase_pairs for the order-sampled graph — ONE
# definition shared by the q139 and q140 oracles (r08 review, sixth pass:
# hand-rolled copies could desynchronize the twins' graphs). MATERIALIZED:
# the join+DISTINCT is the dominant cost and every consumer references it
# 2-3 times. (A comment, not a floating string: a module-level expression
# statement lands in the staleness guard's residual bucket and would dirty
# EVERY gate in this module.)


def _copurchase_pairs(li: DataFrame) -> DataFrame:
    """Oriented (src < dst) part co-purchase pairs from a pre-filtered
    (l_orderkey, l_partkey) frame — ONE definition shared by the graph
    gates (q131 part-sampled, q139/q140 order-sampled): a change to the
    orientation or self-join here cannot desynchronize one gate's graph
    from its siblings (r08 review, fourth pass)."""
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
    )


def _q139_oracle(k: int = 3, rounds: int = 8) -> str:
    """Unrolled peeling oracle (the q102/q125 chained-CTE discipline): each
    round drops nodes below degree k and the edges touching them. The
    k-core is a unique fixpoint and peeling is monotone, so any round
    count >= the actual peel depth (3 at sf0.01 AND sf0.1, measured) gives
    byte-identical results — rounds past the fixpoint are no-ops.
    Each e{i} is MATERIALIZED: default CTE inlining re-expands e{i-1}
    three times per round — exponential, and it exhausts file handles
    re-opening the parquet 3^rounds times."""
    parts = [
        _ORDER_SAMPLED_PAIRS_SQL,
        """, e0 AS (
      SELECT u, v FROM pairs
    )""",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""", s{i} AS (
      SELECT node FROM (
        SELECT u AS node FROM e{i-1} UNION ALL SELECT v FROM e{i-1}
      ) GROUP BY node HAVING COUNT(*) >= {k}
    ), e{i} AS MATERIALIZED (
      SELECT e{i-1}.u, e{i-1}.v FROM e{i-1}
      JOIN s{i} a ON e{i-1}.u = a.node
      JOIN s{i} b ON e{i-1}.v = b.node
    )"""
        )
    parts.append(
        f"""
    SELECT node, COUNT(*) AS deg FROM (
      SELECT u AS node FROM e{rounds} UNION ALL SELECT v FROM e{rounds}
    ) GROUP BY node ORDER BY node"""
    )
    return "".join(parts)


@register("q139_kcore_peeling", oracle=_q139_oracle())
def q139_kcore_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the order-sampled part co-purchase graph (l_orderkey %
    20 = 0 — sampling ORDERS, not parts, keeps a low-degree tail so the
    peel actually iterates: 3 rounds at sf0.01 and sf0.1, measured;
    the q131 part-sampled graph is a quasi-clique that never peels).
    The Spark side (operators/graph.py::k_core) peels to the FIXPOINT —
    per round one degree aggregate + two node-key semi-joins, per-round
    checkpoints released, fixpoint detected by monotone edge-count
    equality; the oracle unrolls 8 peel rounds as chained CTEs (rounds
    past the fixpoint are provably no-ops), the q102/q125 discipline.
    Returns (node, deg-within-core); every deg >= 3 by the core
    property, which the oracle hash pins. The final round's |E|-sized
    edge checkpoint comes back via handles_out and is RELEASED after
    the per-node degrees materialize (r08 ADVICE; the q131 lifecycle —
    the returned aggregate's root cannot reach those blocks)."""
    from kf_task_fhir_etl_spark import etl
    from kf_task_fhir_etl_spark.operators import graph

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 20 == 0)
        .select("l_orderkey", "l_partkey")
    )
    pairs = _copurchase_pairs(li)
    handles: list[DataFrame] = []
    core = graph.k_core(pairs, k=3, handles_out=handles)
    result = core.localCheckpoint(eager=True)  # |core|-node rows — the residue
    etl.release_checkpoints(handles)
    return result.orderBy("node")


# ---------------------------------------------------------------------------
# q140 — multi-source BFS distances (operators/graph.py; graph family:
# pagerank q102, label prop q125, CC q63, triangles q131, k-core q139)
# ---------------------------------------------------------------------------


def _q140_oracle(rounds: int = 12) -> str:
    """Unrolled level-synchronous BFS (the q139 discipline): per round,
    every node keeps the MIN of its current distance and (a neighbor's
    distance + 1). BFS levels are a unique fixpoint and min-relaxation is
    monotone, so any round count >= the true eccentricity (5 at sf0.01,
    7 at sf0.1, measured) is byte-identical — extra rounds are no-ops.
    MATERIALIZED CTEs for the same reason as q139 (default inlining
    re-expands the previous round per reference)."""
    parts = [
        _ORDER_SAMPLED_PAIRS_SQL,
        """, e AS MATERIALIZED (
      SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
    ), v0 AS MATERIALIZED (
      SELECT DISTINCT node, 0 AS dist FROM (
        SELECT u AS node FROM e UNION ALL SELECT v FROM e
      ) WHERE node % 97 = 0
    )"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""", v{i} AS MATERIALIZED (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM v{i-1}
        UNION ALL
        SELECT e.v AS node, v{i-1}.dist + 1 AS dist
        FROM v{i-1} JOIN e ON v{i-1}.node = e.u
      ) GROUP BY node
    )"""
        )
    parts.append(
        f"""
    SELECT node, CAST(dist AS INT) AS dist FROM v{rounds} ORDER BY node"""
    )
    return "".join(parts)


@register("q140_bfs_distances", oracle=_q140_oracle())
def q140_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distances over the order-sampled co-purchase
    graph (operators/graph.py::bfs_distances), sources = graph nodes with
    l_partkey % 97 = 0. The Spark side runs level-synchronous frontier
    expansion to the EMPTY-frontier fixpoint (the sssp_distances
    relaxation over unit weights — per round one node-key relax join +
    min-aggregate and one lazy full-outer merge checkpoint probed by one
    action; superseded rounds released); the oracle unrolls 12
    min-relaxation rounds as MATERIALIZED CTEs (true eccentricity is 5
    at sf0.01 / 7 at sf0.1, measured; extra rounds are provably no-ops).
    Unreachable nodes are absent on BOTH sides."""
    from kf_task_fhir_etl_spark.operators import graph

    from kf_task_fhir_etl_spark import etl

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 20 == 0)
        .select("l_orderkey", "l_partkey")
    )
    # checkpoint the dominant self-join ONCE: it otherwise appears 4x
    # (twice under the nodes union, twice under the edge symmetrization)
    # across bfs_distances' staged edge and source checkpoints (r08
    # review, fifth pass — the gate-side twin of the oracle's
    # MATERIALIZED p fix). Released right after the call: bfs ran every
    # round before returning (its own edge/state checkpoints), so the
    # returned frame no longer reads it.
    pairs = _copurchase_pairs(li).localCheckpoint(eager=True)
    nodes = (
        pairs.select(F.col("src").alias("node"))
        .unionByName(pairs.select(F.col("dst").alias("node")))
        .distinct()
    )
    sources = nodes.filter(F.col("node") % 97 == 0)
    dists = graph.bfs_distances(pairs, sources)
    etl.release_checkpoints([pairs])
    return dists.select("node", F.col("dist").cast("int").alias("dist")).orderBy("node")


# ---------------------------------------------------------------------------
# q141 — gaps-and-islands value runs (operators/patterns.py)
# ---------------------------------------------------------------------------


@register(
    "q141_value_runs",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderdate, o_orderkey,
             o_totalprice > 150000 AS f
      FROM orders
    ), rn AS (
      -- row_number DIFFERENCE formulation (independent of the Spark
      -- side's lag-change-flag + running-sum method): r_all - r_f is
      -- constant exactly within a maximal same-flag run
      SELECT o_custkey, o_orderdate, f,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS r_all,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey, f ORDER BY o_orderdate, o_orderkey) AS r_f
      FROM o
    )
    SELECT o_custkey, MIN(o_orderdate) AS run_start, MAX(o_orderdate) AS run_end,
           COUNT(*) AS run_len
    FROM rn WHERE f
    GROUP BY o_custkey, r_all - r_f
    HAVING COUNT(*) >= 2
    -- run_end completes the total order: two same-customer runs CAN
    -- start on the same date (r08 review, thirteenth pass) — the driver
    -- compare is order-insensitive, but sorts stay aligned on principle
    ORDER BY o_custkey, run_start, run_end
    """,
)
def q141_value_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal runs of >=2 consecutive expensive orders (>150k) per
    customer, ordered by (o_orderdate, o_orderkey) — the gaps-and-islands
    primitive (operators/patterns.py::value_runs). The Spark side uses
    the lag-change-flag + running-sum run-id method (one shuffle on the
    customer key; the lag and the running sum share one window spec, the
    groupBy reuses the same key — no second exchange); the oracle uses
    the INDEPENDENT row_number-difference formulation. The o_orderkey
    tiebreaker makes the order total, so run boundaries are deterministic
    in both engines."""
    from kf_task_fhir_etl_spark.operators import patterns

    o = load_table(spark, sf_dir, "orders").withColumn(
        "f", F.col("o_totalprice") > 150000
    )
    return patterns.value_runs(
        o, "o_custkey", "o_orderdate", "f", tiebreak_cols=["o_orderkey"], min_len=2
    ).orderBy("o_custkey", "run_start", "run_end")


# ---------------------------------------------------------------------------
# q142 — incremental batch-vs-corpus dedup (operators/dedup.py; the
# training-pipeline ingest shape: screen a new batch against an existing
# LSH index without recomputing anything corpus-sized)
# ---------------------------------------------------------------------------


@register(
    "q142_incremental_dedup",
    oracle=r"""
    WITH sh AS (
      SELECT doc_id, s FROM (
        SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(substr(text,1,200))-4, 1)),
               i -> substr(substr(text,1,200), i, 5))) AS shingles
        FROM documents), LATERAL (SELECT unnest(shingles) AS s)
    ), seeds AS (SELECT unnest(generate_series(0, 7)) AS seed
    ), minh AS (
      SELECT doc_id, seed, MIN(substr(md5(s), 1 + 3 * seed, 8)) AS mh
      FROM sh, seeds GROUP BY doc_id, seed
    ), bands AS (
      SELECT doc_id, seed // 2 AS band, md5(string_agg(mh, ',' ORDER BY seed)) AS digest
      FROM minh GROUP BY doc_id, seed // 2
    ), cands AS (
      -- new-batch probe (doc_id % 3 = 0) vs corpus index (doc_id % 3 != 0)
      SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_old
      FROM bands a JOIN bands b ON a.band = b.band AND a.digest = b.digest
      WHERE a.doc_id % 3 = 0 AND b.doc_id % 3 != 0
    ), toks AS (
      SELECT doc_id, list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS t
      FROM documents
    ), matched AS (
      SELECT DISTINCT c.id_new
      FROM cands c JOIN toks ta ON c.id_new = ta.doc_id JOIN toks tb ON c.id_old = tb.doc_id
      WHERE len(list_intersect(ta.t, tb.t))::DOUBLE /
            (len(ta.t) + len(tb.t) - len(list_intersect(ta.t, tb.t))) >= 0.8
    )
    SELECT doc_id, source FROM documents
    WHERE doc_id % 3 = 0 AND doc_id NOT IN (SELECT id_new FROM matched)
    ORDER BY doc_id
    """,
)
def q142_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup (operators/dedup.py::minhash_index +
    incremental_dedup): documents with doc_id % 3 = 0 arrive as the new
    batch and are screened against the LSH index of the rest of the
    corpus at word-Jaccard >= 0.8 (the synthetic corpus is near-dup
    heavy; 0.8 keeps a 59/520-row survivor set at sf0.01/0.1 where 0.5
    degenerates to 9 — a richer value hash) — surviving batch rows
    returned. The
    batch is hashed batch-sized, the index is touched only by the
    (band, digest) probe join, and the exact verify tokenizes ONLY
    candidate docs on each side (semi-join pruned). LSH recall semantics
    (a pair missed by every band survives) exactly as q11/q12; the
    oracle recomputes the identical md5-slice banding + candidate
    restriction + list_intersect Jaccard in DuckDB."""
    from kf_task_fhir_etl_spark.operators import dedup

    from kf_task_fhir_etl_spark import etl

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    # checkpointed ONCE: the params validation and the candidate join
    # both read the index (r08 review, sixth pass); released with the
    # staged handles below
    handles: list[DataFrame] = []
    index = dedup.minhash_index(
        corpus, num_hashes=8, bands=4, shingle_size=5, max_chars=200
    ).localCheckpoint(eager=True)
    handles.append(index)
    survivors = dedup.incremental_dedup(
        batch,
        index,
        corpus,
        threshold=0.8,
        num_hashes=8,
        bands=4,
        shingle_size=5,
        max_chars=200,
        handles_out=handles,
    )
    result = survivors.select("doc_id", "source").localCheckpoint(eager=True)
    etl.release_checkpoints(handles)
    return result.orderBy("doc_id")

# ---------------------------------------------------------------------------
# q143 — weighted single/multi-source shortest paths (operators/graph.py;
# the seventh member of the iterative graph family: pagerank q102, label
# prop q125, CC q63, triangles q131, k-core q139, BFS q140)
# ---------------------------------------------------------------------------


def _q143_oracle(rounds: int = 14) -> str:
    """Unrolled Bellman-Ford min-relaxation (the q140 discipline with a
    weight column): per round every node keeps the MIN of its current
    distance and (a neighbor's distance + the edge weight). Weighted
    shortest distances are a unique fixpoint and min-relaxation is
    monotone, so any round count >= the max edge count of an optimal
    path (8 at sf0.01 / 9 at sf0.1, measured) is byte-identical — extra
    rounds are no-ops; weights are INTEGERS (1 + (u+v) % 5) so both
    engines land on exact bigints. MATERIALIZED CTEs for the q139/q140
    reason (default inlining re-expands the previous round per
    reference)."""
    parts = [
        _ORDER_SAMPLED_PAIRS_SQL,
        """, e AS MATERIALIZED (
      SELECT u AS s, v AS t, 1 + (u + v) % 5 AS w FROM pairs
      UNION ALL
      SELECT v AS s, u AS t, 1 + (u + v) % 5 AS w FROM pairs
    ), v0 AS MATERIALIZED (
      SELECT DISTINCT node, CAST(0 AS BIGINT) AS dist FROM (
        SELECT s AS node FROM e UNION ALL SELECT t FROM e
      ) WHERE node % 97 = 0
    )""",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""", v{i} AS MATERIALIZED (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM v{i-1}
        UNION ALL
        SELECT e.t AS node, v{i-1}.dist + e.w AS dist
        FROM v{i-1} JOIN e ON v{i-1}.node = e.s
      ) GROUP BY node
    )"""
        )
    parts.append(
        f"""
    SELECT node, CAST(dist AS BIGINT) AS dist FROM v{rounds} ORDER BY node"""
    )
    return "".join(parts)


@register("q143_weighted_sssp", oracle=_q143_oracle())
def q143_weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source weighted shortest paths over the order-sampled part
    co-purchase graph (operators/graph.py::sssp_distances), weights
    1 + (u+v) % 5 (deterministic INTEGERS both engines derive
    identically — exact bigint distances, no float near the decision),
    sources = graph nodes with node % 97 = 0 (the q140 convention). The
    Spark side runs frontier Bellman-Ford to the no-improvement fixpoint
    — per round one node-key relax join + min-aggregate and ONE
    full-outer merge checkpoint whose projections are the next frontier
    and distance table; superseded rounds released; the final state
    comes back via handles_out and is released after the result
    materializes (the q139 lifecycle). The oracle unrolls 14
    min-relaxation rounds as MATERIALIZED CTEs (8 productive at sf0.01 /
    9 at sf0.1, measured; extra rounds are provably no-ops). Unreachable
    nodes are absent on BOTH sides; a light multi-hop path beats a heavy
    direct edge, which hop-BFS (q140) cannot express — the two gates'
    differing distances on the same graph pin the weight semantics."""
    from kf_task_fhir_etl_spark import etl
    from kf_task_fhir_etl_spark.operators import graph

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 20 == 0)
        .select("l_orderkey", "l_partkey")
    )
    # checkpoint the dominant self-join ONCE (the q140 rationale: it
    # otherwise appears under both the weighted-edge build and the
    # source-node derivation across sssp's staged checkpoints); released
    # right after the call — sssp ran every round before returning
    pairs = _copurchase_pairs(li).localCheckpoint(eager=True)
    weighted = pairs.select(
        "src", "dst", (F.lit(1) + (F.col("src") + F.col("dst")) % 5).cast("bigint").alias("w")
    )
    nodes = (
        pairs.select(F.col("src").alias("node"))
        .unionByName(pairs.select(F.col("dst").alias("node")))
        .distinct()
    )
    sources = nodes.filter(F.col("node") % 97 == 0)
    handles: list[DataFrame] = []
    dists = graph.sssp_distances(weighted, sources, handles_out=handles)
    result = dists.select("node", F.col("dist").cast("bigint").alias("dist")).localCheckpoint(
        eager=True
    )
    etl.release_checkpoints(handles)
    etl.release_checkpoints([pairs])
    return result.orderBy("node")

# ---------------------------------------------------------------------------
# q144 — join-view incremental maintenance (operators/ivm.py::join_delta +
# apply_join_view_delta; the Blakeley delta-join rule — VERDICT r08 #5)
# ---------------------------------------------------------------------------


_JOIN_VIEW_ORACLE_SQL = """
    WITH r_new AS (
      SELECT o_orderkey, o_orderpriority AS pri FROM orders
      WHERE o_orderkey % 7 = 3 OR o_orderkey % 11 <> 5
    ), s_new AS (
      SELECT l_orderkey AS o_orderkey, CAST(l_quantity AS DECIMAL(18,4)) AS qty
      FROM lineitem
      WHERE l_orderkey % 5 = 2 OR l_linenumber <> 3
    )
    SELECT pri, COUNT(*) AS n, CAST(SUM(qty) AS DOUBLE) AS sum_qty
    FROM r_new JOIN s_new USING (o_orderkey)
    GROUP BY pri
    ORDER BY pri
    """


@register("q144_join_view_ivm", oracle=_JOIN_VIEW_ORACLE_SQL)
def q144_join_view_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-view IVM (operators/ivm.py::apply_join_view_delta): a
    per-priority (COUNT, SUM qty) view over orders ⋈ lineitem is
    maintained through signed changelogs on BOTH base tables — orders
    with o_orderkey % 7 = 3 arrive late (+1) while % 11 = 5 rows leave
    (−1); lineitem rows with l_orderkey % 5 = 2 arrive late (+1) while
    l_linenumber = 3 rows leave (−1) — via the three-term delta join
    Δ(R⋈S) = ΔR⋈S ∪ R⋈ΔS ∪ ΔR⋈ΔS (signs multiply; the ΔR⋈ΔS term is
    what compensates matching rows deleted from both sides at once, and
    this changelog exercises it in both sign quadrants). The oracle
    RECOMPUTES the view from scratch over the post-changelog states:
    incremental ≡ recompute is the whole IVM contract (the q133
    discipline lifted to joins). The join is never rescanned — the base
    tables are touched only by the broadcast delta-driven joins; DECIMAL
    accumulation keeps sums exact in both engines; the published total
    casts to DOUBLE. (The view build below is gate scaffolding a real
    pipeline already has materialized; r_old/s_old are pruned parquet
    scans, so their two appearances are pushdown re-reads, not
    recomputation.)"""
    from kf_task_fhir_etl_spark.operators import ivm

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,4)")
    r_all = orders.select("o_orderkey", F.col("o_orderpriority").alias("pri"))
    s_all = li.select(
        F.col("l_orderkey").alias("o_orderkey"), qty.alias("qty"), "l_linenumber"
    )
    r_old = r_all.filter(F.col("o_orderkey") % 7 != 3)
    s_old = s_all.filter(F.col("o_orderkey") % 5 != 2).select("o_orderkey", "qty")
    view = (
        r_old.join(s_old, ["o_orderkey"])
        .groupBy("pri")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("qty").alias("sum_qty"))
    )
    delta_r = (
        r_all.filter(F.col("o_orderkey") % 7 == 3)
        .withColumn("op", F.lit(1))
        .unionByName(
            r_old.filter(F.col("o_orderkey") % 11 == 5).withColumn("op", F.lit(-1))
        )
    )
    delta_s = (
        s_all.filter(F.col("o_orderkey") % 5 == 2)
        .select("o_orderkey", "qty")
        .withColumn("op", F.lit(1))
        .unionByName(
            s_all.filter((F.col("o_orderkey") % 5 != 2) & (F.col("l_linenumber") == 3))
            .select("o_orderkey", "qty")
            .withColumn("op", F.lit(-1))
        )
    )
    out = ivm.apply_join_view_delta(
        view,
        r_old,
        s_old,
        delta_r,
        delta_s,
        on=["o_orderkey"],
        keys=["pri"],
        sum_cols={"sum_qty": "qty"},
        count_col="n",
    )
    return out.select(
        "pri", "n", F.col("sum_qty").cast("double").alias("sum_qty")
    ).orderBy("pri")


# ---------------------------------------------------------------------------
# q145 — streaming pattern spans (streaming/patterns.py; the stream form of
# q137 — VERDICT r08 #6, completing batch/stream unification for the
# pattern family)
# ---------------------------------------------------------------------------


@register("q145_streaming_pattern_spans", oracle=_SPANS_ORACLE_SQL)
def q145_streaming_pattern_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q137 pattern (view→purchase with no error strictly between)
    evaluated on a STREAM (streaming/patterns.py::streaming_pattern_spans):
    the events table replays as THREE event-time-ordered microbatches
    (ts-quantile file split, maxFilesPerTrigger=1 — the monotone
    log-segment shape), and a keyed state machine carries (latest view µs,
    latest error µs) per user — 4 scalars, no history buffering — deciding
    each purchase on arrival; spans that straddle a batch boundary (view
    in batch 1, purchase in batch 2) exercise the carried state. The
    oracle is LITERALLY q137's batch SQL (_SPANS_ORACLE_SQL — one string,
    two surfaces): streamed decisions must be span-for-span identical to
    the batch window pass, including strict-precedence µs ties at batch
    boundaries (the matcher applies the SET rule to carried state too).
    Append-mode emission is sound because a span's veto window closes at
    its end event — nothing later can retract it."""
    from kf_task_fhir_etl_spark.streaming.events import (
        read_events_stream_time_split,
        run_stream_to_memory,
    )
    from kf_task_fhir_etl_spark.streaming.patterns import streaming_pattern_spans

    stream = read_events_stream_time_split(spark, sf_dir, n_splits=3)
    spans = streaming_pattern_spans(stream, "view", "purchase", ["error"])
    run_stream_to_memory(spans, "q145_spans_mem", output_mode="append")
    return (
        spark.table("q145_spans_mem")
        .select("user_id", "start_us", "end_us")
        .orderBy("user_id", "start_us", "end_us")
    )


# ---------------------------------------------------------------------------
# q146 — COUNT(DISTINCT) view maintenance (operators/ivm.py::
# apply_distinct_count_delta; the auxiliary-support step of the IVM line)
# ---------------------------------------------------------------------------


_DISTINCT_ORACLE_SQL = """
    SELECT event_type, CAST(ts AS DATE) AS event_date,
           COUNT(DISTINCT user_id) AS n_distinct
    FROM events
    WHERE user_id IS NOT NULL AND (event_id % 7 = 3 OR event_id % 11 <> 5)
    GROUP BY event_type, CAST(ts AS DATE)
    ORDER BY event_type, event_date
    """


@register("q146_distinct_count_ivm", oracle=_DISTINCT_ORACLE_SQL)
def q146_distinct_count_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-users-per-(type, day) view maintained through a signed
    changelog (operators/ivm.py::apply_distinct_count_delta): events with
    event_id % 7 = 3 arrive late (+1) while % 11 = 5 rows leave (−1).
    COUNT(DISTINCT) is NOT view-level self-maintainable — deleting one of
    a user's several same-day events must NOT drop the user from that
    day's count, deleting the last one must — so the operator maintains
    the standard auxiliary (keys, user, multiplicity) support relation
    and recounts only delta-touched groups. The (type, day) grain makes
    both paths live at sf0.01: most (group, user) multiplicities are 1-3,
    so the changelog both decrements multiplicities AND fully removes/
    introduces users (a type-only grain saturates at all-users-everywhere
    and the deletes would be invisible in the final hash). The oracle
    RECOMPUTES the view from scratch over the post-changelog row set:
    incremental ≡ recompute, the q133/q144 discipline. (The view/support
    bootstrap below is gate scaffolding a real pipeline has materialized;
    steady-state cost is changelog-sized + touched-group-sized, and the
    base table is never rescanned.)"""
    from kf_task_fhir_etl_spark.operators import ivm

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.to_date("ts").alias("event_date"), "user_id"
    )
    old = ev.filter(F.col("event_id") % 7 != 3)
    view = (
        old.filter(F.col("user_id").isNotNull())
        .groupBy("event_type", "event_date")
        .agg(F.count_distinct("user_id").alias("n_distinct"))
    )
    support = ivm.distinct_count_support(old, ["event_type", "event_date"], "user_id")
    delta = (
        ev.filter(F.col("event_id") % 7 == 3)
        .select("event_type", "event_date", "user_id")
        .withColumn("op", F.lit(1))
        .unionByName(
            old.filter(F.col("event_id") % 11 == 5)
            .select("event_type", "event_date", "user_id")
            .withColumn("op", F.lit(-1))
        )
    )
    new_view, _new_support = ivm.apply_distinct_count_delta(
        view, support, delta, keys=["event_type", "event_date"], value_col="user_id"
    )
    return new_view.orderBy("event_type", "event_date")


# ---------------------------------------------------------------------------
# q147 — streaming funnel (streaming/patterns.py::streaming_funnel_
# trajectories; the stream form of q134, completing batch/stream
# unification for the funnel family)
# ---------------------------------------------------------------------------


@register("q147_streaming_funnel", oracle=_FUNNEL_ORACLE_SQL)
def q147_streaming_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q134 first-touch funnel (view → click → purchase) evaluated on
    a STREAM: the events table replays as three event-time-ordered
    microbatches (the q145 source) and a keyed state machine carries the
    k first-touch completion µs per user, advancing step i+1 only on an
    event STRICTLY after the carried t_i. Trajectory updates emit in
    UPDATE mode — ``reached`` is monotone and each us_j is immutable once
    set, so the max-``reached`` row per user is the final trajectory; the
    report aggregates those with the same integer-µs gap arithmetic as
    the batch operator. The oracle is LITERALLY q134's batch SQL
    (_FUNNEL_ORACLE_SQL): streamed funnel counts and gap averages must be
    value-identical to the batch chain's."""
    from pyspark.sql import Window

    from kf_task_fhir_etl_spark.streaming.events import (
        read_events_stream_time_split,
        run_stream_to_memory,
    )
    from kf_task_fhir_etl_spark.streaming.patterns import streaming_funnel_trajectories

    steps = ["view", "click", "purchase"]
    stream = read_events_stream_time_split(spark, sf_dir, n_splits=3)
    traj = streaming_funnel_trajectories(stream, steps)
    run_stream_to_memory(traj, "q147_funnel_mem", output_mode="update")
    t = spark.table("q147_funnel_mem")
    w = Window.partitionBy("user_id").orderBy(F.desc("reached"))
    final = t.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    aggs = []
    for j in range(1, len(steps) + 1):
        reached_j = F.col("reached") >= j
        aggs.append(
            F.sum(F.when(reached_j, 1).otherwise(0)).cast("bigint").alias(f"__n{j}")
        )
        # INTEGER µs gap accumulation, one final double division — the
        # q134 arithmetic, so both surfaces land on the same 4dp value
        aggs.append(
            F.sum(
                F.when(reached_j, F.col(f"us{j}") - F.col("us1")).otherwise(F.lit(0))
            ).alias(f"__g{j}")
        )
    agg = final.agg(*aggs)
    rows = [
        F.struct(
            F.lit(j).alias("step_idx"),
            F.lit(step).alias("step"),
            F.coalesce(F.col(f"__n{j}"), F.lit(0)).alias("n_users"),
            F.when(F.coalesce(F.col(f"__n{j}"), F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.round(F.col(f"__g{j}") / (F.col(f"__n{j}") * F.lit(1000000.0)), 4)
            )
            .alias("avg_s_from_first"),
        )
        for j, step in enumerate(steps, start=1)
    ]
    return (
        agg.select(F.explode(F.array(*rows)).alias("r"))
        .select("r.step_idx", "r.step", "r.n_users", "r.avg_s_from_first")
        .orderBy("step_idx")
    )


# ---------------------------------------------------------------------------
# q148 — MIN/MAX view maintenance (operators/ivm.py::apply_minmax_delta;
# closing the documented self-maintainability gap with the standard hybrid)
# ---------------------------------------------------------------------------


@register(
    "q148_minmax_ivm",
    oracle="""
    SELECT o_orderpriority AS pri, strftime(o_orderdate, '%Y-%m') AS ym,
           MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
    FROM orders
    WHERE o_orderkey % 7 = 3 OR o_orderkey % 97 <> 5
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q148_minmax_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(priority, month) MIN/MAX order value maintained through a
    signed changelog (operators/ivm.py::apply_minmax_delta): orders with
    o_orderkey % 7 = 3 arrive late (+1) while the SPARSE % 97 = 5 rows
    leave (−1) — so most touched groups are insert-only (maintained by
    the algebraic LEAST/GREATEST fold, base never read) while the
    delete-touched minority is recomputed from a broadcast-semi-join-
    pruned slice of the post-changelog base, exercising BOTH paths of
    the hybrid that makes non-self-maintainable extrema incrementally
    maintainable. Deleting a group's current extremum must expose the
    second-best (the exact failure mode ivm.py's header documents as the
    reason apply_agg_delta excludes MIN/MAX). Oracle: from-scratch
    recompute over the post-changelog row set — incremental ≡ recompute,
    the q133/q144/q146 discipline. MIN/MAX preserve dtype, so values
    hash exactly with no rounding anywhere."""
    from kf_task_fhir_etl_spark.operators import ivm

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("pri"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        F.col("o_totalprice").alias("price"),
    )
    old = orders.filter(F.col("o_orderkey") % 7 != 3)
    view = old.groupBy("pri", "ym").agg(
        F.min("price").alias("min_price"), F.max("price").alias("max_price")
    )
    base_new = orders.filter(
        (F.col("o_orderkey") % 7 == 3) | (F.col("o_orderkey") % 97 != 5)
    ).select("pri", "ym", "price")
    delta = (
        orders.filter(F.col("o_orderkey") % 7 == 3)
        .select("pri", "ym", "price")
        .withColumn("op", F.lit(1))
        .unionByName(
            old.filter(F.col("o_orderkey") % 97 == 5)
            .select("pri", "ym", "price")
            .withColumn("op", F.lit(-1))
        )
    )
    out = ivm.apply_minmax_delta(
        view,
        base_new,
        delta,
        keys=["pri", "ym"],
        min_cols={"min_price": "price"},
        max_cols={"max_price": "price"},
    )
    return out.orderBy("pri", "ym")


# ---------------------------------------------------------------------------
# q149 — top-k view maintenance (operators/ivm.py::apply_topk_delta; the
# leaderboard primitive, completing the IVM family)
# ---------------------------------------------------------------------------


# Shared by q149 (batch) and q151 (stream): the stream ≡ batch contract is
# literally "same oracle" — one SQL string, two execution surfaces (the
# q137/q145 and q134/q147 pattern).
_TOPK_ORACLE_SQL = """
    WITH post AS (
      SELECT o_orderpriority AS pri, strftime(o_orderdate, '%Y-%m') AS ym,
             o_orderkey AS id,
             o_totalprice + CASE WHEN o_orderkey % 7 <> 3 AND o_orderkey % 13 = 1
                                 THEN 50000.0 ELSE 0.0 END AS price
      FROM orders
      WHERE o_orderkey % 7 = 3 OR o_orderkey % 97 <> 5
    )
    SELECT pri, ym, id, price FROM (
      SELECT pri, ym, id, price,
             ROW_NUMBER() OVER (PARTITION BY pri, ym ORDER BY price DESC, id) AS rn
      FROM post
    ) WHERE rn <= 3
    ORDER BY pri, ym, id
    """


@register("q149_topk_ivm", oracle=_TOPK_ORACLE_SQL)
def q149_topk_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by value per (priority, month) maintained through an
    entity changelog (operators/ivm.py::apply_topk_delta) that exercises
    all three paths at once: broad inserts (o_orderkey % 7 = 3 — the
    algebraic fold: true-top-k(base ∪ inserts) ⊆ stored-top-k ∪ inserts),
    sparse deletes (% 97 = 5 — a delete hitting a stored member forces
    the bounded recompute of ONLY that group; one missing the view is a
    PROVABLE no-op), and CDC-style updates (% 13 = 1 rows re-priced
    +50000: delete of the pre-batch row + insert of the post-batch row —
    a member update recomputes, a non-member update just folds the new
    score in). Ties break on (price DESC, id ASC) — a total order both
    engines share. Oracle: from-scratch ROW_NUMBER recompute over the
    post-changelog rows — incremental ≡ recompute, the IVM-family
    discipline; the +50000.0 re-price is one exact IEEE addition in both
    engines."""
    from kf_task_fhir_etl_spark.operators import ivm
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("pri"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        F.col("o_totalprice").alias("price"),
    ).withColumnRenamed("o_orderkey", "id")
    old = orders.filter(F.col("id") % 7 != 3)
    rank_w = Window.partitionBy("pri", "ym").orderBy(F.col("price").desc(), F.col("id"))
    view = (
        old.select("pri", "ym", "id", "price")
        .withColumn("__rn", F.row_number().over(rank_w))
        .filter(F.col("__rn") <= 3)
        .drop("__rn")
    )
    updated = F.col("price") + F.when(
        (F.col("id") % 7 != 3) & (F.col("id") % 13 == 1), F.lit(50000.0)
    ).otherwise(F.lit(0.0))
    base_new = orders.filter((F.col("id") % 7 == 3) | (F.col("id") % 97 != 5)).select(
        "pri", "ym", "id", updated.alias("price")
    )
    upd = old.filter((F.col("id") % 97 != 5) & (F.col("id") % 13 == 1))
    delta = (
        orders.filter(F.col("id") % 7 == 3)                      # inserts
        .select("pri", "ym", "id", "price").withColumn("op", F.lit(1))
        .unionByName(
            old.filter(F.col("id") % 97 == 5)                    # deletes
            .select("pri", "ym", "id", "price").withColumn("op", F.lit(-1))
        )
        .unionByName(                                            # updates: − old row
            upd.select("pri", "ym", "id", "price").withColumn("op", F.lit(-1))
        )
        .unionByName(                                            # updates: + new row
            upd.select(
                "pri", "ym", "id", (F.col("price") + F.lit(50000.0)).alias("price")
            ).withColumn("op", F.lit(1))
        )
    )
    out = ivm.apply_topk_delta(
        view, base_new, delta, keys=["pri", "ym"], id_col="id", score_col="price", k=3
    )
    return out.orderBy("pri", "ym", "id")


# ---------------------------------------------------------------------------
# q150 — personalized PageRank (operators/graph.py::personalized_pagerank;
# random walk with restart over the q102 buyer-supplier graph)
# ---------------------------------------------------------------------------


def _q150_oracle(iters: int = 5) -> str:
    head = """
    WITH e0 AS (
      SELECT DISTINCT 'c' || o_custkey AS a, 's' || l_suppkey AS b
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE EXTRACT(year FROM o_orderdate) = 1995
    ), edges AS (
      SELECT a AS src, b AS dst FROM e0 UNION SELECT b, a FROM e0
    ), deg AS (
      SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
    ), seeds AS (
      SELECT DISTINCT a AS node FROM e0
      WHERE CAST(substr(a, 2) AS BIGINT) % 50 = 0
    ), sc AS (
      SELECT COUNT(*) AS s FROM seeds
    ), rv AS (
      SELECT d.src AS node,
             CASE WHEN d.src IN (SELECT node FROM seeds)
                  THEN 1.0 / (SELECT s FROM sc) ELSE 0.0 END AS r
      FROM deg d
    ), r0 AS (
      SELECT node, r AS pr FROM rv
    )"""
    its = ""
    prev = "r0"
    for i in range(1, iters + 1):
        its += f""", s{i} AS (
      SELECT e.dst AS node, SUM(r.pr / d.deg) AS w
      FROM edges e JOIN {prev} r ON e.src = r.node
                   JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ), it{i} AS (
      SELECT rv.node, ROUND(0.15 * rv.r + 0.85 * COALESCE(s{i}.w, 0.0), 12) AS pr
      FROM rv LEFT JOIN s{i} ON rv.node = s{i}.node
    )"""
        prev = f"it{i}"
    return head + its + f"""
    SELECT node, ROUND(pr, 6) AS pr FROM {prev} ORDER BY node
    """


@register("q150_personalized_pagerank", oracle=_q150_oracle(5))
def q150_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (random walk with restart — operators/
    graph.py::personalized_pagerank) over the q102 buyer-supplier graph,
    restarting at the every-50th-customer seed set: proximity-to-seeds
    ranking, the recommendation-primitive counterpart of q102's global
    centrality. Five rounds from the restart vector; every round rounds
    to 12dp so the oracle's sequentially-unrolled CTE trajectory matches
    bit-for-bit, and the FULL vector is published (zero-rank rows for
    nodes unreachable from the seeds — both engines emit them). The
    symmetrized gate graph has no dangling nodes, so the operator's
    restart-proportional dangling redistribution is identically zero and
    the oracle elides it (pytest pins the dangling case on a directed
    graph against a same-rounding numpy replica). Seeds are intersected
    with the graph's node set inside the operator — absent customers
    carry no restart mass, exactly the oracle's FROM e0 seed derivation."""
    from kf_task_fhir_etl_spark.operators import graph

    o = load_table(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1995)
    li = load_table(spark, sf_dir, "lineitem")
    e0 = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("a"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("b"),
        )
        .distinct()
    )
    edges = graph.symmetrize(e0, "a", "b")
    cust = load_table(spark, sf_dir, "customer")
    sources = cust.filter(F.col("c_custkey") % 50 == 0).select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("node")
    )
    return graph.personalized_pagerank(edges, sources, iters=5).orderBy("node")


# ---------------------------------------------------------------------------
# q151 — streaming top-k leaderboard (streaming/leaderboard.py; a CDC
# change stream maintains base table AND top-k view in one committed store)
# ---------------------------------------------------------------------------


@register("q151_streaming_topk", oracle=_TOPK_ORACLE_SQL)
def q151_streaming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q149 leaderboard maintained from a CHANGE STREAM
    (streaming/leaderboard.py::topk_stream): three change epochs — (1)
    upsert every pre-changelog order, (2) upsert the % 7 = 3 late
    arrivals and DELETE the % 97 = 5 rows, (3) re-price the % 13 = 1
    survivors (+50000, CDC updates) — stream through ``foreachBatch``;
    each microbatch LWW-merges the base table AND delta-maintains the
    per-(priority, month) top-3 view in ONE versioned-store commit (base
    and view cannot diverge under at-least-once replay — the whole point
    of the single-commit design). The oracle is LITERALLY q149's batch
    SQL (_TOPK_ORACLE_SQL — one string, two surfaces): the streamed
    leaderboard must be row-identical to the batch operator's
    incremental-≡-recompute result. Store + checkpoint key on the source
    content fingerprint (the q128 replay-idempotency discipline). r10: the
    store is PARTITIONED (versioned_store.apply_batch_partitioned) — base
    rows bucket by group-key hash, the view rides its own partition, and a
    microbatch rewrites only touched buckets (the tag moves to
    'topkstore_p' so an old flat-layout store can never be misread)."""
    import os as _os

    from kf_task_fhir_etl_spark.catalog import staged_base, staged_layout
    from kf_task_fhir_etl_spark.streaming import cdc, leaderboard

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderpriority").alias("pri"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        F.col("o_totalprice").alias("price"),
    )
    i = F.col("id")
    old = orders.filter(i % 7 != 3)

    def build_changes(tmp: str) -> None:
        e1 = old.select(
            "pri", "ym", "id", "price",
            F.lit(1).cast("long").alias("seq"),
            F.lit(cdc.OP_UPSERT).alias("op"),
        )
        e2 = (
            orders.filter(i % 7 == 3)
            .select(
                "pri", "ym", "id", "price",
                F.lit(2).cast("long").alias("seq"),
                F.lit(cdc.OP_UPSERT).alias("op"),
            )
            .unionByName(
                old.filter(i % 97 == 5).select(
                    "pri", "ym", "id",
                    F.lit(None).cast("double").alias("price"),
                    F.lit(2).cast("long").alias("seq"),
                    F.lit(cdc.OP_DELETE).alias("op"),
                )
            )
        )
        e3 = old.filter((i % 97 != 5) & (i % 13 == 1)).select(
            "pri", "ym", "id",
            (F.col("price") + F.lit(50000.0)).alias("price"),
            F.lit(3).cast("long").alias("seq"),
            F.lit(cdc.OP_UPSERT).alias("op"),
        )
        for n, df in enumerate((e1, e2, e3), start=1):
            df.coalesce(1).write.parquet(_os.path.join(tmp, f"e{n}"))

    changes_dir = staged_layout("topk_changes", sf_dir, ["orders"], build_changes)
    base = staged_base("topkstore_p", sf_dir, ["orders"])
    _os.makedirs(base, exist_ok=True)
    store = _os.path.join(base, "store")
    stream = (
        spark.readStream.schema(
            "pri string, ym string, id bigint, price double, seq long, op string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(_os.path.join(changes_dir, "e*"))
    )
    q = leaderboard.topk_stream(
        stream,
        store,
        keys=["pri", "ym"],
        id_col="id",
        score_col="price",
        k=3,
        order_col="seq",
        op_col="op",
        checkpoint=_os.path.join(base, "ckpt"),
        buckets=8,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    view = leaderboard.read_leaderboard(spark, store, ["pri", "ym", "id", "price"])
    if view is None:
        raise RuntimeError(
            f"q151: leaderboard store at {store} has no committed version; "
            "remove the stream checkpoint to replay the changes"
        )
    return view.orderBy("pri", "ym", "id")


# ---------------------------------------------------------------------------
# q155 — partitioned-store CDC apply (streaming/cdc.py buckets= +
# streaming/versioned_store.py::apply_batch_partitioned; VERDICT r09 #2 —
# commits rewrite only touched key buckets)
# ---------------------------------------------------------------------------


@register(
    "q155_partitioned_cdc_apply",
    oracle="""
    SELECT o_orderkey AS order_key,
           CASE WHEN o_orderkey % 5 = 0 THEN 'P5' ELSE o_orderstatus END AS status,
           ROUND(o_totalprice, 2)
             + CASE WHEN o_orderkey % 11 = 0 THEN 1000.0 ELSE 0.0 END AS price
    FROM orders
    WHERE o_orderkey % 9 <> 0 OR o_orderkey % 11 = 0
    ORDER BY order_key
    """,
)
def q155_partitioned_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q128 CDC-apply shape on the PARTITIONED versioned store
    (``cdc_stream(buckets=8)``): four change epochs — (1) upsert every
    key, (2) re-status keys %5==0 to 'P5', (3) DELETE keys %9==0, (4)
    re-price keys %11==0 (+1000) — stream through ``foreachBatch``, each
    microbatch LWW-merging ONLY the key buckets its winners hash into
    (untouched buckets carry forward by manifest reference, byte-identical
    — pytest pins the carried-forward file listing at the store level).
    Epoch 4 deliberately overlaps epoch 3: a key divisible by both 9 and
    11 is tombstoned at seq 3 and RESURRECTED by the seq-4 upsert — the
    LWW total order must make the later upsert win across partitioned
    commits exactly as it does in the flat store. The oracle is the
    closed-form last-writer-wins over the four epochs: %9 keys absent
    unless %11 resurrects them, %5 re-statused, %11 re-priced."""
    import os as _os

    from kf_task_fhir_etl_spark.catalog import staged_base, staged_layout
    from kf_task_fhir_etl_spark.streaming import cdc

    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    status2 = F.when(k % 5 == 0, F.lit("P5")).otherwise(F.col("o_orderstatus"))

    def build_changes(tmp: str) -> None:
        e1 = orders.select(
            k.alias("order_key"),
            F.col("o_orderstatus").alias("status"),
            F.round(F.col("o_totalprice"), 2).alias("price"),
            F.lit(1).cast("long").alias("seq"),
            F.lit(cdc.OP_UPSERT).alias("op"),
        )
        e2 = orders.filter(k % 5 == 0).select(
            k.alias("order_key"),
            F.lit("P5").alias("status"),
            F.round(F.col("o_totalprice"), 2).alias("price"),
            F.lit(2).cast("long").alias("seq"),
            F.lit(cdc.OP_UPSERT).alias("op"),
        )
        e3 = orders.filter(k % 9 == 0).select(
            k.alias("order_key"),
            F.lit(None).cast("string").alias("status"),
            F.lit(None).cast("double").alias("price"),
            F.lit(3).cast("long").alias("seq"),
            F.lit(cdc.OP_DELETE).alias("op"),
        )
        e4 = orders.filter(k % 11 == 0).select(
            k.alias("order_key"),
            status2.alias("status"),
            (F.round(F.col("o_totalprice"), 2) + F.lit(1000.0)).alias("price"),
            F.lit(4).cast("long").alias("seq"),
            F.lit(cdc.OP_UPSERT).alias("op"),
        )
        for i, df in enumerate((e1, e2, e3, e4), start=1):
            df.coalesce(1).write.parquet(_os.path.join(tmp, f"e{i}"))

    changes_dir = staged_layout("pcdc_changes", sf_dir, ["orders"], build_changes)
    base = staged_base("pcdcstore", sf_dir, ["orders"])
    _os.makedirs(base, exist_ok=True)
    store = _os.path.join(base, "store")
    stream = (
        spark.readStream.schema(
            "order_key bigint, status string, price double, seq long, op string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(_os.path.join(changes_dir, "e*"))
    )
    q = cdc.cdc_stream(
        stream,
        store,
        key_cols=["order_key"],
        order_col="seq",
        op_col="op",
        checkpoint=_os.path.join(base, "ckpt"),
        buckets=8,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    live = cdc.read_table(spark, store)
    if live is None:
        raise RuntimeError(
            f"q155: CDC store at {store} has no committed version; "
            "remove the stream checkpoint to replay the changes"
        )
    return live.select("order_key", "status", "price").orderBy("order_key")


# ---------------------------------------------------------------------------
# q152 — streaming join+agg materialized view (streaming/matview.py;
# VERDICT r09 Next #3 — the q144 algebra on the streaming/storage substrate)
# ---------------------------------------------------------------------------


@register("q152_streaming_join_agg_view", oracle=_JOIN_VIEW_ORACLE_SQL)
def q152_streaming_join_agg_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q144 per-priority (COUNT, SUM qty) view over orders ⋈ lineitem
    maintained from a MULTIPLEXED CHANGELOG STREAM (streaming/matview.py::
    join_agg_view_stream): epoch 1 loads base R (old orders, +1), epoch 2
    loads base S (old lineitem, +1) — the view BOOTSTRAPS through the same
    R⋈ΔS delta path it maintains with, no from-scratch build to drift
    from — and epoch 3 carries BOTH sides' changes in one microbatch
    (late orders +, leavers −; late lineitems +, linenumber-3 rows −),
    exercising all three delta-join quadrants including ΔR⋈ΔS. Base R and
    base S (signed multisets with multiplicity) are each BUCKETED by
    join-key hash (r11 — VERDICT r10 Missing #1: a batch rewrites only
    the buckets its delta's keys touch, O(touched buckets) per side, not
    O(|R|)); they live with the view in ONE partitioned versioned store,
    committed by one marker per batch — epoch 1 never touches S's buckets
    on disk and vice versa. The oracle is LITERALLY q144's recompute SQL
    (_JOIN_VIEW_ORACLE_SQL — one string, two surfaces): the streamed view
    must be value-identical to the batch operator's incremental ≡
    recompute result."""
    import os as _os

    from kf_task_fhir_etl_spark.catalog import staged_base, staged_layout
    from kf_task_fhir_etl_spark.streaming import matview

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,4)")
    r_all = orders.select("o_orderkey", F.col("o_orderpriority").alias("pri"))
    s_all = li.select(
        F.col("l_orderkey").alias("o_orderkey"), qty.alias("qty"), "l_linenumber"
    )
    r_old = r_all.filter(F.col("o_orderkey") % 7 != 3)
    s_old = s_all.filter(F.col("o_orderkey") % 5 != 2)
    nul_q = F.lit(None).cast("decimal(18,4)")
    nul_p = F.lit(None).cast("string")

    def r_row(df, op):
        return df.select(
            F.lit("R").alias("side"), "o_orderkey", "pri", nul_q.alias("qty"),
            F.lit(op).alias("op"),
        )

    def s_row(df, op):
        return df.select(
            F.lit("S").alias("side"), "o_orderkey", nul_p.alias("pri"), "qty",
            F.lit(op).alias("op"),
        )

    def build_changes(tmp: str) -> None:
        e1 = r_row(r_old, 1)
        e2 = s_row(s_old.select("o_orderkey", "qty"), 1)
        e3 = (
            r_row(r_all.filter(F.col("o_orderkey") % 7 == 3), 1)
            .unionByName(r_row(r_old.filter(F.col("o_orderkey") % 11 == 5), -1))
            .unionByName(s_row(s_all.filter(F.col("o_orderkey") % 5 == 2), 1))
            .unionByName(
                s_row(s_old.filter(F.col("l_linenumber") == 3), -1)
            )
        )
        for i, df in enumerate((e1, e2, e3), start=1):
            df.coalesce(1).write.parquet(_os.path.join(tmp, f"e{i}"))

    changes_dir = staged_layout("jav_changes", sf_dir, ["orders", "lineitem"], build_changes)
    # layout v2 (r11): bases bucketed by join-key hash — fresh staging tag
    # so a cached r10 whole-side store is never read through bucketed code
    base = staged_base("javstore_b", sf_dir, ["orders", "lineitem"])
    _os.makedirs(base, exist_ok=True)
    store = _os.path.join(base, "store")
    stream = (
        spark.readStream.schema(
            "side string, o_orderkey bigint, pri string, qty decimal(18,4), op int"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(_os.path.join(changes_dir, "e*"))
    )
    q = matview.join_agg_view_stream(
        stream,
        store,
        side_col="side",
        r_cols=["o_orderkey", "pri"],
        s_cols=["o_orderkey", "qty"],
        on=["o_orderkey"],
        keys=["pri"],
        sum_cols={"sum_qty": "qty"},
        count_col="n",
        op_col="op",
        checkpoint=_os.path.join(base, "ckpt"),
        buckets=8,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    view = matview.read_view(spark, store, ["pri", "n", "sum_qty"])
    if view is None:
        raise RuntimeError(
            f"q152: matview store at {store} has no committed version; "
            "remove the stream checkpoint to replay the changes"
        )
    return view.select(
        "pri", "n", F.col("sum_qty").cast("double").alias("sum_qty")
    ).orderBy("pri")


# ---------------------------------------------------------------------------
# q153 — OUT-OF-ORDER streaming pattern spans (streaming/patterns.py::
# streaming_pattern_spans_ooo; VERDICT r09 Next #4 — the ordering contract
# produced by watermark buffering instead of assumed from the source)
# ---------------------------------------------------------------------------


@register("q153_streaming_pattern_spans_ooo", oracle=_SPANS_ORACLE_SQL)
def q153_streaming_pattern_spans_ooo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q137 pattern (view→purchase with no error strictly between)
    evaluated on a stream whose per-user event times are GENUINELY
    out of order across microbatches: every fifth event arrives one batch
    late (streaming/events.py::read_events_stream_late_shifted), violating
    the contract q145's in-order source guarantees. The buffered matcher
    (streaming_pattern_spans_ooo) absorbs the disorder in per-user state,
    releasing and deciding only the watermark-passed prefix through the
    SAME decision core as q145, with event-time timeouts waking users whose
    buffers outlive their arrivals and two sentinel microbatches closing
    the finite replay. The oracle is LITERALLY q137's batch SQL
    (_SPANS_ORACLE_SQL — one string, now three surfaces): shuffled arrival
    must change NOTHING about the decisions. The sentinel user is filtered
    from the output (its rows are deny-typed and can never match)."""
    from kf_task_fhir_etl_spark.streaming.events import (
        read_events_stream_late_shifted,
        run_stream_to_memory,
    )
    from kf_task_fhir_etl_spark.streaming.patterns import streaming_pattern_spans_ooo

    stream, wm = read_events_stream_late_shifted(spark, sf_dir, n_splits=3, late_mod=5)
    spans = streaming_pattern_spans_ooo(
        stream, "view", "purchase", ["error"], watermark=wm
    )
    run_stream_to_memory(spans, "q153_spans_mem", output_mode="append")
    return (
        spark.table("q153_spans_mem")
        .filter(F.col("user_id") != -1)
        .select("user_id", "start_us", "end_us")
        .orderBy("user_id", "start_us", "end_us")
    )


# ---------------------------------------------------------------------------
# q156 — streaming COUNT(DISTINCT) view (streaming/matview.py::
# distinct_count_view_stream; completes the IVM streaming matrix —
# agg q133, join+agg q152, top-k q151, distinct HERE)
# ---------------------------------------------------------------------------


@register("q156_streaming_distinct_view", oracle=_DISTINCT_ORACLE_SQL)
def q156_streaming_distinct_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q146 distinct-users-per-(type, day) view maintained from a
    CHANGELOG STREAM (streaming/matview.py::distinct_count_view_stream):
    epoch 1 loads the old rows (+1), epoch 2 carries the late arrivals
    (event_id % 7 = 3, +1) and the leavers (% 11 = 5, −1) in one batch.
    The Gupta/Mumick support relation buckets by group-key hash across
    the partitioned store — a microbatch rewrites only the buckets its
    delta's groups hash into, the view rides its own aggregate-sized
    partition, and both commit under ONE marker (the q151/q152 atomicity
    discipline). The oracle is LITERALLY q146's recompute SQL
    (_DISTINCT_ORACLE_SQL — one string, two surfaces): the streamed view
    must be value-identical to the batch operator's incremental ≡
    recompute result."""
    import os as _os

    from kf_task_fhir_etl_spark.catalog import staged_base, staged_layout
    from kf_task_fhir_etl_spark.streaming import matview

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.to_date("ts").alias("event_date"), "user_id"
    )
    old = ev.filter(F.col("event_id") % 7 != 3)
    cols = ["event_type", "event_date", "user_id"]

    def build_changes(tmp: str) -> None:
        e1 = old.select(*cols, F.lit(1).alias("op"))
        e2 = (
            ev.filter(F.col("event_id") % 7 == 3)
            .select(*cols, F.lit(1).alias("op"))
            .unionByName(
                old.filter(F.col("event_id") % 11 == 5).select(
                    *cols, F.lit(-1).alias("op")
                )
            )
        )
        for i, df in enumerate((e1, e2), start=1):
            df.coalesce(1).write.parquet(_os.path.join(tmp, f"e{i}"))

    changes_dir = staged_layout("dcv_changes", sf_dir, ["events"], build_changes)
    base = staged_base("dcvstore", sf_dir, ["events"])
    _os.makedirs(base, exist_ok=True)
    store = _os.path.join(base, "store")
    stream = (
        spark.readStream.schema(
            "event_type string, event_date date, user_id bigint, op int"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(_os.path.join(changes_dir, "e*"))
    )
    q = matview.distinct_count_view_stream(
        stream,
        store,
        keys=["event_type", "event_date"],
        value_col="user_id",
        op_col="op",
        checkpoint=_os.path.join(base, "ckpt"),
        buckets=8,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    view = matview.read_distinct_view(spark, store, ["event_type", "event_date"])
    if view is None:
        raise RuntimeError(
            f"q156: distinct-view store at {store} has no committed version; "
            "remove the stream checkpoint to replay the changes"
        )
    # the batch view carries only groups with >=1 distinct non-null user
    # (the operator's documented NULL contract), matching the oracle's
    # user_id IS NOT NULL recompute
    return view.orderBy("event_type", "event_date")


# ---------------------------------------------------------------------------
# q157 — incremental SSSP, insert-only (operators/graph_delta.py::
# apply_sssp_inserts; the q154 tractability boundary applied to distances)
# ---------------------------------------------------------------------------


@register("q157_incremental_sssp", oracle=_q143_oracle())
def q157_incremental_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q143 weighted shortest-path table MAINTAINED through an
    insert-only edge batch (operators/graph_delta.py::apply_sssp_inserts):
    co-purchase edges with (u+v) % 7 = 2 arrive late; the stored distances
    of the remaining graph continue Bellman-Ford from the inserted edges'
    one-hop relaxation (a batch-sized broadcast seed), propagating
    improvement wavefronts through the post-changelog edge set — never
    restarting from the sources. Insert-only means distances only
    decrease, so the maintained table is BIT-IDENTICAL to the from-scratch
    answer: the oracle is LITERALLY q143's unrolled min-relaxation SQL
    (_q143_oracle — one string, two surfaces) over the full graph.
    Sources are the FULL graph's % 97 nodes on both legs (a source whose
    edges all arrive late sits at distance 0 awaiting them — the
    multi-source contract). Deletion is out of scope by design (the
    apply_components_delta tractability note); integer weights keep every
    distance an exact bigint."""
    from kf_task_fhir_etl_spark import etl
    from kf_task_fhir_etl_spark.operators import graph, graph_delta

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 20 == 0)
        .select("l_orderkey", "l_partkey")
    )
    pairs = _copurchase_pairs(li).localCheckpoint(eager=True)
    w = (F.lit(1) + (F.col("src") + F.col("dst")) % 5).cast("bigint").alias("w")
    weighted_all = pairs.select("src", "dst", w)
    late = (F.col("src") + F.col("dst")) % 7 == 2
    nodes = (
        pairs.select(F.col("src").alias("node"))
        .unionByName(pairs.select(F.col("dst").alias("node")))
        .distinct()
    )
    sources = nodes.filter(F.col("node") % 97 == 0)
    handles: list[DataFrame] = []
    dist_old = graph.sssp_distances(
        weighted_all.filter(~late), sources, handles_out=handles
    )
    maintained = graph_delta.apply_sssp_inserts(
        dist_old, weighted_all, weighted_all.filter(late), handles_out=handles
    )
    result = maintained.select(
        "node", F.col("dist").cast("bigint").alias("dist")
    ).localCheckpoint(eager=True)
    etl.release_checkpoints(handles)
    etl.release_checkpoints([pairs])
    return result.orderBy("node")


# ---------------------------------------------------------------------------
# q158 — OUT-OF-ORDER streaming funnel (streaming/patterns.py::
# streaming_funnel_trajectories_ooo; the q153 buffering applied to the
# funnel family — both stateful pattern operators now have both arrival
# modes)
# ---------------------------------------------------------------------------


@register("q158_streaming_funnel_ooo", oracle=_FUNNEL_ORACLE_SQL)
def q158_streaming_funnel_ooo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q134 first-touch funnel evaluated on the q153 DISORDERED stream
    (every fifth event one batch late): the buffered matcher advances the
    carried first-touch vector only over watermark-released prefixes
    through the SAME core as the in-order q147 matcher, so shuffled
    arrival must change NOTHING — the oracle is LITERALLY q134's batch
    SQL (_FUNNEL_ORACLE_SQL, now a third surface). The sentinel user
    rides step-1-typed events (the watermark must see them BEFORE the
    type filter can drop them) and is filtered from the trajectories
    before the report aggregation."""
    from pyspark.sql import Window

    from kf_task_fhir_etl_spark.streaming.events import (
        read_events_stream_late_shifted,
        run_stream_to_memory,
    )
    from kf_task_fhir_etl_spark.streaming.patterns import streaming_funnel_trajectories_ooo

    steps = ["view", "click", "purchase"]
    stream, wm = read_events_stream_late_shifted(
        spark, sf_dir, n_splits=3, late_mod=5, flush_type="view"
    )
    traj = streaming_funnel_trajectories_ooo(stream, steps, watermark=wm)
    run_stream_to_memory(traj, "q158_funnel_mem", output_mode="update")
    t = spark.table("q158_funnel_mem").filter(F.col("user_id") != -1)
    w = Window.partitionBy("user_id").orderBy(F.desc("reached"))
    final = t.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    aggs = []
    for j in range(1, len(steps) + 1):
        reached_j = F.col("reached") >= j
        aggs.append(
            F.sum(F.when(reached_j, 1).otherwise(0)).cast("bigint").alias(f"__n{j}")
        )
        aggs.append(
            F.sum(
                F.when(reached_j, F.col(f"us{j}") - F.col("us1")).otherwise(F.lit(0))
            ).alias(f"__g{j}")
        )
    agg = final.agg(*aggs)
    rows = [
        F.struct(
            F.lit(j).alias("step_idx"),
            F.lit(step).alias("step"),
            F.coalesce(F.col(f"__n{j}"), F.lit(0)).alias("n_users"),
            F.when(F.coalesce(F.col(f"__n{j}"), F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.round(F.col(f"__g{j}") / (F.col(f"__n{j}") * F.lit(1000000.0)), 4)
            )
            .alias("avg_s_from_first"),
        )
        for j, step in enumerate(steps, start=1)
    ]
    return (
        agg.select(F.explode(F.array(*rows)).alias("r"))
        .select("r.step_idx", "r.step", "r.n_users", "r.avg_s_from_first")
        .orderBy("step_idx")
    )


# ---------------------------------------------------------------------------
# q160 — CDC tombstone compaction/retention (streaming/cdc.py::
# compact_tombstones; VERDICT r10 Next #5 — the one named-but-unmodeled
# piece of the ingest edge)
# ---------------------------------------------------------------------------


@register(
    "q160_cdc_tombstone_retention",
    oracle="""
    SELECT o_orderkey AS order_key,
           CASE WHEN o_orderkey % 7 = 0 THEN 'BACK' ELSE o_orderstatus END AS status,
           ROUND(o_totalprice, 2)
             + CASE WHEN o_orderkey % 7 = 0 THEN 1000.0
                    WHEN o_orderkey % 10 = 1 THEN 500.0 ELSE 0.0 END AS price
    FROM orders
    WHERE o_orderkey % 7 <> 0 OR o_orderkey % 35 = 0
    ORDER BY order_key
    """,
)
def q160_cdc_tombstone_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone retention on the partitioned CDC store, end to end:
    (A) stream two epochs — upsert every key at seq 2, DELETE keys %7==0
    at seq 3 — then stop; (B) ``compact_tombstones(min_retained_order=4)``
    drops every tombstone (seq 3 < 4) in a marker-committed maintenance
    pass and records the watermark; (C) three LATE epochs arrive and the
    stream RESUMES FROM ITS OWN CHECKPOINT (the production shape — its
    replay guard rides the manifest's replay_token, so the maintenance
    commit in between cannot desynchronize it): a seq-1 'ZOMBIE' upsert
    for deleted keys %21==0 — older than the watermark, dropped AT THE
    SINK by design (the compacted tombstones that would have beaten it
    are gone; without the retention filter these rows would resurrect and
    the hash would catch it) — a seq-5 'BACK' upsert genuinely
    resurrecting keys %35==0, and a seq-5 re-price (+500) of live keys
    %10==1. The oracle is the FULL-HISTORY LWW in closed form — i.e. the
    answer as if no compaction ever happened: retention preserves LWW for
    every change at or newer than the watermark and the dropped zombies
    land exactly where the tombstones would have put them."""
    import os as _os

    from kf_task_fhir_etl_spark.catalog import staged_base
    from kf_task_fhir_etl_spark.streaming import cdc

    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    price = F.round(F.col("o_totalprice"), 2)

    def change(df, status_col, price_col, seq, op):
        return df.select(
            k.alias("order_key"),
            status_col.alias("status"),
            price_col.alias("price"),
            F.lit(seq).cast("long").alias("seq"),
            F.lit(op).alias("op"),
        )

    nul_s = F.lit(None).cast("string")
    nul_p = F.lit(None).cast("double")
    epochs_a = {
        "e1": change(orders, F.col("o_orderstatus"), price, 2, cdc.OP_UPSERT),
        "e2": change(orders.filter(k % 7 == 0), nul_s, nul_p, 3, cdc.OP_DELETE),
    }
    epochs_c = {
        "e3": change(orders.filter(k % 21 == 0), F.lit("ZOMBIE"), price, 1, cdc.OP_UPSERT),
        "e4": change(orders.filter(k % 35 == 0), F.lit("BACK"), price + 1000.0, 5, cdc.OP_UPSERT),
        "e5": change(
            orders.filter((k % 10 == 1) & (k % 7 != 0)), F.col("o_orderstatus"),
            price + 500.0, 5, cdc.OP_UPSERT,
        ),
    }
    base = staged_base("cdcret", sf_dir, ["orders"])
    _os.makedirs(base, exist_ok=True)
    watched = _os.path.join(base, "changes")
    store = _os.path.join(base, "store")
    ckpt = _os.path.join(base, "ckpt")

    def write_epochs(epochs: dict) -> None:
        for name, df in epochs.items():
            path = _os.path.join(watched, name)
            if not _os.path.isdir(path):
                df.coalesce(1).write.parquet(path)

    def run_stream() -> None:
        stream = (
            spark.readStream.schema(
                "order_key bigint, status string, price double, seq long, op string"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(_os.path.join(watched, "e*"))
        )
        q = cdc.cdc_stream(
            stream, store, key_cols=["order_key"], order_col="seq", op_col="op",
            checkpoint=ckpt, buckets=8,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    write_epochs(epochs_a)
    run_stream()
    cdc.compact_tombstones(spark, store, min_retained_order=4)
    write_epochs(epochs_c)
    run_stream()  # SAME checkpoint: the resumed-stream production shape
    live = cdc.read_table(spark, store)
    if live is None:
        raise RuntimeError(
            f"q160: CDC store at {store} has no committed version; "
            "remove the stream checkpoint to replay the changes"
        )
    return live.select("order_key", "status", "price").orderBy("order_key")


# ---------------------------------------------------------------------------
# q161 — as-of snapshot reads (time travel) on the partitioned store
# (streaming/versioned_store.py::read_partitions(as_of=); landed r10 with
# pytest only — VERDICT r10 Next #6 asked for a driver-checked gate)
# ---------------------------------------------------------------------------


@register(
    "q161_store_asof_snapshots",
    oracle="""
    SELECT 0 AS snap, o_orderkey AS order_key, o_orderstatus AS status,
           ROUND(o_totalprice, 2) AS price
    FROM orders
    UNION ALL
    SELECT 1 AS snap, o_orderkey, o_orderstatus,
           ROUND(o_totalprice, 2)
             + CASE WHEN o_orderstatus = 'F' THEN 100.0 ELSE 0.0 END
    FROM orders
    ORDER BY snap, order_key
    """,
)
def q161_store_asof_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation / time travel on the partitioned versioned
    store: commit 0 loads orders into per-status partitions, commit 1
    rewrites ONLY the 'F' partition (+100 re-price) — 'O'/'P' carry
    forward by manifest reference. The gate reads the store AS OF both
    commits (the lag buffer retains the previous snapshot in full) and
    checks each against its closed-form oracle: the as-of-0 read must see
    the original 'F' rows THROUGH THE OLD DATA DIRS even though the live
    manifest points elsewhere, and the as-of-1 read must see the rewrite
    plus the two carried-forward partitions. Deterministic and replay-
    safe: the store builds once per (sf, fingerprint) staging and later
    runs only read."""
    import os as _os

    from kf_task_fhir_etl_spark.catalog import staged_base
    from kf_task_fhir_etl_spark.streaming import versioned_store as vstore

    orders = load_table(spark, sf_dir, "orders")
    rows = orders.select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_orderstatus").alias("status"),
        F.round("o_totalprice", 2).alias("price"),
    )
    base = staged_base("asofstore", sf_dir, ["orders"])
    _os.makedirs(base, exist_ok=True)
    store = _os.path.join(base, "store")
    if vstore.last_committed_batch(spark, store) < 0:
        vstore.apply_batch_partitioned(
            spark, store, lambda rp: (rows, "status", ["F", "O", "P"]), batch_id=0
        )
        repriced = rows.filter(F.col("status") == "F").withColumn(
            "price", F.col("price") + 100.0
        )
        vstore.apply_batch_partitioned(
            spark, store, lambda rp: (repriced, "status", ["F"]), batch_id=1
        )
    snaps = [
        vstore.read_partitions(spark, store, as_of=i)
        .select(F.lit(i).alias("snap"), "order_key", "status", "price")
        for i in (0, 1)
    ]
    return snaps[0].unionByName(snaps[1]).orderBy("snap", "order_key")


# ---------------------------------------------------------------------------
# q162 — bucket-count migration on the partitioned CDC store
# (streaming/versioned_store.py::rebucket_store; VERDICT r11 Missing #2 /
# Next #3 — the first maintenance operator a growing store actually needs)
# ---------------------------------------------------------------------------


@register(
    "q162_cdc_bucket_migration",
    oracle="""
    SELECT o_orderkey AS order_key,
           CASE WHEN o_orderkey % 10 = 1 THEN 'RB' ELSE o_orderstatus END AS status,
           ROUND(o_totalprice, 2)
             + CASE WHEN o_orderkey % 10 = 1 THEN 500.0 ELSE 0.0 END AS price
    FROM orders
    WHERE o_orderkey % 9 <> 0 OR o_orderkey % 10 = 1
    ORDER BY order_key
    """,
)
def q162_cdc_bucket_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-count migration mid-stream, end to end: (A) a CDC store is
    built at 4 buckets — upsert every key at seq 1, DELETE keys %9==0 at
    seq 2 — then the stream quiesces; (B) ``rebucket_store(4→8)`` rewrites
    every live partition under the 8-bucket hash in ONE marker-committed,
    TOKENLESS maintenance pass and records the new count in the manifest;
    (C) a late epoch arrives (seq-3 upsert of keys %10==1 → status 'RB',
    +500 — including %9-deleted keys, a genuine LWW resurrection ACROSS
    the migration) and the stream RESUMES FROM ITS OWN CHECKPOINT with
    the ORIGINAL ``buckets=4`` argument: the sink adopts the recorded
    count from the manifest (new writes land in 8-domain buckets — a
    mismatched argument can never split the key space across bucketings)
    and its replay guard rides the manifest's replay_token, so the
    interleaved maintenance commit cannot desynchronize it. The oracle is
    the closed-form LWW over the three epochs — the migration must be
    invisible in values. Post-migration commits rewrite only touched NEW
    buckets (pytest pins the carried-forward file listing)."""
    import os as _os

    from kf_task_fhir_etl_spark.catalog import staged_base
    from kf_task_fhir_etl_spark.streaming import cdc
    from kf_task_fhir_etl_spark.streaming import versioned_store as vstore

    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    price = F.round(F.col("o_totalprice"), 2)

    def change(df, status_col, price_col, seq, op):
        return df.select(
            k.alias("order_key"),
            status_col.alias("status"),
            price_col.alias("price"),
            F.lit(seq).cast("long").alias("seq"),
            F.lit(op).alias("op"),
        )

    epochs_a = {
        "e1": change(orders, F.col("o_orderstatus"), price, 1, cdc.OP_UPSERT),
        "e2": change(
            orders.filter(k % 9 == 0), F.lit(None).cast("string"),
            F.lit(None).cast("double"), 2, cdc.OP_DELETE,
        ),
    }
    epochs_c = {
        "e3": change(
            orders.filter(k % 10 == 1), F.lit("RB"), price + 500.0, 3, cdc.OP_UPSERT
        ),
    }
    base = staged_base("cdcrebkt", sf_dir, ["orders"])
    _os.makedirs(base, exist_ok=True)
    watched = _os.path.join(base, "changes")
    store = _os.path.join(base, "store")
    ckpt = _os.path.join(base, "ckpt")

    def write_epochs(epochs: dict) -> None:
        for name, df in epochs.items():
            path = _os.path.join(watched, name)
            if not _os.path.isdir(path):
                df.coalesce(1).write.parquet(path)

    def run_stream() -> None:
        stream = (
            spark.readStream.schema(
                "order_key bigint, status string, price double, seq long, op string"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(_os.path.join(watched, "e*"))
        )
        q = cdc.cdc_stream(
            stream, store, key_cols=["order_key"], order_col="seq", op_col="op",
            checkpoint=ckpt, buckets=4,  # creation-time count, on purpose
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    write_epochs(epochs_a)
    run_stream()
    vstore.rebucket_store(spark, store, ["order_key"], 8)  # idempotent re-run
    write_epochs(epochs_c)
    run_stream()  # SAME checkpoint, ORIGINAL buckets=4 argument
    last = vstore.last_committed_batch(spark, store)
    recorded = vstore.read_manifest_meta(spark, store, last).get("buckets")
    if recorded != 8:
        raise RuntimeError(
            f"q162: manifest records buckets={recorded!r} after migration "
            "(want 8) — the maintenance commit or the sink's adoption broke"
        )
    live = cdc.read_table(spark, store)
    if live is None:
        raise RuntimeError(
            f"q162: CDC store at {store} has no committed version; "
            "remove the stream checkpoint to replay the changes"
        )
    return live.select("order_key", "status", "price").orderBy("order_key")


# ---------------------------------------------------------------------------
# q163 — add-column schema evolution on the versioned store
# (streaming/versioned_store.py::add_columns; VERDICT r11 Missing #3 /
# Next #4 — real pipelines evolve)
# ---------------------------------------------------------------------------


@register(
    "q163_cdc_schema_evolution",
    oracle="""
    SELECT o_orderkey AS order_key,
           CASE WHEN o_orderkey % 5 = 0 THEN 'P5' ELSE o_orderstatus END AS status,
           ROUND(o_totalprice, 2)
             + CASE WHEN o_orderkey % 3 = 0 THEN 250.0 ELSE 0.0 END AS price,
           CASE WHEN o_orderkey % 3 = 0 THEN 'N3' END AS note
    FROM orders
    ORDER BY order_key
    """,
)
def q163_cdc_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution mid-stream, end to end: (A) a CDC store is built
    under schema (order_key, status, price) — upsert every key at seq 1,
    re-status keys %5==0 at seq 2 — then the stream quiesces;
    (B) ``add_columns(note string)`` DECLARES the new column in one
    marker-committed, tokenless, ZERO-data-I/O maintenance commit (lazy
    evolution: carried-forward files stay byte-identical — pytest pins
    it); (C) the stream RESUMES FROM ITS OWN CHECKPOINT with the WIDENED
    source schema and a seq-3 epoch carrying ``note='N3'`` for keys
    %3==0. The sink's LWW merge spans the vintages: the store slice reads
    through the manifest's declared evolution (mergeSchema + null
    backfill), so pre-evolution winners surface ``note = NULL`` and
    post-evolution winners carry real values. The oracle is the
    closed-form LWW with the evolved column — the declaration must be
    invisible in every pre-evolution value."""
    import os as _os

    from kf_task_fhir_etl_spark.catalog import staged_base
    from kf_task_fhir_etl_spark.streaming import cdc
    from kf_task_fhir_etl_spark.streaming import versioned_store as vstore

    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    price = F.round(F.col("o_totalprice"), 2)
    status2 = F.when(k % 5 == 0, F.lit("P5")).otherwise(F.col("o_orderstatus"))
    epochs_a = {
        "e1": orders.select(
            k.alias("order_key"), F.col("o_orderstatus").alias("status"),
            price.alias("price"), F.lit(1).cast("long").alias("seq"),
            F.lit(cdc.OP_UPSERT).alias("op"),
        ),
        "e2": orders.filter(k % 5 == 0).select(
            k.alias("order_key"), F.lit("P5").alias("status"),
            price.alias("price"), F.lit(2).cast("long").alias("seq"),
            F.lit(cdc.OP_UPSERT).alias("op"),
        ),
    }
    epochs_c = {
        "e3": orders.filter(k % 3 == 0).select(
            k.alias("order_key"), status2.alias("status"),
            (price + 250.0).alias("price"), F.lit("N3").alias("note"),
            F.lit(3).cast("long").alias("seq"), F.lit(cdc.OP_UPSERT).alias("op"),
        ),
    }
    base = staged_base("cdcevol", sf_dir, ["orders"])
    _os.makedirs(base, exist_ok=True)
    watched = _os.path.join(base, "changes")
    store = _os.path.join(base, "store")
    ckpt = _os.path.join(base, "ckpt")

    def write_epochs(epochs: dict) -> None:
        for name, df in epochs.items():
            path = _os.path.join(watched, name)
            if not _os.path.isdir(path):
                df.coalesce(1).write.parquet(path)

    def run_stream(schema: str) -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(_os.path.join(watched, "e*"))
        )
        q = cdc.cdc_stream(
            stream, store, key_cols=["order_key"], order_col="seq", op_col="op",
            checkpoint=ckpt, buckets=8,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    write_epochs(epochs_a)
    run_stream("order_key bigint, status string, price double, seq long, op string")
    vstore.add_columns(spark, store, {"note": "string"})  # idempotent re-run
    write_epochs(epochs_c)
    # SAME checkpoint, WIDENED source schema
    run_stream(
        "order_key bigint, status string, price double, note string, seq long, op string"
    )
    live = cdc.read_table(spark, store)
    if live is None:
        raise RuntimeError(
            f"q163: CDC store at {store} has no committed version; "
            "remove the stream checkpoint to replay the changes"
        )
    return live.select("order_key", "status", "price", "note").orderBy("order_key")
