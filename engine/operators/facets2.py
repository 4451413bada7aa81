"""Round-3 federated registry queries.

Same consolidation pattern as ``tpch_merged`` / ``facets``: the
driver's correctness gate records ~50 entries, so the round-2 library
additions (graph analytics, journey/timeseries analytics, BPE, PPJoin)
get driver-visible rows by federating them under ``facet`` columns —
and four pairs of kindred existing rows are merged to stay inside the
cap. Every component stays registered (``exported=False``) with its
own oracle, so the local gate keeps checking each one individually;
the federated oracle wraps the unchanged component oracles as
subqueries, so the driver's value hash still pins every component's
values exactly.

Perf discipline: federations that share an expensive intermediate
build it ONCE — ``graph_analytics`` persists one co-purchase pair
list for all three graph cores (the events scan + basket self-join
runs once, not three times), and ``bpe_pipeline`` runs the K-round
merge-learning chain once for both the merge table and the corpus
encoding.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Importing the component modules registers their specs (and oracles).
from engine.operators import (  # noqa: F401
    analytics,
    bpe,
    dedup,
    facets,
    streaming_queries,
)
from engine.plans import audited_checkpoint, record_iteration_plan
from engine.registry import _REGISTRY, query

def _oracle(name: str) -> str:
    return _REGISTRY[name].oracle


_NB = "CAST(NULL AS BIGINT)"
_ND = "CAST(NULL AS DOUBLE)"
_NV = "CAST(NULL AS VARCHAR)"
_NT = "CAST(NULL AS TIMESTAMP)"
_NBOOL = "CAST(NULL AS BOOLEAN)"


def _nb():
    return F.lit(None).cast("bigint")


def _nd():
    return F.lit(None).cast("double")


def _nv():
    return F.lit(None).cast("string")


def _nt():
    return F.lit(None).cast("timestamp")


# ---------------------------------------------------------------------------
# New driver rows for round-2 library operators
# ---------------------------------------------------------------------------


@query(
    "graph_analytics",
    oracle=f"""
SELECT 'pagerank' AS facet, item, out_deg AS n1, {_NB} AS n2,
       pr9 AS x, {_NBOOL} AS flag
FROM ({_oracle('pagerank_items')}) pr
UNION ALL
SELECT 'triangle', item, degree, n_triangles, clustering6, {_NBOOL}
FROM ({_oracle('triangle_counts')}) tc
UNION ALL
SELECT 'kcore', item, core_deg, {_NB}, {_ND}, converged
FROM ({_oracle('kcore_items')}) kc
""",
    tags=("analytics", "graph", "iterative", "events", "headline"),
)
def graph_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-purchase graph operators, federated: `pagerank` (item,
    n1 = out-degree, x = rank after 5 damped rounds on the 1e-9 grid),
    `triangle` (n1 = degree, n2 = triangle count, x = clustering
    coefficient), `kcore` (n1 = degree within the k-core, flag =
    peeling reached fixpoint). The pair list — the dominant cost: an
    events scan + capped basket self-join — is built ONCE, persisted,
    and fanned out to all three cores.

    The cores run CONCURRENTLY (three driver threads submitting jobs
    against the shared pair cache) under ONE static-planning context
    pinned to the measured width: their iteration chains are
    stage-latency-bound, not core-bound, so overlapping them hides
    most of two cores' wall time on any cluster with spare slots —
    and session conf is process-global, so the single outer context
    (rather than three racing ones) is what makes the parallelism
    safe. Measured 5.3 s sequential → ~3 s overlapped at sf0.1."""
    from concurrent.futures import ThreadPoolExecutor

    from engine.session import static_planning

    pairs = analytics.copurchase_pairs(spark, sf_dir).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    m2 = pairs.count()  # fills the cache; sizes the shared width
    conf_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    nparts = max(1, min(conf_parts, -(-(2 * m2) // 1_000_000)))
    with static_planning(spark, shuffle_partitions=nparts):
        with ThreadPoolExecutor(max_workers=3) as pool:
            f_pr = pool.submit(analytics.pagerank_core, pairs, nparts)
            f_tc = pool.submit(analytics.triangle_core, pairs, nparts)
            f_kc = pool.submit(analytics.kcore_core, pairs, nparts)
            pr_df, tc_df, kc_df = f_pr.result(), f_tc.result(), f_kc.result()
    pr = pr_df.selectExpr(
        "'pagerank' AS facet",
        "item",
        "out_deg AS n1",
        "CAST(NULL AS BIGINT) AS n2",
        "pr9 AS x",
        "CAST(NULL AS BOOLEAN) AS flag",
    )
    tc = tc_df.selectExpr(
        "'triangle' AS facet",
        "item",
        "degree AS n1",
        "n_triangles AS n2",
        "clustering6 AS x",
        "CAST(NULL AS BOOLEAN) AS flag",
    )
    kc = kc_df.selectExpr(
        "'kcore' AS facet",
        "item",
        "core_deg AS n1",
        "CAST(NULL AS BIGINT) AS n2",
        "CAST(NULL AS DOUBLE) AS x",
        "converged AS flag",
    )
    # All three cores materialized eagerly above (localCheckpoint), so
    # the shared pair cache has no remaining consumers — drop it.
    pairs.unpersist(False)
    return pr.unionAll(tc).unionAll(kc)


@query(
    "events_lifecycle_analytics",
    oracle=f"""
SELECT 'attribution' AS facet, first_touch AS k1, last_touch AS k2,
       {_NB} AS id, {_NB} AS seq, {_NT} AS t1, {_NT} AS t2,
       n_purchases AS n1, {_NB} AS n2, {_NBOOL} AS flag,
       revenue2 AS x1, {_ND} AS x2
FROM ({_oracle('purchase_attribution')}) at
UNION ALL
SELECT 'markov', from_type, to_type, {_NB}, {_NB}, {_NT}, {_NT},
       n, n_from, {_NBOOL}, p6, {_ND}
FROM ({_oracle('event_transition_matrix')}) tm
UNION ALL
SELECT 'scd2', tier, {_NV}, user_id, version, valid_from, valid_to,
       {_NB}, {_NB}, is_current, {_ND}, {_ND}
FROM ({_oracle('scd2_user_tiers')}) sc
UNION ALL
SELECT 'trending', {_NV}, {_NV}, item, rank, day, {_NT},
       n, n_prev, {_NBOOL}, {_ND}, {_ND}
FROM ({_oracle('trending_items')}) tr
UNION ALL
SELECT 'gapfill', event_type, {_NV}, {_NB}, {_NB}, day, {_NT},
       n, {_NB}, is_gap, locf2, {_ND}
FROM ({_oracle('events_daily_gapfill')}) gf
UNION ALL
SELECT 'ols', event_type, {_NV}, {_NB}, {_NB}, {_NT}, {_NT},
       n, {_NB}, {_NBOOL}, slope6, intercept6
FROM ({_oracle('value_trend_ols')}) ol
UNION ALL
SELECT 'retention', {_NV}, {_NV}, {_NB}, CAST(offset_days AS BIGINT),
       cohort_day, {_NT}, n_users, cohort_size, {_NBOOL},
       retention_rate, {_ND}
FROM ({_oracle('events_retention_cohorts')}) rc
UNION ALL
SELECT 'rolling', {_NV}, {_NV}, {_NB}, {_NB}, day, {_NT},
       active_users_7d, {_NB}, {_NBOOL}, {_ND}, {_ND}
FROM ({_oracle('events_rolling_active_users')}) ra
""",
    tags=("analytics", "sequence", "timeseries", "events"),
)
def events_lifecycle_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The user-journey and time-series analytics operators, eight
    facets over events:

    - `attribution`: first-/last-touch matrix (k1/k2 = touches, n1 =
      purchases, x1 = integer-grid revenue);
    - `markov`:      first-order transition matrix (k1→k2, n1/n2 =
      pair/row counts, x1 = exact-ratio probability);
    - `scd2`:        Type-2 tier history (k1 = tier, id = user, seq =
      version, t1/t2 = validity interval, flag = is_current);
    - `trending`:    per-day top-K items (id = item, seq = rank, t1 =
      day, n1/n2 = count/prev-day count);
    - `gapfill`:     dense calendar with LOCF (k1 = type, t1 = day,
      n1 = count, flag = gap day, x1 = carried-forward sum);
    - `ols`:         per-type closed-form trend (x1/x2 = slope/
      intercept from integer-grid sufficient statistics);
    - `retention`:   first-activity cohort × day-offset retention
      matrix (t1 = cohort day, seq = offset, n1/n2 = retained/cohort
      size, x1 = rate);
    - `rolling`:     7-day rolling distinct users via the fixed x7
      contribution explode (t1 = day, n1 = active users).
    """
    at = analytics.purchase_attribution(spark, sf_dir).selectExpr(
        "'attribution' AS facet",
        "first_touch AS k1",
        "last_touch AS k2",
        "CAST(NULL AS BIGINT) AS id",
        "CAST(NULL AS BIGINT) AS seq",
        "CAST(NULL AS TIMESTAMP) AS t1",
        "CAST(NULL AS TIMESTAMP) AS t2",
        "n_purchases AS n1",
        "CAST(NULL AS BIGINT) AS n2",
        "CAST(NULL AS BOOLEAN) AS flag",
        "revenue2 AS x1",
        "CAST(NULL AS DOUBLE) AS x2",
    )
    tm = analytics.event_transition_matrix(spark, sf_dir).selectExpr(
        "'markov' AS facet",
        "from_type AS k1",
        "to_type AS k2",
        "CAST(NULL AS BIGINT) AS id",
        "CAST(NULL AS BIGINT) AS seq",
        "CAST(NULL AS TIMESTAMP) AS t1",
        "CAST(NULL AS TIMESTAMP) AS t2",
        "n AS n1",
        "n_from AS n2",
        "CAST(NULL AS BOOLEAN) AS flag",
        "p6 AS x1",
        "CAST(NULL AS DOUBLE) AS x2",
    )
    sc = analytics.scd2_user_tiers(spark, sf_dir).selectExpr(
        "'scd2' AS facet",
        "tier AS k1",
        "CAST(NULL AS STRING) AS k2",
        "user_id AS id",
        "version AS seq",
        "valid_from AS t1",
        "valid_to AS t2",
        "CAST(NULL AS BIGINT) AS n1",
        "CAST(NULL AS BIGINT) AS n2",
        "is_current AS flag",
        "CAST(NULL AS DOUBLE) AS x1",
        "CAST(NULL AS DOUBLE) AS x2",
    )
    tr = analytics.trending_items(spark, sf_dir).selectExpr(
        "'trending' AS facet",
        "CAST(NULL AS STRING) AS k1",
        "CAST(NULL AS STRING) AS k2",
        "item AS id",
        "rank AS seq",
        "day AS t1",
        "CAST(NULL AS TIMESTAMP) AS t2",
        "n AS n1",
        "n_prev AS n2",
        "CAST(NULL AS BOOLEAN) AS flag",
        "CAST(NULL AS DOUBLE) AS x1",
        "CAST(NULL AS DOUBLE) AS x2",
    )
    gf = analytics.events_daily_gapfill(spark, sf_dir).selectExpr(
        "'gapfill' AS facet",
        "event_type AS k1",
        "CAST(NULL AS STRING) AS k2",
        "CAST(NULL AS BIGINT) AS id",
        "CAST(NULL AS BIGINT) AS seq",
        "day AS t1",
        "CAST(NULL AS TIMESTAMP) AS t2",
        "n AS n1",
        "CAST(NULL AS BIGINT) AS n2",
        "is_gap AS flag",
        "locf2 AS x1",
        "CAST(NULL AS DOUBLE) AS x2",
    )
    ol = analytics.value_trend_ols(spark, sf_dir).selectExpr(
        "'ols' AS facet",
        "event_type AS k1",
        "CAST(NULL AS STRING) AS k2",
        "CAST(NULL AS BIGINT) AS id",
        "CAST(NULL AS BIGINT) AS seq",
        "CAST(NULL AS TIMESTAMP) AS t1",
        "CAST(NULL AS TIMESTAMP) AS t2",
        "n AS n1",
        "CAST(NULL AS BIGINT) AS n2",
        "CAST(NULL AS BOOLEAN) AS flag",
        "slope6 AS x1",
        "intercept6 AS x2",
    )
    rc = relational.events_retention_cohorts(spark, sf_dir).selectExpr(
        "'retention' AS facet",
        "CAST(NULL AS STRING) AS k1",
        "CAST(NULL AS STRING) AS k2",
        "CAST(NULL AS BIGINT) AS id",
        "CAST(offset_days AS BIGINT) AS seq",
        "cohort_day AS t1",
        "CAST(NULL AS TIMESTAMP) AS t2",
        "n_users AS n1",
        "cohort_size AS n2",
        "CAST(NULL AS BOOLEAN) AS flag",
        "retention_rate AS x1",
        "CAST(NULL AS DOUBLE) AS x2",
    )
    ra = relational.events_rolling_active_users(spark, sf_dir).selectExpr(
        "'rolling' AS facet",
        "CAST(NULL AS STRING) AS k1",
        "CAST(NULL AS STRING) AS k2",
        "CAST(NULL AS BIGINT) AS id",
        "CAST(NULL AS BIGINT) AS seq",
        "day AS t1",
        "CAST(NULL AS TIMESTAMP) AS t2",
        "active_users_7d AS n1",
        "CAST(NULL AS BIGINT) AS n2",
        "CAST(NULL AS BOOLEAN) AS flag",
        "CAST(NULL AS DOUBLE) AS x1",
        "CAST(NULL AS DOUBLE) AS x2",
    )
    return (
        at.unionAll(tm)
        .unionAll(sc)
        .unionAll(tr)
        .unionAll(gf)
        .unionAll(ol)
        .unionAll(rc)
        .unionAll(ra)
    )


@query(
    "bpe_pipeline",
    oracle=f"""
SELECT 'merge' AS facet, step, merge_left AS k1, merge_right AS k2,
       {_NB} AS doc_id, pair_count AS n1, {_NB} AS n2, {_NB} AS n3,
       {_ND} AS x
FROM ({_oracle('bpe_merges')}) bm
UNION ALL
SELECT 'encode', {_NB}, {_NV}, {_NV}, doc_id, n_words, n_chars_alpha,
       n_tokens, compression6
FROM ({_oracle('bpe_encode_docs')}) be
""",
    tags=("text", "tokenizer", "bpe"),
)
def bpe_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE tokenizer pipeline, federated: `merge` (the learned
    merge table — step, k1/k2 = merged pair, n1 = pair count) and
    `encode` (the corpus tokenized with that vocabulary — per-doc
    word/char/token counts, x = compression ratio). The K-round
    merge-learning chain runs ONCE for both facets (learn_chain
    returns the merge table and the final vocabulary state)."""
    words = bpe._spark_words(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    merges, final_words = bpe.learn_chain(words)
    bm = merges.selectExpr(
        "'merge' AS facet",
        "step",
        "merge_left AS k1",
        "merge_right AS k2",
        "CAST(NULL AS BIGINT) AS doc_id",
        "pair_count AS n1",
        "CAST(NULL AS BIGINT) AS n2",
        "CAST(NULL AS BIGINT) AS n3",
        "CAST(NULL AS DOUBLE) AS x",
    )
    be = bpe.encode_from_vocab(spark, sf_dir, final_words).selectExpr(
        "'encode' AS facet",
        "CAST(NULL AS BIGINT) AS step",
        "CAST(NULL AS STRING) AS k1",
        "CAST(NULL AS STRING) AS k2",
        "doc_id",
        "n_words AS n1",
        "n_chars_alpha AS n2",
        "n_tokens AS n3",
        "compression6 AS x",
    )
    return bm.unionAll(be)


@query(
    "dedup_minhash_prefix",
    oracle=f"""
SELECT 'minhash' AS facet, doc_a, doc_b, {_NB} AS n_common,
       {_NB} AS n_a, {_NB} AS n_b, est_jaccard AS x
FROM ({_oracle('dedup_minhash_lsh')}) mh
UNION ALL
SELECT 'prefix', id_a, id_b, n_common, n_a, n_b, jaccard6
FROM ({_oracle('dedup_prefix_filter')}) pf
UNION ALL
SELECT 'ngram', doc_a, doc_b, {_NB}, {_NB}, {_NB}, jaccard
FROM ({_oracle('dedup_ngram_jaccard')}) ng
""",
    tags=("dedup", "minhash", "lsh", "prefix-filter", "ngram"),
)
def dedup_minhash_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three blocked set-similarity methods, federated: `minhash`
    (MinHash + 8×2 LSH banding candidates with estimated Jaccard = x),
    `prefix` (PPJoin prefix-filtered candidates with exact Jaccard = x
    and the intersection/set sizes in n_common/n_a/n_b), and the
    round-8 `ngram` facet (shingle-bucketed n-gram candidates with
    exact Jaccard = x — the headline dedup_ngram_jaccard operator,
    which keeps its own oracle as a library entry). All three generate
    candidates from bucket equi-joins — nothing all-pairs."""
    mh = dedup.dedup_minhash_lsh(spark, sf_dir).selectExpr(
        "'minhash' AS facet",
        "doc_a",
        "doc_b",
        "CAST(NULL AS BIGINT) AS n_common",
        "CAST(NULL AS BIGINT) AS n_a",
        "CAST(NULL AS BIGINT) AS n_b",
        "est_jaccard AS x",
    )
    pf = dedup.dedup_prefix_filter(spark, sf_dir).selectExpr(
        "'prefix' AS facet",
        "id_a AS doc_a",
        "id_b AS doc_b",
        "n_common",
        "n_a",
        "n_b",
        "jaccard6 AS x",
    )
    ng = dedup.dedup_ngram_jaccard(spark, sf_dir).selectExpr(
        "'ngram' AS facet",
        "doc_a",
        "doc_b",
        "CAST(NULL AS BIGINT) AS n_common",
        "CAST(NULL AS BIGINT) AS n_a",
        "CAST(NULL AS BIGINT) AS n_b",
        "jaccard AS x",
    )
    return mh.unionAll(pf).unionAll(ng)


# ---------------------------------------------------------------------------
# Merged pairs of existing rows (freeing driver-cap slots)
# ---------------------------------------------------------------------------


@query(
    "grains_distribution_stats",
    oracle=f"""
SELECT facet, k1, k2, n, x AS x1, {_ND} AS x2, {_ND} AS x3,
       {_ND} AS x4, {_ND} AS x5, p1, p2, p3
FROM ({_oracle('multi_grain_pivot')}) mg
UNION ALL
SELECT facet, k, {_NV}, n, x1, x2, x3, x4, x5, {_NB}, {_NB}, {_NB}
FROM ({_oracle('distribution_stats')}) ds
UNION ALL
SELECT 'incr', strftime(day, '%Y-%m-%d'), event_type, n_events,
       sum_value, avg_value, min_value, max_value, {_ND},
       n_base, n_delta, {_NB}
FROM ({_oracle('rollup_incremental_merge')}) ir
UNION ALL
SELECT 'upsert', strftime(day, '%Y-%m-%d'), event_type, n_new,
       sum_old, sum_new, avg_new, {_ND}, {_ND},
       n_old, n_added, {_NB}
FROM ({_oracle('rollup_upsert_cells')}) uc
""",
    tags=("relational", "grouping-sets", "statistics", "histogram"),
)
def grains_distribution_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged multi-grain + distribution surface (eight facets):
    `grouping_sets`/`cube`/`rollup`/`pivot` from multi_grain_pivot
    (k1/k2 = grain keys, n = count, x1 = measure, p1..p3 = pivoted
    priority counts), `stats`/`histogram` from distribution_stats
    (k1 = flag/bucket, x1..x5 = the five statistics or bucket
    bounds), the round-6 `incr` incremental-rollup merge
    (k1/k2 = day/event_type, n = merged count, x1..x4 =
    sum/avg/min/max, p1/p2 = base/delta contributions — the hash
    pins incremental-merge ≡ full-recompute end-to-end), and its
    `upsert` write-back changeset (only delta-touched cells:
    n = merged count, x1/x2/x3 = sum before/sum after/avg after,
    p1/p2 = old/added counts; sum_old NULL marks brand-new cells)."""
    mg = facets.multi_grain_pivot(spark, sf_dir).selectExpr(
        "facet",
        "k1",
        "k2",
        "n",
        "x AS x1",
        "CAST(NULL AS DOUBLE) AS x2",
        "CAST(NULL AS DOUBLE) AS x3",
        "CAST(NULL AS DOUBLE) AS x4",
        "CAST(NULL AS DOUBLE) AS x5",
        "p1",
        "p2",
        "p3",
    )
    ds = facets.distribution_stats(spark, sf_dir).selectExpr(
        "facet",
        "k AS k1",
        "CAST(NULL AS STRING) AS k2",
        "n",
        "x1",
        "x2",
        "x3",
        "x4",
        "x5",
        "CAST(NULL AS BIGINT) AS p1",
        "CAST(NULL AS BIGINT) AS p2",
        "CAST(NULL AS BIGINT) AS p3",
    )
    ir = rangejoin.rollup_incremental_merge(spark, sf_dir).select(
        F.lit("incr").alias("facet"),
        F.date_format("day", "yyyy-MM-dd").alias("k1"),
        F.col("event_type").alias("k2"),
        F.col("n_events").alias("n"),
        F.col("sum_value").alias("x1"),
        F.col("avg_value").alias("x2"),
        F.col("min_value").alias("x3"),
        F.col("max_value").alias("x4"),
        _nd().alias("x5"),
        F.col("n_base").alias("p1"),
        F.col("n_delta").alias("p2"),
        _nb().alias("p3"),
    )
    uc = rangejoin.rollup_upsert_cells(spark, sf_dir).select(
        F.lit("upsert").alias("facet"),
        F.date_format("day", "yyyy-MM-dd").alias("k1"),
        F.col("event_type").alias("k2"),
        F.col("n_new").alias("n"),
        F.col("sum_old").alias("x1"),
        F.col("sum_new").alias("x2"),
        F.col("avg_new").alias("x3"),
        _nd().alias("x4"),
        _nd().alias("x5"),
        F.col("n_old").alias("p1"),
        F.col("n_added").alias("p2"),
        _nb().alias("p3"),
    )
    return mg.unionAll(ds).unionAll(ir).unionAll(uc)


@query(
    "scalar_setops_facets",
    oracle=f"""
SELECT facet, k, s1, s2, s3, n1, n2, n3, n4, x, t1, t2
FROM ({_oracle('scalar_predicate_facets')}) sp
UNION ALL
SELECT facet, {_NB}, key, kind, {_NV}, n, {_NB}, {_NB}, {_NB}, {_ND},
       {_NT}, {_NT}
FROM ({_oracle('setops_cohorts')}) so
""",
    tags=("relational", "functions", "predicates", "setop"),
)
def scalar_setops_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged scalar-function + set-operation surface (nine facets):
    the five scalar_predicate_facets facets unchanged, plus the four
    setops_cohorts facets mapped onto the same schema (s1 = cohort
    member / segment, s2 = activity kind, n1 = count)."""
    sp = facets.scalar_predicate_facets(spark, sf_dir)
    so = facets.setops_cohorts(spark, sf_dir).selectExpr(
        "facet",
        "CAST(NULL AS BIGINT) AS k",
        "key AS s1",
        "kind AS s2",
        "CAST(NULL AS STRING) AS s3",
        "n AS n1",
        "CAST(NULL AS BIGINT) AS n2",
        "CAST(NULL AS BIGINT) AS n3",
        "CAST(NULL AS BIGINT) AS n4",
        "CAST(NULL AS DOUBLE) AS x",
        "CAST(NULL AS TIMESTAMP) AS t1",
        "CAST(NULL AS TIMESTAMP) AS t2",
    )
    return sp.unionAll(so)


@query(
    "streaming_enriched_windows",
    oracle=f"""
SELECT 'enriched' AS facet, event_id, user_id, n_name AS key,
       {_NT} AS day, {_NT} AS t2, {_NB} AS n, value AS x
FROM ({_oracle('streaming_enriched_purchase_rows')}) en
UNION ALL
SELECT facet, {_NB}, {_NB}, event_type, day, {_NT}, n, x
FROM ({_oracle('streaming_windowed_counts')}) wc
UNION ALL
SELECT 'vp_pairs', view_id, user_id, {_NV}, view_ts, purchase_ts,
       purchase_id, purchase_value
FROM ({_oracle('streaming_view_purchase_pairs')}) vp
UNION ALL
SELECT 'inc_dedup', doc_id, {_NB}, kind, {_NT}, {_NT}, duplicate_of,
       {_ND}
FROM ({_oracle('streaming_incremental_dedup')}) sid
UNION ALL
SELECT 'late', n_total, n_stream, event_type, day, {_NT}, n_dropped_late,
       {_ND}
FROM ({_oracle('streaming_late_data_audit')}) la
UNION ALL
SELECT 'sess', {_NB}, user_id, {_NV},
       CAST(session_start AS TIMESTAMP), CAST(session_end AS TIMESTAMP),
       n_events, {_ND}
FROM ({_oracle('streaming_session_bounds')}) sb
""",
    tags=("streaming", "join", "stream-stream", "window", "dedup", "events",
          "session"),
)
def streaming_enriched_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged streaming surface (six facets, each a bounded
    availableNow run pinned against batch SQL; round-8 adds `sess` —
    session-window aggregation via F.session_window with a 30-min gap:
    user_id, day/t2 = session start/end, n = events in session):
    `enriched`
    (stream-static broadcast dimension join — event/user ids, key =
    nation, x = value), `tumbling` (watermarked daily counts + value
    sums), `dedup` (watermark-bounded dropDuplicates counts), the
    round-5 `vp_pairs` (watermarked STREAM-STREAM inner join:
    event_id = view, n = matched purchase id, day/t2 = view/purchase
    event times, x = purchase value), and the round-6 `inc_dedup`
    (dedup-at-ingestion: the new-document stream checked against the
    static corpus index via stream-static hash and MinHash-band joins
    with row-local HOF signatures — event_id = arriving doc, key =
    tier, n = lowest matching corpus doc; equals the batch
    dedup_incremental bit-for-bit), and the round-7 `late` (late-data
    accounting over the two-trigger replay: event_id = raw total,
    user_id = count the watermarked UPDATE-mode aggregate retained,
    n = silently dropped-late rows, key/day = the cell — the oracle
    replays the watermark rule: dropped iff window end <= max(on-time
    ts) - delay).

    The six facets are INDEPENDENT bounded streaming runs (own source,
    own memory sink, own checkpoint dir, no shared state, no session
    conf mutation anywhere on their paths), each eagerly executed by
    ``run_available_now`` at build time — round 11 ran them back to
    back, so the federation's build wall was the SUM of eight
    availableNow micro-batch rounds (windowed_counts nests two runs;
    late_data_audit's two triggers stay sequential inside its thread —
    that ordering is its semantics). Round 12 submits the facet
    builders from a driver thread pool (guide §2.6: actions are only
    sequential because driver code calls them sequentially), so the
    runs' planning, state-store commits and micro-batch jobs
    interleave — wall drops toward the slowest facet. Results are
    value-identical: each run computes exactly what it computed
    serially, and the union order below is fixed in code.

    Pool width 3, not 6 (guide §2.6: "2-3 jobs in flight is plenty"):
    measured on a COLD session, 6 concurrent cold streaming runs
    contend on first-time planning/codegen and regress the first
    build (~48 s serial → ~92 s at 6 wide), while 3 keeps the overlap
    win without the cold-start pile-up."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_en = pool.submit(
            streaming_queries.streaming_enriched_purchase_rows, spark, sf_dir
        )
        f_wc = pool.submit(
            streaming_queries.streaming_windowed_counts, spark, sf_dir
        )
        f_sid = pool.submit(
            streaming_queries.streaming_incremental_dedup, spark, sf_dir
        )
        f_vp = pool.submit(
            streaming_queries.streaming_view_purchase_pairs, spark, sf_dir
        )
        f_la = pool.submit(
            streaming_queries.streaming_late_data_audit, spark, sf_dir
        )
        f_sb = pool.submit(
            streaming_queries.streaming_session_bounds, spark, sf_dir
        )
        en_df, wc_df, sid_df, vp_df, la_df, sb_df = (
            f.result() for f in (f_en, f_wc, f_sid, f_vp, f_la, f_sb)
        )
    en = en_df.selectExpr(
        "'enriched' AS facet",
        "event_id",
        "user_id",
        "n_name AS key",
        "CAST(NULL AS TIMESTAMP) AS day",
        "CAST(NULL AS TIMESTAMP) AS t2",
        "CAST(NULL AS BIGINT) AS n",
        "`value` AS x",
    )
    wc = wc_df.selectExpr(
        "facet",
        "CAST(NULL AS BIGINT) AS event_id",
        "CAST(NULL AS BIGINT) AS user_id",
        "event_type AS key",
        "day",
        "CAST(NULL AS TIMESTAMP) AS t2",
        "n",
        "x",
    )
    sid = sid_df.selectExpr(
        "'inc_dedup' AS facet",
        "doc_id AS event_id",
        "CAST(NULL AS BIGINT) AS user_id",
        "kind AS key",
        "CAST(NULL AS TIMESTAMP) AS day",
        "CAST(NULL AS TIMESTAMP) AS t2",
        "duplicate_of AS n",
        "CAST(NULL AS DOUBLE) AS x",
    )
    vp = vp_df.selectExpr(
        "'vp_pairs' AS facet",
        "view_id AS event_id",
        "user_id",
        "CAST(NULL AS STRING) AS key",
        "view_ts AS day",
        "purchase_ts AS t2",
        "purchase_id AS n",
        "purchase_value AS x",
    )
    la = la_df.selectExpr(
        "'late' AS facet",
        "n_total AS event_id",
        "n_stream AS user_id",
        "event_type AS key",
        "day",
        "CAST(NULL AS TIMESTAMP) AS t2",
        "n_dropped_late AS n",
        "CAST(NULL AS DOUBLE) AS x",
    )
    sb = sb_df.selectExpr(
        "'sess' AS facet",
        "CAST(NULL AS BIGINT) AS event_id",
        "user_id",
        "CAST(NULL AS STRING) AS key",
        "session_start AS day",
        "session_end AS t2",
        "n_events AS n",
        "CAST(NULL AS DOUBLE) AS x",
    )
    return (
        en.unionAll(wc).unionAll(vp).unionAll(sid).unionAll(la).unionAll(sb)
    )


# ---------------------------------------------------------------------------
# Second wave: every remaining library-only operator gets a driver row
# ---------------------------------------------------------------------------

from engine.operators import (  # noqa: F401,E402
    approx,
    clustering,
    multimodal,
    pipeline,
    rangejoin,
    recsys,
    relational,
    relational2,
    relational3,
    rerank,
    similarity,
    skew,
    textstats,
    windows,
)

_NI = "CAST(NULL AS INTEGER)"


@query(
    "w_window_suite",
    oracle=f"""
SELECT facet, grp, key, rnk, rnk2, x,
       {_NB} AS event_id, {_NB} AS user_id, {_NT} AS ts, {_NB} AS seq,
       {_NB} AS prev_event_id, {_ND} AS running_value, {_ND} AS mov_avg_7,
       {_ND} AS next_value, {_ND} AS first_val, {_ND} AS last_val,
       {_ND} AS ts_cume_dist
FROM ({_oracle('w_rankings')}) wr
UNION ALL
SELECT 'frames', {_NV}, {_NB}, {_NB}, {_NB}, {_ND},
       event_id, user_id, ts, seq, prev_event_id, running_value,
       mov_avg_7, next_value, first_val, last_val, ts_cume_dist
FROM ({_oracle('w_frames_navigation')}) wf
UNION ALL
SELECT 'sessionize', {_NV}, {_NB}, n_events, duration_s, {_ND},
       {_NB}, user_id, {_NT}, session_seq, {_NB}, {_ND},
       {_ND}, {_ND}, {_ND}, {_ND}, {_ND}
FROM ({_oracle('w_sessionize_events')}) ws
""",
    tags=("window", "rank", "navigation", "events", "sessionize"),
)
def w_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The window-function surface, merged: the w_rankings facets
    (per-group top customers / supplier balance ranks — grp/key/rnk/
    rnk2/x unchanged) plus `frames` (the wide one-pass frame-navigation
    row per purchase: running/moving/leading/first/last/cume_dist) and
    the round-8 `sessionize` facet (batch gap-based sessionization —
    per (user_id, session_seq=seq): rnk = events in session, rnk2 =
    session duration in seconds)."""
    wr = windows.w_rankings(spark, sf_dir).selectExpr(
        "facet",
        "grp",
        "key",
        "rnk",
        "rnk2",
        "x",
        "CAST(NULL AS BIGINT) AS event_id",
        "CAST(NULL AS BIGINT) AS user_id",
        "CAST(NULL AS TIMESTAMP) AS ts",
        "CAST(NULL AS BIGINT) AS seq",
        "CAST(NULL AS BIGINT) AS prev_event_id",
        "CAST(NULL AS DOUBLE) AS running_value",
        "CAST(NULL AS DOUBLE) AS mov_avg_7",
        "CAST(NULL AS DOUBLE) AS next_value",
        "CAST(NULL AS DOUBLE) AS first_val",
        "CAST(NULL AS DOUBLE) AS last_val",
        "CAST(NULL AS DOUBLE) AS ts_cume_dist",
    )
    wf = windows.w_frames_navigation(spark, sf_dir).selectExpr(
        "'frames' AS facet",
        "CAST(NULL AS STRING) AS grp",
        "CAST(NULL AS BIGINT) AS key",
        "CAST(NULL AS BIGINT) AS rnk",
        "CAST(NULL AS BIGINT) AS rnk2",
        "CAST(NULL AS DOUBLE) AS x",
        "event_id",
        "user_id",
        "ts",
        "seq",
        "prev_event_id",
        "running_value",
        "mov_avg_7",
        "next_value",
        "first_val",
        "last_val",
        "ts_cume_dist",
    )
    ws = windows.w_sessionize_events(spark, sf_dir).selectExpr(
        "'sessionize' AS facet",
        "CAST(NULL AS STRING) AS grp",
        "CAST(NULL AS BIGINT) AS key",
        "n_events AS rnk",
        "duration_s AS rnk2",
        "CAST(NULL AS DOUBLE) AS x",
        "CAST(NULL AS BIGINT) AS event_id",
        "user_id",
        "CAST(NULL AS TIMESTAMP) AS ts",
        "session_seq AS seq",
        "CAST(NULL AS BIGINT) AS prev_event_id",
        "CAST(NULL AS DOUBLE) AS running_value",
        "CAST(NULL AS DOUBLE) AS mov_avg_7",
        "CAST(NULL AS DOUBLE) AS next_value",
        "CAST(NULL AS DOUBLE) AS first_val",
        "CAST(NULL AS DOUBLE) AS last_val",
        "CAST(NULL AS DOUBLE) AS ts_cume_dist",
    )
    return wr.unionAll(wf).unionAll(ws)


@query(
    "doc_fingerprint_methods",
    oracle=f"""
SELECT 'winnow' AS facet, doc_id AS doc_a, {_NB} AS doc_b, fp, {_NI} AS hamming
FROM ({_oracle('doc_fingerprints')}) df
UNION ALL
SELECT facet, doc_a, doc_b, simhash, hamming
FROM ({_oracle('simhash_dedup')}) sd
""",
    tags=("textstats", "fingerprint", "dedup", "simhash"),
)
def doc_fingerprint_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document bit-fingerprint methods, merged: `winnow` (MOSS-style
    winnowing fingerprints per doc — fp = selected hash) plus the
    simhash facets (`fingerprint`: per-doc 60-bit simhash in fp;
    `near_pair`: hamming-≤3 pairs via pigeonhole chunk blocking)."""
    df_ = textstats.doc_fingerprints(spark, sf_dir).selectExpr(
        "'winnow' AS facet",
        "doc_id AS doc_a",
        "CAST(NULL AS BIGINT) AS doc_b",
        "fp",
        "CAST(NULL AS INT) AS hamming",
    )
    sd = dedup.simhash_dedup(spark, sf_dir).selectExpr(
        "facet",
        "doc_a",
        "doc_b",
        "simhash AS fp",
        "hamming",
    )
    return df_.unionAll(sd)


@query(
    "q10_q22_customer_value",
    oracle=f"""
SELECT 'q10' AS facet, c_custkey, c_name AS name, n_name AS nation,
       {_NB} AS nkey, {_NB} AS n, revenue AS x1, c_acctbal AS x2
FROM ({_oracle('q10_returned_items')}) q10
UNION ALL
SELECT 'q22', {_NB}, {_NV}, {_NV}, CAST(c_nationkey AS BIGINT), numcust,
       totacctbal, {_ND}
FROM ({_oracle('q22_idle_rich_customers')}) q22
""",
    tags=("relational", "tpch", "join", "antijoin", "topk"),
)
def q10_q22_customer_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-value TPC-H shapes, merged: `q10` (top-20 returned-item
    customers: x1 = revenue, x2 = balance) and `q22` (idle rich
    customers per nation via NOT EXISTS + scalar avg subquery: nkey =
    nation, n = customers, x1 = total balance)."""
    q10 = relational.q10_returned_items(spark, sf_dir).selectExpr(
        "'q10' AS facet",
        "c_custkey",
        "c_name AS name",
        "n_name AS nation",
        "CAST(NULL AS BIGINT) AS nkey",
        "CAST(NULL AS BIGINT) AS n",
        "revenue AS x1",
        "c_acctbal AS x2",
    )
    q22 = relational2.q22_idle_rich_customers(spark, sf_dir).selectExpr(
        "'q22' AS facet",
        "CAST(NULL AS BIGINT) AS c_custkey",
        "CAST(NULL AS STRING) AS name",
        "CAST(NULL AS STRING) AS nation",
        "CAST(c_nationkey AS BIGINT) AS nkey",
        "numcust AS n",
        "totacctbal AS x1",
        "CAST(NULL AS DOUBLE) AS x2",
    )
    return q10.unionAll(q22)


@query(
    "q13_q18_order_size",
    oracle=f"""
SELECT 'q13' AS facet, c_count AS n1, custdist AS n2, {_NB} AS id1,
       {_NB} AS id2, {_NT} AS t, {_ND} AS x1, {_ND} AS x2
FROM ({_oracle('q13_order_count_histogram')}) q13
UNION ALL
SELECT 'q18', {_NB}, {_NB}, c_custkey, o_orderkey,
       CAST(o_orderdate AS TIMESTAMP), o_totalprice, sum_qty
FROM ({_oracle('q18_large_orders')}) q18
""",
    tags=("relational", "tpch", "outerjoin", "having", "topk"),
)
def q13_q18_order_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-size TPC-H shapes, merged: `q13` (orders-per-customer
    histogram via left outer join: n1 = order count, n2 = customers)
    and `q18` (large-quantity orders via HAVING + top-100: id1/id2 =
    customer/order, x1/x2 = totalprice/quantity)."""
    q13 = relational2.q13_order_count_histogram(spark, sf_dir).selectExpr(
        "'q13' AS facet",
        "c_count AS n1",
        "custdist AS n2",
        "CAST(NULL AS BIGINT) AS id1",
        "CAST(NULL AS BIGINT) AS id2",
        "CAST(NULL AS TIMESTAMP) AS t",
        "CAST(NULL AS DOUBLE) AS x1",
        "CAST(NULL AS DOUBLE) AS x2",
    )
    q18 = relational.q18_large_orders(spark, sf_dir).selectExpr(
        "'q18' AS facet",
        "CAST(NULL AS BIGINT) AS n1",
        "CAST(NULL AS BIGINT) AS n2",
        "c_custkey AS id1",
        "o_orderkey AS id2",
        "o_orderdate AS t",
        "o_totalprice AS x1",
        "sum_qty AS x2",
    )
    return q13.unionAll(q18)


@query(
    "pipeline_split_samplers",
    oracle=f"""
SELECT 'split' AS facet, split AS grp, {_NB} AS doc_id, n_docs AS n,
       total_chars AS n2, {_NB} AS n3
FROM ({_oracle('pipeline_train_val_test_split')}) sp
UNION ALL
SELECT facet, grp, doc_id, n, {_NB}, {_NB}
FROM ({_oracle('pipeline_samplers')}) sa
UNION ALL
SELECT 'lsplit_' || facet, key, {_NB}, n1, n2, n3
FROM ({_oracle('pipeline_leakage_safe_split')}) ls
""",
    tags=("pipeline", "split", "sampling", "documents"),
)
def pipeline_split_samplers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic selection primitives, merged: `split` (90/5/5
    train/val/test via salted hash buckets — n/n2 = docs/chars), the
    sampler facets (`stratified`: per-language rate sampling;
    `reservoir`: per-source A-Res top-k rows), and the round-6
    dedup-aware split (`lsplit_split`: per-split docs / distinct
    near-dup clusters / chars under the canonical-id bucket;
    `lsplit_audit`: multi-doc clusters spanning >1 split under the
    naive doc_id bucket vs the canonical bucket — the canonical row is
    structurally 0, computed end-to-end)."""
    sp = pipeline.pipeline_train_val_test_split(spark, sf_dir).selectExpr(
        "'split' AS facet",
        "split AS grp",
        "CAST(NULL AS BIGINT) AS doc_id",
        "n_docs AS n",
        "total_chars AS n2",
        "CAST(NULL AS BIGINT) AS n3",
    )
    sa = pipeline.pipeline_samplers(spark, sf_dir).selectExpr(
        "facet",
        "grp",
        "doc_id",
        "n",
        "CAST(NULL AS BIGINT) AS n2",
        "CAST(NULL AS BIGINT) AS n3",
    )
    ls = pipeline.pipeline_leakage_safe_split(spark, sf_dir).selectExpr(
        "concat('lsplit_', facet) AS facet",
        "key AS grp",
        "CAST(NULL AS BIGINT) AS doc_id",
        "n1 AS n",
        "n2 AS n2",
        "n3 AS n3",
    )
    return sp.unionAll(sa).unionAll(ls)


@query(
    "corpus_mining",
    oracle=f"""
SELECT 'aes' AS facet, source AS s1, {_NV} AS s2, doc_id, rank,
       n_chars AS n1, {_NB} AS n2, {_ND} AS x, {_NBOOL} AS flag1,
       {_NBOOL} AS flag2
FROM ({_oracle('weighted_sample_aes')}) ws
UNION ALL
SELECT 'index', term, postings, {_NB}, {_NB}, df, tf, {_ND}, {_NBOOL}, {_NBOOL}
FROM ({_oracle('inverted_index_postings')}) ip
UNION ALL
SELECT 'fuzzy', tok_a, tok_b, {_NB}, {_NB}, freq_a, freq_b, {_ND},
       {_NBOOL}, {_NBOOL}
FROM ({_oracle('fuzzy_token_pairs')}) fz
UNION ALL
SELECT 'colloc', w1, w2, {_NB}, {_NB}, n_pair, {_NB}, lift6, {_NBOOL}, {_NBOOL}
FROM ({_oracle('collocations_lift')}) cl
UNION ALL
SELECT 'heavy', token, {_NV}, {_NB}, {_NB}, exact_cnt, {_NB}, {_ND},
       cm_no_underestimate, cm_within_eps
FROM ({_oracle('approx_heavy_hitters')}) hh
UNION ALL
SELECT facet, token, {_NV}, doc_id, rnk, {_NB}, {_NB}, x,
       {_NBOOL}, {_NBOOL}
FROM ({_oracle('term_rankings')}) tr
""",
    tags=("analytics", "text", "sampling", "sketch", "documents", "tfidf"),
)
def corpus_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mining operators, federated (five facets):

    - `aes`:    Efraimidis–Spirakis weighted sampling w/o replacement
                (s1 = source, rank, doc_id, n1 = weight);
    - `index`:  inverted-index postings (s1 = term, s2 = capped posting
                list, n1/n2 = df/tf);
    - `fuzzy`:  SymSpell deletion-blocked edit-distance-1 vocab pairs
                (s1/s2 = tokens, n1/n2 = frequencies);
    - `colloc`: collocation mining by lift (s1/s2 = bigram, n1 = pair
                count, x = lift);
    - `heavy`:  count-min-sketch heavy hitters, self-validating
                (s1 = token, n1 = exact count, flag1/flag2 = sketch
                bounds held);
    - `tfidf` / `token_topk` (round-8, from term_rankings): per-doc
                top-3 TF-IDF terms and corpus-global top-20 tokens
                (s1 = token, rank, x = score/count).
    """
    # selectExpr strings, not Column chains — see eval_quality_audit.
    ws = analytics.weighted_sample_aes(spark, sf_dir).selectExpr(
        "'aes' AS facet",
        "source AS s1",
        "CAST(NULL AS STRING) AS s2",
        "doc_id",
        "rank",
        "n_chars AS n1",
        "CAST(NULL AS BIGINT) AS n2",
        "CAST(NULL AS DOUBLE) AS x",
        "CAST(NULL AS BOOLEAN) AS flag1",
        "CAST(NULL AS BOOLEAN) AS flag2",
    )
    ip = analytics.inverted_index_postings(spark, sf_dir).selectExpr(
        "'index' AS facet",
        "term AS s1",
        "postings AS s2",
        "CAST(NULL AS BIGINT) AS doc_id",
        "CAST(NULL AS BIGINT) AS rank",
        "df AS n1",
        "tf AS n2",
        "CAST(NULL AS DOUBLE) AS x",
        "CAST(NULL AS BOOLEAN) AS flag1",
        "CAST(NULL AS BOOLEAN) AS flag2",
    )
    fz = analytics.fuzzy_token_pairs(spark, sf_dir).selectExpr(
        "'fuzzy' AS facet",
        "tok_a AS s1",
        "tok_b AS s2",
        "CAST(NULL AS BIGINT) AS doc_id",
        "CAST(NULL AS BIGINT) AS rank",
        "freq_a AS n1",
        "freq_b AS n2",
        "CAST(NULL AS DOUBLE) AS x",
        "CAST(NULL AS BOOLEAN) AS flag1",
        "CAST(NULL AS BOOLEAN) AS flag2",
    )
    cl = textstats.collocations_lift(spark, sf_dir).selectExpr(
        "'colloc' AS facet",
        "w1 AS s1",
        "w2 AS s2",
        "CAST(NULL AS BIGINT) AS doc_id",
        "CAST(NULL AS BIGINT) AS rank",
        "n_pair AS n1",
        "CAST(NULL AS BIGINT) AS n2",
        "lift6 AS x",
        "CAST(NULL AS BOOLEAN) AS flag1",
        "CAST(NULL AS BOOLEAN) AS flag2",
    )
    hh = approx.approx_heavy_hitters(spark, sf_dir).selectExpr(
        "'heavy' AS facet",
        "token AS s1",
        "CAST(NULL AS STRING) AS s2",
        "CAST(NULL AS BIGINT) AS doc_id",
        "CAST(NULL AS BIGINT) AS rank",
        "exact_cnt AS n1",
        "CAST(NULL AS BIGINT) AS n2",
        "CAST(NULL AS DOUBLE) AS x",
        "cm_no_underestimate AS flag1",
        "cm_within_eps AS flag2",
    )
    tr = textstats.term_rankings(spark, sf_dir).selectExpr(
        "facet",
        "token AS s1",
        "CAST(NULL AS STRING) AS s2",
        "doc_id",
        "rnk AS rank",
        "CAST(NULL AS BIGINT) AS n1",
        "CAST(NULL AS BIGINT) AS n2",
        "x",
        "CAST(NULL AS BOOLEAN) AS flag1",
        "CAST(NULL AS BOOLEAN) AS flag2",
    )
    return ws.unionAll(ip).unionAll(fz).unionAll(cl).unionAll(hh).unionAll(tr)


@query(
    "eval_quality_audit",
    oracle=f"""
SELECT 'langid' AS facet, cls AS key, {_NB} AS doc_id, tp AS n1, fp AS n2,
       fn AS n3, support AS n4, precision6 AS x1, recall6 AS x2, f16 AS x3
FROM ({_oracle('langid_eval')}) le
UNION ALL
SELECT 'dq', "check", {_NB}, value, {_NB}, {_NB}, {_NB}, {_ND}, {_ND}, {_ND}
FROM ({_oracle('data_quality_audit')}) dq
UNION ALL
SELECT 'quantile', source, doc_id, {_NB}, {_NB}, {_NB}, {_NB},
       quality, pct_rank, {_ND}
FROM ({_oracle('quality_quantile_filter')}) qf
UNION ALL
SELECT 'skew', facet, {_NB}, n_rows, n_keys, top1_cnt, maxpart_load,
       CAST(top1_bp AS DOUBLE), CAST(imb_bp AS DOUBLE), {_ND}
FROM ({_oracle('shuffle_skew_profile')}) sk
UNION ALL
SELECT 'rep', {_NV}, doc_id, n_tokens, {_NB}, {_NB},
       CAST(keep AS BIGINT), distinct_token_ratio, top_bigram_frac,
       dup_trigram_frac
FROM ({_oracle('text_repetition')}) tr
""",
    tags=("analytics", "evaluation", "quality", "audit", "textstats"),
)
def eval_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation and data-quality operators, federated (five
    facets; round-8 adds `rep` — the Gopher-style repetition filters
    from text_repetition: n1 = tokens, n4 = keep flag, x1..x3 =
    distinct-token ratio / top-bigram fraction / duplicate-trigram
    fraction): `langid` (confusion-matrix metrics for the stopword
    language-ID heuristic: n1..n4 = tp/fp/fn/support, x1..x3 =
    precision/recall/F1), `dq` (Deequ-style completeness/validity/
    uniqueness/FK-orphan metric table: key = check, n1 = value),
    `quantile` (per-source top-quartile selection by quality score:
    x1 = quality, x2 = deterministic percent rank), plus the round-6
    `skew` join-key diagnostics (key = table.column, n1..n4 = rows /
    distinct keys / hottest-key count / heaviest simulated reducer
    load, x1/x2 = hottest-key share and max-partition imbalance in
    basis points — integer-grid values cast to the facet's double
    slots, so the cast is exact)."""
    # Facet re-projections as selectExpr STRINGS (round 12, guide §4 at
    # plan-build time): one parse per facet instead of ~30 Column-object
    # round trips each — same expressions, same typed nulls.
    le = textstats.langid_eval(spark, sf_dir).selectExpr(
        "'langid' AS facet",
        "cls AS key",
        "CAST(NULL AS BIGINT) AS doc_id",
        "tp AS n1",
        "fp AS n2",
        "fn AS n3",
        "support AS n4",
        "precision6 AS x1",
        "recall6 AS x2",
        "f16 AS x3",
    )
    dq = relational3.data_quality_audit(spark, sf_dir).selectExpr(
        "'dq' AS facet",
        "`check` AS key",
        "CAST(NULL AS BIGINT) AS doc_id",
        "`value` AS n1",
        "CAST(NULL AS BIGINT) AS n2",
        "CAST(NULL AS BIGINT) AS n3",
        "CAST(NULL AS BIGINT) AS n4",
        "CAST(NULL AS DOUBLE) AS x1",
        "CAST(NULL AS DOUBLE) AS x2",
        "CAST(NULL AS DOUBLE) AS x3",
    )
    qf = textstats.quality_quantile_filter(spark, sf_dir).selectExpr(
        "'quantile' AS facet",
        "source AS key",
        "doc_id",
        "CAST(NULL AS BIGINT) AS n1",
        "CAST(NULL AS BIGINT) AS n2",
        "CAST(NULL AS BIGINT) AS n3",
        "CAST(NULL AS BIGINT) AS n4",
        "quality AS x1",
        "pct_rank AS x2",
        "CAST(NULL AS DOUBLE) AS x3",
    )
    sk = skew.shuffle_skew_profile(spark, sf_dir).selectExpr(
        "'skew' AS facet",
        "facet AS key",
        "CAST(NULL AS BIGINT) AS doc_id",
        "n_rows AS n1",
        "n_keys AS n2",
        "top1_cnt AS n3",
        "maxpart_load AS n4",
        "CAST(top1_bp AS DOUBLE) AS x1",
        "CAST(imb_bp AS DOUBLE) AS x2",
        "CAST(NULL AS DOUBLE) AS x3",
    )
    tr = textstats.text_repetition(spark, sf_dir).selectExpr(
        "'rep' AS facet",
        "CAST(NULL AS STRING) AS key",
        "doc_id",
        "n_tokens AS n1",
        "CAST(NULL AS BIGINT) AS n2",
        "CAST(NULL AS BIGINT) AS n3",
        "CAST(keep AS BIGINT) AS n4",
        "distinct_token_ratio AS x1",
        "top_bigram_frac AS x2",
        "dup_trigram_frac AS x3",
    )
    return le.unionAll(dq).unionAll(qf).unionAll(sk).unionAll(tr)


@query(
    "recsys_paths",
    oracle=f"""
SELECT 'cooc' AS facet, item_a AS id1, item_b AS id2, {_NV} AS pattern,
       n_ab AS n, {_NB} AS rank, {_NB} AS score, cosine6 AS x
FROM ({_oracle('item_cooccurrence')}) co
UNION ALL
SELECT 'rerank', query_id, neighbor_id, {_NV}, {_NB}, rnk,
       model_score_ppm, cos_sim
FROM ({_oracle('rerank_cross_encoder')}) rr
UNION ALL
SELECT 'paths', {_NB}, {_NB}, pattern, n_users, {_NB}, {_NB}, {_ND}
FROM ({_oracle('user_path_patterns')}) up
""",
    tags=("recsys", "rerank", "sequence", "events"),
)
def recsys_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recommendation / sequence operators, federated (three facets):
    `cooc` ("people also bought" co-occurrence cosine from capped
    baskets: id1/id2 = items, n = joint count, x = cosine), `rerank`
    (retrieve-then-rerank: ANN candidates re-scored by the Arrow-
    batched stub cross-encoder — score = model ppm, rank = rerank
    position), `paths` (MATCH_RECOGNIZE-lite: per-user event-type
    paths matched against the broadcast pattern set)."""
    co = recsys.item_cooccurrence(spark, sf_dir).selectExpr(
        "'cooc' AS facet",
        "item_a AS id1",
        "item_b AS id2",
        "CAST(NULL AS STRING) AS pattern",
        "n_ab AS n",
        "CAST(NULL AS BIGINT) AS rank",
        "CAST(NULL AS BIGINT) AS score",
        "cosine6 AS x",
    )
    rr = rerank.rerank_cross_encoder(spark, sf_dir).selectExpr(
        "'rerank' AS facet",
        "query_id AS id1",
        "neighbor_id AS id2",
        "CAST(NULL AS STRING) AS pattern",
        "CAST(NULL AS BIGINT) AS n",
        "rnk AS rank",
        "model_score_ppm AS score",
        "cos_sim AS x",
    )
    up = recsys.user_path_patterns(spark, sf_dir).selectExpr(
        "'paths' AS facet",
        "CAST(NULL AS BIGINT) AS id1",
        "CAST(NULL AS BIGINT) AS id2",
        "pattern",
        "n_users AS n",
        "CAST(NULL AS BIGINT) AS rank",
        "CAST(NULL AS BIGINT) AS score",
        "CAST(NULL AS DOUBLE) AS x",
    )
    return co.unionAll(rr).unionAll(up)


@query(
    "embedding_suite",
    oracle=f"""
SELECT 'kmeans' AS facet, cluster AS id1, dim_i AS id2, {_NV} AS src,
       n_vecs AS n, centroid AS x, {_NI} AS flag
FROM ({_oracle('embedding_kmeans')}) km
UNION ALL
SELECT 'pq', vec_id, sub_i, {_NV}, code, err6, {_NI}
FROM ({_oracle('embedding_pq')}) pq
UNION ALL
SELECT 'adc', query_id, neighbor_id, {_NV}, rn, adc_d2, {_NI}
FROM ({_oracle('ann_pq_adc_topk')}) adc
UNION ALL
SELECT 'centroid', {_NB}, dim_i, source, n_vecs, centroid, {_NI}
FROM ({_oracle('source_embedding_centroids')}) ce
UNION ALL
SELECT 'outlier', vec_id, {_NB}, source, {_NB}, dist2, is_outlier
FROM ({_oracle('embedding_outliers')}) ou
UNION ALL
SELECT 'sign_lsh', vec_a, vec_b, {_NV}, {_NB}, cos_sim, {_NI}
FROM ({_oracle('sign_lsh_near_dups')}) sl
""",
    tags=("clustering", "embedding", "quantization", "ann", "lsh"),
)
def embedding_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding-space toolkit, federated (six facets): `kmeans`
    (Lloyd centroid stats: id1/id2 = cluster/dim, x = centroid), `pq`
    (product-quantization codes + per-subspace error), `adc`
    (PQ asymmetric-distance top-k: x = ADC distance), `centroid`
    (per-source centroid dims on the integer grid), `outlier`
    (centroid-distance outlier flags), `sign_lsh` (4-band sign-LSH
    near-dup pairs with exact cosine verify).

    Materialized eagerly under static planning at a measured width
    (the graph-core discipline): the union is a ~44-exchange DAG of
    small Lloyd/PQ stages whose cardinalities are corpus-bounded and
    known, so AQE re-planning adds only driver round trips — measured
    14.0 s adaptive → 9.4 s static-pinned at sf0.1, identical rows.
    Width = corpus rows / 8k keeps per-task vector batches substantial
    while saturating the cluster as the corpus grows (sf0.1 → 4,
    sf1 → 32); unlike kmeans_assignments (which stays lazy for its
    downstream consumers), the suite is self-contained — nothing
    consumes its internals, so pinning starves nobody."""
    from engine.io import load_table
    from engine.session import static_planning

    emb_n = load_table(spark, sf_dir, "embeddings").count()  # metadata-only
    conf_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    width = max(1, min(conf_parts, -(-emb_n // 8192)))
    with static_planning(spark, shuffle_partitions=width):
        plan = _embedding_suite_plan(spark, sf_dir)
        return audited_checkpoint("embedding_suite_pre", plan)


def _embedding_suite_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Each facet records its OWN pre-checkpoint capture tag (round 6):
    # the union-level embedding_suite_pre count smeared six facets into
    # one 20-60 window, wide enough for a single facet to double its
    # shuffles unnoticed; per-facet ±2 budgets in test_plans.py bite.
    km = clustering.embedding_kmeans(spark, sf_dir).selectExpr(
        "'kmeans' AS facet",
        "cluster AS id1",
        "dim_i AS id2",
        "CAST(NULL AS STRING) AS src",
        "n_vecs AS n",
        "centroid AS x",
        "CAST(NULL AS INT) AS flag",
    )
    pq = clustering.embedding_pq(spark, sf_dir).selectExpr(
        "'pq' AS facet",
        "vec_id AS id1",
        "sub_i AS id2",
        "CAST(NULL AS STRING) AS src",
        "code AS n",
        "err6 AS x",
        "CAST(NULL AS INT) AS flag",
    )
    adc = clustering.ann_pq_adc_topk(spark, sf_dir).selectExpr(
        "'adc' AS facet",
        "query_id AS id1",
        "neighbor_id AS id2",
        "CAST(NULL AS STRING) AS src",
        "rn AS n",
        "adc_d2 AS x",
        "CAST(NULL AS INT) AS flag",
    )
    ce = similarity.source_embedding_centroids(spark, sf_dir).selectExpr(
        "'centroid' AS facet",
        "CAST(NULL AS BIGINT) AS id1",
        "dim_i AS id2",
        "source AS src",
        "n_vecs AS n",
        "centroid AS x",
        "CAST(NULL AS INT) AS flag",
    )
    ou = similarity.embedding_outliers(spark, sf_dir).selectExpr(
        "'outlier' AS facet",
        "vec_id AS id1",
        "CAST(NULL AS BIGINT) AS id2",
        "source AS src",
        "CAST(NULL AS BIGINT) AS n",
        "dist2 AS x",
        "is_outlier AS flag",
    )
    sl = similarity.sign_lsh_near_dups(spark, sf_dir).selectExpr(
        "'sign_lsh' AS facet",
        "vec_a AS id1",
        "vec_b AS id2",
        "CAST(NULL AS STRING) AS src",
        "CAST(NULL AS BIGINT) AS n",
        "cos_sim AS x",
        "CAST(NULL AS INT) AS flag",
    )
    for tag, df in (
        ("embedding_suite_kmeans_pre", km),
        ("embedding_suite_pq_pre", pq),
        ("embedding_suite_adc_pre", adc),
        ("embedding_suite_centroid_pre", ce),
        ("embedding_suite_outlier_pre", ou),
        ("embedding_suite_signlsh_pre", sl),
    ):
        record_iteration_plan(tag, df)
    return km.unionAll(pq).unionAll(adc).unionAll(ce).unionAll(ou).unionAll(sl)


@query(
    "dedup_extended",
    oracle=f"""
SELECT 'incremental' AS facet, doc_id AS doc_a, duplicate_of AS doc_b,
       kind, {_NB} AS n1, {_NB} AS n2, {_NB} AS n3, {_ND} AS x, {_NI} AS flag
FROM ({_oracle('dedup_incremental')}) di
UNION ALL
SELECT 'fp_pairs', doc_a, doc_b, {_NV}, shared_fps, {_NB}, {_NB}, {_ND}, {_NI}
FROM ({_oracle('fingerprint_near_pairs')}) fp
UNION ALL
SELECT 'crossdoc', doc_id, {_NB}, {_NV}, n_tokens, dup_gram_occurrences,
       covered_tokens, coverage_frac, dup_heavy
FROM ({_oracle('dedup_crossdoc_ngram_coverage')}) cd
UNION ALL
SELECT 'sub_' || facet, id, {_NB}, {_NV}, n_spans, n_dup_spans,
       first_dup_start, {_ND}, CAST(NULL AS INTEGER)
FROM ({_oracle('dedup_substring_spans')}) ss
UNION ALL
SELECT 'scrub', doc_id, scrub_h, {_NV}, orig_len, n_cut_spans,
       scrub_len, {_ND}, CAST(NULL AS INTEGER)
FROM ({_oracle('dedup_substring_scrub')}) sc
""",
    tags=("dedup", "incremental", "fingerprint", "coverage", "substring",
          "scrub"),
)
def dedup_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining dedup strategies, federated (six facets):
    `incremental` (new-batch-vs-corpus dedup: exact sha tier + MinHash
    band tier — doc_b = matched corpus doc), `fp_pairs` (winnowing
    fingerprint candidate pairs with >= 5 shared fingerprints),
    `crossdoc` (Lee-et-al duplicated-span coverage: per-doc fraction of
    token positions covered by a 4-gram occurring elsewhere), and the
    round-5 span-level substring dedup's two facets as `sub_doc`
    (per-doc cut list: n1/n2/n3 = spans / duplicated spans / first dup
    offset) and `sub_span` (top-20 boilerplate spans: doc_a = span
    hash, n1/n2 = distinct docs / occurrences), plus the round-6
    `scrub` consumer stage (doc_b = md5-h60 of the scrubbed text —
    pins the output corpus byte-for-byte; n1/n2/n3 = original length /
    cut spans / scrubbed length)."""
    di = dedup.dedup_incremental(spark, sf_dir).selectExpr(
        "'incremental' AS facet",
        "doc_id AS doc_a",
        "duplicate_of AS doc_b",
        "kind",
        "CAST(NULL AS BIGINT) AS n1",
        "CAST(NULL AS BIGINT) AS n2",
        "CAST(NULL AS BIGINT) AS n3",
        "CAST(NULL AS DOUBLE) AS x",
        "CAST(NULL AS INT) AS flag",
    )
    fp = textstats.fingerprint_near_pairs(spark, sf_dir).selectExpr(
        "'fp_pairs' AS facet",
        "doc_a",
        "doc_b",
        "CAST(NULL AS STRING) AS kind",
        "shared_fps AS n1",
        "CAST(NULL AS BIGINT) AS n2",
        "CAST(NULL AS BIGINT) AS n3",
        "CAST(NULL AS DOUBLE) AS x",
        "CAST(NULL AS INT) AS flag",
    )
    cd = dedup.dedup_crossdoc_ngram_coverage(spark, sf_dir).selectExpr(
        "'crossdoc' AS facet",
        "doc_id AS doc_a",
        "CAST(NULL AS BIGINT) AS doc_b",
        "CAST(NULL AS STRING) AS kind",
        "n_tokens AS n1",
        "dup_gram_occurrences AS n2",
        "covered_tokens AS n3",
        "coverage_frac AS x",
        "dup_heavy AS flag",
    )
    ss = dedup.dedup_substring_spans(spark, sf_dir).selectExpr(
        "concat('sub_', facet) AS facet",
        "id AS doc_a",
        "CAST(NULL AS BIGINT) AS doc_b",
        "CAST(NULL AS STRING) AS kind",
        "n_spans AS n1",
        "n_dup_spans AS n2",
        "first_dup_start AS n3",
        "CAST(NULL AS DOUBLE) AS x",
        "CAST(NULL AS INT) AS flag",
    )
    sc = dedup.dedup_substring_scrub(spark, sf_dir).selectExpr(
        "'scrub' AS facet",
        "doc_id AS doc_a",
        "scrub_h AS doc_b",
        "CAST(NULL AS STRING) AS kind",
        "orig_len AS n1",
        "n_cut_spans AS n2",
        "scrub_len AS n3",
        "CAST(NULL AS DOUBLE) AS x",
        "CAST(NULL AS INT) AS flag",
    )
    return di.unionAll(fp).unionAll(cd).unionAll(ss).unionAll(sc)


@query(
    "pipeline_extended",
    oracle=f"""
SELECT 'lm' AS facet, {_NV} AS key, doc_id, {_NB} AS seq, {_NB} AS pos,
       n_bigrams AS n1, sum_p_q9 AS n2, avg_bigram_p AS x, surprising AS flag
FROM ({_oracle('pipeline_lm_likelihood')}) lm
UNION ALL
SELECT 'budget', source, doc_id, {_NB}, {_NB}, n_tokens, cum_tokens,
       quality, {_NI}
FROM ({_oracle('pipeline_token_budget')}) tb
UNION ALL
SELECT 'epoch', {_NV}, doc_id, epoch, pos, {_NB}, {_NB}, {_ND}, {_NI}
FROM ({_oracle('pipeline_epoch_order')}) eo
UNION ALL
SELECT 'tmix', source, {_NB}, w_grid, rate_bp, n_docs, n_sampled,
       {_ND}, {_NI}
FROM ({_oracle('pipeline_temperature_mix')}) tm
UNION ALL
SELECT 'lenbuck', bucket, {_NB}, n_docs, sum_tokens, padded, waste_bp,
       {_ND}, {_NI}
FROM ({_oracle('pipeline_length_buckets')}) lb
""",
    tags=("pipeline", "lm", "budget", "ordering", "mixing", "batching"),
)
def pipeline_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining pipeline-assembly operators, federated (five
    facets): `lm` (CCNet-style corpus-bigram LM scoring — n2 = grid
    log-prob sum, flag = surprising-doc), `budget` (quality-greedy
    per-source token-budget admission: n1/n2 = tokens/cumulative),
    `epoch` (deterministic per-epoch training order: seq = epoch,
    pos = position from the range-partition global numbering), the
    round-5 `tmix` (UniMax/GPT-3-style sqrt-temperature source mixing:
    key = source, seq/pos = integer-grid weight / basis-point keep
    rate, n1/n2 = natural / sampled doc counts), and the round-6
    `lenbuck` (sequence-length bucketing with padding-waste
    accounting: key = power-of-two bucket or 'global' baseline,
    seq/pos = docs / real tokens, n1/n2 = padded slots / waste in
    basis points)."""
    lm = pipeline.pipeline_lm_likelihood(spark, sf_dir).selectExpr(
        "'lm' AS facet",
        "CAST(NULL AS STRING) AS key",
        "doc_id",
        "CAST(NULL AS BIGINT) AS seq",
        "CAST(NULL AS BIGINT) AS pos",
        "n_bigrams AS n1",
        "sum_p_q9 AS n2",
        "avg_bigram_p AS x",
        "surprising AS flag",
    )
    tb = pipeline.pipeline_token_budget(spark, sf_dir).selectExpr(
        "'budget' AS facet",
        "source AS key",
        "doc_id",
        "CAST(NULL AS BIGINT) AS seq",
        "CAST(NULL AS BIGINT) AS pos",
        "n_tokens AS n1",
        "cum_tokens AS n2",
        "quality AS x",
        "CAST(NULL AS INT) AS flag",
    )
    eo = pipeline.pipeline_epoch_order(spark, sf_dir).selectExpr(
        "'epoch' AS facet",
        "CAST(NULL AS STRING) AS key",
        "doc_id",
        "epoch AS seq",
        "pos",
        "CAST(NULL AS BIGINT) AS n1",
        "CAST(NULL AS BIGINT) AS n2",
        "CAST(NULL AS DOUBLE) AS x",
        "CAST(NULL AS INT) AS flag",
    )
    tm = pipeline.pipeline_temperature_mix(spark, sf_dir).selectExpr(
        "'tmix' AS facet",
        "source AS key",
        "CAST(NULL AS BIGINT) AS doc_id",
        "w_grid AS seq",
        "rate_bp AS pos",
        "n_docs AS n1",
        "n_sampled AS n2",
        "CAST(NULL AS DOUBLE) AS x",
        "CAST(NULL AS INT) AS flag",
    )
    lb = pipeline.pipeline_length_buckets(spark, sf_dir).selectExpr(
        "'lenbuck' AS facet",
        "bucket AS key",
        "CAST(NULL AS BIGINT) AS doc_id",
        "n_docs AS seq",
        "sum_tokens AS pos",
        "padded AS n1",
        "waste_bp AS n2",
        "CAST(NULL AS DOUBLE) AS x",
        "CAST(NULL AS INT) AS flag",
    )
    return lm.unionAll(tb).unionAll(eo).unionAll(tm).unionAll(lb)
