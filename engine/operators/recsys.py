"""Item co-occurrence similarity — the classic "people also bought"
MapReduce workload, DataFrame-native.

The reference computes nothing like this (SURVEY.md §2.3: no joins at
all); it is the canonical workload its MapReduce style was invented
for, so the engine carries it as first-class Layer-B capability:
per-user purchase baskets → within-basket item pairs → co-occurrence
counts → cosine similarity over the co-occurrence vectors.

100 TB shape: pair generation is an in-plan explode of each user's
capped basket array, so work is sum-over-users |basket|² — the analog
of SemDeDup's per-cluster bound — with no self-join shuffle. Power users make that quadratic: baskets are therefore CAPPED
at BASKET_CAP items (deterministic keep: lowest item ids), the
standard mitigation (alongside salting, engine.operators.skew) for
basket skew. Item marginals are vocabulary-sized; cosine uses only
exact integer counts and IEEE sqrt/div (both correctly rounded), so
the oracle hash-matches without quantization tricks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.functions.rounding import duck_round_he, round_he
from engine.io import load_table, local_frame
from engine.registry import query

BASKET_CAP = 64
MIN_COOC = 2


@query(
    "item_cooccurrence",
    oracle=f"""
WITH ui AS (
  SELECT DISTINCT user_id,
         CAST(json_extract(props, '$.k') AS BIGINT) AS item
  FROM events WHERE event_type = 'purchase'
),
capped AS (
  SELECT user_id, item FROM (
    SELECT user_id, item,
           row_number() OVER (PARTITION BY user_id ORDER BY item) AS rn
    FROM ui) t
  WHERE rn <= {BASKET_CAP}
),
c AS (SELECT item, CAST(count(*) AS BIGINT) AS n_users FROM capped GROUP BY item),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, CAST(count(*) AS BIGINT) AS n_ab
  FROM capped a JOIN capped b
    ON a.user_id = b.user_id AND a.item < b.item
  GROUP BY 1, 2
)
SELECT item_a, item_b, n_ab,
       {duck_round_he(
           "CAST(n_ab AS DOUBLE) / sqrt(CAST(ca.n_users * cb.n_users AS DOUBLE))",
           6,
       )} AS cosine6
FROM pairs JOIN c ca ON ca.item = item_a JOIN c cb ON cb.item = item_b
WHERE n_ab >= {MIN_COOC}
""",
    tags=("recsys", "cooccurrence"),
    exported=False,
)
def item_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item co-occurrence cosine over purchase baskets (see
    module docstring for the scale contract).

    Baskets build as ONE user-keyed map-side-combined ``collect_set``
    aggregation (sorted slice = deterministic lowest-id cap, matching
    the oracle's ``row_number() ORDER BY item <= CAP`` over distinct
    items; collect_set drops NULL items exactly like the oracle's
    NULLS-LAST ranking + ``a.item < b.item`` pair filter). Pair
    generation is then an in-plan double explode of the capped array —
    no self-join shuffle; the CAP² fan-out lands directly in the
    map-side-combined pair count. Same rewrite as
    analytics.copurchase_pairs (measured 4 shuffles → 2 there)."""
    ev = load_table(spark, sf_dir, "events")
    ui = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("item"),
    )
    from pyspark import StorageLevel

    baskets = (
        ui.groupBy("user_id")
        .agg(
            F.slice(F.sort_array(F.collect_set("item")), 1, BASKET_CAP).alias(
                "items"
            )
        )
        # two consumers (item marginals + pair explode): persist so
        # the corpus is scanned/deduped once, not twice
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    c = (
        baskets.select(F.explode("items").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )
    pairs = (
        baskets.select(F.explode("items").alias("item_a"), "items")
        .select("item_a", F.explode("items").alias("item_b"))
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
    )
    ca = c.select(F.col("item").alias("item_a"), F.col("n_users").alias("na"))
    cb = c.select(F.col("item").alias("item_b"), F.col("n_users").alias("nb"))
    cosine6 = round_he(
        F.col("n_ab").cast("double")
        / F.sqrt((F.col("na") * F.col("nb")).cast("double")),
        6,
    )
    return (
        pairs.join(ca, "item_a")
        .join(cb, "item_b")
        .filter(F.col("n_ab") >= MIN_COOC)
        .select("item_a", "item_b", "n_ab", cosine6.alias("cosine6"))
    )


# -- Sequence / path analytics ---------------------------------------------

PATH_PATTERNS = (
    ".*signup.*purchase.*",  # activation: signup eventually converts
    ".*view>view>view.*",  # burst browsing: 3 consecutive views
    ".*error.*error.*",  # repeat-error users
)


@query(
    "user_path_patterns",
    oracle=f"""
WITH paths AS (
  SELECT user_id,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM events GROUP BY user_id
),
pats AS (SELECT unnest(ARRAY{list(PATH_PATTERNS)!r}) AS pattern)
SELECT pattern, CAST(count(*) AS BIGINT) AS n_users
FROM paths CROSS JOIN pats
WHERE regexp_matches(path, pattern)
GROUP BY pattern
""",
    tags=("events", "sequence"),
    exported=False,
)
def user_path_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite sequence analytics: each user's ordered
    event-type path (by ts, event_id — the deterministic tie-break) as
    a '>'-joined string, matched against regex patterns (activation
    funnels, browsing bursts, repeat errors). One user_id shuffle
    builds every path; the pattern set is a broadcast constant, so
    adding patterns costs no extra pass. Patterns use only portable
    regex constructs (literals, '.*'), identical across engines."""
    ev = load_table(spark, sf_dir, "events")
    paths = ev.groupBy("user_id").agg(
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list(struct(ts, event_id,"
                " event_type))), s -> s.event_type)"
            ),
            ">",
        ).alias("path")
    )
    pats = local_frame(
        spark, [(p,) for p in PATH_PATTERNS], "pattern string"
    )
    return (
        paths.crossJoin(F.broadcast(pats))
        .filter(F.expr("path rlike pattern"))
        .groupBy("pattern")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )
