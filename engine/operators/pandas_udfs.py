"""Pandas-UDF operators — the sanctioned slow path, demonstrated on
computations where per-group or per-vector Python is genuinely the
natural expression.

Rules encoded here (see pyspark guide / SURVEY §7): Arrow-batched
``applyInPandas`` / ``pandas_udf`` only, never row-at-a-time Python
UDFs; closures self-contained so executors need no repo on PYTHONPATH;
every operator still has an exact DuckDB oracle twin (the pandas result
must equal the pure-SQL formulation — that's the correctness bar for
custom Python at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from engine.io import load_table
from engine.registry import query


@query(
    "zscore_purchases_grouped",
    oracle="""
SELECT user_id, event_id,
       CASE WHEN count(*) OVER w > 1 AND stddev_samp(value) OVER w > 0
            THEN round((value - avg(value) OVER w) / (stddev_samp(value) OVER w), 6)
       END AS z
FROM events
WHERE event_type = 'purchase'
WINDOW w AS (PARTITION BY user_id)
""",
    tags=("pandas_udf", "events"),
    exported=False,
)
def zscore_purchases_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score of purchase values via grouped applyInPandas
    (one Arrow batch per user group — the grouped-map pattern for
    custom per-entity model code). Oracle: the equivalent window SQL;
    pandas ddof=1 == stddev_samp."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select("user_id", "event_id", "value")

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("z", T.DoubleType()),
        ]
    )

    def per_user(pdf):
        import pandas as pd  # noqa: F401

        m = pdf["value"].mean()
        s = pdf["value"].std(ddof=1)  # matches stddev_samp
        out = pdf[["user_id", "event_id"]].copy()
        if len(pdf) > 1 and s > 0:
            out["z"] = ((pdf["value"] - m) / s).round(6)
        else:
            out["z"] = None
        return out

    return ev.groupBy("user_id").applyInPandas(per_user, schema=schema)

