"""``engine.io.local_frame`` builds driver-held rows as a JVM
LocalTableScan; it must yield exactly the rows and schema that
``spark.createDataFrame(<list>, schema)`` yields for the same input —
the list path every engine call site used before — for every type
those sites pass, for ``Row`` inputs, for no rows, and for naive
timestamps under a non-UTC process time zone."""

import datetime as dt
import time
from decimal import Decimal

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from engine.io import local_frame

_CASES = {
    "string": ("v string", [("a",), ("ü",), ("",), (None,)]),
    "int": ("v int", [(0,), (-(2**31),), (2**31 - 1,), (None,)]),
    "bigint": ("v bigint", [(2**40,), (-1,), (None,)]),
    "double": ("v double", [(1.5,), (float("nan"),), (-0.0,), (None,)]),
    "boolean": ("v boolean", [(True,), (False,), (None,)]),
    "date": (
        "v date",
        [(dt.date(2020, 1, 2),), (dt.date(1969, 12, 31),), (None,)],
    ),
    "timestamp": (
        "v timestamp",
        [(dt.datetime(2021, 3, 14, 1, 59, 26, 535897),), (None,)],
    ),
    "decimal": (
        "v decimal(12,3)",
        [(Decimal("12.345"),), (Decimal("-0.001"),), (None,)],
    ),
    "null": ("v string, w bigint", [(None, None)]),
    "void": ("v void", [(None,)]),
    "mixed": (
        "s string, i int, b bigint, d double, f boolean, dt date,"
        " ts timestamp, dc decimal(12,3)",
        [
            (
                "a", 1, 2**40, 1.5, True, dt.date(2020, 1, 2),
                dt.datetime(2021, 11, 7, 1, 30), Decimal("1.000"),
            ),
            (None,) * 8,
        ],
    ),
    "rows": (
        "k string, n bigint",
        [Row(k="x", n=1), Row(k=None, n=2)],
    ),
    "empty": ("k string, n bigint, ts timestamp", []),
    # a caller's schema object (commit_upsert passes the changeset's
    # key schema), non-nullable fields included
    "struct_schema": (
        StructType(
            [
                StructField("k", StringType(), False),
                StructField("n", LongType(), True),
            ]
        ),
        [("a", 1), ("b", None)],
    ),
}


@pytest.fixture
def new_york_tz(monkeypatch):
    # Naive datetimes are read in the PROCESS time zone by the list
    # path; a UTC process would hide a converter that reads them as UTC.
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


@pytest.mark.parametrize("case", sorted(_CASES))
def test_local_frame_matches_list_path(spark, new_york_tz, case):
    ddl, rows = _CASES[case]
    want = spark.createDataFrame(rows, ddl)
    got = local_frame(spark, rows, ddl)
    assert got.schema == want.schema
    # repr: NaN != NaN under Row equality, but prints identically
    assert repr(got.collect()) == repr(want.collect())
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_local_frame_naive_timestamp_reads_process_tz(spark, new_york_tz):
    # 2021-01-01 00:00 in New York (EST, UTC-5) is 05:00 UTC.
    got = local_frame(spark, [(dt.datetime(2021, 1, 1),)], "ts timestamp")
    (micros,) = got.select(F.unix_micros("ts")).first()
    assert micros == 1609477200 * 10**6
