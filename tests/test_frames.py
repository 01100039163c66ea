"""frames.local_frame: driver rows → Arrow-backed LocalRelation holding the
values the list path (``createDataFrame(rows, schema)``) would hold."""

import datetime as dt
import os
import time
from decimal import Decimal

import pytest
from pyspark.sql.types import (
    DateType,
    DecimalType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from etl_process_for_detecting_fraudulent_transactions_spark.frames import local_frame

SCHEMA = StructType([
    StructField("s", StringType()),
    StructField("d", DateType()),
    StructField("ts", TimestampType()),
    StructField("i", IntegerType()),
    StructField("n", LongType()),
    StructField("amt", DecimalType(10, 2)),
])

ROWS = [
    ["9933 106914", dt.date(2021, 3, 1), dt.datetime(2021, 3, 1, 12, 0, 0), 1, 2**40,
     Decimal("1046.40")],
    ["Ёлкин-Палкин", dt.date(1899, 12, 30), dt.datetime(2021, 3, 14, 2, 30, 0, 123456), -7, -1,
     Decimal("-0.05")],
    # a DST switch, the end of the 2999 high timestamp and a pre-epoch instant
    ["", dt.date(2999, 12, 31), dt.datetime(2999, 12, 31, 23, 59, 59), 0, 0, Decimal("0.00")],
    ["x", dt.date(1969, 12, 31), dt.datetime(1969, 12, 31, 23, 59, 59, 999999), 2**31 - 1, None,
     Decimal("99999999.99")],
    [None, None, None, None, None, None],
]


@pytest.fixture(params=["UTC", "America/New_York", "Asia/Kolkata"])
def process_tz(request):
    """Run with the given process timezone (naive datetimes are read in it)."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = request.param
    time.tzset()
    yield request.param
    if old is None:
        del os.environ["TZ"]
    else:
        os.environ["TZ"] = old
    time.tzset()


def _internal(df):
    """Collected rows plus the stored epoch micros / days, so equality is on
    the stored values, not only on their Python rendering."""
    return (
        df.collect(),
        df.selectExpr("unix_micros(ts)", "unix_date(d)", "cast(amt as string)").collect(),
    )


def test_local_frame_matches_list_path(spark, process_tz):
    got = local_frame(spark, ROWS, SCHEMA)
    want = spark.createDataFrame(ROWS, schema=SCHEMA)
    assert got.schema == want.schema
    assert _internal(got) == _internal(want)


def test_local_frame_is_a_local_relation(spark):
    df = local_frame(spark, ROWS, SCHEMA)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan
    assert "LogicalRDD" not in plan
    assert df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() < 10 * 1024 * 1024


def test_local_frame_empty(spark):
    df = local_frame(spark, [], SCHEMA)
    assert df.schema == SCHEMA
    assert df.count() == 0
    assert "LogicalRDD" not in df._jdf.queryExecution().optimizedPlan().toString()
