"""Bucketed-table co-located join: assert the zero-Exchange physical
plan that makes recurring big x big joins shuffle-free (SCALE.md §3).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from health_data_transformation_spark.sources.bucketed import (
    cobucketed_join,
    write_bucketed,
)
from health_data_transformation_spark.sources.tables import load_table


@pytest.fixture()
def bucket_db(spark, tmp_path):
    spark.sql(f"CREATE DATABASE bucket_demo LOCATION '{tmp_path / 'db'}'")
    yield "bucket_demo"
    spark.sql("DROP DATABASE bucket_demo CASCADE")


def test_cobucketed_join_has_no_exchange(spark, bucket_db):
    sf = "/root/testdata/sf0.001"
    orders = load_table(spark, sf, "orders").select(
        F.col("o_orderkey").alias("orderkey"), "o_custkey", "o_totalprice"
    )
    lineitem = load_table(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"), "l_quantity", "l_extendedprice"
    )
    write_bucketed(orders, f"{bucket_db}.orders_b", ["orderkey"], 8, ["orderkey"])
    write_bucketed(lineitem, f"{bucket_db}.lineitem_b", ["orderkey"], 8, ["orderkey"])

    # the session's broadcast threshold is left as it is: the join's own
    # hint must keep the plan a sort-merge join without an exchange
    joined = cobucketed_join(
        spark, f"{bucket_db}.orders_b", f"{bucket_db}.lineitem_b", ["orderkey"]
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan  # the entire point of bucketing

    # and it is still *correct*: equals the plain join row count
    expected = (
        load_table(spark, sf, "orders")
        .join(
            load_table(spark, sf, "lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .count()
    )
    assert joined.count() == expected
