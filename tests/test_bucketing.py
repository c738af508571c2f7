"""Bucketed co-located join (SURVEY.md §4 / pyspark guide): writing
both join sides bucketed on the key lets the join plan with ZERO
shuffle exchanges — the 100 TB answer to repeated fact-fact joins."""

from __future__ import annotations

import os
import shutil
from urllib.parse import urlparse

from pyspark.sql import functions as F

from end_to_end_mlops_airflow_cloudformation_great_expectations_spark import catalog
from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.plans import (
    explain,
)

SF_DIR = "/root/testdata/sf0.001"
TABLES = ("li_bucketed", "o_bucketed")


def _drop_tables(spark):
    """Drop both tables AND their warehouse locations: a run killed
    mid-test leaves a location DROP TABLE does not remove, and the next
    saveAsTable fails with LOCATION_ALREADY_EXISTS."""
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for name in TABLES:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(os.path.join(warehouse, name), ignore_errors=True)


def test_bucketed_join_has_no_shuffle(spark):
    li = catalog.load(spark, SF_DIR, "lineitem")
    o = catalog.load(spark, SF_DIR, "orders")
    _drop_tables(spark)
    try:
        (
            li.write.bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .mode("overwrite")
            .saveAsTable("li_bucketed")
        )
        (
            o.write.bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .mode("overwrite")
            .saveAsTable("o_bucketed")
        )
        lb = spark.table("li_bucketed")
        ob = spark.table("o_bucketed")
        joined = lb.join(
            ob, lb.l_orderkey == ob.o_orderkey
        ).groupBy("o_orderpriority").agg(F.count("*").alias("n"))
        # both sides pre-bucketed on the join key: the join itself
        # needs no Exchange (only the final agg shuffles)
        n_shuffles = explain.count_shuffles(joined)
        assert n_shuffles <= 1, explain.physical_plan(joined)
        # and results match the plain join
        want = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        assert sorted(map(tuple, joined.collect())) == sorted(
            map(tuple, want.collect())
        )
    finally:
        _drop_tables(spark)
