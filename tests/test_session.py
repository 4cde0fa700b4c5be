"""Session helpers: ``core.session.local_frame`` builds a JVM
LocalRelation without touching the caller's session conf."""

from __future__ import annotations

import pandas as pd

from big_data_bowl_2026_analytics_spark.core.session import local_frame

ARROW = "spark.sql.execution.arrow.pyspark.enabled"
ROWS = [(1, "a", 0.5, 7), (2, None, 2, 8), (3, "c", float("nan"), 9)]
SCHEMA = "k long, s string, x double, n int"


def _leaf(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


def test_local_frame_with_arrow_conf_off_leaves_it_off(spark):
    before = spark.conf.get(ARROW)
    spark.conf.set(ARROW, "false")
    try:
        df = local_frame(spark, ROWS, SCHEMA)
        assert spark.conf.get(ARROW) == "false"
        assert _leaf(df) == "LocalRelation"
        got = df.collect()
        empty = local_frame(spark, [], SCHEMA)
        assert _leaf(empty) == "LocalRelation"
        assert empty.count() == 0
    finally:
        spark.conf.set(ARROW, before)

    # The pandas path the helper used to take: NaN turns null there too.
    spark.conf.set(ARROW, "true")
    try:
        pdf = pd.DataFrame(ROWS, columns=["k", "s", "x", "n"])
        want = spark.createDataFrame(pdf, schema=SCHEMA)
        assert df.schema == want.schema
        assert got == want.collect()
    finally:
        spark.conf.set(ARROW, before)
    assert got[2]["x"] is None
