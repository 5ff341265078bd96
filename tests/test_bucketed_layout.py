"""Storage-aligned shuffle elision — the 100 TB claim in SCALE.md §1
('a log written bucketed by the key makes the window's exchange
disappear') proven on a real bucketed table, not just asserted.

A Spark bucketed table reports HashPartitioning(key) from the scan;
EnsureRequirements then satisfies the window / aggregation / join
ClusteredDistribution without an Exchange. This is the layout the
state log, the LSH band store, and the recurring document_id joins
would use in production.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def bucketed_events(spark, sf_dir, tmp_path_factory):
    name = "bucketed_events_t"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type", "value"
    )
    (
        ev.write.format("parquet")
        .bucketBy(8, "user_id")
        .sortBy("user_id", "event_id")
        .mode("overwrite")
        .saveAsTable(name)
    )
    yield name
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_window_over_bucketed_table_has_no_exchange(spark, bucketed_events):
    t = spark.table(bucketed_events)
    w = Window.partitionBy("user_id").orderBy(F.col("event_id").desc())
    latest = t.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    plan = _plan(latest)
    assert "Exchange" not in plan, plan[:1500]
    # and it still computes the right thing
    got = {r["user_id"]: r["event_id"] for r in latest.collect()}
    exp = {
        r["user_id"]: r["mx"]
        for r in t.groupBy("user_id").agg(F.max("event_id").alias("mx")).collect()
    }
    assert got == exp


def test_aggregation_over_bucketed_table_has_no_exchange(spark, bucketed_events):
    t = spark.table(bucketed_events)
    agg = t.groupBy("user_id").agg(F.sum("value").alias("s"))
    assert "Exchange" not in _plan(agg)


def test_bucketed_self_join_has_no_exchange(spark, bucketed_events):
    """The recurring big-big join on the bucket key (events ⋈ events
    by user) — co-located layout removes BOTH shuffle sides; only the
    in-bucket sort remains."""
    t = spark.table(bucketed_events)
    a = t.select(F.col("user_id"), F.col("event_id").alias("a_id"))
    b = t.select(F.col("user_id"), F.col("event_id").alias("b_id"))
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = a.join(b, on="user_id")
        plan = _plan(j)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    assert "Exchange" not in plan, plan[:1500]
    assert "SortMergeJoin" in plan

