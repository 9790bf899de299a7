"""Skew handling: salted repartition balance + AQE skew-join splitting."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdrc_semantic_search_spark.operators.assembly import salted_repartition


def test_salted_repartition_balances_hot_conversations(spark, spark_fixture):
    tdf, _ = spark_fixture
    # contiguous-by-conv partitioning: one partition owns a whole hot conv
    skewed = tdf.repartition(16, "conv_id")
    salted = salted_repartition(tdf, 16, salt=16)

    def max_partition_fraction(df):
        sizes = (
            df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .count()
            .toPandas()["count"]
        )
        return sizes.max() / sizes.sum()

    assert max_partition_fraction(salted) <= max_partition_fraction(skewed)
    # salted spread is near-uniform given the small key space of the test
    # fixture (60 convs × 16 salts hashed into 16 partitions): no partition
    # above 3× the fair share; the unsalted layout can park a whole hot
    # conversation (up to ~600 turns ≈ 40% of rows) in one partition
    assert max_partition_fraction(salted) < 3.0 / 16


def test_aqe_splits_skewed_join(spark, spark_fixture, plan_of):
    """Force a skewed sort-merge join and assert AQE's skew-split marker
    appears in the final adaptive plan (SURVEY §4.1 backstop)."""
    tdf, _ = spark_fixture
    # skewed fact: every turn keyed to ONE hot key + a few cold keys
    fact = tdf.select(
        F.when(F.col("turn_idx") % 20 != 0, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("conv_id"), F.lit(50)))
        .alias("k"),
        "text",
    )
    dim = spark.range(0, 50).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    old = {
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": spark.conf.get(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor"
        ),
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": spark.conf.get(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
        ),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        ),
        "spark.sql.adaptive.coalescePartitions.enabled": spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.enabled"
        ),
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        # coalescing would merge the small partitions and mask the skew
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        joined = fact.join(dim, "k")
        # collect() executes THIS frame's plan (count() would plan anew
        # and leave this one isFinalPlan=false)
        assert len(joined.collect()) > 0
        final_plan = plan_of(joined)
        assert "skew=true" in final_plan, f"no skew split in:\n{final_plan[:2000]}"
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_salted_join_matches_plain_join_and_spreads_lanes(spark, plan_of):
    """Row multiset identical to the plain join for every supported join
    type; the exchange partitions on (key, lane); a hot key actually
    occupies every lane; bad args raise."""
    from pyspark.sql import functions as F

    from cdrc_semantic_search_spark.operators.assembly import salted_join

    fact = spark.createDataFrame(
        [(i, "hot" if i % 10 else "cold") for i in range(1000)],
        "row_id long, k string",
    )
    dim = spark.createDataFrame(
        [("hot", 1.5), ("cold", 2.5), ("unmatched", 9.9)], "k string, attr double"
    )
    key = lambda r: tuple(r)
    for how in ("inner", "left", "left_semi", "left_anti"):
        got = salted_join(fact, dim, ["k"], 8, ["row_id"], how=how).collect()
        want = fact.join(dim, ["k"], how).collect()
        assert sorted(map(key, got)) == sorted(map(key, want)), how

    lanes = (
        fact.withColumn("lane", F.pmod(F.xxhash64("row_id"), F.lit(8)))
        .filter(F.col("k") == "hot")
        .select("lane").distinct().count()
    )
    assert lanes == 8  # the hot key spreads over every lane

    plan = plan_of(salted_join(fact, dim, ["k"], 8, ["row_id"]))
    assert "__lane" in plan

    with pytest.raises(ValueError):
        salted_join(fact, dim, ["k"], 0, ["row_id"])
    with pytest.raises(ValueError):
        salted_join(fact, dim, ["k"], 4, ["row_id"], how="right")


def test_internal_column_names_cannot_collide(spark):
    """Inputs that already carry __lane / __rn (e.g. output of another
    salting job) must not break salted_join / weighted_mix /
    stratified_sample — the helper columns rename themselves."""
    from cdrc_semantic_search_spark.functions.names import internal_col
    from cdrc_semantic_search_spark.operators.assembly import salted_join
    from cdrc_semantic_search_spark.operators.split import (
        stratified_sample,
        weighted_mix,
    )

    assert internal_col(["a"], "__lane") == "__lane"
    assert internal_col(["__lane"], "__lane") == "__lane_2"
    assert internal_col(["__lane", "__lane_2"], "__lane") == "__lane_3"

    fact = spark.createDataFrame(
        [(i, i % 3, 99) for i in range(30)], "id int, k int, __lane int"
    )
    dim = spark.createDataFrame(
        [(0, "a", 7), (1, "b", 7), (2, "c", 7)], "k int, v string, __lane int"
    )
    got = salted_join(fact, dim, ["k"], 4, ["id"])
    plain = fact.join(dim, "k")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, plain.collect()))
    # the caller's own __lane columns survive untouched
    assert got.columns.count("__lane") == 2

    df = spark.createDataFrame(
        [(i, "s" if i % 2 else "t", -1) for i in range(40)],
        "id int, src string, __rn int",
    )
    mixed = weighted_mix(df, "src", "id", {"s": 0.5, "t": 0.5}, 10)
    assert mixed.count() == 10 and "__rn" in mixed.columns

    samp = stratified_sample(df, "src", "id", 0.25)
    assert samp.count() == 10 and "__rn" in samp.columns
