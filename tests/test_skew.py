"""Salting rewrites must be result-identical to the unsalted plan and
must actually spread hot keys across buckets."""

from __future__ import annotations

from pyspark.sql import functions as F

from shadems_spark.catalog import load_table
from shadems_spark.operators.skew import SALT, salted_join, two_phase_agg


def _skewed(spark):
    """90% of rows share one key — the pathological fact table."""
    return spark.range(2000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 50).alias("k"),
        (F.col("id") * 3 % 101).alias("v"),
    )


def test_salted_join_matches_plain(spark):
    fact = _skewed(spark)
    dim = spark.range(50).select(F.col("id").alias("k"), (F.col("id") * 2).alias("d"))
    plain = fact.join(dim, "k").groupBy("k").agg(F.count(F.lit(1)).alias("n"), F.sum("d").alias("s"))
    salted = salted_join(fact, dim, "k", n_salt=8).groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("d").alias("s")
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_left_join_keeps_unmatched_once(spark):
    fact = _skewed(spark)
    dim = spark.range(5).select(F.col("id").alias("k"), F.lit(1).alias("d"))  # most keys unmatched
    plain = fact.join(dim, "k", "left").count()
    salted = salted_join(fact, dim, "k", n_salt=8, how="left").count()
    assert plain == salted == fact.count()


def test_salt_spreads_hot_key(spark):
    """The hot key's rows must occupy every salt bucket, not one."""
    fact = _skewed(spark)
    dim = spark.range(50).select(F.col("id").alias("k"))
    n_buckets = (
        salted_join(fact.withColumn("kk", F.col("k")), dim, "k", n_salt=8)
        .filter(F.col("kk") == 7)
        .select(F.spark_partition_id().alias("p"))
        .distinct()
        .count()
    )
    assert n_buckets > 1


def test_salt_by_deterministic_under_repartition(spark):
    """salt_by (stable row key) must assign each row the SAME salt
    regardless of physical partitioning — the retry-determinism
    guarantee the positional fallback cannot give (VERDICT r01 #9)."""
    from shadems_spark.operators.skew import _salt_col

    fact = _skewed(spark).withColumn("uid", F.monotonically_increasing_id())
    salted = lambda df: sorted(
        map(
            tuple,
            df.select("uid", _salt_col(8, ["k", "v"]).alias("s")).collect(),
        )
    )
    assert salted(fact) == salted(fact.repartition(13))


def test_two_phase_agg_matches_plain(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    plain = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("q")
    )
    salted = two_phase_agg(
        li,
        ["l_returnflag"],
        partials={"n": F.count(F.lit(1)), "q": F.sum("l_quantity")},
        finals={"n": F.sum("n").cast("long"), "q": F.round(F.sum("q"), 2)},
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_two_phase_distinct_state_bounded(spark):
    """Distinct-heavy agg: per-(key,salt) sets merge to the exact
    global distinct count per key."""
    df = _skewed(spark)
    plain = df.groupBy("k").agg(F.countDistinct("v").alias("nd"))
    salted = two_phase_agg(
        df,
        ["k"],
        partials={"vs": F.collect_set("v")},
        finals={"nd": F.size(F.array_distinct(F.flatten(F.collect_list("vs")))).cast("long")},
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_skew_split_join_matches_plain(spark):
    from shadems_spark.operators.skew import skew_split_join

    fact = spark.createDataFrame(
        [(1, i) for i in range(50)] + [(k, 0) for k in (2, 3, 4)],
        "k int, v int",
    )
    dim = spark.createDataFrame([(1, "hot"), (2, "a"), (3, "b")], "k int, d string")
    got = skew_split_join(fact, dim, "k", [1]).collect()
    want = fact.join(dim, "k").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_skew_split_left_join_keeps_nulls_and_unmatched(spark):
    from shadems_spark.operators.skew import skew_split_join

    fact = spark.createDataFrame([(1, 10), (4, 40), (None, 0)], "k int, v int")
    dim = spark.createDataFrame([(1, "hot")], "k int, d string")
    got = skew_split_join(fact, dim, "k", [1], how="left").collect()
    want = fact.join(dim, "k", "left").collect()
    assert sorted(map(tuple, got), key=str) == sorted(map(tuple, want), key=str)


def test_skew_split_hot_side_broadcasts(spark):
    from shadems_spark.operators.skew import skew_split_join

    fact = spark.createDataFrame([(i % 3, i) for i in range(100)], "k int, v int")
    dim = spark.createDataFrame([(i, str(i)) for i in range(3)], "k int, d string")
    plan = (
        skew_split_join(fact, dim, "k", [0])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "Union" in plan


def test_aqe_splits_skewed_join_at_runtime(spark):
    """The engine's FIRST line of skew defense is AQE's runtime skew
    join (session.py enables it): a 95%-hot-key join must show
    SortMergeJoin(skew=true) with a skewed AQEShuffleRead in the final
    adaptive plan — no manual salting needed.  The operators/skew.py
    rewrites remain the escape hatch for plan shapes AQE can't touch
    (documented there)."""
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        big = spark.range(0, 300000).select(
            F.when(F.col("id") % 20 != 0, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("v"),
        )
        other = spark.range(0, 2000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = big.join(other, "k")
        # AQE decisions exist only in THIS dataframe's executed plan,
        # and only after ITS OWN execution (count() builds a different
        # query execution).
        assert len(j.collect()) > 0
        p = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin(skew=true)" in p
        assert "skewed" in p  # AQEShuffleRead coalesced and skewed
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_salted_join_guards_replicated_dim_size(spark, tmp_path):
    """salted_join must refuse to replicate a dim whose x n_salt
    footprint exceeds the documented ceiling (VERDICT r7 #3) with a
    plain ValueError pointing at skew_split_join;
    max_replicated_bytes=None opts out."""
    import pytest

    fact = _skewed(spark)
    # a parquet-backed dim so Catalyst has a real size estimate
    spark.range(5000).selectExpr("id as k", "id * 2 as d").write.parquet(
        str(tmp_path / "dim.parquet")
    )
    dim = spark.read.parquet(str(tmp_path / "dim.parquet"))
    from shadems_spark.operators.skew import _plan_size_bytes

    est = _plan_size_bytes(dim)
    assert est is not None and est > 0  # estimate exists for parquet scans
    with pytest.raises(ValueError, match="skew_split_join") as refused:
        salted_join(fact, dim, "k", n_salt=8, max_replicated_bytes=est)
    assert type(refused.value) is ValueError  # a plain refusal, no subclass
    # under the ceiling -> builds; explicit opt-out -> builds
    assert salted_join(fact, dim, "k", n_salt=8).count() > 0
    assert (
        salted_join(
            fact, dim, "k", n_salt=8, max_replicated_bytes=None
        ).count()
        > 0
    )
