"""safe_num_partitions / plan_has_shuffle (sources/readers.py): the
AQE-safe partition probe every partition-count check must route through.

Invariants pinned here (r4 VERDICT item 5 + r4 ADVICE low):
* a shuffled plan is NEVER converted to an RDD (AQE would execute the
  upstream Exchange stages — the 6.6 s double-execution class of bug);
* a BroadcastExchange alone does NOT disqualify a plan — the probed big
  side of a broadcast join has no shuffle stages, and rebalance must keep
  treating the scan+broadcast-join shape as under-split when it is.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_drone_sense_spark.sources import readers as R


def test_shuffle_free_scan_probes(spark):
    df = spark.range(0, 100, 1, 3)
    assert not R.plan_has_shuffle(df)
    assert R.safe_num_partitions(df, default=-1) == 3


def test_shuffled_plan_returns_default(spark):
    df = spark.range(0, 100, 1, 3).groupBy((F.col("id") % 5).alias("g")).count()
    assert R.plan_has_shuffle(df)
    assert R.safe_num_partitions(df, default=-1) == -1


def test_broadcast_join_plan_still_probes(spark):
    big = spark.range(0, 1000, 1, 4)
    dim = spark.range(0, 10).withColumnRenamed("id", "k")
    joined = big.join(F.broadcast(dim), big.id % 10 == dim.k)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan  # the shape under test
    assert not R.plan_has_shuffle(joined)
    # big side's 4 scan partitions are visible through the broadcast join
    assert R.safe_num_partitions(joined, default=-1) == 4


def test_rebalance_spreads_broadcast_join_shape(spark):
    # One-partition scan joined to a broadcast dim: r4's bare-'Exchange'
    # probe misclassified this as already-spread; it must repartition.
    big = spark.range(0, 1000, 1, 1)
    dim = spark.range(0, 10).withColumnRenamed("id", "k")
    joined = big.join(F.broadcast(dim), big.id % 10 == dim.k)
    out = R.rebalance_for_compute(joined, target=8)
    assert "REPARTITION" in out._jdf.queryExecution().logical().toString() or (
        out.rdd.getNumPartitions() == 8
    )


def test_rebalance_noop_on_shuffled_plan(spark):
    agg = spark.range(0, 100, 1, 2).groupBy((F.col("id") % 5).alias("g")).count()
    out = R.rebalance_for_compute(agg, target=8)
    assert out is agg  # identical object — no repartition appended


def test_fixture_fingerprint_changes_on_rewrite(spark, tmp_path):
    """Fixture-derived caches key on fixture_fingerprint: rewriting the
    source parquet (the driver's between-round regeneration) must change
    the key so every cache re-probes instead of serving stale state."""
    import time

    p = str(tmp_path / "t.parquet")
    spark.range(5).coalesce(1).write.mode("overwrite").parquet(p)
    fp1 = R.fixture_fingerprint(p)
    time.sleep(0.05)  # mtime_ns granularity guard
    spark.range(7).coalesce(1).write.mode("overwrite").parquet(p)
    fp2 = R.fixture_fingerprint(p)
    assert fp1 != fp2
    assert R.fixture_fingerprint(p) == fp2  # stable while file unchanged


def test_fixture_fingerprint_names_a_table_dir_without_parquet(tmp_path):
    """A table dir that holds no .parquet file is a missing fixture: the
    probe raises FileNotFoundError naming the dir, not a bare
    StopIteration (which a generator caller would turn into RuntimeError)."""
    import pytest

    p = tmp_path / "t.parquet"
    p.mkdir()
    (p / "_SUCCESS").write_text("")
    with pytest.raises(FileNotFoundError, match="t.parquet"):
        R.fixture_fingerprint(str(p))
