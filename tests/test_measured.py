"""schema.measured: one checkpoint that also counts its own rows."""

from pyspark.sql import functions as F

from yamlpyowl_spark.schema import measured


def test_measured_counts_and_collects_under_the_bound(spark):
    df = spark.range(0, 50, numPartitions=4).select((F.col("id") % 7).alias("k")).distinct()
    want = sorted(r["k"] for r in df.collect())
    for bound in (0, len(want) - 1, len(want), 100):
        ckpt, n, rows = measured(df, bound)
        assert n == df.count() == len(want)
        assert (rows is not None) == (n <= bound)
        if rows is not None:
            assert sorted(r["k"] for r in rows) == want
        assert sorted(r["k"] for r in ckpt.collect()) == want


def _jobs(spark, group, action):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setJobGroup(None, None)
    # the status store is fed asynchronously from the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_measured_costs_no_job_beyond_the_checkpoint(spark):
    """Above the bound, measuring is free: the count rides on the
    checkpoint's own job."""
    df = spark.range(0, 2000, numPartitions=4).select((F.col("id") % 97).alias("k")).distinct()
    bare = _jobs(spark, "measured-bare", lambda: df.localCheckpoint())
    with_count = _jobs(spark, "measured-helper", lambda: measured(df, 10))
    assert bare >= 1
    assert with_count == bare
