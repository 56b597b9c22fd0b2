"""SQL interface, partition pruning."""

from pyspark.sql import functions as F

from icecube_spark import catalog


def test_sql_interface(spark, sf_dir, oracle):
    """register_views exposes the catalog to raw spark.sql workloads."""
    from icecube_spark.catalog import register_views
    from icecube_spark.functions.parity import sql_dsum

    register_views(spark, sf_dir)
    q = f"""
        SELECT l_returnflag, {sql_dsum('l_quantity')} AS sum_qty
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """
    got = spark.sql(q).toPandas()
    want = oracle.sql(q).df()
    assert (got["sum_qty"].to_numpy() == want["sum_qty"].to_numpy()).all()


def test_partition_pruning_on_time_partitioned_sink(spark, sf_dir, tmp_path):
    """cube.to_parquet partitions by month; a month filter must prune
    partitions at the source, not scan-and-filter."""
    from icecube_spark.config import CubeConfig
    from icecube_spark.cube import build_cube

    ev = catalog.load(spark, sf_dir, "events")
    cube = build_cube(
        ev, CubeConfig(), key_col="user_id", ts_col="ts", angle_col=None,
        band_cols=["value"],
    )
    out = str(tmp_path / "cube")
    cube.to_parquet(out)
    back = spark.read.parquet(out).where(F.col("__part") == "2024-01")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(__part" in plan
    assert back.count() == ev.count()  # all test events are in 2024-01
