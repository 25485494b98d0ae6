"""Collection statistics (EPIC-046 stats parity): one distributed
aggregation, cached per collection until a mutation."""

from velesdb_spark.plans import cost as C


def test_collect_stats_distributed(spark):
    from pyspark.sql import functions as F

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 10).alias("tag"),
        (F.col("id") % 3).cast("string").alias("status"))
    st = C.collect_stats(df)
    assert st.row_count == 1000
    assert st.total_size_bytes > 0 and st.avg_row_size > 0
    # HLL cardinalities are near-exact at these sizes
    assert st.column_cardinality["tag"] in range(9, 12)
    assert st.column_cardinality["status"] == 3


def test_collection_stats_and_query_cost(spark):
    from pyspark.sql import functions as F

    from velesdb_spark.database import Collection

    df = spark.range(2000).select(
        F.col("id"), (F.col("id") % 4).cast("string").alias("status"),
        F.array(*[(F.col("id") % 7).cast("float") for _ in range(4)])
        .alias("vector"))
    col = Collection(spark, "c", df=df)
    st = col.stats()
    assert st.row_count == 2000
    assert st.column_cardinality["status"] == 4
    assert col.stats() is st            # cached
    assert col.stats(refresh=True) is not st


def test_stats_cache_cleared_on_mutation(spark):
    from velesdb_spark.database import Collection

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, tag string")
    col = Collection(spark, "c", df=df)
    assert col.stats().row_count == 2
    col.upsert([{"id": 3, "tag": "c"}])
    assert col.stats().row_count == 3       # recomputed after mutation
    col.delete([1])
    assert col.stats().row_count == 2
