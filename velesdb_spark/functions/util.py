"""Small shared helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame

_SPREAD_MIN_FACTOR = 2


def spread(df: DataFrame) -> DataFrame:
    """Repartition up to the cluster's default parallelism when the input
    is backed by too few files (e.g. a single small parquet file would
    otherwise run every downstream expression single-threaded). Decided
    from the leaf file count — no RDD conversion, no job. No-op for
    in-memory relations (createDataFrame already slices by parallelism)
    and on a real cluster reading many files this never fires."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    files = df.inputFiles()
    if files and len(files) * _SPREAD_MIN_FACTOR <= target:
        return df.repartition(target)
    return df


def id_frame(spark, ids, name: str) -> DataFrame:
    """One ``bigint`` column ``name`` holding ``ids``, built from an Arrow
    table so it plans as a LocalTableScan. A Python list passed to
    createDataFrame becomes an RDD of pickled rows that a Python worker
    deserializes on every scan; this frame needs no worker at all."""
    import pyarrow as pa

    return spark.createDataFrame(
        pa.table({name: pa.array([int(i) for i in ids], pa.int64())}))
