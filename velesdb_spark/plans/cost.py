"""Collection statistics for the CLI ``.stats`` command.

Reference: crates/velesdb-core/src/collection/stats/mod.rs (EPIC-046
US-001 — row count, column cardinality, size metrics; the reference's
deleted count has no counterpart: a read view holds live rows only).

Spark-first: statistics come from ONE distributed aggregation
(approx_count_distinct = HyperLogLog, the 100 TB cardinality path) plus
Catalyst's own optimized-plan sizeInBytes. The reference's cost model,
plan generator and plan cache have no counterpart here: Catalyst's CBO
and AQE plan the physical operators.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class CollectionStats:
    """stats/mod.rs CollectionStats."""

    row_count: int = 0
    total_size_bytes: int = 0
    avg_row_size: float = 0.0
    column_cardinality: dict = field(default_factory=dict)


def collect_stats(df: DataFrame) -> CollectionStats:
    """ONE distributed aggregation: count + HLL cardinality per non-array
    column; size from Catalyst's optimized-plan estimate (no data pass)."""
    cols = [f.name for f in df.schema.fields
            if not f.dataType.simpleString().startswith("array")]
    aggs = [F.count(F.lit(1)).alias("_n")]
    aggs += [F.approx_count_distinct(c).alias(f"_c_{i}")
             for i, c in enumerate(cols)]
    row = df.agg(*aggs).first()
    size = int(df._jdf.queryExecution().optimizedPlan().stats()
               .sizeInBytes())
    n = int(row._n)
    return CollectionStats(
        row_count=n,
        total_size_bytes=size,
        avg_row_size=(size / n) if n else 0.0,
        column_cardinality={c: int(row[f"_c_{i}"])
                            for i, c in enumerate(cols)},
    )
