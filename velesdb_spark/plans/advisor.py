"""Index advisor: recommend property indexes from a query log.

Reference semantics: collection/graph/property_index.rs:900-1102 —
IndexAdvisor.suggest():
  improvement = mean over predicates of {Equality 0.9, Range 0.7,
  In 0.6, Like 0.3}, capped at 1.0; skip if < 0.2, skip patterns with no
  labels/properties, skip existing ``idx_<labels>_<props>`` names;
  priority = count × improvement × avg_ms; DDL
  ``CREATE INDEX idx_... ON :Label(prop, ...)``; sorted by priority.

``suggest_from_log`` computes that formula as one DataFrame aggregation
over a (labels, properties, predicates, ms) query-log table — the
100 TB path where the log is a fleet's worth of query telemetry: one
groupBy shuffle on the pattern key, everything else map-side. Mining
the patterns of live queries is left to the query log's producer.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# predicate type → estimated improvement (property_index.rs:1088-1101)
IMPROVEMENT = {"equality": 0.9, "range": 0.7, "in": 0.6, "like": 0.3}
MIN_IMPROVEMENT = 0.2


def suggest_from_log(log: DataFrame,
                     existing_indexes: Iterable[str] = ()) -> DataFrame:
    """The advisor as one distributed aggregation over a query-log table
    ``(labels array<string>, properties array<string>,
    predicates array<string>, ms bigint)`` → suggestions with the exact
    reference formula. Scale shape: one groupBy shuffle on the pattern
    key; improvement/priority are row-local expressions; the existing-
    index set rides as a broadcast literal filter."""
    imp_map = F.create_map(
        *[F.lit(x) for kv in IMPROVEMENT.items() for x in kv])
    per = (
        log.filter((F.size("properties") > 0) & (F.size("labels") > 0))
        .groupBy("labels", "properties", "predicates")
        .agg(F.count("*").alias("query_count"),
             F.sum("ms").alias("_total_ms"))
        .withColumn("avg_time_ms",
                    F.col("_total_ms") / F.col("query_count"))
        .withColumn(
            "estimated_improvement",
            F.least(
                F.aggregate(F.col("predicates"), F.lit(0.0),
                            lambda acc, p: acc + F.coalesce(
                                imp_map[p], F.lit(0.0)))
                / F.greatest(F.size("predicates"), F.lit(1)),
                F.lit(1.0)))
        .filter(F.col("estimated_improvement") >= MIN_IMPROVEMENT)
        .withColumn("index_name",
                    F.concat(F.lit("idx_"),
                             F.lower(F.array_join("labels", "_")),
                             F.lit("_"),
                             F.lower(F.array_join("properties", "_"))))
        .withColumn("ddl",
                    F.concat(F.lit("CREATE INDEX "), F.col("index_name"),
                             F.lit(" ON :"), F.element_at("labels", 1),
                             F.lit("("), F.array_join("properties", ", "),
                             F.lit(")")))
        .withColumn("priority_score",
                    F.col("query_count") * F.col("estimated_improvement")
                    * F.col("avg_time_ms"))
    )
    existing = list(existing_indexes)
    if existing:
        per = per.filter(~F.col("index_name").isin(existing))
    return per.select("ddl", "index_name", "labels", "properties",
                      "predicates", "query_count", "avg_time_ms",
                      "estimated_improvement", "priority_score") \
        .orderBy(F.desc("priority_score"), F.asc("index_name"))
