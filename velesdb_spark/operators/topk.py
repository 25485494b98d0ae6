"""Exact distributed k-NN top-k.

Replaces the reference's HNSW ANN (index/hnsw/, collection/search/vector.rs)
with exact search — recall is 1.0 by construction ("Perfect" profile); the
quality-profile / ef_search / oversampling knobs are accepted and ignored.

Scale design:
- Single query: score is a JVM-side array expression (no Python), then
  ``orderBy(best).limit(k)`` — Spark plans TakeOrderedAndProject, a
  per-partition partial top-k merged on the driver: no full sort, no shuffle
  of the scored set.
- Query batches: queries are broadcast (they are small), scored JVM-side in
  one pass over the collection, then ranked with a row_number window whose
  ``rn <= k`` filter Spark plans as WindowGroupLimit with a *Partial* stage
  below the exchange (SPARK-37099): the per-partition partial top-k runs
  inside the JVM, so the shuffle still carries ≤ numPartitions·Q·k rows
  instead of N·Q and nothing crosses the Python boundary.
- Filtered k-NN: the filter is applied BEFORE top-k — exact, unlike the
  reference's 4× over-fetch + post-filter (collection/search/vector.rs:164-239),
  and cheaper (predicate pushdown prunes the scan).
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from velesdb_spark.functions.distance import higher_is_better, metric_score
from velesdb_spark.functions.sqlexpr import double_array_lit, ident

DEFAULT_K = 10
# The single-scan path inlines every query as plan literals (Q·dim of
# them); below this budget it beats the broadcast-join + Arrow
# partial-top-k reduction (one job, no Python, vectors never leave the
# scan). Above it, literal-heavy plans slow analysis/codegen and the
# broadcast path wins.
BATCH_LITERAL_BUDGET = 8192


def vector_lit(vec: Sequence[float]) -> Column:
    return double_array_lit(vec)


def with_score(df: DataFrame, query_vector: Sequence[float], metric: str = "cosine",
               vector_col: str = "vector", score_col: str = "score") -> DataFrame:
    """Add a metric score column against one query vector (JVM expression;
    staged_score folds the query-side constants and evaluates each
    row-level aggregate once — bit-identical to the Column form)."""
    from velesdb_spark.functions.distance import staged_score

    return staged_score(df, vector_col, query_vector, metric, score_col)


def _best_order(score_col: str, metric: str, id_col: str) -> list[Column]:
    score = ident(score_col)
    best = F.desc(score) if higher_is_better(metric) else F.asc(score)
    return [best, F.asc(ident(id_col))]


def knn(df: DataFrame, query_vector: Sequence[float], k: int = DEFAULT_K,
        metric: str = "cosine", vector_col: str = "vector", id_col: str = "id",
        filter_cond: Column | None = None, score_col: str = "score") -> DataFrame:
    """Exact top-k for a single query vector; optional pre-filter."""
    scored = df
    if filter_cond is not None:
        scored = scored.filter(filter_cond)
    scored = with_score(scored, query_vector, metric, vector_col, score_col)
    return scored.orderBy(*_best_order(score_col, metric, id_col)).limit(k)


def dual_precision_knn(df: DataFrame, query_vector: Sequence[float],
                       k: int = DEFAULT_K, metric: str = "cosine",
                       vector_col: str = "vector", id_col: str = "id",
                       oversampling: int = None, filter_cond: Column | None = None,
                       quantized_col: str | None = None,
                       use_int8_phase: bool = True,
                       score_col: str = "score") -> DataFrame:
    """Two-phase dual-precision top-k (EPIC-055, the reference's
    search_with_config / search_int8_traversal in
    index/hnsw/native/dual_precision.rs:260-330):

    - phase 1 scores the SQ8-quantized representation and keeps the best
      ``k * oversampling`` candidates (reference default 4,
      DualPrecisionConfig.oversampling_ratio);
    - phase 2 re-scores ONLY that candidate pool with the exact f32
      metric and returns the top k ordered by the exact score.

    Scale shape: both phases are TakeOrderedAndProject (per-partition
    partial top-k, no shuffle of the scored set). On a stored collection
    with a materialized SQ8 column (pass ``quantized_col``) phase 1 reads
    the int8 codes — the reference's 4x memory-bandwidth reduction
    becomes a 4x smaller column scan — and phase 2 touches at most
    ``k * oversampling`` rows of the f32 column. Without a materialized
    column the codes are derived in-plan from the f32 vectors
    (correctness-identical; the bandwidth win needs the stored layout).

    ``use_int8_phase=False`` reproduces the reference's f32 fallback
    (DualPrecisionConfig.use_int8_traversal=false → plain search).
    Ties at the pool / final cut break by ascending id, so results are
    deterministic and relationally re-derivable.
    """
    from velesdb_spark.functions.quantization import (
        DUAL_DEFAULT_OVERSAMPLING, sq8_dequantize, sq8_quantize)

    if not use_int8_phase:
        return knn(df, query_vector, k, metric, vector_col, id_col,
                   filter_cond, score_col)
    oversampling = DUAL_DEFAULT_OVERSAMPLING if oversampling is None \
        else max(int(oversampling), 1)
    base = df.filter(filter_cond) if filter_cond is not None else df
    codes = (F.col(quantized_col) if quantized_col is not None
             else sq8_quantize(F.col(vector_col)))
    approx = metric_score(sq8_dequantize(codes), vector_lit(query_vector),
                          metric)
    pool = (base.withColumn("_approx", approx)
            .orderBy(*_best_order("_approx", metric, id_col))
            .limit(int(k) * oversampling)
            .drop("_approx"))
    exact = with_score(pool, query_vector, metric, vector_col, score_col)
    return exact.orderBy(*_best_order(score_col, metric, id_col)).limit(k)


def mrl_knn(df: DataFrame, query_vector: Sequence[float], k: int = DEFAULT_K,
            prefix_dim: int = 64, oversampling: int = 4,
            metric: str = "cosine", vector_col: str = "vector",
            id_col: str = "id", filter_cond: Column | None = None,
            score_col: str = "score") -> DataFrame:
    """Matryoshka (MRL) two-phase top-k: coarse rank on the first
    ``prefix_dim`` dimensions, exact re-rank of the k·oversampling pool
    on the full vectors.

    The serving pattern for matryoshka-trained embeddings (Kusupati et
    al. 2022, "Matryoshka Representation Learning"): prefixes of the
    embedding are themselves valid lower-dim embeddings, so phase 1
    reads/computes only prefix_dim/d of the vector data — the same
    bandwidth story as dual-precision SQ8 (dual_precision.rs), achieved
    by truncation instead of quantization. Both phases are
    TakeOrderedAndProject; ties break on ascending id. On a stored
    layout with a materialized prefix column, phase 1's scan shrinks by
    d/prefix_dim at 100 TB scale.
    """
    base = df.filter(filter_cond) if filter_cond is not None else df
    pool = max(int(k) * max(int(oversampling), 1), int(k))
    prefix = F.slice(F.col(vector_col), 1, int(prefix_dim))
    qprefix = vector_lit(list(query_vector)[:int(prefix_dim)])
    stage1 = (base.withColumn("_approx", metric_score(prefix, qprefix,
                                                      metric))
              .orderBy(*_best_order("_approx", metric, id_col))
              .limit(pool).drop("_approx"))
    exact = with_score(stage1, query_vector, metric, vector_col, score_col)
    return exact.orderBy(*_best_order(score_col, metric, id_col)).limit(k)


def knn_batch(df: DataFrame, queries: Iterable[tuple[int, Sequence[float]]],
              k: int = DEFAULT_K, metric: str = "cosine",
              vector_col: str = "vector", id_col: str = "id",
              filter_cond: Column | None = None) -> DataFrame:
    """Exact top-k per query for a batch → (qid, id, score).

    Queries are broadcast; one scan of the collection scores all of them
    (batch.rs:26-231 rayon parallel batch search → one cluster-parallel pass).
    """
    spark = df.sparkSession
    qrows = [(int(qid), [float(x) for x in vec]) for qid, vec in queries]
    base = df.filter(filter_cond) if filter_cond is not None else df
    if not qrows:  # empty batch → empty (qid, id, score) result
        return base.select(F.lit(0).cast("bigint").alias("qid"),
                           F.col(ident(id_col)),
                           F.lit(0.0).alias("score")).limit(0)
    if len(qrows) * len(qrows[0][1]) <= BATCH_LITERAL_BUDGET:
        # Small batches: ONE scan scoring every query as a staged column
        # (queries ride as plan literals — fine while Q·dim stays small),
        # exploded to skinny (qid, id, score) rows, then the JVM-side
        # partial top-k (WindowGroupLimit). One job instead of Q
        # sequential TakeOrdered jobs (~Q× lower latency), and the
        # shuffle still carries at most partitions·Q·k rows — vectors
        # never leave the scan.
        from velesdb_spark.functions.distance import (doc_norm2,
                                                      staged_scores_batch)

        scored = base
        n2col = None
        if metric.lower() == "cosine":
            # the doc norm is query-independent: one per-row aggregate
            # shared by every query's score instead of Q copies
            n2col = "_docn2"
            scored = scored.withColumn(n2col, doc_norm2(vector_col))
        # positional column names: duplicate qids each keep their own
        # score column (their scores then rank together under one
        # qid partition, exactly like the broadcast path). All Q scores
        # land in one two-projection batch (driver analysis is eager per
        # Dataset op; the per-query staged_score loop re-analyzed the
        # growing literal-heavy plan 2-3 times per query).
        cols = [(qid, f"_s_{i}") for i, (qid, _) in enumerate(qrows)]
        scored = staged_scores_batch(
            scored, vector_col, [vec for _, vec in qrows], metric,
            [name for _, name in cols], norm2_col=n2col)
        # one parsed expression for the (qid, score) struct array — the
        # F.struct/F.lit loop costs ~8 py4j round-trips per query
        idsql = ident(id_col)
        pairs_sql = "array(" + ",".join(
            f"named_struct('qid', {int(qid)}L, 'score', {ident(name)})"
            for qid, name in cols) + ")"
        long = (scored.selectExpr(idsql, f"explode({pairs_sql}) AS _p")
                .selectExpr("_p.qid AS qid", idsql, "_p.score AS score"))
        w = Window.partitionBy("qid") \
            .orderBy(*_best_order("score", metric, id_col))
        return (long.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= k).drop("_rn"))
    qdf = spark.createDataFrame(qrows, "qid bigint, _qvec array<double>")
    scored = (
        base.join(F.broadcast(qdf))
        .withColumn("score", metric_score(F.col(ident(vector_col)),
                                          F.col("_qvec"), metric))
        .select("qid", F.col(ident(id_col)), "score")
    )
    w = Window.partitionBy("qid").orderBy(*_best_order("score", metric, id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
