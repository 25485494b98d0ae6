"""Score fusion as DataFrame aggregations.

Reference formulations (they differ — both are reproduced):
- Hybrid search RRF (collection/search/text.rs:150-162):
  score = weight/(rank + 60) with 0-based ranks over each ranked list.
- fuse_rrf (velesql/hybrid.rs:112-149) and multi-query RRF
  (fusion/strategy.rs:223-250): score = Σ 1/(k + rank+1), 0-based rank,
  k default 60.
- Multi-query strategies (fusion/strategy.rs:150-300): Average (per-query
  best, then mean), Maximum, Weighted (avg_w·avg + max_w·max + hit_w·hits/Q).

Scale design: inputs are long-format DataFrames (qid, id, score); ranks are
window functions partitioned by qid (one shuffle on qid — small, since these
are per-query top-k lists); fusion itself is a groupBy(id) partial-aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from velesdb_spark.functions.sqlexpr import (double_array_lit, double_lit,
                                             ident, str_lit)

RRF_K = 60


def with_rank(results: DataFrame, qid_col: str = "qid", id_col: str = "id",
              score_col: str = "score", higher_is_better: bool = True) -> DataFrame:
    """0-based rank per query list, score-ordered, id tie-break (deterministic
    stand-in for the reference's insertion order). An existing ``_rank``
    column is replaced."""
    # one parsed window expression (guide §5); DESC is NULLS LAST and ASC
    # NULLS FIRST by default, matching F.desc/F.asc
    direction = "DESC" if higher_is_better else "ASC"
    return results.withColumn("_rank", F.expr(
        f"row_number() OVER (PARTITION BY {ident(qid_col)} ORDER BY "
        f"{ident(score_col)} {direction}, {ident(id_col)} ASC) - 1"))


def fuse_rrf(results: DataFrame, k: int = RRF_K, qid_col: str = "qid",
             id_col: str = "id", score_col: str = "score",
             higher_is_better: bool = True) -> DataFrame:
    """Multi-list RRF: Σ 1/(k + rank+1) (strategy.rs:223-250, hybrid.rs:112-149)."""
    ranked = with_rank(results, qid_col, id_col, score_col, higher_is_better)
    return ranked.groupBy(ident(id_col)).agg(F.expr(
        f"sum(1.0D / ({double_lit(k)} + _rank + 1.0D)) AS score"))


def fuse_hybrid_rrf(results: DataFrame, weights: dict | None = None,
                    qid_col: str = "qid", id_col: str = "id",
                    score_col: str = "score") -> DataFrame:
    """Hybrid-search RRF: Σ weight_q/(rank + 60), 0-based rank
    (text.rs:150-162). ``weights`` maps qid → weight (default 1.0)."""
    ranked = with_rank(results, qid_col, id_col, score_col, True)
    weight = "1.0D"
    if weights:
        pairs = ",".join(f"{_key_lit(q)}, {double_lit(w)}"
                         for q, w in weights.items())
        weight = f"coalesce(map({pairs})[{ident(qid_col)}], 1.0D)"
    return (ranked
            .withColumn("_rrf", F.expr(
                f"{weight} / (_rank + {double_lit(RRF_K)})"))
            .groupBy(ident(id_col))
            .agg(F.expr("sum(_rrf) AS score")))


def _key_lit(q) -> str:
    # qids are list tags (str) or query numbers (int)
    return str_lit(q) if isinstance(q, str) else str(int(q))


def fuse_average(results: DataFrame, qid_col: str = "qid", id_col: str = "id",
                 score_col: str = "score") -> DataFrame:
    """Per-query best score, then mean across queries (strategy.rs:169-202)."""
    best = results.groupBy(qid_col, id_col).agg(F.max(score_col).alias("_s"))
    return best.groupBy(id_col).agg(F.avg("_s").alias("score"))


def fuse_maximum(results: DataFrame, qid_col: str = "qid", id_col: str = "id",
                 score_col: str = "score") -> DataFrame:
    """Best score anywhere (strategy.rs:204-221)."""
    return results.groupBy(id_col).agg(F.max(score_col).alias("score"))


def fuse_weighted(results: DataFrame, avg_weight: float, max_weight: float,
                  hit_weight: float, total_queries: int, qid_col: str = "qid",
                  id_col: str = "id", score_col: str = "score") -> DataFrame:
    """avg_w·avg + max_w·max + hit_w·(hits/Q) (strategy.rs:252-300)."""
    s = avg_weight + max_weight + hit_weight
    if avg_weight < 0 or max_weight < 0 or hit_weight < 0 or abs(s - 1.0) > 0.001:
        raise ValueError("fusion weights must be non-negative and sum to 1.0")
    best = results.groupBy(qid_col, id_col).agg(F.max(score_col).alias("_s"))
    return best.groupBy(id_col).agg(
        (
            avg_weight * F.avg("_s")
            + max_weight * F.max("_s")
            + hit_weight * (F.count("*") / float(total_queries))
        ).alias("score")
    )


def fuse_minimum(results: DataFrame, qid_col: str = "qid", id_col: str = "id",
                 score_col: str = "score") -> DataFrame:
    """Per-id minimum across query lists (score_fusion.rs Minimum)."""
    return results.groupBy(id_col).agg(F.min(score_col).alias("score"))


def fuse_product(results: DataFrame, qid_col: str = "qid", id_col: str = "id",
                 score_col: str = "score") -> DataFrame:
    """Per-id product across query lists (score_fusion.rs Product):
    exp(Σ ln s) for positive scores, with sign fixed by the count of
    negative factors; any zero factor zeroes the product."""
    s = F.col(score_col)
    return (
        results.groupBy(id_col).agg(
            F.sum(F.log(F.abs(s))).alias("_lnsum"),
            F.sum(F.when(s < 0, 1).otherwise(0)).alias("_negs"),
            F.max(F.when(s == 0, 1).otherwise(0)).alias("_anyzero"),
        )
        .select(
            id_col,
            F.when(F.col("_anyzero") == 1, F.lit(0.0)).otherwise(
                F.exp("_lnsum")
                * F.when(F.col("_negs") % 2 == 1, -1.0).otherwise(1.0)
            ).alias("score"),
        )
    )


def normalize_scores(df: DataFrame, id_col: str = "id",
                     score_col: str = "score") -> DataFrame:
    """Min-max normalize a result list's scores to [0, 1]
    (velesql/hybrid.rs:236-265 normalize_scores): all-equal scores map
    to 1.0, an empty list stays empty. One broadcast stats row — no
    per-row Python, no second scan shuffle."""
    stats = df.agg(F.min(score_col).alias("_mn"), F.max(score_col).alias("_mx"))
    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn(
            score_col,
            F.when(F.col("_mx") == F.col("_mn"), F.lit(1.0)).otherwise(
                (F.col(score_col) - F.col("_mn"))
                / (F.col("_mx") - F.col("_mn"))),
        )
        .drop("_mn", "_mx")
    )


def fuse_minmax_weighted(vector_results: DataFrame, other_results: DataFrame,
                         alpha: float, id_col: str = "id",
                         score_col: str = "score") -> DataFrame:
    """Min-max normalize each list to [0,1], blend α·v + (1−α)·o
    (velesql/hybrid.rs fuse_weighted). Missing side contributes 0."""

    def _norm(df: DataFrame, out: str) -> DataFrame:
        return normalize_scores(df, id_col, score_col) \
            .select(id_col, F.col(score_col).alias(out))

    v = _norm(vector_results, "_vs")
    o = _norm(other_results, "_os")
    return (
        v.join(o, id_col, "full_outer")
        .select(
            id_col,
            (
                alpha * F.coalesce(F.col("_vs"), F.lit(0.0))
                + (1.0 - alpha) * F.coalesce(F.col("_os"), F.lit(0.0))
            ).alias("score"),
        )
    )


def fuse(strategy: str, results: DataFrame, params: dict | None = None,
         total_queries: int | None = None, qid_col: str = "qid",
         id_col: str = "id", score_col: str = "score",
         higher_is_better: bool = True) -> DataFrame:
    """Dispatch by strategy name
    (average|maximum|max|minimum|product|rrf|weighted)."""
    params = params or {}
    strategy = strategy.lower()
    if strategy == "average":
        return fuse_average(results, qid_col, id_col, score_col)
    if strategy in ("maximum", "max"):
        return fuse_maximum(results, qid_col, id_col, score_col)
    if strategy == "minimum":
        return fuse_minimum(results, qid_col, id_col, score_col)
    if strategy == "product":
        return fuse_product(results, qid_col, id_col, score_col)
    if strategy == "rrf":
        return fuse_rrf(results, int(params.get("k", RRF_K)), qid_col, id_col,
                        score_col, higher_is_better)
    if strategy == "weighted":
        if total_queries is None:
            raise ValueError("weighted fusion requires total_queries")
        return fuse_weighted(
            results,
            float(params.get("avg_weight", 0.4)),
            float(params.get("max_weight", 0.4)),
            float(params.get("hit_weight", 0.2)),
            total_queries, qid_col, id_col, score_col,
        )
    raise ValueError(f"unknown fusion strategy: {strategy}")


def mmr_rerank(emb: DataFrame, query_vec, k: int = 5, pool: int = 40,
               lam: float = 0.7, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein '98)
    — the RAG diversity step: greedily select k results maximizing
    ``lam*rel(d) - (1-lam)*max_{s in selected} sim(d, s)``.

    100 TB shape: the DISTRIBUTED stage is the exact top-``pool``
    relevance scan (TakeOrderedAndProject over the JVM cosine
    expression); the greedy loop then runs over the bounded pool on the
    driver (pool = k·oversample rows — the same k-rows-of-driver-state
    pattern as lloyd_kmeans centroids). Never quadratic in the corpus:
    pairwise sims exist only within the pool.

    Determinism contract: MMR scores quantize to 9 decimals before the
    argmax and ties break on ascending id, so an external oracle
    evaluating the same greedy recurrence (e.g. DuckDB with
    list_cosine_similarity, whose last-ulp sums differ from NumPy's)
    selects identically. Returns k rows (rank, <id_col>, rel).
    """
    import numpy as np

    if k < 1 or pool < k:
        raise ValueError("need k >= 1 and pool >= k")
    from velesdb_spark.functions.distance import metric_score

    qcol = double_array_lit(query_vec)
    cand = (emb.select(F.col(id_col), F.col(vec_col),
                       metric_score(F.col(vec_col), qcol, "cosine")
                       .alias("rel"))
            .orderBy(F.desc("rel"), id_col).limit(pool).collect())
    ids = [r[id_col] for r in cand]
    rel = np.array([float(r["rel"]) for r in cand])
    vecs = np.array([[float(x) for x in r[vec_col]] for r in cand],
                    dtype=np.float64)
    norms = np.linalg.norm(vecs, axis=1)
    norms[norms == 0.0] = 1.0
    selected: list[int] = []
    max_sim = np.full(len(cand), -np.inf)
    for _ in range(min(k, len(cand))):
        if not selected:
            # quantize the pure-relevance first pick too: the determinism
            # contract must hold for iteration 1, where a last-ulp rel
            # difference would otherwise flip the whole greedy sequence
            score = np.round(rel, 9)
        else:
            score = np.round(lam * rel - (1.0 - lam) * max_sim, 9)
        best, best_key = None, None
        for i in range(len(cand)):
            if i in selected:
                continue
            key = (-score[i], ids[i])
            if best_key is None or key < best_key:
                best, best_key = i, key
        selected.append(best)
        sims = vecs @ vecs[best] / (norms * norms[best])
        max_sim = np.maximum(max_sim, sims)
    spark = emb.sparkSession
    out = [(rank + 1, ids[i], float(rel[i]))
           for rank, i in enumerate(selected)]
    id_type = dict(emb.dtypes)[id_col]
    return spark.createDataFrame(
        out, f"rank long, {id_col} {id_type}, rel double")
