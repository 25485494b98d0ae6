"""Similarity search over embedding columns: exact brute-force top-k (the
baseline — see operators/topk.py) plus approximate scale paths:

- Random-hyperplane LSH (cosine): deterministic hyperplanes derived from a
  seeded RNG; bucket = sign-bit string of hyperplane dot products. Search
  probes the query's bucket (and optional multi-probe neighbors flipping one
  bit). At 100 TB the bucketed table is written partitioned by bucket so a
  query reads one partition.
- IVF (inverted file): k-means centroids (MLlib) → assign each vector to its
  nearest centroid → search probes the nprobe nearest centroids' partitions.

Both trade recall for a ~buckets× scan reduction; exact re-ranking inside the
probed buckets keeps precision.
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from velesdb_spark.functions.sqlexpr import double_array_lit

from velesdb_spark.functions.distance import cosine_similarity
from velesdb_spark.operators.topk import vector_lit

DEFAULT_NBITS = 8
LSH_SEED = 42


def _hyperplanes(dim: int, nbits: int = DEFAULT_NBITS, seed: int = LSH_SEED) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(nbits, dim)


def multi_table_buckets(vec: Column, dim: int, nbits: int = DEFAULT_NBITS,
                        tables: int = 16, seed: int = LSH_SEED) -> Column:
    """Banded-LSH signatures: array<bigint> of length `tables`, entry t =
    the nbits sign-bit bucket of hash table t.

    One Arrow-batched numpy matmul per batch ((n, dim) @ (dim, T·b) BLAS
    gemm) instead of T·b separate higher-order aggregate expressions —
    the dense random projection is exactly the shape vectorized Pandas UDFs
    exist for (~100× the interpreted-lambda path). Scale-invariance note:
    rows of one gemm are summed in the same k-order, so sign(P·(c·v)) ==
    sign(P·v) for c a power of two — planted exact-direction duplicates
    collide in every table with probability 1.
    """
    planes = _hyperplanes(dim, nbits * tables, seed)  # (T·b, dim)
    weights = (np.int64(1) << np.arange(nbits, dtype=np.int64))

    @F.pandas_udf("array<bigint>")
    def _sig(v: pd.Series) -> pd.Series:
        mat = np.vstack([np.asarray(x, dtype=np.float64) for x in v])
        bits = (mat @ planes.T) > 0.0            # (n, T·b)
        buckets = bits.reshape(len(v), tables, nbits) @ weights  # (n, T)
        return pd.Series(list(buckets))

    return _sig(vec)


def hyperplane_bucket(vec: Column, dim: int, nbits: int = DEFAULT_NBITS,
                      seed: int = LSH_SEED) -> Column:
    """Sign-bit bucket id (0..2^nbits-1) as a JVM-side expression."""
    planes = _hyperplanes(dim, nbits, seed)
    bucket = F.lit(0)
    for i in range(nbits):
        dot = F.aggregate(
            F.zip_with(vec, double_array_lit(planes[i]),
                       lambda a, b: a.cast("double") * b),
            F.lit(0.0), lambda acc, x: acc + x)
        bucket = bucket + F.when(dot > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def probe_buckets(planes: np.ndarray, q: Sequence[float],
                  multiprobe: int = 1) -> list[int]:
    """Bucket ids a query probes: its own sign-bit bucket plus multiprobe
    perturbations (Lv et al., VLDB'07 shape) — flip the bits whose
    hyperplane margins are smallest, singles then pairs (a query near two
    boundaries differs in two bits). Module-level so an external oracle can
    derive the exact same probe set from the seeded hyperplanes."""
    dots = planes @ np.asarray(q, dtype=float)
    base = sum(1 << i for i, d in enumerate(dots) if d > 0)
    buckets = [base]
    if multiprobe > 0:
        order = np.argsort(np.abs(dots))[:multiprobe]
        for i in order:
            buckets.append(base ^ (1 << int(i)))
        for ai in range(len(order)):
            for bi in range(ai + 1, len(order)):
                buckets.append(
                    base ^ (1 << int(order[ai])) ^ (1 << int(order[bi])))
    return buckets


class LshIndex:
    """Bucketed cosine ANN. build() materializes (id, vector, bucket);
    search() probes the query bucket (+ multiprobe) and re-ranks exactly."""

    def __init__(self, df: DataFrame, vector_col: str = "embedding",
                 id_col: str = "id", nbits: int = DEFAULT_NBITS,
                 seed: int = LSH_SEED, dim: Optional[int] = None):
        self.vector_col = vector_col
        self.id_col = id_col
        self.nbits = nbits
        self.seed = seed
        self.dim = dim or len(df.select(vector_col).first()[0])
        self.planes = _hyperplanes(self.dim, nbits, seed)
        self.bucketed = df.withColumn(
            "_bucket", hyperplane_bucket(F.col(vector_col), self.dim, nbits, seed))

    def _query_buckets(self, q: Sequence[float], multiprobe: int = 1) -> list[int]:
        return probe_buckets(self.planes, q, multiprobe)

    def search(self, q: Sequence[float], k: int = 10, multiprobe: int = 1) -> DataFrame:
        buckets = self._query_buckets(q, multiprobe)
        cand = self.bucketed.filter(F.col("_bucket").isin(buckets))
        scored = cand.withColumn(
            "score", cosine_similarity(F.col(self.vector_col), vector_lit(q)))
        return (scored.orderBy(F.desc("score"), F.asc(self.id_col)).limit(k)
                .drop("_bucket"))

    def save(self, path: str) -> str:
        """Write the bucketed table partitioned by bucket: a probe reads
        only its buckets' files (partition pruning = the 100 TB layout)."""
        self.bucketed.write.mode("overwrite").partitionBy("_bucket") \
            .parquet(path)
        return path

    @classmethod
    def load(cls, spark, path: str, vector_col: str = "embedding",
             id_col: str = "id", nbits: int = DEFAULT_NBITS,
             seed: int = LSH_SEED, dim: Optional[int] = None) -> "LshIndex":
        """Open a saved bucketed index; hyperplanes are re-derived from the
        (deterministic) seed, so queries route identically."""
        idx = cls.__new__(cls)
        idx.vector_col = vector_col
        idx.id_col = id_col
        idx.nbits = nbits
        idx.seed = seed
        idx.bucketed = spark.read.parquet(path)
        idx.dim = dim or len(idx.bucketed.select(vector_col).first()[0])
        idx.planes = _hyperplanes(idx.dim, nbits, seed)
        return idx


# Above this list count the per-centroid Catalyst expressions get replaced by
# one Arrow-batched gemm: nlist literal dot-product terms would otherwise grow
# the codegen'd expression linearly (multi-MB at a realistic 4k-65k lists)
# and blow whole-stage codegen / optimizer limits long before data size does.
EXPR_NLIST_MAX = 64


def _nearest_centroid_expr(vec: Column, centroids: np.ndarray) -> Column:
    """JVM-side argmin over centroids: squared-L2 reduces to
    -2·x·c + ||c||² (the ||x||² term is constant per row). One dot product
    per centroid, all inside whole-stage codegen — no Python per row.
    Used for nlist ≤ EXPR_NLIST_MAX only; see _nearest_centroid_gemm."""
    scores = []
    for c in centroids:
        dot = F.aggregate(
            F.zip_with(vec, double_array_lit(c),
                       lambda a, b: a.cast("double") * b),
            F.lit(0.0), lambda acc, x: acc + x)
        scores.append(-2.0 * dot + float(c @ c))
    arr = F.array(*scores)
    return (F.array_position(arr, F.array_min(arr)) - 1).cast("int")


def _nearest_centroid_gemm(vec: Column, centroids: np.ndarray) -> Column:
    """Arrow-batched argmin for large nlist: one (n, dim) @ (dim, nlist)
    BLAS gemm per batch (the multi_table_buckets pattern). Plan size is
    constant in nlist — the centroid matrix rides in the UDF closure, not
    in the Catalyst expression tree."""
    c_t = np.ascontiguousarray(centroids.T, dtype=np.float64)  # (dim, nlist)
    norms = (centroids ** 2).sum(axis=1)                       # (nlist,)

    @F.pandas_udf("int")
    def _assign(v: pd.Series) -> pd.Series:
        mat = np.vstack([np.asarray(x, dtype=np.float64) for x in v])
        d = -2.0 * (mat @ c_t) + norms                         # (n, nlist)
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    return _assign(vec)


def nearest_centroid(vec: Column, centroids: np.ndarray) -> Column:
    """List assignment, nlist-scalable: codegen'd expression for small
    nlist (oracle-parity path), Arrow gemm above EXPR_NLIST_MAX. Both
    compute the same squared-L2 argmin with first-index tie-breaking."""
    if len(centroids) <= EXPR_NLIST_MAX:
        return _nearest_centroid_expr(vec, centroids)
    return _nearest_centroid_gemm(vec, centroids)


class IvfIndex:
    """Inverted-file ANN (FAISS IVF-flat shape): centroids trained by seeded
    k-means on a bounded driver-side sample, list assignment as a JVM argmin
    expression, probe re-ranks exactly inside the nprobe nearest lists.

    Scale: training collects at most ``train_sample`` vectors (chosen by a
    deterministic hash top-k — a partial top-k scan, no full sort), so the
    k-means cost is constant in table size; assignment is one narrow
    codegen'd map over the full table. At 100 TB only the assignment scan
    grows, and it is embarrassingly parallel.
    """

    def __init__(self, df: DataFrame, vector_col: str = "embedding",
                 id_col: str = "id", n_centroids: int = 16, seed: int = LSH_SEED,
                 max_iter: int = 8, train_sample: int = 4096,
                 centroids: Optional[np.ndarray] = None):
        self.vector_col = vector_col
        self.id_col = id_col
        if centroids is not None:
            # explicit centroids: callers that bootstrap from sampled data
            # points (a standard IVF init) or need externally re-derivable
            # assignment (the DuckDB oracle re-ranks against the same
            # centroid table) skip the k-means entirely
            self.centroids = np.asarray(centroids, dtype=float)
        else:
            # deterministic sample: top train_sample rows by xxhash64(id)
            # — TakeOrderedAndProject, not a full sort
            sample = (df.select(
                F.col(vector_col).alias("_v"),
                F.xxhash64(F.col(id_col).cast("string")).alias("_h"))
                .orderBy("_h").limit(train_sample).collect())
            pts = np.array([r["_v"] for r in sample], dtype=float)
            self.centroids = _kmeans_np(pts, n_centroids, seed, max_iter)
        self.assigned = df.withColumn(
            "_list", nearest_centroid(F.col(vector_col), self.centroids))

    def search(self, q: Sequence[float], k: int = 10, nprobe: int = 2) -> DataFrame:
        qa = np.asarray(q, dtype=float)
        d = np.linalg.norm(self.centroids - qa, axis=1)
        # stable sort: (distance, list_id) tie order is deterministic and
        # matches a relational ORDER BY dist, list_id re-derivation
        lists = [int(i) for i in np.argsort(d, kind="stable")[:nprobe]]
        cand = self.assigned.filter(F.col("_list").isin(lists))
        scored = cand.withColumn(
            "score", cosine_similarity(F.col(self.vector_col), vector_lit(q)))
        return (scored.orderBy(F.desc("score"), F.asc(self.id_col)).limit(k)
                .drop("_list"))

    def save(self, path: str) -> str:
        """Write lists partitioned by ``_list`` (a probe reads only its
        lists' files) plus the centroid table alongside."""
        self.assigned.write.mode("overwrite").partitionBy("_list") \
            .parquet(path + "/lists")
        spark = self.assigned.sparkSession
        cent = spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(self.centroids)],
            "list_id INT, centroid ARRAY<DOUBLE>")
        cent.coalesce(1).write.mode("overwrite").parquet(path + "/centroids")
        return path

    @classmethod
    def load(cls, spark, path: str, vector_col: str = "embedding",
             id_col: str = "id") -> "IvfIndex":
        idx = cls.__new__(cls)
        idx.vector_col = vector_col
        idx.id_col = id_col
        cent = sorted(spark.read.parquet(path + "/centroids").collect(),
                      key=lambda r: r["list_id"])
        idx.centroids = np.array([r["centroid"] for r in cent])
        idx.assigned = spark.read.parquet(path + "/lists")
        return idx


def _kmeans_np(pts: np.ndarray, k: int, seed: int, max_iter: int) -> np.ndarray:
    """Seeded Lloyd's k-means over an in-memory sample (k-means++-lite init:
    farthest-point from a seeded start). Deterministic for a given seed."""
    rng = np.random.default_rng(seed)
    k = min(k, len(pts))
    # farthest-point init from a seeded random start
    first = int(rng.integers(len(pts)))
    cents = [pts[first]]
    d2 = np.full(len(pts), np.inf)
    for _ in range(1, k):
        d2 = np.minimum(d2, ((pts - cents[-1]) ** 2).sum(axis=1))
        cents.append(pts[int(np.argmax(d2))])
    cents = np.array(cents)
    for _ in range(max_iter):
        # assign: (n, k) squared distances via ||x||²-2x·c+||c||²
        d = (pts ** 2).sum(1)[:, None] - 2 * pts @ cents.T + (cents ** 2).sum(1)
        lab = d.argmin(axis=1)
        new = np.array([pts[lab == j].mean(axis=0) if (lab == j).any()
                        else cents[j] for j in range(k)])
        if np.allclose(new, cents):
            break
        cents = new
    return cents


def _nprobe_lists_expr(vec: Column, centroids: np.ndarray,
                       nprobe: int) -> Column:
    """ARRAY<INT> of the nprobe nearest centroid list-ids for a vector —
    same squared-L2 reduction as _nearest_centroid_expr, sorted as
    (distance, list_id) structs so ties break deterministically. All
    JVM-side; no Python per row. nlist ≤ EXPR_NLIST_MAX only."""
    entries = []
    for i, c in enumerate(centroids):
        dot = F.aggregate(
            F.zip_with(vec, double_array_lit(c),
                       lambda a, b: a.cast("double") * b),
            F.lit(0.0), lambda acc, x: acc + x)
        entries.append(F.struct(
            (-2.0 * dot + float(c @ c)).alias("d"),
            F.lit(i).alias("i")))
    ranked = F.slice(F.array_sort(F.array(*entries)), 1, nprobe)
    return F.transform(ranked, lambda s: s["i"])


def _nprobe_lists_gemm(vec: Column, centroids: np.ndarray,
                       nprobe: int) -> Column:
    """Arrow-batched nprobe selection for large nlist — one gemm per batch,
    stable argsort so (distance, list_id) tie order matches the expr path."""
    c_t = np.ascontiguousarray(centroids.T, dtype=np.float64)
    norms = (centroids ** 2).sum(axis=1)
    take = min(nprobe, len(centroids))

    @F.pandas_udf("array<int>")
    def _probe(v: pd.Series) -> pd.Series:
        mat = np.vstack([np.asarray(x, dtype=np.float64) for x in v])
        d = -2.0 * (mat @ c_t) + norms
        idx = np.argsort(d, axis=1, kind="stable")[:, :take].astype(np.int32)
        return pd.Series(list(idx))

    return _probe(vec)


def nprobe_lists(vec: Column, centroids: np.ndarray, nprobe: int) -> Column:
    """nprobe nearest list-ids, nlist-scalable (same dispatch rule as
    nearest_centroid)."""
    if len(centroids) <= EXPR_NLIST_MAX:
        return _nprobe_lists_expr(vec, centroids, nprobe)
    return _nprobe_lists_gemm(vec, centroids, nprobe)


def ivf_topk_join(left: DataFrame, right: DataFrame, k: int,
                  n_centroids: int = 8, nprobe: int = 2,
                  left_vec: str = "embedding", right_vec: str = "embedding",
                  left_id: str = "id", right_id: str = "id",
                  seed: int = LSH_SEED) -> DataFrame:
    """Approximate top-k similarity join: right rows land in IVF lists,
    each left row probes only its ``nprobe`` nearest lists — pair count
    drops from |L|·|R| to ~|L|·|R|·nprobe/n_centroids, and the join is a
    plain equi-join on list id (shuffle co-locates by list; at 100 TB the
    right side is written partitioned by list and probes prune files).

    nprobe = n_centroids degenerates to the exact brute join (useful to
    oracle-gate the probe machinery); smaller nprobe trades recall.
    Output schema matches cosine_topk_join.
    """
    from pyspark.sql import Window

    idx = IvfIndex(right, right_vec, right_id, n_centroids, seed=seed)
    r = idx.assigned.select(F.col(right_id).alias("_rid"),
                            F.col(right_vec).alias("_rv"), "_list")
    l = left.select(
        F.col(left_id).alias("_lid"), F.col(left_vec).alias("_lv"),
        F.explode(nprobe_lists(F.col(left_vec), idx.centroids,
                               nprobe)).alias("_list"))
    scored = l.join(r, "_list").withColumn(
        "score", cosine_similarity(F.col("_lv"), F.col("_rv")))
    w = Window.partitionBy("_lid").orderBy(F.desc("score"), F.asc("_rid"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(F.col("_lid").alias(left_id + "_l"),
                F.col("_rid").alias(right_id + "_r"), "score",
                F.col("_rn").alias("rank"))
    )


def cosine_topk_join(left: DataFrame, right: DataFrame, k: int,
                     left_vec: str = "embedding", right_vec: str = "embedding",
                     left_id: str = "id", right_id: str = "id") -> DataFrame:
    """For each left row, its top-k right rows by cosine — the similarity-join
    building block (brute force; pair count |L|·|R|, scored JVM-side)."""
    from pyspark.sql import Window

    l = left.select(F.col(left_id).alias("_lid"), F.col(left_vec).alias("_lv"))
    r = right.select(F.col(right_id).alias("_rid"), F.col(right_vec).alias("_rv"))
    scored = l.crossJoin(r).withColumn(
        "score", cosine_similarity(F.col("_lv"), F.col("_rv")))
    w = Window.partitionBy("_lid").orderBy(F.desc("score"), F.asc("_rid"))
    return (
        scored.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k)
        .select(F.col("_lid").alias(left_id + "_l"),
                F.col("_rid").alias(right_id + "_r"), "score", F.col("_rn").alias("rank"))
    )
