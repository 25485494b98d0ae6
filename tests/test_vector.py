"""Vector search correctness — NumPy brute-force oracle (FIXTURES.md §6) and
DuckDB list functions."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, assert_matches_oracle
from velesdb_spark.operators import topk
from velesdb_spark.velesql.translator import translate

DIM = 64


@pytest.fixture(scope="module")
def emb_np():
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM '{SF_DIR}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows])
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    return ids, mat


def qvec(seed=7):
    rng = np.random.RandomState(seed)
    return rng.randn(DIM).round(3).tolist()


def np_topk(ids, mat, q, k, metric):
    q = np.asarray(q)
    if metric == "cosine":
        qn = np.linalg.norm(q)
        mn = np.linalg.norm(mat, axis=1)
        scores = np.where((mn == 0) | (qn == 0), 0.0, mat @ q / (mn * qn + 1e-300))
        order = np.lexsort((ids, -scores))
    elif metric == "dot":
        scores = mat @ q
        order = np.lexsort((ids, -scores))
    elif metric == "euclidean":
        scores = np.linalg.norm(mat - q, axis=1)
        order = np.lexsort((ids, scores))
    else:
        raise ValueError(metric)
    return [(int(ids[i]), float(scores[i])) for i in order[:k]]


@pytest.mark.parametrize("metric", ["cosine", "dot", "euclidean"])
def test_knn_matches_numpy(catalog, emb_np, metric):
    ids, mat = emb_np
    q = qvec()
    df = catalog.resolve("embeddings").df
    got = topk.knn(df, q, 10, metric, "embedding", "vec_id").select("vec_id", "score").collect()
    want = np_topk(ids, mat, q, 10, metric)
    assert [r.vec_id for r in got] == [w[0] for w in want]
    for r, w in zip(got, want):
        assert abs(r.score - w[1]) < 1e-9


def test_knn_batch(catalog, emb_np):
    ids, mat = emb_np
    df = catalog.resolve("embeddings").df
    queries = [(0, qvec(1)), (1, qvec(2)), (2, qvec(3))]
    got = topk.knn_batch(df, queries, 5, "cosine", "embedding", "vec_id").collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.qid, []).append((r.vec_id, r.score))
    for qid, q in queries:
        want = np_topk(ids, mat, q, 5, "cosine")
        assert [x[0] for x in by_q[qid]] == [w[0] for w in want]


def test_near_velesql(catalog, emb_np):
    ids, mat = emb_np
    q = qvec(11)
    vec_str = ", ".join(f"{x}" for x in q)
    out = translate(
        f"SELECT vec_id, label FROM embeddings WHERE vector NEAR [{vec_str}] LIMIT 7",
        catalog)
    got = out.collect()
    want = np_topk(ids, mat, q, 7, "cosine")
    assert [r.vec_id for r in got] == [w[0] for w in want]


def test_near_default_limit(catalog):
    q = qvec(12)
    out = translate("SELECT * FROM embeddings WHERE vector NEAR $v", catalog,
                    {"v": q})
    assert out.count() == 10  # default limit 10 (query/mod.rs:84-87)
    assert "score" in out.columns


def test_similarity_threshold(catalog, emb_np):
    ids, mat = emb_np
    q = qvec(13)
    out = translate(
        "SELECT vec_id FROM embeddings WHERE similarity(vector, $v) > 0.2 "
        "ORDER BY vec_id LIMIT 100000", catalog, {"v": q})
    got = [r.vec_id for r in out.collect()]
    qn = np.linalg.norm(q)
    mn = np.linalg.norm(mat, axis=1)
    scores = mat @ np.asarray(q) / (mn * qn)
    want = sorted(int(i) for i, s in zip(ids, scores) if s > 0.2)
    assert got == want


def test_similarity_euclidean_inversion(spark):
    """similarity > t means distance < t for distance metrics
    (query/mod.rs:396-416)."""
    from velesdb_spark.velesql.translator import Catalog

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [3.0, 4.0]), (3, [10.0, 0.0])],
        "id bigint, vector array<float>")
    cat = Catalog()
    cat.register("t", df, metric="euclidean")
    out = translate("SELECT id FROM t WHERE similarity(vector, $v) > 6.0 "
                    "ORDER BY id", cat, {"v": [0.0, 0.0]})
    assert [r.id for r in out.collect()] == [1, 2]  # distance < 6


def test_order_by_similarity(catalog, emb_np):
    ids, mat = emb_np
    q = qvec(14)
    out = translate(
        "SELECT vec_id FROM embeddings ORDER BY similarity(vector, $v) DESC "
        "LIMIT 5", catalog, {"v": q})
    want = np_topk(ids, mat, q, 5, "cosine")
    assert [r.vec_id for r in out.collect()] == [w[0] for w in want]


def test_near_fused_average(catalog, emb_np):
    ids, mat = emb_np
    q1, q2 = qvec(21), qvec(22)
    out = translate(
        "SELECT vec_id FROM embeddings WHERE vector NEAR_FUSED [$a, $b] "
        "USING FUSION 'average' LIMIT 5", catalog, {"a": q1, "b": q2})
    qn1, qn2 = np.linalg.norm(q1), np.linalg.norm(q2)
    mn = np.linalg.norm(mat, axis=1)
    s1 = mat @ np.asarray(q1) / (mn * qn1)
    s2 = mat @ np.asarray(q2) / (mn * qn2)
    avg = (s1 + s2) / 2
    order = np.lexsort((ids, -avg))
    assert [r.vec_id for r in out.collect()] == [int(ids[i]) for i in order[:5]]


def test_near_fused_rrf_pooled_equals_global_and_is_bounded(catalog, spark):
    """Round 8: the NEAR_FUSED rrf search path must never single-partition
    the whole scored table. The pooled exact ranking (per-component
    TakeOrdered C = m·(k+L) lists + threshold-count rank reconstruction)
    must (a) return EXACTLY the global-window result — ids AND fused
    scores — across limits, and (b) produce a plan with no SinglePartition
    exchange where every Window sits above a limit-bounded input."""
    q1, q2 = qvec(31), qvec(32)
    for lim in (3, 12, 40):
        pooled = translate(
            "SELECT * FROM embeddings WHERE vector NEAR_FUSED "
            f"[$a, $b] USING FUSION 'rrf'(k=60) LIMIT {lim}",
            catalog, {"a": q1, "b": q2})
        # an always-true extra predicate breaks the fused-only shape →
        # global-window fallback with identical semantics
        glob = translate(
            "SELECT * FROM embeddings WHERE vector NEAR_FUSED "
            "[$a, $b] USING FUSION 'rrf'(k=60) AND vec_id >= 0 "
            f"LIMIT {lim}",
            catalog, {"a": q1, "b": q2})
        prow = [(r.vec_id, round(r.score, 12)) for r in pooled.collect()]
        grow = [(r.vec_id, round(r.score, 12)) for r in glob.collect()]
        assert prow == grow and len(prow) == lim

    pplan = pooled._jdf.queryExecution().executedPlan().toString()
    gplan = glob._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in pplan
    lines = pplan.splitlines()
    for i, ln in enumerate(lines):
        if "Window" in ln:
            below = "\n".join(lines[i + 1:])
            assert ("GlobalLimit" in below
                    or "TakeOrderedAndProject" in below), ln
    # sanity: the fallback really is the old global-window path
    assert "Exchange SinglePartition" in gplan


def test_near_fused_rrf_pooled_tie_break(spark):
    """Tie-heavy data (duplicate vectors → equal component scores): the
    pooled rank reconstruction's (score, id) tie-break must match the
    global row_number ordering exactly."""
    from velesdb_spark.velesql.translator import Catalog

    rows = [(i, [float(i % 4), 1.0, float((i * 7) % 3)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id bigint, vector array<float>")
    cat = Catalog().register("embeddings", df, vector_col="vector",
                             id_col="vec_id", metric="cosine")
    a, b = [1.0, 0.5, 2.0], [0.0, 2.0, 1.0]
    pooled = translate(
        "SELECT * FROM embeddings WHERE vector NEAR_FUSED "
        "[$a, $b] USING FUSION 'rrf'(k=60) LIMIT 10", cat, {"a": a, "b": b})
    glob = translate(
        "SELECT * FROM embeddings WHERE vector NEAR_FUSED "
        "[$a, $b] USING FUSION 'rrf'(k=60) AND vec_id >= 0 LIMIT 10",
        cat, {"a": a, "b": b})
    assert [(r.vec_id, round(r.score, 12)) for r in pooled.collect()] == \
        [(r.vec_id, round(r.score, 12)) for r in glob.collect()]


def test_hamming_jaccard(spark):
    from velesdb_spark.functions.distance import metric_score

    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 1.0, 1.0], [1.0, 1.0, 0.0, 1.0])],
        "id bigint, a array<float>, b array<float>")
    row = df.select(
        metric_score(F.col("a"), F.col("b"), "hamming").alias("h"),
        metric_score(F.col("a"), F.col("b"), "jaccard").alias("j"),
    ).collect()[0]
    assert row.h == 2.0
    assert abs(row.j - 0.5) < 1e-12  # intersection {0,3}=2, union {0,1,2,3}=4


def test_zero_vector_cosine(spark):
    from velesdb_spark.functions.distance import metric_score

    df = spark.createDataFrame([(1, [0.0, 0.0])], "id bigint, v array<float>")
    row = df.select(
        metric_score(F.col("v"), F.array(F.lit(1.0), F.lit(0.0)), "cosine").alias("s")
    ).collect()[0]
    assert row.s == 0.0  # simd_explicit.rs:184


def test_knn_vs_duckdb(catalog, duck):
    q = qvec(31)
    vec_sql = "[" + ", ".join(str(x) for x in q) + "]::DOUBLE[]"
    df = catalog.resolve("embeddings").df
    sdf = (
        topk.knn(df, q, 10, "cosine", "embedding", "vec_id")
        .select("vec_id", F.round("score", 6).alias("score"))
    )
    assert_matches_oracle(sdf, duck, f"""
        SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], {vec_sql}), 6) AS score
        FROM embeddings ORDER BY list_cosine_similarity(embedding::DOUBLE[], {vec_sql}) DESC, vec_id
        LIMIT 10""")


def test_f16_half_precision_roundtrip(spark):
    """half_precision.rs f16 storage: 2 bytes/dim, round-trip error within
    half-precision epsilon, nulls preserved."""
    import math

    from velesdb_spark.functions.quantization import (f16_pack_udf,
                                                      f16_unpack_udf)

    df = spark.createDataFrame(
        [(1, [0.0, 1.0, -2.5, 0.1234567, 65504.0]),
         (2, None)],
        "id bigint, v array<float>")
    packed = df.select("id", f16_pack_udf()(F.col("v")).alias("b"))
    out = {r.id: r for r in packed.select(
        "id", F.length("b").alias("nbytes"),
        f16_unpack_udf()(F.col("b")).alias("back")).collect()}
    assert out[1].nbytes == 10  # 5 dims × 2 bytes
    orig = [0.0, 1.0, -2.5, 0.1234567, 65504.0]
    for a, b in zip(orig, out[1].back):
        if a == 0:
            assert b == 0
        else:
            assert math.isclose(a, b, rel_tol=1e-3)
    assert out[2].nbytes is None and out[2].back is None


def test_staged_score_bit_identical_to_column_form(spark):
    """staged_score must produce BIT-identical scores to the generic
    metric_score composition for every metric (same f64 fold order,
    plan-time query norm = same left fold)."""
    import random

    from velesdb_spark.functions.distance import metric_score, staged_score
    from velesdb_spark.operators.topk import vector_lit

    rng = random.Random(5)
    rows = [(i, [rng.uniform(-2, 2) for _ in range(16)]) for i in range(50)]
    rows.append((50, [0.0] * 16))  # zero-norm doc
    df = spark.createDataFrame(rows, "id bigint, vector array<double>")
    q = [rng.uniform(-2, 2) for _ in range(16)]
    from pyspark.sql import functions as F

    for metric in ("cosine", "dot", "euclidean", "hamming", "jaccard"):
        generic = {r.id: r.s for r in df.withColumn(
            "s", metric_score(F.col("vector"), vector_lit(q), metric))
            .collect()}
        staged = {r.id: r.s for r in
                  staged_score(df, "vector", q, metric, "s").collect()}
        assert staged == generic, metric
    # zero query vector → cosine 0.0 for every row
    z = staged_score(df, "vector", [0.0] * 16, "cosine", "s").collect()
    assert all(r.s == 0.0 for r in z)


def test_knn_batch_paths_agree(spark):
    """Single-scan (literal-budget) path vs broadcast + partial-top-k path
    must rank identically; exercised at Q=12 (single-scan for dim 8) and
    via a forced broadcast run (budget monkeypatched to 0)."""
    import random

    from velesdb_spark.operators import topk as tk

    rng = random.Random(9)
    df = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(80)],
        "id bigint, vector array<double>")
    queries = [(q, [rng.uniform(-1, 1) for _ in range(8)])
               for q in range(12)]
    fast = sorted(tuple(r) for r in tk.knn_batch(
        df, queries, 4, "cosine", "vector", "id").collect())
    old_budget = tk.BATCH_LITERAL_BUDGET
    try:
        tk.BATCH_LITERAL_BUDGET = 0  # force the broadcast path
        slow = sorted(tuple(r) for r in tk.knn_batch(
            df, queries, 4, "cosine", "vector", "id").collect())
    finally:
        tk.BATCH_LITERAL_BUDGET = old_budget
    assert [(a, b) for a, b, _ in fast] == [(a, b) for a, b, _ in slow]
    for (_, _, sa), (_, _, sb) in zip(fast, slow):
        assert sa == pytest.approx(sb, rel=1e-9)


def test_knn_batch_duplicate_qids_agree(spark):
    """Duplicate qids: each query keeps its own score column and their
    scores rank together under one partition — identical on both paths."""
    import random

    from velesdb_spark.operators import topk as tk

    rng = random.Random(4)
    df = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(40)],
        "id bigint, vector array<double>")
    qs = [(7, [1.0, 0, 0, 0, 0, 0]), (7, [0, 0, 0, 0, 0, 1.0]),
          (8, [0, 1.0, 0, 0, 0, 0])]
    fast = sorted(tuple(r) for r in tk.knn_batch(
        df, qs, 5, "cosine", "vector", "id").collect())
    old = tk.BATCH_LITERAL_BUDGET
    try:
        tk.BATCH_LITERAL_BUDGET = 0
        slow = sorted(tuple(r) for r in tk.knn_batch(
            df, qs, 5, "cosine", "vector", "id").collect())
    finally:
        tk.BATCH_LITERAL_BUDGET = old
    assert [(a, b) for a, b, _ in fast] == [(a, b) for a, b, _ in slow]


def test_mmr_rerank_diversity_and_guards(spark):
    """MMR: rank 1 is the global relevance argmax; a clique of
    near-duplicate high-relevance vectors contributes ONE early pick
    (plain top-k would take the whole clique); guards reject bad k/pool."""
    import pytest

    from velesdb_spark.functions.fusion import mmr_rerank

    q = [1.0, 0.0, 0.0, 0.0]
    # top hit, then an exact-duplicate clique (rel 0.8, mutual sim 1.0),
    # then a same-relevance vector pointing AWAY from the clique
    rows = [(0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.8, 0.6, 0.0, 0.0]),
            (2, [0.8, 0.6, 0.0, 0.0]),
            (3, [0.8, 0.6, 0.0, 0.0]),
            (10, [0.79, -0.6, 0.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = mmr_rerank(emb, q, k=3, pool=5, lam=0.7)
    got = [r.vec_id for r in out.orderBy("rank").collect()]
    # plain top-3 by relevance would be [0, 1, 2]; MMR's third pick must
    # escape the clique (sim 1.0 to the already-selected member) for the
    # anti-correlated vector
    assert got == [0, 1, 10], got
    with pytest.raises(ValueError):
        mmr_rerank(emb, q, k=0)
    with pytest.raises(ValueError):
        mmr_rerank(emb, q, k=5, pool=3)


def test_mmr_first_pick_quantized(spark):
    """The 9-decimal determinism quantization applies to iteration 1
    too: two candidates whose relevance differs only past the 9th
    decimal tie, and the ascending-id break picks the lower id."""
    from velesdb_spark.functions.fusion import mmr_rerank

    q = [1.0, 0.0]
    # id 5 is a last-ulp hair MORE relevant than id 2; after round(., 9)
    # they tie, so id 2 must win rank 1
    rows = [(5, [1.0, 1e-10]), (2, [1.0, 0.0]), (9, [0.0, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = mmr_rerank(emb, q, k=2, pool=3, lam=0.7)
    got = [r.vec_id for r in out.orderBy("rank").collect()]
    assert got[0] == 2, got


def test_knn_batch_plan_has_no_python_nodes(spark):
    """r11 optimization contract: the mapInPandas partial top-k was
    removed because Spark plans the row_number()<=k filter as
    WindowGroupLimit with a Partial mode below the exchange — the
    per-partition reduction runs in the JVM. Pin both facts so a
    refactor can't silently reintroduce the Python boundary or lose
    the partial group-limit."""
    from velesdb_spark.operators import topk as tk

    df = spark.createDataFrame(
        [(i, [float(i), float(i % 3)]) for i in range(40)],
        "id bigint, vector array<double>")
    out = tk.knn_batch(df, [(0, [1.0, 0.0]), (1, [0.0, 1.0])], 3,
                       "cosine", "vector", "id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan, plan


def test_double_array_lit_bit_identical_and_fallback(spark):
    """The one parsed ARRAY<DOUBLE> spelling (functions/sqlexpr.py) must
    be bit-identical to the per-element builder — repr() round-trips
    doubles exactly and Spark's double parser is correctly rounding —
    and non-finite values go through the same spelling as CASTs."""
    import math
    import random

    from velesdb_spark.functions.sqlexpr import double_array_lit

    rng = random.Random(3)
    vals = ([rng.uniform(-1e3, 1e3) for _ in range(64)]
            + [0.0, -0.0, 1e-308, -1.7976931348623157e308, 123456.789e-40])
    fast = spark.range(1).select(double_array_lit(vals).alias("v")).first().v
    slow = spark.range(1).select(
        F.array(*[F.lit(float(x)) for x in vals]).alias("v")).first().v
    assert all(math.copysign(1, a) == math.copysign(1, b) and a == b
               for a, b in zip(fast, slow))
    # non-finite: same values as the per-element builder, NaN-aware
    nf = [1.0, float("inf"), float("-inf"), float("nan"), -0.0]
    got = spark.range(1).select(double_array_lit(nf).alias("v")).first().v
    want = spark.range(1).select(
        F.array(*[F.lit(x) for x in nf]).alias("v")).first().v
    assert len(got) == len(want) == len(nf)
    assert all((math.isnan(a) and math.isnan(b))
               or (a == b and math.copysign(1, a) == math.copysign(1, b))
               for a, b in zip(got, want))


def test_staged_score_sql_fastpath_identity(spark):
    """The one-shot SQL scores in distance.py (staged_score / doc_norm2 /
    staged_scores_batch build their aggregate+zip_with trees as ONE
    parsed expression — ~100x fewer py4j round-trips per score) must be
    bit-identical in values to metric_score AND canonically identical in
    analyzed plan to the Column-HOF kernels, for the metrics they
    stage."""
    import random
    import struct

    from pyspark.sql import functions as F

    from velesdb_spark.functions import distance as D
    from velesdb_spark.functions.sqlexpr import double_array_lit

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-2, 2) for _ in range(16)]) for i in range(50)]
    rows.append((50, [0.0] * 16))  # zero-norm doc row
    df = spark.createDataFrame(rows, "id bigint, vector array<double>") \
        .selectExpr("id", "cast(vector as array<float>) as vector")
    q = [rng.uniform(-2, 2) for _ in range(16)]

    def bits(vals):
        return [struct.pack("<d", v) for v in vals]

    # analyzed-plan identity for the core dot aggregate
    old_dot = F.aggregate(
        F.zip_with(D._as_double(F.col("vector")), double_array_lit(q),
                   lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x)
    from velesdb_spark.functions.sqlexpr import double_array_sql

    new_dot = F.expr(D._dot_sql("`vector`", double_array_sql(q)))
    canon = lambda d: (d._jdf.queryExecution().analyzed()
                       .canonicalized().toString())
    assert canon(df.select(old_dot.alias("v"))) == \
        canon(df.select(new_dot.alias("v")))

    # value identity (bit-exact) per metric vs the generic Column form
    for metric in ("cosine", "dot", "euclidean"):
        fast = D.staged_score(df, "vector", q, metric, "s") \
            .orderBy("id").select("s").collect()
        generic = df.select(
            "id", D.metric_score(F.col("vector"), double_array_lit(q),
                                 metric).alias("s")) \
            .orderBy("id").select("s").collect()
        assert bits([r.s for r in fast]) == bits([r.s for r in generic]), metric

    # batch scorer == per-query staged_score loop, bit-exact
    q2 = [rng.uniform(-2, 2) for _ in range(16)]
    base = df.withColumn("_n2", D.doc_norm2("vector"))
    batch = D.staged_scores_batch(base, "vector", [q, q2], "cosine",
                                  ["s0", "s1"], norm2_col="_n2") \
        .orderBy("id").select("s0", "s1").collect()
    loop = D.staged_score(
        D.staged_score(base, "vector", q, "cosine", "s0", norm2_col="_n2"),
        "vector", q2, "cosine", "s1", norm2_col="_n2") \
        .orderBy("id").select("s0", "s1").collect()
    assert bits([r.s0 for r in batch]) == bits([r.s0 for r in loop])
    assert bits([r.s1 for r in batch]) == bits([r.s1 for r in loop])

    # a name that needs quoting (backtick, space, dot) goes through the
    # same spelling and gives the same bits as the plain name
    weird = df.withColumnRenamed("vector", "v`ec col.x")
    base = weird.withColumn("_n2", D.doc_norm2("v`ec col.x"))
    for metric in ("cosine", "dot", "euclidean"):
        got = D.staged_score(weird, "v`ec col.x", q, metric, "s") \
            .orderBy("id").select("s").collect()
        plain = D.staged_score(df, "vector", q, metric, "s") \
            .orderBy("id").select("s").collect()
        assert bits([r.s for r in got]) == bits([r.s for r in plain]), metric
    got = D.staged_scores_batch(base, "v`ec col.x", [q, q2], "cosine",
                                ["s0", "s1"], norm2_col="_n2") \
        .orderBy("id").select("s0", "s1").collect()
    assert bits([r.s0 for r in got]) == bits([r.s0 for r in loop])
    assert bits([r.s1 for r in got]) == bits([r.s1 for r in loop])
