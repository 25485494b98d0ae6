"""Query-time quantization hints (EPIC-055 US-005) + query routing.

Reference parity:
- WITH (quantization='f32'|'int8'|'dual'|'auto', oversampling=N) parses
  and — beyond the reference, which stops at the AST — executes:
  int8 scores on the SQ8 representation, dual does coarse-SQ8 →
  exact-f32 re-rank (index/hnsw/native/dual_precision.rs:260-330).
- detect_query_type routing (velesdb-server handlers/query.rs:356-386).

Ground truth for the quantized paths is NumPy re-derivation on the
collected sf0.001 embeddings (same discipline as the distance fuzz).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from velesdb_spark.velesql.introspect import VelesQL
from velesdb_spark.velesql.translator import translate

K = 10


@pytest.fixture(scope="module")
def emb_np(catalog):
    rows = (catalog.resolve("embeddings").df
            .select("vec_id", "embedding").collect())
    ids = np.array([r.vec_id for r in rows])
    V = np.array([r.embedding for r in rows], dtype=np.float64)
    return ids, V


def _qv(dim, seed=0.13):
    return [float(x) for x in np.cos(np.arange(dim) * seed)]


def _sq8_roundtrip(V):
    mn = V.min(axis=1, keepdims=True)
    mx = V.max(axis=1, keepdims=True)
    scale = np.where(mx > mn, (mx - mn) / 255.0, 1.0)
    return mn + np.round((V - mn) / scale) * scale


def _cos(M, q):
    nm = np.linalg.norm(M, axis=1) * np.linalg.norm(q)
    return np.where(nm > 0, M @ q / np.where(nm == 0, 1, nm), 0.0)


def _dual_truth(ids, V, qv, k, oversampling):
    approx = _cos(_sq8_roundtrip(V), np.array(qv))
    exact = _cos(V, np.array(qv))
    pool = sorted(range(len(ids)),
                  key=lambda i: (-approx[i], ids[i]))[:k * oversampling]
    fin = sorted(pool, key=lambda i: (-exact[i], ids[i]))[:k]
    return [int(ids[i]) for i in fin]


# ------------------------------------------------------------ execution

def test_dual_velesql_matches_numpy_two_phase(catalog, emb_np):
    ids, V = emb_np
    qv = _qv(V.shape[1])
    got = [r.vec_id for r in translate(
        "SELECT vec_id FROM embeddings WHERE vector NEAR $v LIMIT 10 "
        "WITH (quantization = 'dual', oversampling = 4)",
        catalog, {"v": qv}).collect()]
    assert got == _dual_truth(ids, V, qv, K, 4)


def test_int8_velesql_is_single_phase_approx(catalog, emb_np):
    ids, V = emb_np
    qv = _qv(V.shape[1], 0.07)
    approx = _cos(_sq8_roundtrip(V), np.array(qv))
    want = [int(ids[i]) for i in sorted(
        range(len(ids)), key=lambda i: (-approx[i], ids[i]))[:K]]
    got = [r.vec_id for r in translate(
        "SELECT vec_id FROM embeddings WHERE vector NEAR $v LIMIT 10 "
        "WITH (quantization = 'int8')", catalog, {"v": qv}).collect()]
    assert got == want


def test_f32_and_auto_match_default(catalog, emb_np):
    _, V = emb_np
    qv = _qv(V.shape[1], 0.21)
    base = [r.vec_id for r in translate(
        "SELECT vec_id FROM embeddings WHERE vector NEAR $v LIMIT 10",
        catalog, {"v": qv}).collect()]
    for mode in ("f32", "auto", "exact", "default"):
        got = [r.vec_id for r in translate(
            "SELECT vec_id FROM embeddings WHERE vector NEAR $v LIMIT 10 "
            f"WITH (quantization = '{mode}')", catalog, {"v": qv}).collect()]
        assert got == base, mode


def test_dual_explicit_order_by_falls_back_exact(catalog, emb_np):
    """Explicit ORDER BY consumes rows beyond the NEAR top-k, so dual
    must not prune — results equal the unhinted query."""
    _, V = emb_np
    qv = _qv(V.shape[1], 0.33)
    plain = translate(
        "SELECT vec_id FROM embeddings WHERE vector NEAR $v "
        "ORDER BY vec_id LIMIT 25", catalog, {"v": qv}).collect()
    dual = translate(
        "SELECT vec_id FROM embeddings WHERE vector NEAR $v "
        "ORDER BY vec_id LIMIT 25 WITH (quantization = 'dual')",
        catalog, {"v": qv}).collect()
    assert [r.vec_id for r in dual] == [r.vec_id for r in plain]


def test_dual_full_pool_equals_exact(catalog, emb_np):
    """oversampling large enough to cover the corpus ⇒ identical to the
    exact query (phase 1 keeps everything, phase 2 is the exact rank)."""
    ids, V = emb_np
    qv = _qv(V.shape[1], 0.41)
    os_ = len(ids) // K + 1
    exact = [r.vec_id for r in translate(
        "SELECT vec_id FROM embeddings WHERE vector NEAR $v LIMIT 10",
        catalog, {"v": qv}).collect()]
    dual = [r.vec_id for r in translate(
        "SELECT vec_id FROM embeddings WHERE vector NEAR $v LIMIT 10 "
        f"WITH (quantization = 'dual', oversampling = {os_})",
        catalog, {"v": qv}).collect()]
    assert dual == exact


def test_dual_operator_matches_numpy(catalog, emb_np):
    from velesdb_spark.operators.topk import dual_precision_knn, knn

    ids, V = emb_np
    qv = _qv(V.shape[1], 0.55)
    df = catalog.resolve("embeddings").df
    got = [r.vec_id for r in dual_precision_knn(
        df, qv, K, "cosine", "embedding", "vec_id").collect()]
    assert got == _dual_truth(ids, V, qv, K, 4)
    # use_int8_phase=False → the reference's f32 fallback (plain search)
    off = [r.vec_id for r in dual_precision_knn(
        df, qv, K, "cosine", "embedding", "vec_id",
        use_int8_phase=False).collect()]
    want = [r.vec_id for r in knn(
        df, qv, K, "cosine", "embedding", "vec_id").collect()]
    assert off == want


def test_int8_similarity_threshold_scores_approx(catalog, emb_np):
    ids, V = emb_np
    qv = _qv(V.shape[1], 0.61)
    approx = _cos(_sq8_roundtrip(V), np.array(qv))
    want = sorted(int(i) for i, a in zip(ids, approx) if a > 0.2)
    got = sorted(r.vec_id for r in translate(
        "SELECT vec_id FROM embeddings WHERE similarity(vector, $v) > 0.2 "
        "LIMIT 100000 WITH (quantization = 'int8')",
        catalog, {"v": qv}).collect())
    assert got == want


def test_dual_hybrid_match_falls_back_exact(spark):
    """NEAR + MATCH fusion needs the exact vector rank — dual resolves
    to exact scoring and the hybrid result equals the unhinted query."""
    from velesdb_spark.velesql.translator import Catalog

    rng = np.random.RandomState(7)
    rows = [(i, [float(x) for x in rng.randn(8)],
             "alpha data query" if i % 3 == 0 else "beta other stuff")
            for i in range(60)]
    df = spark.createDataFrame(
        rows, "id bigint, vector array<float>, text string")
    cat = Catalog().register("hdocs", df, vector_col="vector",
                             id_col="id", text_col="text")
    qv = [float(x) for x in rng.randn(8)]
    sql = ("SELECT id FROM hdocs WHERE vector NEAR $v "
           "AND text MATCH 'data' LIMIT 10")
    plain = [r.id for r in translate(sql, cat, {"v": qv}).collect()]
    dual = [r.id for r in translate(
        sql + " WITH (quantization = 'dual')", cat, {"v": qv}).collect()]
    assert dual == plain and len(plain) == 10


def test_quant_hint_translation_is_pure(catalog, spark):
    sc = spark.sparkContext
    group = "quant-hint-purity"
    sc.setJobGroup(group, "no jobs during hinted translation")
    try:
        qv = _qv(64)
        for mode in ("int8", "dual", "f32"):
            df = translate(
                "SELECT vec_id FROM embeddings WHERE vector NEAR $v "
                f"LIMIT 10 WITH (quantization = '{mode}')",
                catalog, {"v": qv})
            df._jdf.queryExecution().executedPlan().toString()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup("", "")
    assert jobs == []


def test_mrl_knn_matches_numpy_two_phase(catalog, emb_np):
    """Matryoshka prefix search: coarse on the first p dims, exact
    re-rank — vs a NumPy re-derivation; full prefix ≡ exact."""
    from velesdb_spark.operators.topk import knn, mrl_knn

    ids, V = emb_np
    qv = _qv(V.shape[1], 0.91)
    df = catalog.resolve("embeddings").df
    p, os_ = 16, 4
    approx = _cos(V[:, :p], np.array(qv[:p]))
    exact = _cos(V, np.array(qv))
    pool = sorted(range(len(ids)),
                  key=lambda i: (-approx[i], ids[i]))[:K * os_]
    want = [int(ids[i]) for i in
            sorted(pool, key=lambda i: (-exact[i], ids[i]))[:K]]
    got = [r.vec_id for r in mrl_knn(
        df, qv, K, prefix_dim=p, oversampling=os_, metric="cosine",
        vector_col="embedding", id_col="vec_id").collect()]
    assert got == want
    # prefix = full dimension ⇒ identical to exact knn
    full = [r.vec_id for r in mrl_knn(
        df, qv, K, prefix_dim=V.shape[1], oversampling=len(ids) // K + 1,
        metric="cosine", vector_col="embedding", id_col="vec_id").collect()]
    assert full == [r.vec_id for r in knn(
        df, qv, K, "cosine", "embedding", "vec_id").collect()]


def test_collection_search_quantization_config(spark, catalog, emb_np):
    """Bindings surface: Collection.search(quantization=..., oversampling=...)
    — the reference's search_with_config (dual_precision.rs:260-282)."""
    from velesdb_spark.database import Collection

    ids, V = emb_np
    qv = _qv(V.shape[1], 0.81)
    col = Collection(spark, "emb", metric="cosine",
                     df=catalog.resolve("embeddings").df,
                     vector_col="embedding", id_col="vec_id")
    dual = [r.vec_id for r in col.search(qv, K, quantization="dual").collect()]
    assert dual == _dual_truth(ids, V, qv, K, 4)
    approx = _cos(_sq8_roundtrip(V), np.array(qv))
    want8 = [int(ids[i]) for i in sorted(
        range(len(ids)), key=lambda i: (-approx[i], ids[i]))[:K]]
    got8 = [r.vec_id for r in col.search(qv, K, quantization="sq8").collect()]
    assert got8 == want8
    exact = [r.vec_id for r in col.search(qv, K).collect()]
    assert [r.vec_id for r in col.search(qv, K, quantization="auto")
            .collect()] == exact


# -------------------------------------------------------- introspection

def test_with_hint_introspection():
    p = VelesQL.parse(
        "SELECT * FROM docs WHERE similarity(embedding, [0.1, 0.2]) > 0.8 "
        "WITH (quantization = 'dual', oversampling = 8, ef_search = 200, "
        "mode = 'fast', rerank = TRUE, timeout_ms = 500)")
    assert p.quantization == "dual"
    assert p.oversampling == 8
    assert p.ef_search == 200
    assert p.search_mode == "fast"
    assert p.rerank is True
    assert p.timeout_ms == 500
    assert p.with_option("QUANTIZATION") == "dual"  # case-insensitive key


def test_quantization_aliases_and_invalid():
    from velesdb_spark.functions.quantization import parse_quantization_mode

    assert parse_quantization_mode("SQ8") == "int8"
    assert parse_quantization_mode("hybrid") == "dual"
    assert parse_quantization_mode("Full") == "f32"
    assert parse_quantization_mode("default") == "auto"
    assert parse_quantization_mode("bogus") is None
    assert parse_quantization_mode(7) is None
    p = VelesQL.parse("SELECT * FROM docs WITH (quantization = 'bogus')")
    assert p.quantization is None  # unknown mode → no hint, like parse()=None


def test_oversampling_clamped_to_one():
    p = VelesQL.parse("SELECT * FROM docs WITH (oversampling = 0)")
    assert p.oversampling == 1


def test_detect_query_type_routing():
    assert VelesQL.parse(
        "MATCH (a:Person)-[:KNOWS]->(b) RETURN b").query_type() == "graph"
    assert VelesQL.parse(
        "SELECT COUNT(*) FROM docs").query_type() == "aggregation"
    assert VelesQL.parse(
        "SELECT category FROM docs GROUP BY category").query_type() \
        == "aggregation"
    assert VelesQL.parse(
        "SELECT * FROM docs WHERE similarity(embedding, [0.1]) > 0.5"
    ).query_type() == "search"
    assert VelesQL.parse(
        "SELECT * FROM docs WHERE price > 10").query_type() == "rows"


def test_explain_shows_quantization_nodes():
    from velesdb_spark.plans.explain import plan_tree
    from velesdb_spark.velesql.parser import parse

    dual = plan_tree(parse(
        "SELECT * FROM docs WHERE vector NEAR [0.1] LIMIT 5 "
        "WITH (quantization='dual', oversampling=8)"))
    assert "quantization=dual" in dual and "pool=k*8" in dual \
        and "f32 rerank" in dual
    i8 = plan_tree(parse(
        "SELECT * FROM docs WHERE vector NEAR [0.1] LIMIT 5 "
        "WITH (quantization='int8')"))
    assert "quantization=int8" in i8 and "approximate=true" in i8
    plain = plan_tree(parse(
        "SELECT * FROM docs WHERE vector NEAR [0.1] LIMIT 5"))
    assert "exact=true" in plain and "quantization" not in plain


def test_auto_quantization_decision_rule(spark):
    """'auto' applies should_quantize (config.rs:250-253) + the dual
    min-index-size: dual ≥ 10k vectors, exact below; the count is cached
    and invalidated on mutation."""
    from pyspark.sql import functions as SF

    from velesdb_spark.database import Collection

    big = spark.range(1, 12_001).select(
        F.col("id"),
        F.array(*[SF.sin(F.col("id") * (0.1 * (j + 1)))
                  .cast("float") for j in range(8)]).alias("vector"))
    col = Collection(spark, "bigauto", dimension=8, df=big)
    qv = [0.5] * 8
    auto = [r.id for r in col.search(qv, 5, quantization="auto").collect()]
    dual = [r.id for r in col.search(qv, 5, quantization="dual").collect()]
    assert auto == dual
    assert col._n_cached == 12_000  # decision used the cached count
    # small collection: auto == exact (covered structurally here too)
    small = Collection(spark, "smallauto", dimension=8, df=big.limit(50))
    a2 = [r.id for r in small.search(qv, 5, quantization="auto").collect()]
    e2 = [r.id for r in small.search(qv, 5).collect()]
    assert a2 == e2
