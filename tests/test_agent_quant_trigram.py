"""Agent memory layers (agent/mod.rs, ttl.rs, temporal_index.rs),
quantization (quantization.rs), trigram fuzzy search (index/trigram), and
the score_fusion Minimum/Product strategies."""

import math

import pytest
from pyspark.sql import functions as F


# ------------------------------------------------------------- agent memory

def test_agent_memory_ttl_and_temporal(spark, tmp_path):
    from velesdb_spark.agent import AgentMemory

    mem = AgentMemory(spark, dimension=4)
    t0 = 1000.0
    mem.remember("episodic", [
        {"id": 1, "vector": [1.0, 0.0, 0.0, 0.0], "_ts": t0},
        {"id": 2, "vector": [0.0, 1.0, 0.0, 0.0], "_ts": t0 + 10},
        {"id": 3, "vector": [0.9, 0.1, 0.0, 0.0], "_ts": t0 + 20},
    ], now=t0)
    mem.remember("episodic", [{"id": 4, "vector": [1.0, 0.0, 0.0, 0.0]}],
                 ttl_seconds=5.0, now=t0)

    # TTL: id 4 visible before expiry, gone after
    ids_before = {r.id for r in mem.recall("episodic", [1, 0, 0, 0], 10, now=t0 + 1).collect()}
    ids_after = {r.id for r in mem.recall("episodic", [1, 0, 0, 0], 10, now=t0 + 6).collect()}
    assert 4 in ids_before and 4 not in ids_after

    # nearest non-expired neighbor of [1,0,0,0] after expiry is id 1
    top = mem.recall("episodic", [1, 0, 0, 0], 1, now=t0 + 6).collect()[0]
    assert top.id == 1

    # temporal range recall: [t0+5, t0+15) → only id 2
    rng = mem.recall_temporal("episodic", t0 + 5, t0 + 15, now=t0 + 1)
    assert [r.id for r in rng.collect()] == [2]

    # eviction sweep removes expired rows physically
    mem.forget_expired(now=t0 + 6)
    assert mem.layers["episodic"].count() == 3

    # snapshot / restore round-trip
    path = str(tmp_path / "mem")
    mem.snapshot(path)
    back = AgentMemory.restore(spark, path, dimension=4)
    assert back.layers["episodic"].count() == 3
    assert back.recall("episodic", [1, 0, 0, 0], 1, now=t0 + 6).collect()[0].id == 1


def test_agent_memory_unknown_layer(spark):
    from velesdb_spark.agent import AgentMemory

    with pytest.raises(ValueError, match="unknown memory layer"):
        AgentMemory(spark).remember("working", [{"id": 1}])


# ------------------------------------------------------------- quantization

def test_sq8_round_trip_error_bound(spark):
    from velesdb_spark.functions.quantization import sq8_dequantize, sq8_quantize

    import numpy as np
    rng = np.random.RandomState(0)
    rows = [(i, [float(x) for x in rng.randn(16)]) for i in range(50)]
    df = spark.createDataFrame(rows, "id bigint, v array<float>")
    out = df.select(
        "id", "v", sq8_dequantize(sq8_quantize(F.col("v"))).alias("vd")).collect()
    for r in out:
        scale = (max(r.v) - min(r.v)) / 255.0
        for a, b in zip(r.v, r.vd):
            assert abs(a - b) <= scale / 2 + 1e-9


def test_binary_quantize_packed_hamming(spark):
    from velesdb_spark.functions.quantization import binary_quantize, packed_hamming

    rows = [
        (1, [1.0, -1.0, 2.0, -0.5] * 20),   # 80 dims → 2 words
        (2, [1.0, 1.0, 2.0, -0.5] * 20),
        (3, [-1.0, -1.0, -2.0, -0.5] * 20),
    ]
    df = spark.createDataFrame(rows, "id bigint, v array<float>")
    q = df.select("id", binary_quantize(F.col("v"), 80).alias("bits"))
    a = q.alias("a"); b = q.alias("b")
    d = (a.crossJoin(b)
         .select(F.col("a.id").alias("ia"), F.col("b.id").alias("ib"),
                 packed_hamming(F.col("a.bits"), F.col("b.bits")).alias("h"))
         .collect())
    got = {(r.ia, r.ib): r.h for r in d}
    # reference sign-bit hamming computed in python
    import numpy as np
    sign = {i: np.array(v) > 0 for i, v in rows}
    for (ia, ib), h in got.items():
        assert h == int((sign[ia] != sign[ib]).sum())


# ------------------------------------------------------------- trigram

def test_trigram_fuzzy_ranked(spark):
    from velesdb_spark.functions.trigram import _py_trigrams, search_like_ranked

    df = spark.createDataFrame(
        [(1, "duplicate detection"), (2, "deduplication"),
         (3, "quick brown fox"), (4, "ab")],
        "id bigint, text string")
    got = [(r.id, round(r.score, 6))
           for r in search_like_ranked(df, "duplicat detecton", 4).collect()]

    def jac(a, b):
        a, b = set(_py_trigrams(a)), set(_py_trigrams(b))
        return len(a & b) / len(a | b) if a | b else 0.0

    want = sorted(
        [(i, round(jac(t, "duplicat detecton"), 6))
         for i, t in [(1, "duplicate detection"), (2, "deduplication"),
                      (3, "quick brown fox"), (4, "ab")]
         if jac(t, "duplicat detecton") > 0],
        key=lambda x: (-x[1], x[0]))
    assert got == want


# ------------------------------------------------------------- fusion

def test_fuse_minimum_product(spark):
    from velesdb_spark.functions.fusion import fuse

    rows = [("q1", 1, 0.5), ("q2", 1, 0.8), ("q1", 2, -0.5), ("q2", 2, 0.4),
            ("q1", 3, 0.0), ("q2", 3, 0.9)]
    df = spark.createDataFrame(rows, "qid string, id bigint, score double")

    mn = {r.id: r.score for r in fuse("minimum", df).collect()}
    assert mn == {1: 0.5, 2: -0.5, 3: 0.0}

    pr = {r.id: r.score for r in fuse("product", df).collect()}
    assert math.isclose(pr[1], 0.4, rel_tol=1e-9)
    assert math.isclose(pr[2], -0.2, rel_tol=1e-9)
    assert pr[3] == 0.0


def test_collection_explain(catalog, spark):
    """EXPLAIN surface (velesql/explain.rs → translation plan + df.explain)."""
    from velesdb_spark.database import Collection

    info = catalog.resolve("orders")
    coll = Collection(spark, "orders", df=info.df, id_col="o_orderkey")
    txt = coll.explain("SELECT o_orderkey FROM orders "
                       "WHERE o_totalprice > 1000.0 LIMIT 5")
    assert "o_totalprice" in txt  # plan mentions the pushed predicate


# ------------------------------------------------------------- persistence

def test_lsh_index_save_load(spark, tmp_path):
    import numpy as np

    from velesdb_spark.functions.similarity import LshIndex

    rng = np.random.RandomState(9)
    rows = [(i, [float(round(x, 4)) for x in rng.randn(8)]) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    q = [float(round(x, 4)) for x in rng.randn(8)]

    idx = LshIndex(df, "embedding", "vec_id", nbits=4)
    want = [(r.vec_id, round(r.score, 9)) for r in idx.search(q, 5, 2).collect()]

    path = str(tmp_path / "lshidx")
    idx.save(path)
    back = LshIndex.load(spark, path, "embedding", "vec_id", nbits=4)
    got = [(r.vec_id, round(r.score, 9)) for r in back.search(q, 5, 2).collect()]
    assert got == want


def test_multi_query_search_strategies(spark):
    import numpy as np

    from velesdb_spark.database import Collection

    rng = np.random.RandomState(21)
    rows = [{"id": i, "vector": [float(round(x, 4)) for x in rng.randn(6)]}
            for i in range(40)]
    coll = Collection(spark, "c", dimension=6).upsert(rows)
    q1 = [float(round(x, 4)) for x in rng.randn(6)]
    q2 = [float(round(x, 4)) for x in rng.randn(6)]

    got = {r.id: round(r.score, 9)
           for r in coll.multi_query_search([q1, q2], 5, "average").collect()}

    # NumPy oracle: average of cosines over per-query top-(2k) candidates
    def cos(v, q):
        v, q = np.array(v, dtype=np.float32).astype(float), np.asarray(q)
        n = np.linalg.norm(v) * np.linalg.norm(q)
        return float(v @ q / n) if n else 0.0

    per_q = []
    for q in (q1, q2):
        scored = sorted(((cos(r["vector"], q), r["id"]) for r in rows),
                        key=lambda t: (-t[0], t[1]))[:10]
        per_q.append({i: s for s, i in scored})
    allids = set(per_q[0]) | set(per_q[1])
    fused = {}
    for i in allids:
        vals = [d[i] for d in per_q if i in d]
        fused[i] = sum(vals) / len(vals)
    want_ids = sorted(fused, key=lambda i: (-fused[i], i))[:5]
    assert sorted(got) == sorted(want_ids)
    for i in got:
        assert abs(got[i] - fused[i]) < 1e-6


def test_review_fixes(spark, tmp_path):
    """Regression cover for review findings: empty knn batch, short-string
    trigrams, restore error propagation."""
    import numpy as np
    import pytest as pt
    from pyspark.sql import functions as FF

    from velesdb_spark.agent import AgentMemory
    from velesdb_spark.functions.trigram import trigram_set
    from velesdb_spark.operators.topk import knn_batch

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "id bigint, vector array<float>")
    out = knn_batch(df, [], 5)
    assert out.columns == ["qid", "id", "score"] and out.count() == 0

    tri = spark.createDataFrame(
        [(1, "ab"), (2, ""), (3, "abc")], "id bigint, t string")
    got = {r.id: sorted(r.g) for r in
           tri.select("id", trigram_set(FF.col("t")).alias("g")).collect()}
    assert got[1] == [] and got[2] == [] and got[3] == ["abc"]

    mem = AgentMemory(spark, dimension=2)
    mem.remember("semantic", [{"id": 1, "vector": [1.0, 0.0]}], now=0.0)
    p = str(tmp_path / "snap")
    mem.snapshot(p)
    back = AgentMemory.restore(spark, p, dimension=2)
    assert back.layers["semantic"].count() == 1  # others missing → empty, no raise
    # corrupt file must raise, not silently restore empty
    bad = tmp_path / "snap2" / "episodic"
    bad.mkdir(parents=True)
    (bad / "part-0000.parquet").write_bytes(b"not a parquet file")
    with pt.raises(Exception):
        AgentMemory.restore(spark, str(tmp_path / "snap2")) \
            .layers["episodic"].count()


def test_plan_tree_shapes():
    """velesql/explain.rs plan-node parity at the translation level."""
    from velesdb_spark.plans.explain import plan_tree
    from velesdb_spark.velesql.parser import parse

    p1 = plan_tree(parse("SELECT * FROM t WHERE vector NEAR $v AND x > 1 "
                         "ORDER BY x LIMIT 10 OFFSET 5"))
    for node in ["TableScan", "VectorSearch", "Filter", "Offset(5)", "Limit(10)"]:
        assert node in p1, p1

    p2 = plan_tree(parse("SELECT id FROM t WHERE body MATCH 'x'"))
    assert "IndexLookup(bm25" in p2

    p3 = plan_tree(parse("MATCH (a:L)-[:R*1..3]->(b) WHERE similarity(a.v, $q) > 0.5 "
                         "RETURN b.id LIMIT 10"))
    assert "MatchTraversal" in p3 and "VectorFirst" in p3 and "var_length=true" in p3

    p4 = plan_tree(parse("SELECT a FROM t UNION SELECT a FROM u"))
    assert "Sequence(setop=union" in p4


def test_count_col_nulls_and_default_names(spark):
    """COUNT(col) skips nulls (aggregator.rs); default output-name
    convention count/sum_x/avg_x (aggregation.rs:271-289)."""
    from velesdb_spark.velesql.translator import Catalog, translate

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", None), (3, "b", 5.0), (4, "b", 7.0)],
        "id bigint, g string, v double")
    cat = Catalog()
    cat.register("t", df)
    out = translate("SELECT g, COUNT(*), COUNT(v), SUM(v), AVG(v) FROM t "
                    "GROUP BY g ORDER BY g", cat)
    # default name convention
    assert out.columns == ["g", "count", "count_v", "sum_v", "avg_v"]
    rows = {r.g: r for r in out.collect()}
    assert rows["a"]["count"] == 2 and rows["a"].count_v == 1
    assert rows["a"].sum_v == 10.0
    assert rows["b"].avg_v == 6.0


def test_like_escapes(spark):
    r"""\% and \_ escapes match literal wildcard chars (filter/matching.rs)."""
    from velesdb_spark.velesql.translator import Catalog, translate

    df = spark.createDataFrame(
        [(1, "100%"), (2, "100x"), (3, "a_b"), (4, "axb")],
        "id bigint, s string")
    cat = Catalog()
    cat.register("t", df)
    got = [r.id for r in translate(
        r"SELECT id FROM t WHERE s LIKE '100\%' ORDER BY id LIMIT 100", cat).collect()]
    assert got == [1]
    got2 = [r.id for r in translate(
        r"SELECT id FROM t WHERE s LIKE 'a\_b' ORDER BY id LIMIT 100", cat).collect()]
    assert got2 == [3]


def test_explain_sql_syntax(catalog):
    """EXPLAIN <query> through the VelesQL string entry point."""
    from velesdb_spark.velesql.translator import translate

    out = translate("EXPLAIN SELECT o_orderkey FROM orders "
                    "WHERE o_totalprice > 100.0 LIMIT 5", catalog)
    assert out.columns == ["plan"]
    text = out.collect()[0].plan
    assert "TableScan" in text and "Limit(5)" in text and "Catalyst" in text


def test_lsh_prunes_candidate_set(spark):
    """The ANN scale path must probe a small fraction of the table: with
    8-bit hyperplane buckets, a 2-probe query scans ~3/256 of the rows."""
    import numpy as np

    from velesdb_spark.functions.similarity import LshIndex

    rng = np.random.RandomState(11)
    rows = [(i, [float(round(x, 4)) for x in rng.randn(16)]) for i in range(5000)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    idx = LshIndex(df, "embedding", "vec_id", nbits=8)
    q = [float(round(x, 4)) for x in rng.randn(16)]
    buckets = idx._query_buckets(q, multiprobe=2)
    n_cand = idx.bucketed.filter(F.col("_bucket").isin(buckets)).count()
    assert 0 < n_cand < 5000 * 0.10  # scans < 10% of the table
    assert len(idx.search(q, 5, multiprobe=2).collect()) <= 5


def test_validation_errors(catalog):
    """Validation parity (velesql/validation.rs, aggregation.rs:144-149):
    clear errors for HAVING without GROUP BY, unknown fusion strategy,
    non-grouped projection; MAX_LIMIT capped not errored."""
    from velesdb_spark.velesql.parser import MAX_LIMIT, VelesQLSyntaxError
    from velesdb_spark.velesql.translator import TranslationError, translate

    with pytest.raises((TranslationError, VelesQLSyntaxError)):
        translate("SELECT o_custkey FROM orders HAVING COUNT(*) > 5", catalog)

    with pytest.raises(TranslationError, match="unknown fusion"):
        translate("SELECT vec_id FROM embeddings WHERE vector NEAR_FUSED "
                  "[$a] USING FUSION 'bogus' LIMIT 5", catalog,
                  {"a": [0.0] * 64})

    with pytest.raises(TranslationError, match="GROUP BY"):
        translate("SELECT o_clerk, COUNT(*) AS n FROM orders "
                  "GROUP BY o_custkey LIMIT 5", catalog)

    # LIMIT above MAX_LIMIT is capped, not an error (query/mod.rs:60-61)
    out = translate(f"SELECT o_orderkey FROM orders LIMIT {MAX_LIMIT * 10}",
                    catalog)
    assert out.count() <= MAX_LIMIT


def test_explain_analyze(catalog):
    """EXPLAIN ANALYZE carries OBSERVED execution statistics (round-8
    verdict #8, mirroring explain.rs ExplainAnalyzeStats): the row count
    comes from an Observation flowing through the executed plan, and the
    per-operator SQLMetrics (numOutputRows etc.) from the final AQE plan
    appear as an operator-metrics section."""
    from velesdb_spark.velesql.translator import translate

    text = translate("EXPLAIN ANALYZE SELECT o_orderkey FROM orders "
                     "WHERE o_totalprice > 100.0 LIMIT 7", catalog) \
        .collect()[0].plan
    assert "-- ANALYZE (observed) --" in text and "rows: 7" in text
    assert "elapsed_ms:" in text
    assert "-- operator metrics --" in text
    assert "numOutputRows=" in text
    # aggregation shape: the scan's observed rows exceed the output's
    text2 = translate(
        "EXPLAIN ANALYZE SELECT c_nationkey, COUNT(*) AS n FROM customer "
        "GROUP BY c_nationkey", catalog).collect()[0].plan
    assert "rows: 25" in text2
    assert "Scan parquet" in text2 and "numOutputRows=" in text2


# ------------------------------------------------------------- reinforcement


def test_reinforcement_strategy_formulas():
    """Each strategy reproduces reinforcement.rs's arithmetic exactly."""
    import math

    from velesdb_spark import agent as A

    ctx0 = A.ReinforcementContext(usage_count=0, last_used=100.0, now=100.0)
    fr = A.FixedRate()
    assert fr.update_confidence(0.5, True, ctx0) == pytest.approx(0.6)
    assert fr.update_confidence(0.5, False, ctx0) == pytest.approx(0.45)
    assert fr.update_confidence(0.98, True, ctx0) == 1.0       # clamped
    assert fr.update_confidence(0.02, False, ctx0) == 0.0

    ad = A.AdaptiveLearningRate()
    assert ad.rate_multiplier(0) == pytest.approx(1.0)
    assert ad.rate_multiplier(10) == pytest.approx(0.5)        # half-life
    assert ad.rate_multiplier(1000) == pytest.approx(0.1)      # floor
    ctx10 = A.ReinforcementContext(usage_count=10, last_used=0, now=0)
    assert ad.update_confidence(0.5, True, ctx10) == pytest.approx(0.6)

    td = A.TemporalDecay(decay_half_life=100.0)
    stale = A.ReinforcementContext(last_used=0.0, now=1000.0)
    # decay capped at max_decay_per_update
    assert td.decay_factor(stale.time_since_last_use()) == pytest.approx(0.1)
    assert td.update_confidence(1.0, True, stale) == pytest.approx(1.0)
    assert td.update_confidence(0.5, False, stale) == pytest.approx(0.4)

    cr = A.ContextualReinforcement()
    fresh = A.ReinforcementContext(usage_count=0, last_used=100, now=100)
    score = 0.4 * 1.0 + 0.3 * 0.0 + 0.3 * 0.5
    want = 0.5 + 0.15 * (0.5 + score)
    assert cr.update_confidence(0.5, True, fresh) == pytest.approx(want)
    # failure learns at half rate
    want_f = 0.5 - 0.15 * (0.5 + score) * 0.5
    assert cr.update_confidence(0.5, False, fresh) == pytest.approx(want_f)

    comp = A.CompositeStrategy().add_strategy(A.FixedRate(), 1.0) \
        .add_strategy(A.FixedRate(0.3, 0.3), 3.0)
    got = comp.update_confidence(0.5, True, ctx0)
    assert got == pytest.approx((0.6 * 1.0 + 0.8 * 3.0) / 4.0)


def test_procedural_memory_learn_recall_reinforce(spark):
    from velesdb_spark import agent as A

    mem = A.AgentMemory(spark, dimension=4)
    pm = A.ProceduralMemory(mem, strategy=A.FixedRate())
    pm.learn(1, "deploy", ["build", "test", "ship"], [1.0, 0.0, 0.0, 0.0],
             confidence=0.5, now=1000.0)
    pm.learn(2, "rollback", ["halt", "revert"], [0.0, 1.0, 0.0, 0.0],
             confidence=0.9, now=1000.0)

    got = pm.recall([1.0, 0.1, 0.0, 0.0], k=2, now=1001.0).collect()
    assert [r.id for r in got] == [1, 2]   # cosine order
    assert got[0].steps == ["build", "test", "ship"]

    # min_confidence filters
    low = pm.recall([1.0, 0.1, 0.0, 0.0], k=2, min_confidence=0.8,
                    now=1001.0).collect()
    assert [r.id for r in low] == [2]

    # reinforce: success bumps confidence + usage, failure decrements
    assert pm.reinforce(1, True, now=1002.0) == pytest.approx(0.6)
    assert pm.reinforce(1, False, now=1003.0) == pytest.approx(0.55)
    row = mem.layers["procedural"].get(1)
    assert row["usage_count"] == 2 and row["last_used"] == 1003.0

    out = pm.reinforce_batch({1: True, 2: False}, now=1004.0)
    assert out[1] == pytest.approx(0.65) and out[2] == pytest.approx(0.85)

    with pytest.raises(KeyError):
        pm.reinforce(99, True)


def test_ann_index_scans_prune_partitions(spark, tmp_path):
    """A probe over a SAVED index must read only its buckets'/lists'
    partitions — the physical plan shows partition filters on the bucket
    column, which is what makes a query touch one shard of a 100 TB
    index instead of scanning it."""
    import numpy as np

    from velesdb_spark.functions.similarity import IvfIndex, LshIndex

    rng = np.random.RandomState(13)
    rows = [(i, [float(round(x, 4)) for x in rng.randn(8)])
            for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    q = [float(round(x, 4)) for x in rng.randn(8)]

    lsh = LshIndex(df, "embedding", "vec_id", nbits=4)
    lsh.save(str(tmp_path / "lsh"))
    back = LshIndex.load(spark, str(tmp_path / "lsh"), "embedding",
                         "vec_id", nbits=4)
    plan = back.search(q, 5, 2)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_bucket" in plan
    pf_line = next(ln for ln in plan.splitlines() if "PartitionFilters" in ln)
    assert "_bucket" in pf_line and "[]" not in pf_line.split("PartitionFilters:")[1][:6]

    ivf = IvfIndex(df, "embedding", "vec_id", n_centroids=4)
    ivf.save(str(tmp_path / "ivf"))
    back_ivf = IvfIndex.load(spark, str(tmp_path / "ivf"), "embedding",
                             "vec_id")
    plan2 = back_ivf.search(q, 5, nprobe=2) \
        ._jdf.queryExecution().executedPlan().toString()
    pf2 = next(ln for ln in plan2.splitlines() if "PartitionFilters" in ln)
    assert "_list" in pf2 and "[]" not in pf2.split("PartitionFilters:")[1][:6]
