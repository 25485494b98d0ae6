"""One SQL-expression builder (functions/sqlexpr.py): every column name,
string and double is spelled into the parsed SQL, so non-finite query
vectors, names that need quoting and helper-column clashes all go through
the same expressions as the plain case."""

import math

import pytest
from pyspark.sql import functions as F

from tests.test_bm25 import ref_bm25
from velesdb_spark.functions import distance as D
from velesdb_spark.functions import fusion
from velesdb_spark.functions.bm25 import bm25_scan_scores
from velesdb_spark.functions.sqlexpr import (double_array_lit, double_lit,
                                             ident, str_lit)
from velesdb_spark.functions.staging import release_staged
from velesdb_spark.operators import topk
from velesdb_spark.velesql.translator import Catalog, translate

# each name needs a backtick, a space and a dot quoted
WEIRD_ID = "i`d c.x"
WEIRD_VEC = "v`e c.x"
WEIRD_TXT = "t`x c.x"
WEIRD_QID = "q`i d.x"
WEIRD_SCORE = "s`c o.x"
WEIRD_LABEL = "O'Re\\il ly"


def _same(a, b):
    """NaN-aware float equality."""
    if a is None or b is None:
        return a is b
    return (math.isnan(a) and math.isnan(b)) or a == b


def test_spellings(spark):
    assert ident("a") == "`a`"
    assert ident(WEIRD_ID) == "`i``d c.x`"
    assert str_lit("it's a \\p") == "'it\\'s a \\\\p'"
    assert double_lit(0.1) == "0.1D"
    assert double_lit(float("inf")) == "CAST('Infinity' AS DOUBLE)"
    row = spark.range(1).selectExpr(
        f"{str_lit(WEIRD_LABEL)} AS s", f"{double_lit(float('nan'))} AS n",
        f"{double_lit(float('inf'))} AS p",
        f"{double_lit(float('-inf'))} AS m", f"{double_lit(-0.0)} AS z",
        "1 AS " + ident(WEIRD_ID)).first()
    assert row.s == WEIRD_LABEL and math.isnan(row.n)
    assert row.p == math.inf and row.m == -math.inf
    assert math.copysign(1.0, row.z) == -1.0
    assert row[WEIRD_ID] == 1


# ---------------------------------------- non-finite / overflowing queries

@pytest.fixture(scope="module")
def vecs(spark):
    rows = [(i, [float((i * 7 + j) % 5 - 2) for j in range(4)])
            for i in range(12)]
    rows.append((12, [0.0] * 4))  # zero-norm doc row
    rows.append((13, [1e38, -1e38, 2.0, 0.5]))
    return spark.createDataFrame(rows, "id bigint, vector array<double>") \
        .selectExpr("id", "cast(vector as array<float>) as vector")


@pytest.mark.parametrize("q", [
    [math.inf, 1.0, 0.5, -2.0],
    [math.nan] * 4,
    [1e308, 1e308, 0.0, 0.0],
    [1e308, 1e308],
], ids=["inf", "nan", "overflow4", "overflow2"])
def test_staged_cosine_non_finite_query(spark, vecs, q):
    df = vecs.selectExpr("id", f"slice(vector, 1, {len(q)}) AS vector")
    want = {r.id: r.s for r in df.select(
        "id", D.metric_score(F.col("vector"), double_array_lit(q),
                             "cosine").alias("s")).collect()}
    one = {r.id: r.s for r in D.staged_score(
        df, "vector", q, "cosine", "s").collect()}
    batch = D.staged_scores_batch(
        df.withColumn("_n2", D.doc_norm2("vector")), "vector",
        [q, [1.0] * len(q)], "cosine", ["s", "s1"], norm2_col="_n2")
    many = {r.id: r.s for r in batch.collect()}
    assert set(one) == set(many) == set(want)
    for i in want:
        assert _same(one[i], want[i]), (i, one[i], want[i])
        assert _same(many[i], want[i]), (i, many[i], want[i])


# ------------------------------------------------------ existing _rank

def test_with_rank_replaces_existing_rank(spark):
    rows = [(0, 1, 0.9, 7), (0, 2, 0.5, 7), (1, 2, 0.8, 7), (1, 3, 0.7, 7)]
    res = spark.createDataFrame(rows, "qid int, id int, score double, "
                                      "_rank int")
    ranked = fusion.with_rank(res)
    assert ranked.columns.count("_rank") == 1
    assert {(r.qid, r.id): r._rank for r in ranked.collect()} == {
        (0, 1): 0, (0, 2): 1, (1, 2): 0, (1, 3): 1}
    got = {r.id: r.score for r in fusion.fuse_rrf(res).collect()}
    assert got == pytest.approx({1: 1 / 61, 2: 1 / 62 + 1 / 61, 3: 1 / 62})
    hyb = {r.id: r.score for r in
           fusion.fuse_hybrid_rrf(res, {0: 2.0}).collect()}
    assert hyb == pytest.approx({1: 2 / 60, 2: 2 / 61 + 1 / 60, 3: 1 / 61})


# ---------------------------------------------------- names that need quotes

def _knn(spark, vecs, weird):
    idc, vc = (WEIRD_ID, WEIRD_VEC) if weird else ("id", "vector")
    df = vecs.select(F.col("id").alias(idc), F.col("vector").alias(vc))
    out = topk.knn(df, [1.0, -1.0, 0.5, 2.0], k=5, vector_col=vc, id_col=idc)
    return [(r[idc], r.score) for r in out.collect()]


def _knn_batch(spark, vecs, weird):
    idc, vc = (WEIRD_ID, WEIRD_VEC) if weird else ("id", "vector")
    df = vecs.select(F.col("id").alias(idc), F.col("vector").alias(vc))
    out = topk.knn_batch(df, [(0, [1.0, -1.0, 0.5, 2.0]),
                              (1, [0.0, 2.0, 1.0, -1.0])],
                         k=3, vector_col=vc, id_col=idc)
    return sorted((r.qid, r[idc], r.score) for r in out.collect())


BM25_DOCS = {1: "rust programming language for systems",
             2: "python programming for data science",
             3: "it's rust, rust all the way",
             4: "programming languages: rust, python, go",
             5: ""}


def _bm25(spark, vecs, weird):
    idc, tc = (WEIRD_ID, WEIRD_TXT) if weird else ("id", "text")
    df = spark.createDataFrame(list(BM25_DOCS.items()),
                               "id bigint, text string") \
        .select(F.col("id").alias(idc), F.col("text").alias(tc))
    query = "rust programming it's"
    got = {r[idc]: r._bm25_score for r in
           bm25_scan_scores(df, query, id_col=idc, text_col=tc).collect()}
    release_staged()
    want = ref_bm25(BM25_DOCS, query)
    assert got == pytest.approx(want, rel=1e-12)
    return sorted(got.items())


RANKED = [("v", 1, 0.9), ("v", 2, 0.5), ("v", 3, 0.4),
          ("t", 2, 3.0), ("t", 4, 2.0), ("t", 1, 2.0)]


def _ranked(spark, weird):
    qc, idc, sc = ((WEIRD_QID, WEIRD_ID, WEIRD_SCORE) if weird
                   else ("qid", "id", "score"))
    df = spark.createDataFrame(RANKED, "qid string, id bigint, score double")
    return df.select(F.col("qid").alias(qc), F.col("id").alias(idc),
                     F.col("score").alias(sc)), (qc, idc, sc)


def _fuse_rrf(spark, vecs, weird):
    df, (qc, idc, sc) = _ranked(spark, weird)
    out = fusion.fuse_rrf(df, qid_col=qc, id_col=idc, score_col=sc)
    return sorted((r[idc], r.score) for r in out.collect())


def _fuse_hybrid_rrf(spark, vecs, weird):
    df, (qc, idc, sc) = _ranked(spark, weird)
    out = fusion.fuse_hybrid_rrf(df, {"v": 0.7, "t": 1.5}, qid_col=qc,
                                 id_col=idc, score_col=sc)
    plain = fusion.fuse_hybrid_rrf(df, None, qid_col=qc, id_col=idc,
                                   score_col=sc)
    return (sorted((r[idc], r.score) for r in out.collect()),
            sorted((r[idc], r.score) for r in plain.collect()))


def _match(spark, vecs, weird):
    label = WEIRD_LABEL if weird else "Person"
    nodes = spark.createDataFrame(
        [(1, [label], "alice", 1.5), (2, ["Doc"], "d2", 2.5),
         (3, [label], "carol", 3.5), (4, ["Doc"], "d4", 4.5)],
        "id bigint, labels array<string>, name string, extra double")
    if weird:
        nodes = nodes.withColumnRenamed("extra", WEIRD_VEC)
    edges = spark.createDataFrame(
        [(10, 1, 2, "KNOWS"), (11, 3, 4, "KNOWS"), (12, 2, 3, "KNOWS")],
        "id bigint, src bigint, dst bigint, label string")
    cat = Catalog()
    cat.register("nodes", nodes)
    cat.register("edges", edges)
    qlabel = "`" + label + "`"
    out = translate(f"MATCH (a:{qlabel})-[:KNOWS]->(b) "
                    "RETURN a.name AS a, b.name AS b", cat)
    return sorted((r.a, r.b) for r in out.collect())


@pytest.mark.parametrize("run", [_knn, _knn_batch, _bm25, _fuse_rrf,
                                 _fuse_hybrid_rrf, _match],
                         ids=["knn", "knn_batch", "bm25_scan_scores",
                              "fuse_rrf", "fuse_hybrid_rrf", "match"])
def test_quoted_names_match_plain_names(spark, vecs, run):
    plain = run(spark, vecs, False)
    assert plain
    assert run(spark, vecs, True) == plain
