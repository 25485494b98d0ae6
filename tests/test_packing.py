"""Training-data assembly: sequence packing and cross-document span dedup
(functions/packing.py), plus the IVF top-k similarity join
(functions/similarity.py ivf_topk_join). Closed-form operators are checked
against a driver-side Python recomputation; the IVF join is checked against
the exact brute join at nprobe == n_centroids."""

import pytest
from pyspark.sql import functions as F

from velesdb_spark.functions import packing as pk
from velesdb_spark.functions.similarity import (cosine_topk_join,
                                                ivf_topk_join)


@pytest.fixture(scope="module")
def docs(catalog):
    return catalog.resolve("documents").df


# ---------------------------------------------------------------- packing

def test_pack_sequences_closed_form(spark):
    rows = [(i, "tok " * (10 * (i % 5 + 1))) for i in range(40)]
    df = spark.createDataFrame(rows, "id bigint, text string")
    got = pk.pack_sequences(df, budget=64, n_shards=4).collect()
    assert len(got) == 40  # every document assigned exactly once
    # recompute shard-local exclusive cumsums in Python
    by_shard = {}
    for r in sorted(got, key=lambda r: (r.shard, r.doc_id)):
        run = by_shard.get(r.shard, 0)
        assert r.tok_start == run
        assert r.pack_id == run // 64
        by_shard[r.shard] = run + r.n_tokens
    # tokens are conserved
    assert sum(r.n_tokens for r in got) == sum(10 * (i % 5 + 1)
                                               for i in range(40))


def test_dedup_spans_paragraph(spark):
    rows = [
        (1, "alpha one\n\nshared paragraph here\n\nbeta two"),
        (2, "shared paragraph here\n\ngamma three"),
        (3, "delta four"),
    ]
    df = spark.createDataFrame(rows, "id bigint, text string")
    out = {r.doc_id: r for r in
           pk.dedup_spans(df, mode="paragraph").collect()}
    assert out[1].text == "alpha one\n\nshared paragraph here\n\nbeta two"
    assert out[1].n_spans == 3 and out[1].n_kept == 3
    # doc 2 loses the span doc 1 already owns, keeps its own
    assert out[2].text == "gamma three"
    assert out[2].n_spans == 2 and out[2].n_kept == 1
    assert out[3].text == "delta four"


def test_dedup_spans_token_block_exact_dup(spark):
    body = " ".join(f"w{i}" for i in range(30))
    rows = [(1, body), (2, body), (3, "unique text entirely")]
    df = spark.createDataFrame(rows, "id bigint, text string")
    out = {r.doc_id: r for r in
           pk.dedup_spans(df, mode="token_block", block=10).collect()}
    assert out[1].n_kept == 3 and out[1].text == body
    assert out[2].n_kept == 0 and out[2].text == ""  # row survives, empty
    assert out[3].n_kept == 1


def test_dedup_spans_reassembly_order(spark):
    # kept spans must reassemble in original position order
    rows = [(1, "z z z z z z z z z z a a a a a a a a a a"),
            (2, "b b b b b b b b b b z z z z z z z z z z")]
    df = spark.createDataFrame(rows, "id bigint, text string")
    out = {r.doc_id: r.text for r in
           pk.dedup_spans(df, mode="token_block", block=10).collect()}
    assert out[1] == "z z z z z z z z z z a a a a a a a a a a"
    assert out[2] == "b b b b b b b b b b"


def test_dedup_spans_bad_mode(spark):
    df = spark.createDataFrame([(1, "x")], "id bigint, text string")
    with pytest.raises(ValueError):
        pk.dedup_spans(df, mode="sentences")


def test_dedup_spans_on_testdata(docs):
    # corpus-level invariants at sf0.001: cardinality preserved, kept <=
    # spans, and total kept spans == distinct span texts
    out = pk.dedup_spans(docs, mode="token_block", block=10,
                         id_col="doc_id")
    rows = out.collect()
    assert len(rows) == docs.count()
    assert all(r.n_kept <= r.n_spans for r in rows)


# ---------------------------------------------------------------- IVF join

def test_ivf_join_exact_at_full_probe(catalog):
    emb = catalog.resolve("embeddings").df
    queries = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk_join(queries, emb, k=5, left_id="vec_id",
                             right_id="vec_id")
    ivf = ivf_topk_join(queries, emb, k=5, n_centroids=4, nprobe=4,
                        left_id="vec_id", right_id="vec_id")
    e = {(r.vec_id_l, r.rank): (r.vec_id_r, round(r.score, 9))
         for r in exact.collect()}
    g = {(r.vec_id_l, r.rank): (r.vec_id_r, round(r.score, 9))
         for r in ivf.collect()}
    assert e == g  # nprobe == n_centroids degenerates to brute


def test_ivf_join_partial_probe_recall(catalog):
    emb = catalog.resolve("embeddings").df
    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk_join(queries, emb, k=3, left_id="vec_id",
                             right_id="vec_id")
    ivf = ivf_topk_join(queries, emb, k=3, n_centroids=8, nprobe=3,
                        left_id="vec_id", right_id="vec_id")
    e = {(r.vec_id_l, r.vec_id_r) for r in exact.collect()}
    g = {(r.vec_id_l, r.vec_id_r) for r in ivf.collect()}
    # clustered testdata (label structure): probing 3/8 lists keeps most
    # true neighbors; self-match (rank 1) is always found
    assert len(e & g) / len(e) >= 0.8
    assert all((q, q) in g for q in range(20))
