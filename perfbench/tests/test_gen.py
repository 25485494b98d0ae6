"""Seeded inputs: the same seed gives byte-identical files and op sequences,
another seed gives different ones. Also checks the reference answers the
benchmark compares against. No Spark.

Run: python3 -m pytest perfbench/tests -q
"""

import hashlib
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import oracle  # noqa: E402
from metrics import percentile  # noqa: E402


def _digest(directory):
    out = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", ["retrieval", "ingest"])
def test_same_seed_same_bytes_other_seed_differs(tmp_path, workload):
    a, b, c = (tmp_path / x for x in "abc")
    for d, seed in ((a, 5), (b, 5), (c, 6)):
        d.mkdir()
        gen.GENERATORS[workload](str(d), seed)
    da, db, dc = _digest(a), _digest(b), _digest(c)
    assert da == db
    assert set(da) == set(dc)
    assert all(da[name] != dc[name] for name in da)


def test_ensure_inputs_reuses_generated_dir(tmp_path):
    d1 = gen.ensure_inputs(str(tmp_path), "ingest", 3)
    before = _digest(d1)
    d2 = gen.ensure_inputs(str(tmp_path), "ingest", 3)
    assert d1 == d2 and _digest(d2) == before


def test_op_counts_are_fixed_and_meet_the_sample_rule(tmp_path):
    gen.gen_retrieval(str(tmp_path), 1)
    ops = gen.load_ops(str(tmp_path))
    kinds = [o["kind"] for o in ops]
    assert len(ops) == sum(gen.RETRIEVAL_COUNTS.values())
    for k, n_kind in gen.RETRIEVAL_COUNTS.items():
        assert kinds.count(k) == n_kind
    # the annotation's all-op median needs 10 samples beyond it
    assert percentile(list(range(len(ops))), 50) is not None


def test_ingest_sequence_shape(tmp_path):
    gen.gen_ingest(str(tmp_path), 1)
    ops = gen.load_ops(str(tmp_path))
    kinds = [o["kind"] for o in ops]
    writes = [k for k in kinds if k in ("upsert", "delete")]
    assert writes == list(gen.INGEST_WRITES)
    assert kinds.count("compact") == len(gen.INGEST_WRITES)
    # every write is followed by its read-after-write ops and a compaction
    for i, k in enumerate(kinds):
        if k == "upsert":
            assert kinds[i + 1:i + 6] == ["get", "get", "knn", "text",
                                          "compact"]
        if k == "delete":
            assert kinds[i + 1:i + 5] == ["get", "knn", "text", "compact"]


# ---------------------------------------------------------------- oracle
def test_bm25_and_topk_reference():
    corpus = oracle.Corpus([1, 2, 3], np.eye(3, dtype=np.float32),
                           ["alpha beta", "alpha alpha", "gamma a"], [0, 1, 0])
    ids, sc = corpus.bm25_scores("alpha")
    assert set(ids.tolist()) == {1, 2}
    ranked = oracle.top(ids, sc, 2)
    assert ranked[0][0] == 2            # higher tf wins
    ids, sc = corpus.knn_scores([1.0, 0.1, 0.0], category=0)
    assert oracle.top(ids, sc, 1)[0][0] == 1
    assert oracle.tokenize("A_b Cd,ef") == ["cd", "ef"]


def test_same_ranking_accepts_ties_rejects_wrong_ids():
    want = [(1, 0.9), (2, 0.5), (3, 0.5)]
    assert oracle.same_ranking([(1, 0.9), (3, 0.5), (2, 0.5)], want) == ""
    assert oracle.same_ranking([(1, 0.9), (2, 0.5), (4, 0.5)], want) == ""
    assert oracle.same_ranking([(1, 0.9), (2, 0.5)], want) != ""
    assert oracle.same_ranking([(1, 0.9), (2, 0.5), (4, 0.4)], want) != ""
    assert oracle.same_ranking([(2, 0.9), (1, 0.5), (3, 0.5)], want) != ""


def test_rrf_and_two_hop():
    fused = oracle.rrf([(1, 0.9), (2, 0.8)], [(2, 5.0), (3, 4.0)], 3)
    assert [i for i, _ in fused] == [2, 1, 3]
    import pyarrow as pa

    g = oracle.Graph(pa.table({"src": [1, 2, 2, 1], "dst": [2, 3, 4, 4],
                               "label": ["CITES", "LINKS", "LINKS", "LINKS"]}))
    assert g.two_hop(1, {1, 2, 3, 4}) == [3, 4]
    assert g.two_hop(1, {1, 2, 3}) == [3]
    assert g.two_hop(1, {2, 3, 4}) == []
