"""Durable CRUD: log-structured parquet store + snapshot compaction
(reference semantics: storage/log_payload.rs:83-363, crud.rs:19-118)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from velesdb_spark.database import Collection, Database
from velesdb_spark.storage import LogStore


def _rows(df):
    return {r["id"]: r.asDict() for r in df.collect()}


def test_logstore_upsert_delete_lww(spark, tmp_path):
    st = LogStore(spark, str(tmp_path / "t"), id_col="id")
    st.append_upsert(spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id bigint, v string"))
    st.append_upsert(spark.createDataFrame(
        [(2, "B"), (4, "d")], "id bigint, v string"))
    st.append_delete([3])
    got = _rows(st.read())
    assert set(got) == {1, 2, 4}
    assert got[2]["v"] == "B"  # last writer wins
    # delete-then-reinsert resurrects
    st.append_upsert(spark.createDataFrame([(3, "c2")], "id bigint, v string"))
    assert _rows(st.read())[3]["v"] == "c2"


def test_logstore_read_has_no_window_and_no_join(spark, tmp_path):
    """The write resolves last-writer-wins: read() filters the snapshot
    and each log segment on literal shadow-id sets, so its plan holds no
    Window and no Join, whatever mix of segments the log holds."""
    st = LogStore(spark, str(tmp_path / "t"), id_col="id")
    st.append_upsert(spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id bigint, v string"))
    st.compact()
    st.append_upsert(spark.createDataFrame(
        [(2, "B"), (4, "d")], "id bigint, v string"))
    st.append_delete([3, 4])
    st.append_upsert(spark.createDataFrame([(4, "D")], "id bigint, v string"))
    view = st.read()
    plan = view._jdf.queryExecution().optimizedPlan().toString()
    assert "Window" not in plan and "Join" not in plan, plan
    assert {i: r["v"] for i, r in _rows(view).items()} == \
        {1: "a", 2: "B", 4: "D"}


def _view(df):
    """A read view as a sorted list of (id, v); NULL ids sort first."""
    return sorted(((r["id"], r["v"]) for r in df.collect()),
                  key=lambda t: (t[0] is not None, t[0] or 0, t[1]))


def test_logstore_differential_against_dict_model(spark, tmp_path):
    """Seeded multi-segment write sequences against a dict model, checked
    after every write, after compact() and through a fresh handle on the
    same path. The script covers a re-upsert after a delete, a delete of
    an absent id, an empty delete and NULL-id rows. NULL ids keep the
    semantics of the last-writer-wins window and anti join the store
    used before: among log segments the newest NULL-id row wins like any
    id, but no log record shadows a NULL-id snapshot row, since NULL
    matches no id."""
    import random

    rng = random.Random(20261019)
    path = str(tmp_path / "t")
    st = LogStore(spark, path, id_col="id")
    live: dict = {}        # non-NULL id -> v
    snap_nulls: list = []  # v of NULL-id rows folded into the snapshot
    log_null = None        # v of the newest NULL-id row in the log

    def want():
        rows = list(live.items()) + [(None, v) for v in snap_nulls]
        if log_null is not None:
            rows.append((None, log_null))
        return sorted(rows, key=lambda t: (t[0] is not None, t[0] or 0, t[1]))

    def check(step):
        assert _view(st.read()) == want(), step
        assert _view(LogStore(spark, path, id_col="id").read()) == want(), \
            f"{step} (fresh handle)"

    def upsert(rows, step):
        nonlocal log_null
        st.append_upsert(spark.createDataFrame(rows, "id bigint, v string"))
        for i, v in rows:
            if i is None:
                log_null = v
            else:
                live[i] = v
        check(step)

    def delete(ids, step):
        st.append_delete(ids)
        for i in ids:
            live.pop(i, None)
        check(step)

    def compact(step):
        nonlocal log_null
        st.compact()
        if log_null is not None:
            snap_nulls.append(log_null)
            log_null = None
        check(step)

    upsert([(1, "a"), (2, "b"), (3, "c"), (None, "n1")], "load")
    delete([2], "delete")
    upsert([(2, "b2")], "re-upsert after delete")
    delete([99], "delete absent id")
    delete([], "empty delete")
    upsert([(None, "n2"), (3, "c2")], "NULL id in a later segment")
    compact("compact")
    upsert([(None, "n3"), (1, "a2")], "NULL id over a snapshot NULL")
    for step in range(6):
        kind = rng.choice(["upsert", "upsert", "delete", "compact"])
        if kind == "upsert":
            ids = rng.sample(range(8), rng.randint(1, 4))
            upsert([(i, f"s{step}") for i in ids], f"random upsert {step}")
        elif kind == "delete":
            delete(rng.sample(range(10), rng.randint(0, 3)),
                   f"random delete {step}")
        else:
            compact(f"random compact {step}")
    compact("final compact")


def test_logstore_compact_and_reopen(spark, tmp_path):
    path = str(tmp_path / "t")
    st = LogStore(spark, path, id_col="id")
    st.append_upsert(spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "id bigint, v string"))
    st.append_delete([0, 1])
    st.compact()
    m = json.load(open(os.path.join(path, "MANIFEST.json")))
    assert m["segments"] == [] and m["snapshot"] == "snapshot/v=1"
    # a fresh store handle (≅ new SparkSession) sees the same data
    st2 = LogStore(spark, path, id_col="id")
    assert set(_rows(st2.read())) == set(range(2, 10))
    # post-compaction writes keep working and re-compact to v=2
    st2.append_upsert(spark.createDataFrame([(2, "V2")], "id bigint, v string"))
    assert _rows(st2.read())[2]["v"] == "V2"
    st2.compact()
    assert json.load(open(os.path.join(path, "MANIFEST.json")))["snapshot"] \
        == "snapshot/v=2"
    st2.vacuum()
    assert os.listdir(os.path.join(path, "snapshot")) == ["v=2"]
    assert os.listdir(os.path.join(path, "log")) == []


def test_logstore_schema_evolution(spark, tmp_path):
    """Later segments may add payload columns (metadata-only upserts);
    earlier rows read them as NULL."""
    st = LogStore(spark, str(tmp_path / "t"), id_col="id")
    st.append_upsert(spark.createDataFrame([(1, "a")], "id bigint, v string"))
    st.append_upsert(spark.createDataFrame(
        [(2, "b", 7)], "id bigint, v string, extra int"))
    got = _rows(st.read())
    assert got[1]["extra"] is None and got[2]["extra"] == 7


def test_collection_durable_crud_survives_reopen(spark, tmp_path):
    """upsert → search read-your-writes after a Database.open from disk —
    the continuous-ingestion flow the round-1 verdict flagged."""
    root = str(tmp_path / "db")
    db = Database(spark, root)
    col = db.create_collection("docs", dimension=4)
    col.upsert([{"id": 1, "vector": [1.0, 0.0, 0.0, 0.0], "tag": "x"},
                {"id": 2, "vector": [0.0, 1.0, 0.0, 0.0], "tag": "y"}])
    col.delete([2])
    col.upsert([{"id": 3, "vector": [0.9, 0.1, 0.0, 0.0], "tag": "z"}])
    # reopen WITHOUT flush: the log alone reconstructs state
    db2 = Database.open(spark, root)
    col2 = db2.get_collection("docs")
    assert {r["id"] for r in col2.df.collect()} == {1, 3}
    top = col2.search([1.0, 0.0, 0.0, 0.0], k=1).collect()
    assert top[0]["id"] == 1
    # flush = compaction; reopen again, same data, empty log
    col2.flush()
    db3 = Database.open(spark, root)
    assert {r["id"] for r in db3.get_collection("docs").df.collect()} == {1, 3}
    m = json.load(open(os.path.join(root, "docs", "points_log",
                                    "MANIFEST.json")))
    assert m["segments"] == []


def test_collection_durable_edges(spark, tmp_path):
    """Graph edge CRUD routes through its own log store: add/remove
    survive reopen; flush compacts the edge log too."""
    root = str(tmp_path / "db")
    db = Database(spark, root)
    col = db.create_collection("g", dimension=2)
    col.upsert([{"id": 1, "vector": [1.0, 0.0]},
                {"id": 2, "vector": [0.0, 1.0]}])
    col.add_edges([{"id": 10, "src": 1, "dst": 2, "label": "E"},
                   {"id": 11, "src": 2, "dst": 1, "label": "E"}])
    col.remove_edge(11)
    db2 = Database.open(spark, root)
    col2 = db2.get_collection("g")
    assert {r["id"] for r in col2.edges.collect()} == {10}
    got = col2.traverse_bfs(1, max_depth=1).collect()
    assert {r.node_id for r in got} == {2}
    col2.flush()
    m = json.load(open(os.path.join(root, "g", "edges_log", "MANIFEST.json")))
    assert m["segments"] == []
    db3 = Database.open(spark, root)
    assert {r["id"] for r in db3.get_collection("g").edges.collect()} == {10}


def test_collection_in_memory_unchanged(spark):
    """No path → the in-memory union CRUD keeps its old behavior."""
    col = Collection(spark, "mem", dimension=2)
    col.upsert([{"id": 1, "vector": [1.0, 0.0]}])
    col.upsert([{"id": 1, "vector": [0.0, 1.0]}])
    assert col.store is None
    rows = col.df.collect()
    assert len(rows) == 1 and rows[0]["vector"] == [0.0, 1.0]


def test_storage_mode_sq8(spark):
    """storage_mode='sq8' (quantization.rs SQ8 + collection config):
    vectors are stored as the quantized struct (4x at rest) and every
    search path scores the dequantized values — identical to quantizing
    then searching by hand."""
    import numpy as np

    from velesdb_spark.database import Collection

    rng = np.random.RandomState(3)
    rows = [{"id": i, "vector": [float(x) for x in rng.randn(8)]}
            for i in range(1, 41)]
    qv = [float(x) for x in rng.randn(8)]

    col = Collection(spark, "sq8col", dimension=8, storage_mode="sq8")
    col.upsert(rows)
    # stored representation is the struct, not f32
    assert col.df.schema["vector"].dataType.typeName() == "struct"
    assert col.info()["storage_mode"] == "sq8"

    # ground truth: NumPy sq8 round-trip then cosine
    V = np.array([r["vector"] for r in rows])
    mn = V.min(axis=1, keepdims=True); mx = V.max(axis=1, keepdims=True)
    scale = np.where(mx > mn, (mx - mn) / 255.0, 1.0)
    deq = mn + np.round((V - mn) / scale) * scale
    q = np.array(qv)
    cos = deq @ q / (np.linalg.norm(deq, axis=1) * np.linalg.norm(q))
    want = [int(i + 1) for i in
            sorted(range(len(rows)), key=lambda i: (-cos[i], i + 1))[:5]]
    got = [r.id for r in col.search(qv, 5).collect()]
    assert got == want
    # VelesQL NEAR goes through the same score view
    vql = [r.id for r in col.query(
        "SELECT id FROM sq8col WHERE vector NEAR $v LIMIT 5",
        {"v": qv}).collect()]
    assert vql == want
    # LWW re-upsert keeps the representation consistent
    col.upsert([{"id": 1, "vector": [1.0] * 8}])
    assert col.count() == 40


def test_storage_mode_binary(spark):
    """storage_mode='binary': packed sign bits (32x at rest), hamming
    ranking equals the NumPy sign-mismatch count; non-bitwise metrics
    are rejected at creation."""
    import numpy as np

    import pytest as _pytest

    from velesdb_spark.database import Collection

    with _pytest.raises(ValueError):
        Collection(spark, "bad", dimension=8, storage_mode="binary",
                   metric="cosine")
    with _pytest.raises(ValueError):
        Collection(spark, "bad2", storage_mode="frob")

    rng = np.random.RandomState(5)
    rows = [{"id": i, "vector": [float(x) for x in rng.randn(70)]}
            for i in range(1, 31)]
    qv = [float(x) for x in rng.randn(70)]
    col = Collection(spark, "bincol", dimension=70, metric="hamming",
                     storage_mode="binary")
    col.upsert(rows)
    # two packed words for 70 dims
    first = col.df.select("vector").first()[0]
    assert len(first) == 2
    V = (np.array([r["vector"] for r in rows]) > 0).astype(int)
    qb = (np.array(qv) > 0).astype(int)
    ham = (V != qb).sum(axis=1)
    want = [int(i + 1) for i in
            sorted(range(len(rows)), key=lambda i: (ham[i], i + 1))[:5]]
    got = [r.id for r in col.search(qv, 5).collect()]
    assert got == want
    # VelesQL NEAR binarizes the query via the catalog transform
    vql = [r.id for r in col.query(
        "SELECT id FROM bincol WHERE vector NEAR $v LIMIT 5",
        {"v": qv}).collect()]
    assert vql == want


def test_storage_mode_binary_raw_int_vectors_still_quantized(spark):
    """Raw 0/1 integer vectors (createDataFrame infers bigint from Python
    ints) share the array<bigint> schema with packed words but are
    dim-long — they must still be packed on write, or later unpacks read
    garbage sign bits. Store re-reads (already packed, ceil(dim/64)-long)
    pass through unchanged."""
    import numpy as np

    from velesdb_spark.database import Collection

    rng = np.random.RandomState(11)
    bits = rng.randint(0, 2, size=(20, 70))
    rows = [{"id": i + 1, "vector": [int(b) for b in bits[i]]}
            for i in range(20)]
    col = Collection(spark, "binraw", dimension=70, metric="hamming",
                     storage_mode="binary")
    col.upsert(rows)
    stored = col.df.orderBy("id").select("vector").collect()
    assert all(len(r[0]) == 2 for r in stored)  # packed, not raw

    qv = [float(x) for x in rng.randint(0, 2, size=70)]
    qb = (np.array(qv) > 0).astype(int)
    ham = ((bits > 0).astype(int) != qb).sum(axis=1)
    want = [int(i + 1) for i in
            sorted(range(20), key=lambda i: (ham[i], i + 1))[:5]]
    got = [r.id for r in col.search(qv, 5).collect()]
    assert got == want

    # re-upserting already-packed rows (store re-read shape) is idempotent
    packed_row = col.df.filter(col.df.id == 1).select("id", "vector").first()
    col.upsert([{"id": 1, "vector": [int(w) for w in packed_row["vector"]]}])
    again = col.df.filter(col.df.id == 1).select("vector").first()[0]
    assert list(again) == list(packed_row["vector"])
    assert col.count() == 20


def test_durable_collection_reupsert_after_delete_without_flush(spark,
                                                                tmp_path):
    """upsert → delete → re-upsert of one id on a durable collection with
    a warm text index, no flush between. After each write: text_search
    scores are bit-equal to a fresh Bm25Index over the model rows, search
    and get match the model, the composed index's search plan broadcasts
    nothing, and the persisted-RDD count stays flat."""
    import numpy as np

    from tests.test_bm25 import _plan_nodes
    from velesdb_spark.functions.bm25 import Bm25Index

    rng = np.random.RandomState(4)
    words = ["rust", "spark", "index", "query", "vector", "log", "store"]

    def point(text=None):
        return {"vector": [float(x) for x in rng.randn(4)],
                "text": text or " ".join(rng.choice(words, 5))}

    model = {i: point() for i in range(40)}
    col = Database(spark, str(tmp_path / "db")).create_collection(
        "docs", dimension=4, text_col="text")
    col.upsert([{"id": i, **p} for i, p in model.items()])
    col.flush()
    # at most two distinct terms per query: a doc's score then sums at
    # most two term scores, and a + b == b + a bitwise, so any plan gives
    # the same bits
    queries = ["rust spark", "log", "vector store"]
    qv = [0.5, -1.0, 0.25, 2.0]
    col.text_search(queries[0], k=10).collect()
    jsc = spark.sparkContext._jsc

    def check(step):
        fresh = Bm25Index(spark.createDataFrame(
            [(i, p["text"]) for i, p in model.items()],
            "id bigint, text string"))
        for q in queries:
            got = {r.id: r.score for r in col.text_search(q, k=10).collect()}
            want = {r.id: r._bm25_score
                    for r in fresh.search(q, 10).collect()}
            assert got == want, (step, q)
        res = col._bm25.search(queries[0], 10)
        res.collect()
        nodes = _plan_nodes(res._jdf.queryExecution().executedPlan())
        assert not any("Broadcast" in n.nodeName() for n in nodes), step
        ids = sorted(model)
        V = np.array([model[i]["vector"] for i in ids])
        cos = V @ np.array(qv) / (np.linalg.norm(V, axis=1)
                                  * np.linalg.norm(qv))
        want = [ids[j] for j in np.argsort(-cos, kind="stable")[:5]]
        assert [r.id for r in col.search(qv, k=5).collect()] == want, step
        for i in (7, 8):
            got = col.get(i)
            if i in model:
                assert (got["text"], got["vector"]) == \
                    (model[i]["text"], model[i]["vector"]), (step, i)
            else:
                assert got is None, (step, i)
        return jsc.getPersistentRDDs().size()

    model[7] = point("rust rust log")
    model[50] = point()
    col.upsert([{"id": i, **model[i]} for i in (7, 50)])
    persisted = [check("upsert")]
    del model[7]
    col.delete([7])
    persisted.append(check("delete"))
    model[7] = point("spark vector store")
    col.upsert([{"id": 7, **model[7]}])
    persisted.append(check("re-upsert"))
    assert len(set(persisted)) == 1, persisted
