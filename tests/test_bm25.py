"""BM25 correctness — pure-Python reference implementation of the exact
formula (index/bm25.rs:10-20, idf :298-303, tokenizer :114-120)."""

import math
import re

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from velesdb_spark.functions.bm25 import Bm25Index, tokenize_py

K1, B = 1.2, 0.75


def ref_tokenize(text):
    return [t for t in re.split(r"[\W_]+", text.lower()) if len(t.encode()) > 1]


def ref_bm25(docs: dict[int, str], query: str) -> dict[int, float]:
    toks = {i: ref_tokenize(t) for i, t in docs.items()}
    toks = {i: t for i, t in toks.items() if t}  # empty docs not indexed
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    qterms = ref_tokenize(query)
    df = {}
    for q in set(qterms):
        df[q] = sum(1 for t in toks.values() if q in t)
    out = {}
    for i, t in toks.items():
        score = 0.0
        for q in qterms:  # bag — duplicates count twice (bm25.rs:348-360)
            if df.get(q, 0) == 0:
                continue
            tf = t.count(q)
            if tf == 0:
                continue
            idf = math.log((n - df[q] + 0.5) / (df[q] + 0.5) + 1.0)
            score += idf * tf * (K1 + 1) / (tf + K1 * (1 - B + B * len(t) / avgdl))
        if score > 0:
            out[i] = score
    return out


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "rust programming language for systems"),
        (2, "python programming for data science"),
        (3, "the quick brown fox jumps over the lazy dog"),
        (4, "rust rust rust all the way down"),
        (5, "a b c d"),  # all single-char tokens → not indexed
        (6, "programming languages: rust, python, go"),
        (7, ""),
    ]
    df = spark.createDataFrame(rows, "id bigint, text string")
    return df, {i: t for i, t in rows}


def test_tokenizer_parity():
    assert tokenize_py("Hello, World! a_b x") == ["hello", "world"]
    assert tokenize_py("C'est l'été 42") == ["est", "été", "42"]


def test_scores_match_reference(corpus):
    df, docs = corpus
    idx = Bm25Index(df)
    got = {r.id: r._bm25_score for r in idx.scores("rust programming").collect()}
    want = ref_bm25(docs, "rust programming")
    assert set(got) == set(want)
    for i in got:
        assert abs(got[i] - want[i]) < 1e-9, (i, got[i], want[i])


def test_duplicate_query_terms(corpus):
    df, docs = corpus
    idx = Bm25Index(df)
    got = {r.id: r._bm25_score for r in idx.scores("rust rust").collect()}
    want = ref_bm25(docs, "rust rust")
    for i in got:
        assert abs(got[i] - want[i]) < 1e-9


def test_absent_term(corpus):
    df, _ = corpus
    idx = Bm25Index(df)
    assert idx.scores("zzzmissing").count() == 0


def test_topk_order(corpus):
    df, docs = corpus
    idx = Bm25Index(df)
    got = [r.id for r in idx.search("rust", 3).collect()]
    want = sorted(ref_bm25(docs, "rust").items(), key=lambda kv: (-kv[1], kv[0]))
    assert got == [w[0] for w in want[:3]]


def test_match_predicate_velesql(spark, corpus):
    from velesdb_spark.velesql.translator import Catalog, translate

    df, docs = corpus
    cat = Catalog()
    cat.register("docs", df, text_col="text")
    out = translate("SELECT id FROM docs WHERE text MATCH 'rust' LIMIT 100", cat)
    got = sorted(r.id for r in out.collect())
    assert got == sorted(ref_bm25(docs, "rust"))


def test_documents_table(catalog):
    """Smoke over the driver's documents fixture."""
    info = catalog.resolve("documents")
    idx = Bm25Index(info.df, id_col="doc_id", text_col="text")
    res = idx.search("spark query join", 10).collect()
    assert len(res) == 10
    scores = [r._bm25_score for r in res]
    assert scores == sorted(scores, reverse=True)


def test_hybrid_search_collection(spark, corpus):
    from velesdb_spark.database import Collection

    df, _ = corpus
    df = df.withColumn(
        "vector",
        F.array(*[(F.col("id") * F.lit(i)).cast("float") % 7 for i in range(1, 5)]))
    col = Collection(spark, "c", metric="cosine", df=df, text_col="text")
    res = col.hybrid_search("rust programming", [1.0, 2.0, 3.0, 4.0], k=5).collect()
    assert 0 < len(res) <= 5
    scores = [r.score for r in res]
    assert scores == sorted(scores, reverse=True)


def test_scan_path_matches_index_path(corpus):
    from velesdb_spark.functions.bm25 import bm25_scan_scores

    df, docs = corpus
    for q in ["rust programming", "programming programming", "fox", "zzz", ""]:
        via_index = {r.id: r._bm25_score
                     for r in Bm25Index(df).scores(q).collect()}
        via_scan = {r.id: r._bm25_score
                    for r in bm25_scan_scores(df, q).collect()}
        assert set(via_scan) == set(via_index), q
        for i in via_scan:
            assert via_scan[i] == pytest.approx(via_index[i], rel=1e-9), q


# ------------------------------------------------------------ incremental


def _full_rebuild_scores(spark, docs_dict, query):
    df = spark.createDataFrame(list(docs_dict.items()), "id bigint, text string")
    return {r.id: r._bm25_score for r in Bm25Index(df).scores(query).collect()}


def test_incremental_index_matches_rebuild(spark, corpus, tmp_path):
    """Durable snapshot+delta index: every upsert/delete/compact step must
    score identically to a full rebuild over the same logical corpus."""
    from velesdb_spark.functions.bm25 import IncrementalBm25Index

    df, docs = corpus
    path = str(tmp_path / "bm25_inc")
    idx = IncrementalBm25Index.build(df, path)
    q = "rust programming"

    def check(state):
        got = {r.id: r._bm25_score for r in idx.scores(q).collect()}
        want = _full_rebuild_scores(spark, state, q)
        assert set(got) == set(want)
        for i in got:
            assert got[i] == pytest.approx(want[i], rel=1e-9)

    state = dict(docs)
    check(state)

    # upsert: replace doc 2, add doc 8
    batch = [(2, "rust data pipelines"), (8, "go and rust tooling")]
    idx.upsert_docs(spark.createDataFrame(batch, "id bigint, text string"))
    state.update(dict(batch))
    check(state)

    # upsert replacing a doc with empty text drops it from the index
    idx.upsert_docs(spark.createDataFrame([(4, "")], "id bigint, text string"))
    state[4] = ""
    check(state)

    # delete
    idx.delete_docs([1])
    del state[1]
    check(state)

    # compact folds the log; scores unchanged, log truncated
    idx.compact()
    from velesdb_spark.storage import read_manifest
    m = read_manifest(path)
    assert m["segments"] == [] and m["snapshot"].endswith("v=2")
    check(state)

    # reopen from disk
    idx2 = IncrementalBm25Index(spark, path)
    got = {r.id: r._bm25_score for r in idx2.scores(q).collect()}
    assert got == {r.id: r._bm25_score for r in idx.scores(q).collect()}


def test_incremental_update_no_retokenize(spark, corpus, tmp_path):
    """The upsert writes a delta segment computed from only the batch, and
    the composed search plan re-tokenizes nothing: no split/lower
    expression anywhere (snapshot + delta are already postings)."""
    from velesdb_spark.functions.bm25 import IncrementalBm25Index

    df, docs = corpus
    path = str(tmp_path / "bm25_inc2")
    idx = IncrementalBm25Index.build(df, path)
    idx.upsert_docs(spark.createDataFrame(
        [(9, "spark spark indexes")], "id bigint, text string"))

    # the delta segment holds exactly the new doc's postings and its
    # doc row (term NULL)
    seg = spark.read.parquet(f"{path}/log/000001.parquet")
    rows = {(r._doc_id, r.term, r.tf) for r in seg.collect()}
    assert rows == {(9, "spark", 2), (9, "indexes", 1), (9, None, None)}

    plan = idx.search("spark rust", 5) \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert "split(" not in plan and "lower(" not in plan


def test_incremental_upsert_indexes_a_doc_named_twice_once(spark, tmp_path):
    """A batch is one logical write: a batch that names a doc twice
    indexes it once, so the view equals a rebuild with one of its two
    texts — corpus stats and scores."""
    from velesdb_spark.functions.bm25 import IncrementalBm25Index

    base = {1: "rust systems programming", 2: "python data tools",
            3: "go rust tooling"}
    schema = "id bigint, text string"
    idx = IncrementalBm25Index.build(
        spark.createDataFrame(list(base.items()), schema),
        str(tmp_path / "bm25_dup"), term_buckets=4)
    texts = ["rust", "rust rust rust go"]
    idx.upsert_docs(spark.createDataFrame([(2, t) for t in texts], schema))
    view = idx.as_bm25()
    q = "rust go"
    got = {r.id: r._bm25_score for r in view.scores(q).collect()}

    def matches(text):
        fresh = Bm25Index(spark.createDataFrame(
            list({**base, 2: text}.items()), schema))
        want = {r.id: r._bm25_score for r in fresh.scores(q).collect()}
        return (fresh._corpus_stats() == view._corpus_stats()
                and set(got) == set(want)
                and all(got[i] == pytest.approx(want[i], rel=1e-9)
                        for i in got))

    assert any(matches(t) for t in texts), (view._corpus_stats(), got)


def _incremental_with_log(spark, df, path):
    """A 4-bucket index over ``df`` with an upsert and a delete segment."""
    from velesdb_spark.functions.bm25 import IncrementalBm25Index

    idx = IncrementalBm25Index.build(df, path, term_buckets=4)
    idx.upsert_docs(spark.createDataFrame(
        [(2, "rust data pipelines"), (8, "go and rust tooling")],
        "id bigint, text string"))
    idx.delete_docs([1])
    return idx


def test_incremental_search_plan_has_no_window(spark, corpus, tmp_path):
    """The log is resolved by literal id filters learned at write time:
    over a view with an upsert and a delete segment, the executed search
    plan has no Window, and its only hash Exchange is the score
    aggregate's (on _doc_id)."""
    df, _ = corpus
    idx = _incremental_with_log(spark, df, str(tmp_path / "bm25_plan"))
    plan = idx.search("rust programming", 5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    hashed = [ln for ln in plan.splitlines()
              if "Exchange hashpartitioning" in ln]
    assert len(hashed) == 1 and "_doc_id" in hashed[0], plan


def test_incremental_search_reuses_learned_log_ids(spark, corpus, tmp_path,
                                                   monkeypatch):
    """The log's doc ids are learned once per write, not per view: the
    writing handle's search collects none, and a reopened handle collects
    them on its first search only, so its second search launches at least
    one job fewer and collects no log ids. Both score alike."""
    import uuid

    from velesdb_spark.functions.bm25 import IncrementalBm25Index

    df, _ = corpus
    path = str(tmp_path / "bm25_ids")
    idx = _incremental_with_log(spark, df, path)
    DataFrame = type(df)  # the session's concrete DataFrame class
    collect = DataFrame.collect
    id_collects = []

    def spy(self):
        if "_veles_seq" in self.columns:
            id_collects.append(self)
        return collect(self)

    monkeypatch.setattr(DataFrame, "collect", spy)
    sc = spark.sparkContext

    def search(handle):
        group = f"bm25-ids-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            rows = handle.search("rust programming", 5).collect()
        finally:
            sc.setJobGroup("", "")
        return rows, len(sc.statusTracker().getJobIdsForGroup(group))

    want, _ = search(idx)
    assert id_collects == []
    reopened = IncrementalBm25Index(spark, path)
    rows1, jobs1 = search(reopened)
    assert len(id_collects) == 1
    rows2, jobs2 = search(reopened)
    assert len(id_collects) == 1
    assert jobs2 <= jobs1 - 1, (jobs1, jobs2)
    assert rows1 == rows2 == want


def test_incremental_compact_keeps_term_buckets(spark, corpus, tmp_path):
    """``term_buckets`` is a manifest key of the index, not of the log
    store: it survives compact(), including a compact through a reopened
    handle, and the compacted view still prunes on it."""
    from velesdb_spark.functions.bm25 import IncrementalBm25Index
    from velesdb_spark.storage import read_manifest

    df, _ = corpus
    path = str(tmp_path / "bm25_keys")
    _incremental_with_log(spark, df, path).compact()
    assert read_manifest(path)["term_buckets"] == 4
    reopened = IncrementalBm25Index(spark, path)
    reopened.upsert_docs(spark.createDataFrame(
        [(3, "rust again")], "id bigint, text string"))
    reopened.compact()
    m = read_manifest(path)
    assert m["term_buckets"] == 4 and m["snapshot"].endswith("v=3")
    assert m["segments"] == []
    assert IncrementalBm25Index(spark, path).as_bm25().term_buckets == 4


def test_collection_upsert_search_loop_incremental(spark, corpus):
    """upsert → text_search cycles keep the warm index: the composed index
    scores match a cold rebuild, and the collection does not re-tokenize
    the full corpus (the mutation composes onto the cached postings)."""
    from velesdb_spark.database import Collection

    df, docs = corpus
    col = Collection(spark, "c", df=df, text_col="text")
    q = "rust programming"
    first = {r.id: r.score for r in col.text_search(q, k=10).collect()}
    warm = col._bm25
    assert warm is not None

    state = dict(docs)
    for batch in ([(2, "rust data pipelines")], [(10, "more rust text")]):
        col.upsert([{"id": i, "text": t} for i, t in batch])
        state.update(dict(batch))
        # index was composed, not dropped
        assert col._bm25 is not None and col._bm25 is not warm
        got = {r.id: r.score for r in col.text_search(q, k=10).collect()}
        want = _full_rebuild_scores(spark, state, q)
        top = dict(sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:10])
        assert set(got) == set(top)
        for i in got:
            assert got[i] == pytest.approx(top[i], rel=1e-9)
        warm = col._bm25

    col.delete([4])
    del state[4]
    assert col._bm25 is not None
    got = {r.id: r.score for r in col.text_search(q, k=10).collect()}
    want = _full_rebuild_scores(spark, state, q)
    top = dict(sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:10])
    assert set(got) == set(top)


def _plan_nodes(jplan):
    """The operator nodes of a (logical or physical) plan, with AQE
    wrappers and query stages unwrapped. A cached frame's relation/scan
    is a leaf here: the plan that built its cache is not walked, though
    the plan string prints it."""
    out, stack = [], [jplan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(node.plan())
            continue
        out.append(node)
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


def _joins(df):
    return sum(1 for n in _plan_nodes(df._jdf.queryExecution().optimizedPlan())
               if n.nodeName() == "Join")


def test_collection_writes_keep_base_plus_one_delta(spark, corpus):
    """upsert → upsert → delete on a Collection: each write leaves the
    serving layout — the cached base minus the shadowed docs (a literal
    shadow-id filter, no join, however many writes) plus one cached
    delta — so a search
    re-tokenizes nothing, the persisted-RDD count stays flat, and scores
    equal a cold rebuild."""
    from velesdb_spark.database import Collection

    df, docs = corpus
    col = Collection(spark, "c", df=df, text_col="text")
    q = "rust programming"
    col.text_search(q, k=10).collect()
    jsc = spark.sparkContext._jsc
    state = dict(docs)
    writes = [("upsert", [(2, "rust data pipelines"), (8, "go rust rust")]),
              ("upsert", [(8, "rust programming again"), (10, "more text")]),
              ("delete", [4, 8, 99])]
    persisted = []
    for kind, batch in writes:
        if kind == "upsert":
            col.upsert([{"id": i, "text": t} for i, t in batch])
            state.update(dict(batch))
        else:
            col.delete(batch)
            for i in batch:
                state.pop(i, None)
        idx = col._bm25
        assert idx._base is not None and idx._delta is not None
        assert _joins(idx._postings_dl) == 0
        res = col.text_search(q, k=10)
        nodes = _plan_nodes(res._jdf.queryExecution().optimizedPlan())
        assert not any("split(" in n.simpleString(100) for n in nodes)
        got = {r.id: r.score for r in res.collect()}
        want = _full_rebuild_scores(spark, state, q)
        assert set(got) == set(want)
        for i in got:
            assert got[i] == pytest.approx(want[i], rel=1e-9)
        persisted.append(jsc.getPersistentRDDs().size())
    assert persisted[2] == persisted[0], persisted


def test_delete_shadow_frame_is_local_table_scan(spark):
    """Deleted ids reach the plan as an Arrow-backed LocalTableScan, not
    an RDD of pickled rows a Python worker must decode on every scan."""
    import pyarrow as pa

    from velesdb_spark.functions.util import id_frame

    ids = id_frame(spark, [3, 1, 2], "_doc_id")
    assert ids.schema.simpleString() == "struct<_doc_id:bigint>"
    plan = ids._jdf.queryExecution().executedPlan()
    assert plan.nodeName() == "LocalTableScan", plan.toString()
    assert sorted(r._doc_id for r in ids.collect()) == [1, 2, 3]
    docs = spark.createDataFrame(pa.table({
        "id": pa.array([1, 2, 3], pa.int64()),
        "text": ["rust code", "rust data", "go code"]}))
    upd = Bm25Index(docs).incremental_update(deleted_ids=[1])
    plan = upd.doc_lengths._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert {r.id for r in upd.scores("rust").collect()} == {2}


def test_text_search_unfiltered_takes_ordered_k(spark, corpus):
    """The unfiltered text_search ends in limit(k): the final order is a
    TakeOrderedAndProject, not a range-partitioned global sort, and the
    rows are those of the sorted join."""
    from velesdb_spark.database import Collection

    df, _ = corpus
    col = Collection(spark, "c", df=df, text_col="text")
    res = col.text_search("rust programming", k=3)
    got = [(r.id, r.score) for r in res.collect()]
    nodes = _plan_nodes(res._jdf.queryExecution().executedPlan())
    assert not any(n.nodeName() == "Exchange"
                   and "rangepartitioning" in n.simpleString(100)
                   for n in nodes)
    scores = col._bm25_index().search("rust programming", 3)
    want = [(r.id, r._bm25_score) for r in df.join(scores, "id")
            .orderBy(F.desc("_bm25_score"), F.asc("id")).collect()]
    assert got == want and len(got) == 3


def test_bucketed_df_lookup_prunes_term_buckets(spark, corpus, tmp_path,
                                                monkeypatch):
    """On an 8-bucket snapshot with one upsert segment, the df lookup of
    a search reads only the query terms' buckets: every snapshot-postings
    scan it makes carries a `_tb IN (...)` partition filter, like the
    scoring pass."""
    from velesdb_spark.functions.bm25 import IncrementalBm25Index

    df, docs = corpus
    idx = IncrementalBm25Index.build(df, str(tmp_path / "bm25_tb"),
                                     term_buckets=8)
    idx.upsert_docs(spark.createDataFrame(
        [(2, "rust data pipelines")], "id bigint, text string"))
    plans = []
    DataFrame = type(df)  # the session's concrete DataFrame class
    collect = DataFrame.collect

    def spy(self):
        rows = collect(self)
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return rows

    monkeypatch.setattr(DataFrame, "collect", spy)
    view = idx.as_bm25()
    scores = view.scores("rust programming")
    monkeypatch.undo()
    scans = [ln for p in plans for ln in p.splitlines()
             if "FileScan" in ln and "_tb#" in ln]
    assert scans, plans
    for ln in scans:
        pf = ln.split("PartitionFilters:", 1)[1].split("],", 1)[0]
        assert "_tb" in pf and " IN (" in pf, ln
    state = dict(docs)
    state[2] = "rust data pipelines"
    got = {r.id: r._bm25_score for r in scores.collect()}
    want = _full_rebuild_scores(spark, state, "rust programming")
    assert set(got) == set(want)
    for i in got:
        assert got[i] == pytest.approx(want[i], rel=1e-9)


def test_incremental_bm25_differential_fuzz(spark, tmp_path):
    """Randomized upsert/delete/compact sequences: after every mutation the
    composed snapshot+delta index must score identically to a fresh
    Bm25Index over the same logical corpus — the same differential-oracle
    discipline the filter engine gets. Locks the LWW/tombstone/df-arithmetic
    edges (re-upserts, deletes of absent ids, empty-text upserts, unicode
    byte-length tokens, compaction mid-stream) a single scripted scenario
    can't reach."""
    import random

    from velesdb_spark.functions.bm25 import IncrementalBm25Index

    rng = random.Random(1234)
    vocab = ["rust", "spark", "python", "data", "query", "join", "index",
             "fast", "scan", "x1", "yy", "распределение", "日本語", "ab"]

    def rand_text():
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 6)))

    state = {i: rand_text() for i in range(8)}
    df = spark.createDataFrame(list(state.items()), "id bigint, text string")
    path = str(tmp_path / "bm25_fuzz")
    idx = IncrementalBm25Index.build(df, path, term_buckets=4)
    queries = ["rust spark", "data data", "query join fast", "zzzmissing",
               "日本語 join", "распределение"]

    checked = 0
    for _step in range(25):
        roll = rng.random()
        if roll < 0.55:
            batch = {rng.randint(0, 11): rand_text()
                     for _ in range(rng.randint(1, 3))}
            idx.upsert_docs(spark.createDataFrame(
                list(batch.items()), "id bigint, text string"))
            state.update(batch)
        elif roll < 0.85:
            ids = [rng.randint(0, 11) for _ in range(rng.randint(1, 2))]
            idx.delete_docs(ids)  # deletes of absent ids must be no-ops
            for i in ids:
                state.pop(i, None)
        else:
            idx.compact()
        q = rng.choice(queries)
        got = {r.id: r._bm25_score for r in idx.scores(q).collect()}
        want = _full_rebuild_scores(spark, state, q)
        assert set(got) == set(want), f"step {_step}: ids differ for {q!r}"
        for i in got:
            assert got[i] == pytest.approx(want[i], rel=1e-9), \
                f"step {_step}: score differs for {q!r} doc {i}"
        checked += 1
    assert checked == 25


def test_incremental_update_on_loaded_index(spark, corpus, tmp_path):
    """incremental_update on an opened IncrementalBm25Index view (bucketed
    postings) must compose — the snapshot postings carry the _tb partition
    column, so the delta's postings get the SAME bucket expression before
    the union (a naive unionByName would raise AnalysisException) and
    term_buckets rides onto the composed index so pruning survives the
    mutation."""
    from velesdb_spark.functions.bm25 import IncrementalBm25Index

    df, docs = corpus
    path = str(tmp_path / "bm25_upd")
    IncrementalBm25Index.build(df, path, term_buckets=16)
    idx = IncrementalBm25Index(spark, path).as_bm25()

    batch = [(2, "rust data pipelines"), (8, "go and rust tooling")]
    upd = idx.incremental_update(
        spark.createDataFrame(batch, "id bigint, text string"),
        deleted_ids=[4])
    assert upd.term_buckets == 16
    state = dict(docs)
    state.update(dict(batch))
    del state[4]
    q = "rust programming"
    got = {r.id: r._bm25_score for r in upd.scores(q).collect()}
    want = _full_rebuild_scores(spark, state, q)
    assert set(got) == set(want)
    for i in got:
        assert got[i] == pytest.approx(want[i], rel=1e-9)


def test_term_filter_reaches_postings_scan(spark, corpus, tmp_path):
    """A snapshot-index search must prune at BOTH levels: partition filters
    on the term-bucket column (reads only the query terms' directories) AND
    pushed In(term, ...) filters for row-group skipping — the properties
    that keep a 100 TB postings search from reading the whole table."""
    from velesdb_spark.functions.bm25 import (IncrementalBm25Index,
                                              term_bucket_py)

    df, _ = corpus
    path = str(tmp_path / "bm25_saved")
    idx = IncrementalBm25Index.build(df, path, term_buckets=16).as_bm25()
    assert idx.term_buckets == 16
    plan = idx.search("rust programming", 5) \
        ._jdf.queryExecution().executedPlan().toString()
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("term" in ln and "In(" in ln for ln in pushed), plan
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("_tb" in ln for ln in pf), plan
    # driver-side bucket derivation matches the written layout
    import os
    want = {term_bucket_py(t, 16) for t in ("rust", "programming")}
    postings_dir = f"{path}/snapshot/v=1/postings"
    dirs = {int(d.split("=")[1]) for d in os.listdir(postings_dir)
            if d.startswith("_tb=")}
    assert want <= dirs

    # scores unchanged vs the in-memory index
    got = [(r.id, round(r._bm25_score, 9))
           for r in idx.search("rust programming", 5).collect()]
    want_scores = [(r.id, round(r._bm25_score, 9))
                   for r in Bm25Index(df).search("rust programming", 5).collect()]
    assert got == want_scores


def test_composed_term_df_lookup_pushes_term_filter(spark, corpus, tmp_path):
    """With a log segment on top of the snapshot, the df lookup a search
    makes (term_df filtered on the query terms) must still push
    In(term, ...) into EVERY snapshot-postings scan: term df is aggregated
    from the composed postings, so the filter passes the aggregate, the
    union and the anti join down to the parquet reader."""
    from velesdb_spark.functions.bm25 import IncrementalBm25Index

    df, _ = corpus
    path = str(tmp_path / "bm25_push")
    idx = IncrementalBm25Index.build(df, path, term_buckets=4)
    idx.upsert_docs(spark.createDataFrame(
        [(2, "rust data pipelines")], "id bigint, text string"))
    terms = ["rust", "programming"]
    # untruncated scan locations, so the snapshot scans can be told apart
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        plan = (idx.as_bm25().term_df.filter(F.col("term").isin(terms))
                ._jdf.queryExecution().executedPlan().toString())
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    scans = [ln for ln in plan.splitlines()
             if "FileScan" in ln and "snapshot/v=1/postings" in ln]
    assert scans, plan
    for ln in scans:
        pushed = ln.split("PushedFilters:", 1)[1]
        assert "In(term" in pushed, ln
    got = {r.term: r.df for r in idx.as_bm25().term_df
           .filter(F.col("term").isin(terms)).collect()}
    assert got == {"rust": 4, "programming": 2}


def test_incremental_index_delete_all_docs(spark, corpus, tmp_path):
    """Deleting every document leaves an empty corpus (n_docs = 0, avgdl
    NULL): searches return no rows instead of failing on the corpus
    stats."""
    from velesdb_spark.functions.bm25 import IncrementalBm25Index

    df, docs = corpus
    idx = IncrementalBm25Index.build(df, str(tmp_path / "bm25_empty"),
                                     term_buckets=4)
    idx.delete_docs(list(docs))
    assert idx.search("rust programming", 5).collect() == []
    col_idx = Bm25Index(df).incremental_update(deleted_ids=list(docs))
    assert col_idx.search("rust programming", 5).collect() == []


def test_staging_registry_bounded(spark):
    """The staging registry is LRU-capped at MAX_STAGED: a session
    issuing many distinct scan-path queries evicts (unpersists) the
    oldest staged frame instead of accumulating cache entries forever."""
    from velesdb_spark.functions import staging

    staging.release_staged()
    frames = []
    for i in range(staging.MAX_STAGED + 5):
        # distinct row counts: identical plans canonicalize to ONE
        # CacheManager entry, which would alias every frame's storageLevel
        df = spark.range(3 + i)
        frames.append(df)
        staging.stage(df)
    assert staging.staged_count() == staging.MAX_STAGED
    # the 5 oldest were evicted AND unpersisted; the newest are cached
    assert all(f.storageLevel.useMemory is False for f in frames[:5])
    assert frames[-1].storageLevel.useMemory is True
    staging.release_staged()
    assert staging.staged_count() == 0
    assert frames[-1].storageLevel.useMemory is False

def test_staging_eviction_skips_aliased_plans(spark):
    """Spark's CacheManager keys on the canonicalized plan: re-staging
    the same query creates an aliased handle sharing ONE cache entry, so
    evicting the old alias must NOT unpersist it while the newer handle
    is still registered (it would silently uncache the newer frame)."""
    from velesdb_spark.functions import staging

    staging.release_staged()
    shared_old = spark.range(42)
    staging.stage(shared_old)
    # fill to capacity so the next stage() evicts shared_old
    for i in range(staging.MAX_STAGED - 1):
        staging.stage(spark.range(100 + i))
    # a NEW DataFrame object over the identical plan — same cache entry
    shared_new = spark.range(42)
    staging.stage(shared_new)
    assert staging.staged_count() == staging.MAX_STAGED
    # the eviction of shared_old must have skipped unpersist(): the
    # shared cache entry is still live for shared_new
    assert shared_new.storageLevel.useMemory is True
    staging.release_staged()
    assert shared_new.storageLevel.useMemory is False


def test_scan_scores_fallback_on_exotic_names(spark, corpus):
    """Column names that need quoting (space, dot, backtick) and a query
    with a quote go through the same SQL spelling and score like the
    reference."""
    from velesdb_spark.functions.bm25 import bm25_scan_scores
    from velesdb_spark.functions.staging import release_staged

    df, docs = corpus
    weird = df.select(F.col("id").alias("the `id`.x"),
                      F.col("text").alias("body text.y"))
    for q in ["rust programming", "l'été rust", "fox"]:
        got = {r["the `id`.x"]: r["_bm25_score"] for r in bm25_scan_scores(
            weird, q, id_col="the `id`.x", text_col="body text.y").collect()}
        release_staged()
        want = ref_bm25(docs, q)
        assert set(got) == set(want), q
        for i in want:
            assert got[i] == pytest.approx(want[i], rel=1e-12), q
