"""Reference-suite rotation, round 11 — the last four unmined suites:
graph_pattern_tests.rs (13), parser/subquery_tests.rs (10),
hybrid_tests.rs (9), parser/temporal_tests.rs (7). Structural rs tests
map to parse-level assertions on the Python AST; executed-semantics rs
tests run on DataFrames."""

import pytest
from pyspark.sql import functions as F

from velesdb_spark.velesql import ast
from velesdb_spark.velesql.parser import parse, parse_interval


# ------------------------------------------------------------------
# graph_pattern_tests.rs (13 shapes) — AST structure via the parser
# ------------------------------------------------------------------

def test_node_pattern_shapes():
    """rs:9-48 node builders/defaults — expressed through parse: empty
    node, alias-only, label-only, alias+multi-label chain."""
    q = parse("MATCH (n) RETURN n LIMIT 1")
    bare = parse("MATCH () RETURN * LIMIT 1").nodes[0]
    assert bare.alias is None and bare.labels == () and bare.properties == ()
    assert q.nodes[0].alias == "n"
    q = parse("MATCH (:Person) RETURN * LIMIT 1")
    assert q.nodes[0].labels == ("Person",) and q.nodes[0].alias is None
    q = parse("MATCH (p:Person:Employee) RETURN p LIMIT 1")
    assert q.nodes[0].alias == "p"
    assert q.nodes[0].labels == ("Person", "Employee")


def test_relationship_pattern_shapes():
    """rs:50-66,147-159: defaults, direction variants, alias+type+range.
    NOTE bracketless arrows ((a)-->(b)) are comment-ambiguous in BOTH
    engines — the reference's pest COMMENT rule ('--' to end of line,
    grammar.pest:6) swallows them exactly like our lexer does — so the
    empty rel spec is spelled -[]->."""
    r = parse("MATCH (a)-[]->(b) RETURN a LIMIT 1").rels[0]
    assert r.alias is None and r.types == () and r.direction == "out"
    assert (r.min_depth, r.max_depth) == (1, 1) and r.properties == ()
    assert parse("MATCH (a)<-[:R]-(b) RETURN a LIMIT 1").rels[0].direction == "in"
    assert parse("MATCH (a)-[:R]-(b) RETURN a LIMIT 1").rels[0].direction == "both"
    r = parse("MATCH (a)-[r:KNOWS*1..5]-(b) RETURN a LIMIT 1").rels[0]
    assert r.alias == "r" and r.types == ("KNOWS",)
    assert (r.min_depth, r.max_depth) == (1, 5) and r.direction == "both"


def test_graph_pattern_structure():
    """rs:68-79: named path binding + node/relationship counts."""
    q = parse("MATCH path = (a)-[:R]->(b) RETURN a LIMIT 1")
    assert q.path_name == "path"
    assert len(q.nodes) == 2 and len(q.rels) == 1


def test_return_clause_structure():
    """rs:81-100,126-145: return items with aliases, ORDER BY direction,
    LIMIT; count(*) as a return expression; ascending order item."""
    q = parse("MATCH (n:Person) RETURN n.name AS name "
              "ORDER BY n.age DESC LIMIT 10")
    assert len(q.returns) == 1
    assert q.returns[0].expr == "n.name" and q.returns[0].alias == "name"
    assert q.order_by and q.order_by[0].ascending is False
    assert q.limit == 10
    q = parse("MATCH (n:Person) RETURN count(*) LIMIT 5")
    assert q.returns[0].expr == "count(*)" and q.returns[0].alias is None
    q = parse("MATCH (n) RETURN n ORDER BY n.created_at LIMIT 1")
    assert q.order_by[0].ascending is True


def test_match_clause_structure():
    """rs:102-124: single label-anchored pattern, no WHERE, one return."""
    q = parse("MATCH (n:Person) RETURN n LIMIT 1")
    assert len(q.nodes) == 1 and q.where is None and len(q.returns) == 1


def test_match_count_star_executes(spark):
    """Beyond the rs structural test: count(*) EXECUTES with Cypher
    implicit grouping (the graph_match_count gate's pytest twin)."""
    from velesdb_spark.operators.graph import translate_match
    from velesdb_spark.velesql.translator import Catalog

    nodes = spark.createDataFrame(
        [(1, ["L"], "x"), (2, ["L"], "x"), (3, ["L"], "y"), (4, ["M"], "y")],
        "id bigint, labels array<string>, grp string")
    edges = spark.createDataFrame([], "eid bigint, src bigint, dst bigint,"
                                      " label string")
    cat = Catalog().register("nodes", nodes).register("edges", edges)
    q = parse("MATCH (n:L) RETURN n.grp AS grp, count(*) AS n_nodes LIMIT 10")
    got = {(r.grp, r.n_nodes) for r in translate_match(q, cat).collect()}
    assert got == {("x", 2), ("y", 1)}
    # no grouping key -> one global row
    q = parse("MATCH (n:L) RETURN count(*) LIMIT 10")
    rows = translate_match(q, cat).collect()
    assert len(rows) == 1 and rows[0]["count"] == 3


# ------------------------------------------------------------------
# parser/subquery_tests.rs (10 shapes)
# ------------------------------------------------------------------

SUBQUERY_SHAPES = [
    "SELECT * FROM products WHERE price < (SELECT AVG(price) FROM products)",
    "SELECT * FROM orders WHERE total > "
    "(SELECT AVG(total) FROM orders WHERE status = 'paid')",
    "SELECT * FROM accounts WHERE balance > "
    "(SELECT SUM(amount) FROM transactions)",
    "SELECT * FROM users WHERE order_count > (SELECT COUNT(*) FROM orders)",
    "SELECT * FROM products WHERE price = (SELECT MIN(price) FROM products)",
    "SELECT * FROM items WHERE cost < (SELECT AVG(cost) FROM items)",
    "SELECT * FROM logs WHERE id > (SELECT MAX(id) FROM logs LIMIT 1)",
    "SELECT * FROM orders WHERE total > "
    "(SELECT AVG(amount) FROM order_items WHERE order_id = 1)",
]


def test_subquery_shapes_parse():
    """subquery_tests.rs:6-124: every scalar-subquery comparison shape
    parses; the right-hand value is the Subquery variant."""
    for q in SUBQUERY_SHAPES:
        stmt = parse(q)
        assert isinstance(stmt.where, ast.Compare), q
        assert isinstance(stmt.where.value, ast.Subquery), q


def test_subquery_correlation_surface(catalog):
    """subquery_tests.rs:94-142: correlation detection. The reference
    stores a correlations list on the parsed subquery; here correlation
    is detected at translation (decorrelated to a key-join) — pin both
    ends: a same-table subquery translates without correlation (1-row
    broadcast bound), a correlated one decorrelates and EXECUTES."""
    from velesdb_spark.velesql.translator import translate

    # non-correlated: plain scalar bound
    df = translate("SELECT o_orderkey FROM orders WHERE o_totalprice > "
                   "(SELECT AVG(o_totalprice) FROM orders) "
                   "ORDER BY o_orderkey LIMIT 5", catalog)
    assert df.count() == 5
    # correlated: outer-alias equality inside the subquery
    df = translate(
        "SELECT o_orderkey FROM orders AS o WHERE o_totalprice > "
        "(SELECT AVG(o_totalprice) FROM orders AS o2 "
        "WHERE o2.o_custkey = o.o_custkey) ORDER BY o_orderkey LIMIT 5",
        catalog)
    assert df.count() == 5


# ------------------------------------------------------------------
# hybrid_tests.rs — intersect and normalize on DataFrames
# ------------------------------------------------------------------

def _res(spark, pairs):
    return spark.createDataFrame(list(pairs), "id bigint, score double")


def test_hybrid_empty_results(spark):
    """hybrid_tests.rs:84-92: an empty side is a no-op, not an error —
    for both live two-list fusions (RRF over tagged lists, and the
    min-max weighted blend)."""
    from velesdb_spark.functions.fusion import fuse_minmax_weighted, fuse_rrf

    v = _res(spark, [(1, 0.9)])
    empty = _res(spark, [])
    tagged = (v.withColumn("_q", F.lit("v"))
              .unionByName(empty.withColumn("_q", F.lit("g"))))
    fused = fuse_rrf(tagged, qid_col="_q").collect()
    assert len(fused) == 1 and fused[0].id == 1
    assert abs(fused[0].score - 1.0 / 61.0) < 1e-9
    for a, b in ((v, empty), (empty, v)):
        fused = fuse_minmax_weighted(a, b, 0.5).collect()
        assert len(fused) == 1 and fused[0].id == 1
        assert abs(fused[0].score - 0.5) < 1e-9


def test_hybrid_normalize_scores(spark):
    """hybrid_tests.rs:103-111 + hybrid.rs:236-265: min-max to [0,1];
    all-equal -> 1.0; empty stays empty."""
    from velesdb_spark.functions.fusion import normalize_scores

    r = _res(spark, [(1, 100.0), (2, 50.0), (3, 0.0)])
    got = {x.id: x.score for x in normalize_scores(r).collect()}
    assert abs(got[1] - 1.0) < 1e-9
    assert abs(got[2] - 0.5) < 1e-9
    assert abs(got[3] - 0.0) < 1e-9
    same = _res(spark, [(1, 7.0), (2, 7.0)])
    assert {x.score for x in normalize_scores(same).collect()} == {1.0}
    assert normalize_scores(_res(spark, [])).count() == 0


# ------------------------------------------------------------------
# parser/temporal_tests.rs (7 shapes)
# ------------------------------------------------------------------

def test_temporal_parse_shapes():
    """temporal_tests.rs:6-44: NOW(), bare INTERVAL, NOW() ± INTERVAL."""
    for q in (
            "SELECT * FROM events WHERE timestamp > NOW()",
            "SELECT * FROM events WHERE timestamp > INTERVAL '7 days'",
            "SELECT * FROM logs WHERE created_at > NOW() - INTERVAL '24 hours'",
            "SELECT * FROM tasks WHERE due_date < NOW() + INTERVAL '7 days'"):
        stmt = parse(q)
        assert isinstance(stmt.where, ast.Compare), q


def test_interval_units():
    """temporal_tests.rs:46-88: every unit parses to the right seconds."""
    units = [("1 second", 1), ("30 seconds", 30), ("5 minutes", 300),
             ("2 hours", 7200), ("7 days", 604800), ("2 weeks", 1209600),
             ("1 month", 2592000)]
    for text, secs in units:
        assert parse_interval(text) == secs, text
        stmt = parse(f"SELECT * FROM events WHERE ts > INTERVAL '{text}'")
        assert isinstance(stmt.where.value, ast.Interval)
        assert stmt.where.value.seconds == secs


def test_interval_shorthand_units():
    """temporal_tests.rs:125-139: s/sec/min/h/d/w shorthands."""
    for text, secs in (("1 s", 1), ("30 sec", 30), ("5 min", 300),
                       ("2 h", 7200), ("7 d", 604800), ("2 w", 1209600)):
        assert parse_interval(text) == secs, text


def test_temporal_expr_to_epoch_seconds():
    """temporal_tests.rs:90-123: to-seconds conversions, NOW() is
    current, NOW() - 1 week is ~604800 back."""
    import time

    assert parse_interval("1 day") == 86400
    assert parse_interval("1 week") == 604_800
    now_q = parse("SELECT * FROM events WHERE ts > NOW()")
    assert isinstance(now_q.where.value, ast.Now)
    # the arithmetic resolves at translation time; pin via the value
    # resolver with a fixed epoch
    from velesdb_spark.velesql.translator import Catalog, Translator

    tr = Translator(Catalog(), now_epoch=1_700_000_000)
    week_ago = tr.value(ast.TemporalArith(ast.Now(), "-",
                                          ast.Interval(604_800)))
    now_val = tr.value(ast.Now())
    assert int(now_val) - int(week_ago) == 604_800
    # wall-clock NOW() is after Jan 1 2020
    live = Translator(Catalog()).value(ast.Now())
    assert int(live) > 1_577_836_800
    assert abs(int(live) - time.time()) < 5


# ------------------------------------------------------------------
# parser/match_clause_tests.rs (edge shapes; the basic node/rel/range
# shapes are pinned above and in test_graph.py)
# ------------------------------------------------------------------

def test_match_clause_edge_shapes_parse():
    """match_clause_tests.rs:152-457: star-range variants, multi-types,
    string-literal keyword/comma/quote handling, underscore identifiers,
    alias-only and empty relationship brackets, properties+range."""
    shapes = [
        ("MATCH (a)-[:R*]->(b) RETURN b LIMIT 1", (1, 3)),   # unbounded->cap 3
        ("MATCH (a)-[:R*2]->(b) RETURN b LIMIT 1", (2, 2)),
        ("MATCH (a)-[:R*2..]->(b) RETURN b LIMIT 1", (2, 3)),
        ("MATCH (a)-[:R*..3]->(b) RETURN b LIMIT 1", (1, 3)),
    ]
    for q, (lo, hi) in shapes:
        r = parse(q).rels[0]
        assert (r.min_depth, r.max_depth) == (lo, hi), q
    assert parse("MATCH (a)-[:R|S]->(b) RETURN b LIMIT 1").rels[0].types \
        == ("R", "S")
    # keywords/commas/quotes inside string literals never terminate
    n = parse("MATCH (n {name: 'RETURN'}) RETURN n LIMIT 1").nodes[0]
    assert n.properties == (("name", "RETURN"),)
    n = parse("MATCH (n {name: 'O,Brien'}) RETURN n LIMIT 1").nodes[0]
    assert n.properties == (("name", "O,Brien"),)
    q = parse("MATCH (n) WHERE n.name = 'WHERE' RETURN n LIMIT 1")
    assert q.where.value == "WHERE"
    # != and <> both parse
    assert parse("MATCH (n) WHERE n.x != 1 RETURN n LIMIT 1").where.op \
        in ("!=", "<>")
    assert parse("MATCH (n) WHERE n.x <> 1 RETURN n LIMIT 1").where.op \
        in ("!=", "<>")
    # underscore identifiers are plain idents, not keyword matches
    assert parse("MATCH (n) WHERE n.my_field = 1 RETURN n LIMIT 1") \
        .where.column == "n.my_field"
    # alias-only / empty relationship brackets
    assert parse("MATCH (a)-[r]->(b) RETURN b LIMIT 1").rels[0].alias == "r"
    assert parse("MATCH (a)-[]->(b) RETURN b LIMIT 1").rels[0].alias is None
    # properties combined with a range
    r = parse("MATCH (a)-[:R*1..2 {w: 1}]->(b) RETURN b LIMIT 1").rels[0]
    assert (r.min_depth, r.max_depth) == (1, 2)
    assert r.properties == (("w", 1),)


def test_match_clause_error_shapes_rejected():
    """match_clause_tests.rs error shapes: missing RETURN, empty pattern,
    unbalanced parens/brackets are syntax errors. (start > end in a
    range is NOT a parse error in the reference either —
    match_clause_tests.rs:142-150.)"""
    from velesdb_spark.velesql.lexer import VelesQLSyntaxError

    for q in ("MATCH (a)-[:R]->(b)",
              "MATCH  RETURN a LIMIT 1",
              "MATCH (a-[:R]->(b) RETURN b LIMIT 1",
              "MATCH (a)-[:R->(b) RETURN b LIMIT 1",
              "MATCH (a)-:R]->(b) RETURN b LIMIT 1"):
        with pytest.raises(VelesQLSyntaxError):
            parse(q)
    # parity: an inverted range parses (execution yields no expansion)
    r = parse("MATCH (a)-[:R*3..1]->(b) RETURN b LIMIT 1").rels[0]
    assert (r.min_depth, r.max_depth) == (3, 1)


# ------------------------------------------------------------------
# distance_tests.rs (21) + index/bm25_tests.rs (27) — executed edges
# ------------------------------------------------------------------

def test_distance_edge_semantics(spark):
    """distance_tests.rs: jaccard of two EMPTY sets (all-zero vectors)
    is 1.0 (identical, rs:158-167); hamming of identical binarized
    vectors is 0 and of complements is the dimension; cosine/euclidean/
    dot on identical and orthogonal inputs; higher_is_better table."""
    from velesdb_spark.functions.distance import (higher_is_better,
                                                  metric_score)

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0, 0.0], [0.0, 0.0, 0.0, 0.0]),
         (2, [1.0, 0.0, 1.0, 0.0], [1.0, 0.0, 1.0, 0.0]),
         (3, [1.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 1.0])],
        "id bigint, a array<double>, b array<double>")

    def scores(m):
        out = df.select("id", metric_score(F.col("a"), F.col("b"), m)
                        .alias("s")).collect()
        return {r.id: round(r.s, 6) for r in out}

    assert scores("jaccard") == {1: 1.0, 2: 1.0, 3: 0.0}
    assert scores("hamming") == {1: 0.0, 2: 0.0, 3: 4.0}
    assert scores("cosine") == {1: 0.0, 2: 1.0, 3: 0.0}
    assert scores("euclidean") == {1: 0.0, 2: 0.0, 3: 2.0}
    assert scores("dot") == {1: 0.0, 2: 2.0, 3: 0.0}
    assert higher_is_better("cosine") and higher_is_better("dot") \
        and higher_is_better("jaccard")
    assert not higher_is_better("euclidean") \
        and not higher_is_better("hamming")


def test_bm25_tokenize_and_query_edges(spark):
    """bm25_tests.rs: single-character tokens are filtered (rs:89-96 —
    'i'/'a' never index, 'am'/'test' do); duplicate query terms don't
    duplicate results (rs:270-277); common terms still return all docs
    while rare terms return their one doc (rs:200-214); the shorter
    document scores higher for a concentrated term (rs:217-231)."""
    from velesdb_spark.functions.bm25 import Bm25Index

    idx = Bm25Index(spark.createDataFrame(
        [(1, "I am a test")], "id bigint, text string"))
    assert idx.search("i", 5).count() == 0
    assert idx.search("am", 5).count() == 1
    assert idx.search("rust rust rust", 5).count() == 0

    idx2 = Bm25Index(spark.createDataFrame(
        [(1, "rust programming"), (2, "python programming"),
         (3, "java programming")], "id bigint, text string"))
    assert idx2.search("rust", 10).count() == 1
    assert idx2.search("programming", 10).count() == 3
    assert idx2.search("rust rust rust", 10).count() == 1

    idx3 = Bm25Index(spark.createDataFrame(
        [(1, "rust"),
         (2, "rust is a systems programming language that runs "
             "blazingly fast")], "id bigint, text string"))
    rows = idx3.search("rust", 10).collect()
    assert len(rows) == 2
    byid = {r.id: r._bm25_score for r in rows}
    assert byid[1] > byid[2]


# ------------------------------------------------------------------
# collection/metadata_only_tests.rs (13) — typed collection behavior
# ------------------------------------------------------------------

def test_metadata_only_collection_lifecycle(spark):
    """metadata_only_tests.rs: a metadata-only collection upserts
    payload-only points, gets/deletes/counts, reports
    is_metadata_only(); a vector upsert and a vector search raise TYPED
    errors (never raw engine analysis exceptions); an EMPTY vector
    collection still searches (zero results, not a metadata-only
    error)."""
    import pytest as _pytest

    from velesdb_spark.database import Database

    db = Database(spark)
    c = db.create_metadata_collection("meta_r11")
    assert c.is_metadata_only()
    c.upsert_metadata([{"id": 1, "payload": {"k": "a"}},
                       {"id": 2, "payload": {"k": "b"}}])
    assert c.count() == 2
    assert c.get(1)["k"] == "a"
    with _pytest.raises(ValueError, match="metadata-only"):
        c.upsert([{"id": 3, "vector": [1.0, 2.0]}])
    with _pytest.raises(ValueError, match="metadata-only"):
        c.search([1.0, 2.0], 5)
    with _pytest.raises(ValueError, match="metadata-only"):
        c.search_with_filter([1.0, 2.0], {"type": "eq", "field": "k",
                                          "value": "a"}, 5)
    c.delete([1])
    assert c.count() == 1
    # a normal vector collection with data searches fine
    v = db.create_collection("vec_r11", dimension=2)
    v.upsert([{"id": 1, "vector": [1.0, 0.0]}])
    assert v.search([1.0, 0.0], 1).count() == 1
    assert not v.is_metadata_only()


def test_agent_memory_recall_dim_mismatch(spark):
    """agent/memory_tests.rs test_semantic_dimension_mismatch +
    test_dimension_mismatch_on_existing_collection: both the WRITE side
    (remember, already guarded) and the READ side (recall query vector)
    reject a wrong-dim vector eagerly — zip_with would otherwise score
    every row NULL silently."""
    from velesdb_spark.agent import AgentMemory

    mem = AgentMemory(spark, dimension=4)
    with pytest.raises(ValueError, match="dimension"):
        mem.remember("semantic", [{"id": 1, "vector": [1.0, 0.0]}])
    mem.remember("semantic", [{"id": 2, "vector": [1.0, 0.0, 0.0, 0.0]}])
    with pytest.raises(ValueError, match="dimensions"):
        mem.recall("semantic", [1.0, 0.0], 5)
    # the right dim still recalls
    assert mem.recall("semantic", [1.0, 0.0, 0.0, 0.0], 5).count() == 1


def test_numpy_vector_inputs(spark):
    """velesdb-python tests/test_velesdb.py numpy shapes: upsert accepts
    numpy float32/float64 vectors (and numpy scalar payloads), mixed
    numpy-and-list batches work, and search takes a numpy query
    vector."""
    import numpy as np

    from velesdb_spark.database import Database

    db = Database(spark)
    c = db.create_collection("np_r11", dimension=3)
    c.upsert([
        {"id": 1, "vector": np.array([1.0, 0.0, 0.0], dtype=np.float32),
         "score_field": np.float64(0.5)},
        {"id": 2, "vector": np.array([0.0, 1.0, 0.0], dtype=np.float64),
         "score_field": 0.25},
        {"id": 3, "vector": [0.0, 0.0, 1.0], "score_field": 0.1},
    ])
    assert c.count() == 3
    top = c.search(np.array([1.0, 0.0, 0.0], dtype=np.float64), 1).collect()
    assert top[0]["id"] == 1
    # numpy int ids coerce too
    c.upsert([{"id": np.int64(4), "vector": [1.0, 1.0, 0.0],
               "score_field": 0.0}])
    assert c.count() == 4


def test_bindings_e2e_complete(spark):
    """velesdb-python tests/test_e2e_complete.py, compressed: multi-
    collection create/list, full CRUD (insert, search, update, delete),
    every distance metric, every storage mode, and a parameterized
    VelesQL query over the same database — one user journey."""
    import numpy as np

    from velesdb_spark.database import Database

    rng = np.random.default_rng(11)
    db = Database(spark)
    # create + list
    for name in ("e2e_documents", "e2e_images", "e2e_users"):
        db.create_collection(name, dimension=8)
    assert {"e2e_documents", "e2e_images", "e2e_users"} \
        <= set(db.list_collections())
    # CRUD
    col = db.get_collection("e2e_documents")
    vecs = rng.standard_normal((12, 8)).astype("float32")
    col.upsert([{"id": i + 1, "vector": vecs[i].tolist(), "tag": f"t{i}"}
                for i in range(10)])
    assert col.count() == 10
    assert col.search(vecs[5].tolist(), 3).count() == 3
    col.upsert([{"id": 1, "vector": vecs[11].tolist(), "tag": "updated"}])
    assert col.get(1)["tag"] == "updated" and col.count() == 10
    col.delete([1, 2, 3])
    assert col.count() == 7
    # every metric searches
    for metric in ("cosine", "euclidean", "dot", "hamming", "jaccard"):
        mc = db.create_collection(f"e2e_m_{metric}", dimension=8,
                                  metric=metric)
        mc.upsert([{"id": 1, "vector": vecs[0].tolist()},
                   {"id": 2, "vector": vecs[1].tolist()}])
        assert mc.search(vecs[0].tolist(), 2).count() == 2
    # every storage mode round-trips (binary requires hamming/jaccard)
    for mode, metric in (("full", "cosine"), ("sq8", "cosine"),
                         ("binary", "hamming")):
        sc_ = db.create_collection(f"e2e_s_{mode}", dimension=8,
                                   metric=metric, storage_mode=mode)
        sc_.upsert([{"id": i + 1, "vector": vecs[i].tolist()}
                    for i in range(5)])
        assert sc_.search(vecs[0].tolist(), 3).count() == 3
    # parameterized VelesQL over the CRUD collection
    rows = col.query("SELECT id FROM e2e_documents WHERE vector NEAR $v "
                     "LIMIT 4", {"v": vecs[5].tolist()}).collect()
    assert len(rows) == 4
