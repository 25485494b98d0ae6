"""Collection behaviours a framework adapter builds on: single-node and
single-edge writes through ``add_node``/``add_edge``, the bindings shape
of ``get_edges``, reserved fields that metadata must not shadow, and the
metric direction that decides where a missing score ranks."""

from __future__ import annotations


def test_graph_loader_and_edge_bindings(spark):
    """add_node/add_edge single upserts; get_edges returns bindings dicts
    with edge metadata under ``properties`` and filters by label."""
    from velesdb_spark.database import Collection

    col = Collection(spark, "edge_bindings")
    assert col.get_edges() == []
    col.add_node(1, "PERSON", metadata={"name": "John", "age": 30})
    col.add_node(2, "PERSON", metadata={"name": "Ada"})
    col.add_edge(7, source=1, target=2, label="KNOWS",
                 metadata={"since": "2024-01-01"})
    assert col.get_edges(label="KNOWS") == [
        {"id": 7, "source": 1, "target": 2, "label": "KNOWS",
         "properties": {"since": "2024-01-01"}}]
    assert col.get_edges(label="NOPE") == []
    assert col.get(1)["labels"] == ["PERSON"]


def test_add_node_metadata_cannot_shadow_reserved_fields(spark):
    from velesdb_spark.database import Collection

    col = Collection(spark, "shadow_nodes")
    col.add_node(id=7, label="PERSON",
                 metadata={"id": 42, "labels": "EVIL", "name": "alice"},
                 vector=None)
    row = col.df.first()
    assert row["id"] == 7
    assert row["labels"] == ["PERSON"]
    assert row["name"] == "alice"


def test_add_node_metadata_cannot_inject_vector(spark):
    """vector=None must not let a metadata key named like the vector
    column land as the stored vector."""
    from velesdb_spark.database import Collection

    col = Collection(spark, "shadow_vec_nodes")
    col.add_node(id=1, label="PERSON",
                 metadata={"vector": [9.0, 9.0], "name": "bob"},
                 vector=None)
    row = col.df.first()
    assert row["name"] == "bob"
    assert "vector" not in col.df.columns or row["vector"] is None
    # the explicit vector argument still wins
    col.add_node(id=2, label="PERSON",
                 metadata={"vector": [9.0, 9.0]}, vector=[1.0, 2.0])
    row2 = col.df.filter(col.df.id == 2).first()
    assert [round(float(x), 3) for x in row2["vector"]] == [1.0, 2.0]


def test_li_batch_query_null_score_ranks_last_both_directions(spark):
    """A missing/None score must rank LAST under either metric
    direction — coercing to 0.0 ranked it first (best) on distance
    metrics."""
    from velesdb_spark.functions.distance import higher_is_better

    for metric, hib in (("euclidean", False), ("cosine", True)):
        assert higher_is_better(metric) is hib
        missing = float("-inf") if hib else float("inf")
        rows = [{"score": 0.5}, {"score": None}, {"score": 0.1}]
        out = sorted(rows,
                     key=lambda r: (missing if r.get("score") is None
                                    else float(r["score"])),
                     reverse=hib)
        assert out[-1]["score"] is None
