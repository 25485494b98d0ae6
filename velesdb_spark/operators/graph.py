"""Graph operators: bounded BFS traversal and Cypher-like MATCH as iterative
DataFrame joins.

Reference semantics (collection/graph/traversal.rs, streaming.rs,
collection/search/query/match_exec.rs):
- Graph = nodes table (id, labels ARRAY<STRING>, properties...) + edges table
  (id, src, dst, label, properties...) — edge.rs:36-48, labels convention
  '_labels' (match_exec.rs:240-252).
- BFS from a start node: visited-set semantics — each reachable node is
  emitted ONCE at its minimum depth (streaming.rs:115-117 seeds visited with
  the start node; start itself is never emitted); depth range [min,max],
  default max 3, safety cap 100 (traversal.rs:17-28); optional rel-type
  filter; directions out/in/both.
- MATCH: start nodes from first node pattern (labels via array_contains +
  property equality), traversal, WHERE on bindings, RETURN projection of
  alias.prop, default limit 100 (match_exec.rs:110).

Spark mapping: frontier expansion is a join per depth level
(frontier ⋈ edges), all-pairs per start node, deduped with a groupBy min
depth — each level is cluster-parallel; the reference's per-start-node rayon
loop (parallel_traversal.rs) becomes partition parallelism for free. Where
the reference's BFS ignores intermediate node patterns in multi-hop chains
(match_exec.rs treats the pattern as start-filter + rel-type union + max
depth), we implement proper per-hop pattern matching — a strict superset that
agrees on the reference's test patterns.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from velesdb_spark.functions.sqlexpr import double_array_lit, ident, str_lit

from velesdb_spark.velesql import ast

DEFAULT_MAX_DEPTH = 3
SAFETY_DEPTH_CAP = 100  # traversal.rs safety cap
FUSED_DEPTH_MAX = 4  # ≤ this depth: fused expansion + min-depth aggregate
DEFAULT_MATCH_LIMIT = 100  # match_exec.rs:110


def _step(frontier: DataFrame, edges: DataFrame, direction: str,
          rel_types: Sequence[str], cur: str = "_cur",
          salt: int = 0, broadcast_frontier: bool = False) -> DataFrame:
    """One hop: frontier(_cur, ...) ⋈ edges → next nodes in ``_next``.

    Skew story for power-law graphs (a hub's edge list lands on one shuffle
    key), three mitigations layered:
    - AQE skew-join (session default) splits oversized partitions at runtime
    - ``broadcast_frontier``: hint the (typically tiny) frontier as the
      build side — the edge table never shuffles at all, so hub skew is
      moot; the right choice for explicit start lists
    - ``salt=R``: replicate each frontier row R ways and bucket the edge
      table by xxhash64 of the FAR endpoint % R, deterministically
      splitting a hub's edges across R tasks — for frontiers too large to
      broadcast joined against heavy-hub edge tables
    """
    e = edges
    if rel_types:
        e = e.filter(F.col("label").isin(list(rel_types)))
    fr = frontier
    if salt > 1:
        fr = frontier.withColumn(
            "_bfs_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)])))
    elif broadcast_frontier:
        fr = F.broadcast(frontier)
    on = [cur, "_bfs_salt"] if salt > 1 else cur

    def side(key: str, far: str) -> DataFrame:
        sel = e.select(F.col(key).alias(cur), F.col(far).alias("_next"))
        if salt > 1:
            sel = sel.withColumn(
                "_bfs_salt",
                F.pmod(F.xxhash64(F.col("_next")), F.lit(salt)).cast("int"))
        return fr.join(sel, on=on, how="inner")

    outs = []
    if direction in ("out", "both"):
        outs.append(side("src", "dst"))
    if direction in ("in", "both"):
        outs.append(side("dst", "src"))
    nxt = outs[0]
    for o in outs[1:]:
        nxt = nxt.union(o)
    return nxt.drop("_bfs_salt") if salt > 1 else nxt


def bfs(edges: DataFrame, start_ids: DataFrame | Sequence[int],
        min_depth: int = 1, max_depth: int = DEFAULT_MAX_DEPTH,
        rel_types: Sequence[str] = (), direction: str = "out",
        salt: int = 0) -> DataFrame:
    """Multi-source BFS → (start_id, node_id, depth).

    Visited-set semantics per start: each node appears once, at its minimum
    depth; start nodes excluded (streaming.rs BfsIterator). ``start_ids`` may
    be a DataFrame with column ``start_id`` or a Python sequence.

    ``salt=R`` splits hub-key edge lists across R tasks in every expansion
    (see _step); with the default 0, explicit start lists broadcast the
    frontier (no edge shuffle) and AQE handles residual skew.
    """
    max_depth = min(max_depth, SAFETY_DEPTH_CAP)
    literal_starts = not isinstance(start_ids, DataFrame)
    bcast = literal_starts and salt <= 1
    if isinstance(start_ids, DataFrame):
        starts = start_ids.select(F.col("start_id").cast("long"))
    else:
        spark = edges.sparkSession
        starts = spark.createDataFrame([(int(i),) for i in start_ids], "start_id bigint")

    if max_depth <= FUSED_DEPTH_MAX:
        # shallow walks (the default max 3): expand every level with only a
        # per-level distinct, then resolve visited-set semantics with ONE
        # min-depth aggregate — node-at-min-depth is exactly what the
        # per-level anti-join maintenance computes, at 2 fewer shuffles per
        # level. Deep walks keep the iterative visited subtraction below,
        # where frontier shrinkage pays for the extra joins.
        frontier = starts.select("start_id", F.col("start_id").alias("_cur"))
        levels = []
        for depth in range(1, max_depth + 1):
            nxt = _step(frontier, edges, direction, rel_types,
                        salt=salt,
                        broadcast_frontier=bcast and depth == 1).select(
                "start_id", F.col("_next").alias("_node")).distinct()
            # note (r11 optimization round): every non-final level has TWO
            # consumers — the union feeding the min-depth aggregate and the
            # next level's expansion — and Catalyst does not reuse the
            # exchange across them, so the level's join+distinct chain
            # re-executes once per remaining level. Materializing the level
            # (localCheckpoint, lazy) was tried and MEASURED SLOWER at
            # every tested scale: the forced RDD conversion plans the
            # subtree eagerly and the checkpoint job serializes the level
            # before the union job can start, costing more than the
            # recomputed (start_id,node)-only subtree. Left recomputed.
            levels.append(nxt.withColumn("depth", F.lit(depth)))
            frontier = nxt.select("start_id", F.col("_node").alias("_cur"))
        alll = levels[0]
        for lv in levels[1:]:
            alll = alll.union(lv)
        return (alll.groupBy("start_id", "_node")
                .agg(F.min("depth").alias("depth"))
                .filter((F.col("depth") >= min_depth)
                        & (F.col("_node") != F.col("start_id")))
                .select("start_id", F.col("_node").alias("node_id"), "depth"))

    frontier = starts.select("start_id", F.col("start_id").alias("_cur"))
    # reached: (start_id, node_id, depth) at first encounter
    reached: Optional[DataFrame] = None
    visited = starts.select("start_id", F.col("start_id").alias("_node"))
    for depth in range(1, max_depth + 1):
        nxt = _step(frontier, edges, direction, rel_types,
                    salt=salt, broadcast_frontier=bcast and depth == 1).select(
            "start_id", F.col("_next").alias("_node")).distinct()
        # drop already-visited (per start)
        nxt = nxt.join(visited, on=["start_id", "_node"], how="left_anti")
        if depth >= 3:
            nxt = nxt.localCheckpoint(eager=False)  # cut lineage on deep walks
        level = nxt.withColumn("depth", F.lit(depth))
        reached = level if reached is None else reached.union(level)
        visited = visited.union(nxt)
        frontier = nxt.select("start_id", F.col("_node").alias("_cur"))
    assert reached is not None
    return (
        reached.filter(F.col("depth") >= min_depth)
        .select("start_id", F.col("_node").alias("node_id"), "depth")
    )


def bfs_edge_trace(edges: DataFrame, start_id: int, max_depth: int = 3,
                   rel_types: Sequence[str] = ()) -> DataFrame:
    """BFS discovery edges → (depth, source, target, label).

    The bindings' streaming traversal (velesdb-python graph_store.rs
    traverse_bfs_streaming, TraversalResult {depth, source, target,
    label}) reports the EDGE that first reaches each node, not just the
    node. Derived from the min-depth BFS: a node discovered at depth d
    pairs with its incoming edges from depth d-1 nodes; ties pick the
    minimum edge id (the reference's insertion order). One extra join
    over the node-level BFS — no per-edge iteration."""
    reach = bfs(edges, [start_id], 1, max_depth, rel_types, "out") \
        .select("node_id", "depth")
    spark = edges.sparkSession
    # depth of every frontier node incl. the root at depth 0
    depths = reach.unionByName(spark.createDataFrame(
        [(int(start_id), 0)], "node_id bigint, depth int"))
    e = edges
    if rel_types:
        e = e.filter(F.col("label").isin(list(rel_types)))
    cand = (e.join(depths.select(F.col("node_id").alias("src"),
                                 F.col("depth").alias("_src_d")), "src")
            .join(reach.select(F.col("node_id").alias("dst"),
                               F.col("depth").alias("_dst_d")), "dst")
            .filter(F.col("_dst_d") == F.col("_src_d") + 1))
    picked = (cand.groupBy("dst")
              .agg(F.min(F.struct("id", "src", "label", "_dst_d"))
                   .alias("_e")))
    return picked.select(
        F.col("_e._dst_d").alias("depth"),
        F.col("_e.src").alias("source"),
        F.col("dst").alias("target"),
        F.col("_e.label").alias("label"))


def pagerank(edges: DataFrame, iterations: int = 5,
             damping: float = 0.85, src: str = "src",
             dst: str = "dst") -> DataFrame:
    """Fixed-iteration PageRank → (id, pr). Headroom beyond the
    reference's traversal surface: node-importance scoring for corpus
    graphs (citation/link authority as a quality prior).

    Deliberately FIXED iterations rather than convergence-tested: the
    result is then a deterministic composition of joins+aggregates an
    external engine re-derives exactly (the oracle unrolls the same k
    steps in SQL), and k≈5 is the standard web-ranking truncation.
    Per iteration: one join of the edge list with the rank table on src
    (both hash-partitioned on the same key → exchange reuse), one
    map-combinable sum per dst, one broadcast of nothing — ranks stay
    distributed. Dangling mass is dropped (uniformly rescaling it adds
    a driver round-trip per iteration and changes no RANKING).
    localCheckpoint every other round truncates the growing plan."""
    e = edges.select(F.col(src).alias("_src"),
                     F.col(dst).alias("_dst")).distinct().persist()
    nodes = (e.select(F.col("_src").alias("_id"))
             .union(e.select(F.col("_dst").alias("_id")))
             .distinct().persist())
    n_nodes = nodes.count()
    base = (1.0 - damping) / n_nodes
    outdeg = e.groupBy("_src").agg(F.count("*").alias("_deg"))
    pr = nodes.withColumn("_pr", F.lit(1.0 / n_nodes))
    for i in range(iterations):
        contrib = (e.join(pr.withColumnRenamed("_id", "_src"), "_src")
                   .join(outdeg, "_src")
                   .groupBy("_dst")
                   .agg(F.sum(F.col("_pr") / F.col("_deg")).alias("_in")))
        pr = (nodes.join(contrib.withColumnRenamed("_dst", "_id"),
                         "_id", "left")
              .select("_id",
                      (F.lit(base) + F.lit(damping)
                       * F.coalesce(F.col("_in"), F.lit(0.0)))
                      .alias("_pr")))
        if i % 2 == 1:
            pr = pr.localCheckpoint(eager=False)
    # Materialize once (eager checkpoint), then release the caches
    # deterministically — repeated pagerank() calls must not accumulate
    # persisted edge/node tables until executor-LRU eviction.
    out = (pr.select(F.col("_id").alias("id"), F.col("_pr").alias("pr"))
           .localCheckpoint(eager=True))
    e.unpersist()
    nodes.unpersist()
    return out


def node_degree(edges: DataFrame, direction: str = "both") -> DataFrame:
    """(node_id, degree) — graph_api.rs node degree."""
    parts = []
    if direction in ("out", "both"):
        parts.append(edges.select(F.col("src").alias("node_id")))
    if direction in ("in", "both"):
        parts.append(edges.select(F.col("dst").alias("node_id")))
    u = parts[0]
    for p in parts[1:]:
        u = u.union(p)
    return u.groupBy("node_id").agg(F.count("*").alias("degree"))


def triangles(edges: DataFrame, src: str = "src",
              dst: str = "dst") -> DataFrame:
    """Exact triangle enumeration via the degree-oriented wedge join
    (compact-forward / Suri-Vassilvitskii MR-triangles): one row (u, v,
    w) per triangle, each triangle exactly once.

    Headroom beyond the reference (its graph surface is traversal +
    pattern match, graph_api.rs); triangle counting / clustering
    coefficients are the standard next analytics step over the same
    edge tables.

    100 TB shape: edges canonicalize to a<b and orient from the
    LOWER-(degree, id) endpoint to the higher, so every wedge is built
    around its lowest-order vertex — candidate wedges are Σ C(out_deg,
    2) with out_deg ≤ O(√m) on any graph (a degree-D hub contributes
    wedges only through its ≤√m out-orientation, not C(D, 2)). Both
    stages are plain equi-join shuffles on node ids carrying ids+degrees
    only; no adjacency list ever materializes on one executor.
    """
    from velesdb_spark.functions.staging import stage

    # e is consumed three times (deg twice + ed once) and o three times
    # (left wedge leg, right wedge leg, closing edge); without staging,
    # Catalyst re-executes the whole canonicalize-distinct and the two
    # degree joins once per consumer — the audit showed the upstream edge
    # derivation repeated ~12x in one plan. Both staged frames are
    # fixed-width long projections (e: 2 longs/edge, o: 3 longs/edge),
    # the GraphX-style spill-backed working set of the algorithm —
    # recomputing them costs 3x the shuffle joins OF the fact table,
    # strictly worse at any scale than reading the 24-byte rows back.
    e = stage(edges.select(F.least(F.col(src), F.col(dst)).alias("a"),
                           F.greatest(F.col(src), F.col(dst)).alias("b"))
              .filter(F.col("a") < F.col("b")).distinct())
    deg = (e.select(F.col("a").alias("id"))
           .unionByName(e.select(F.col("b").alias("id")))
           .groupBy("id").agg(F.count("*").alias("deg")))
    ed = (e.join(deg.select(F.col("id").alias("a"),
                            F.col("deg").alias("da")), "a")
          .join(deg.select(F.col("id").alias("b"),
                           F.col("deg").alias("db")), "b"))
    fwd = (F.col("da") < F.col("db")) | \
        ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    o = stage(ed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(fwd, F.col("db")).otherwise(F.col("da")).alias("dv")))
    left = o.select("u", "v", "dv")
    right = o.select(F.col("u"), F.col("v").alias("w"),
                     F.col("dv").alias("dw"))
    wedge = left.join(right, "u").filter(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w"))))
    # the closing v—w edge is oriented v→w because the wedge filter put
    # v strictly before w in the same (deg, id) total order
    closing = o.select(F.col("u").alias("v"), F.col("v").alias("w"))
    return wedge.join(closing, ["v", "w"]).select("u", "v", "w")


def triangle_counts(edges: DataFrame, src: str = "src",
                    dst: str = "dst") -> DataFrame:
    """(id, n_tri): triangles through each node — the numerator of the
    local clustering coefficient. Labeling-invariant (each triangle adds
    1 to each of its three nodes, however the enumeration labeled it)."""
    tri = triangles(edges, src, dst)
    return (tri.select(F.explode(F.array("u", "v", "w")).alias("id"))
            .groupBy("id").agg(F.count("*").alias("n_tri")))


# --------------------------------------------------------------- MATCH


def _node_filter(nodes: DataFrame, pat: ast.NodePattern, value_of) -> DataFrame:
    out = nodes
    for lbl in pat.labels:
        # one-shot SQL (guide §5): same ArrayContains tree, one parse
        out = out.filter(f"array_contains(labels, {str_lit(lbl)})")
    for name, val in pat.properties:
        v = value_of(val)
        if v is None:
            out = out.filter(F.col(name).isNull())
        else:
            out = out.filter(F.col(name).eqNullSafe(F.lit(v)))
    return out


def translate_match(q: ast.MatchQuery, catalog, params: Optional[dict] = None,
                    strategy=None) -> DataFrame:
    """Execute a MATCH query against catalog tables ``nodes`` and ``edges``.

    ``strategy`` is a match-planner execution hint
    (plans/match_planner.py, mirroring match_planner.rs:84-153): with
    VectorFirst or Parallel, a conjunctive similarity() on the START
    alias is pushed onto the start-node scan so the traversal only joins
    the similar frontier; the post-traversal WHERE still applies the
    same predicate, so every strategy returns identical rows. ``None``
    plans with default stats (pure — no Spark jobs at translation)."""
    from velesdb_spark.plans import match_planner as mp
    from velesdb_spark.velesql.translator import TranslationError, Translator

    tr = Translator(catalog, params)
    nodes = catalog.resolve("nodes").df
    edges = catalog.resolve("edges").df
    id_col = catalog.resolve("nodes").id_col

    # Bindings: one column per node alias (its node id). Anonymous patterns
    # get positional internal names.
    aliases = []
    for i, np in enumerate(q.nodes):
        aliases.append(np.alias or f"_anon{i}")

    if strategy is None:
        strategy = mp.plan(q, mp.PlannerStats())

    start = _node_filter(nodes, q.nodes[0], tr.value)
    vec_hint = (strategy if isinstance(strategy, mp.VectorFirst)
                else strategy.vector_hint
                if isinstance(strategy, mp.Parallel) else None)
    if vec_hint is not None:
        from velesdb_spark.functions.distance import (metric_score,
                                                      similarity_passes)

        for sim in mp.conjunctive_similarities(q.where):
            name = sim.field_name
            if "." not in name:
                continue  # bare field binds to the target alias
            alias, fld = name.split(".", 1)
            if alias != aliases[0] or fld not in nodes.columns:
                continue
            vec = tr.value(sim.vector)
            score = metric_score(
                F.col(fld),
                double_array_lit(vec), "cosine")
            start = start.filter(
                similarity_passes(score, sim.op, sim.threshold, "cosine"))
    cur = start.select(F.col(id_col).alias(f"_b_{aliases[0]}"))

    for i, rel in enumerate(q.rels):
        target_pat = q.nodes[i + 1]
        target_alias = aliases[i + 1]
        prev_alias = aliases[i]
        e = edges
        if rel.types:
            e = e.filter(F.col("label").isin(list(rel.types)))
        for name, val in rel.properties:
            e = e.filter(F.col(name).eqNullSafe(F.lit(tr.value(val))))

        max_d = min(rel.max_depth, SAFETY_DEPTH_CAP)
        if rel.min_depth == 1 and max_d == 1:
            # single hop — one join
            hop = _rel_join(cur, e, f"_b_{prev_alias}", f"_b_{target_alias}", rel.direction)
        else:
            # variable-length: iterate, keep first-encounter depth per binding
            frontier = cur.withColumn("_cur", F.col(f"_b_{prev_alias}"))
            seen = frontier.select(*cur.columns, F.col("_cur").alias("_node")).distinct()
            levels = None
            for depth in range(1, max_d + 1):
                nxt = _step(frontier.select(*cur.columns, "_cur"), e, rel.direction, ())
                nxt = nxt.select(*cur.columns, F.col("_next").alias("_node")).distinct()
                nxt = nxt.join(seen, on=[*cur.columns, "_node"], how="left_anti")
                if depth >= 3:
                    nxt = nxt.localCheckpoint(eager=False)
                lvl = nxt.withColumn("_depth", F.lit(depth))
                levels = lvl if levels is None else levels.union(lvl)
                seen = seen.union(nxt)
                frontier = nxt.withColumn("_cur", F.col("_node"))
            hop = levels.filter(F.col("_depth") >= rel.min_depth) \
                        .select(*cur.columns, F.col("_node").alias(f"_b_{target_alias}"))
        # target node pattern filter
        tgt = _node_filter(nodes, target_pat, tr.value).select(
            F.col(id_col).alias(f"_b_{target_alias}"))
        cur = hop.join(tgt, on=f"_b_{target_alias}", how="inner") \
                 .select(*[f"_b_{a}" for a in aliases[: i + 2]]).distinct()

    bound = [a for a in aliases]
    target_alias = aliases[-1]

    # Join node properties for every alias referenced in WHERE / RETURN
    needed = _referenced_aliases(q, bound, target_alias)
    out = cur
    for a in needed:
        cols = [c for c in nodes.columns if c != id_col]
        # one-shot SQL aliases (guide §5): same trees, one parse each
        props = nodes.selectExpr(
            f"{ident(id_col)} AS {ident(f'_b_{a}')}",
            *[f"{ident(c)} AS {ident(f'{a}__{c}')}" for c in cols])
        out = out.join(props, on=f"_b_{a}", how="left")

    def resolve(name: str) -> Column:
        if "." in name:
            a, p = name.split(".", 1)
            if a in bound:
                if p == id_col:
                    # the node's id property IS the binding column — the
                    # hydration join excludes it from alias__* props
                    # (WHERE p.id = 42 / RETURN other.id)
                    return F.col(f"_b_{a}")
                return F.col(f"{a}__{p}")
        if name in bound:
            return F.col(f"_b_{name}")
        if name == id_col:
            return F.col(f"_b_{target_alias}")
        return F.col(f"{target_alias}__{name}")  # bare prop → target node

    if q.where is not None:
        out = out.filter(_match_where(q.where, resolve, tr))

    # RETURN projection. count(*) triggers Cypher-style IMPLICIT grouping:
    # the non-aggregate return items become the grouping keys (none →
    # one global count row).
    count_items = [it for it in q.returns if it.expr == "count(*)"]
    if count_items:
        key_items = [it for it in q.returns if it.expr != "count(*)"]
        if any(it.expr in ("*", "similarity()") for it in key_items):
            raise TranslationError(
                "RETURN count(*) groups by the other return items; "
                "* and similarity() cannot be grouping keys")
        cnt = F.count(F.lit(1)).alias(count_items[0].alias or "count")
        if key_items:
            keys = [resolve(it.expr).alias(it.alias or it.expr)
                    for it in key_items]
            result = out.groupBy(*keys).agg(cnt)
        else:
            result = out.agg(cnt)
    else:
        exprs = []
        for item in q.returns:
            if item.expr == "*":
                for a in bound:
                    exprs.append(F.col(f"_b_{a}").alias(a))
                continue
            if item.expr == "similarity()":
                exprs.append(F.col("_vql_sim").alias(item.alias or "similarity"))
                continue
            name = item.alias or item.expr
            exprs.append(resolve(item.expr).alias(name))
        result = out.select(*exprs)

    if q.order_by:
        oexprs = []
        for ob in q.order_by:
            c = F.col(ob.expr.replace(".", "__")) if isinstance(ob.expr, str) else None
            if c is None:
                raise TranslationError("MATCH ORDER BY supports column refs")
            # ordered on projected names when available
            name = ob.expr
            if name in result.columns:
                c = F.col(name)
            oexprs.append(c.asc() if ob.ascending else c.desc())
        result = result.orderBy(*oexprs)
    return result.limit(q.limit if q.limit is not None else DEFAULT_MATCH_LIMIT)


def _rel_join(cur: DataFrame, e: DataFrame, src_col: str, dst_col: str,
              direction: str) -> DataFrame:
    def _edge_sel(a: str, b: str) -> DataFrame:
        # same alias trees, one parse round-trip per column
        return e.selectExpr(f"{a} AS {ident(src_col)}",
                            f"{b} AS {ident(dst_col)}")

    outs = []
    if direction in ("out", "both"):
        outs.append(cur.join(_edge_sel("src", "dst"), on=src_col, how="inner"))
    if direction in ("in", "both"):
        outs.append(cur.join(_edge_sel("dst", "src"), on=src_col, how="inner"))
    out = outs[0]
    for o in outs[1:]:
        out = out.union(o)
    return out.distinct()


def _referenced_aliases(q: ast.MatchQuery, bound: list[str], target: str) -> list[str]:
    refs: set[str] = set()

    def add_name(name: str):
        if "." in name:
            a = name.split(".", 1)[0]
            refs.add(a if a in bound else target)
        elif name not in bound:
            refs.add(target)

    def walk(c):
        if c is None:
            return
        if isinstance(c, (ast.And, ast.Or)):
            for x in c.conditions:
                walk(x)
        elif isinstance(c, ast.Not):
            walk(c.condition)
        elif isinstance(c, (ast.Compare, ast.In, ast.Between, ast.Like, ast.IsNull)):
            add_name(c.column)
        elif isinstance(c, ast.Similarity):
            add_name(c.field_name)

    walk(q.where)
    for item in q.returns:
        if item.expr not in ("*", "similarity()", "count(*)"):
            add_name(item.expr)
    for ob in q.order_by:
        if isinstance(ob.expr, str):
            add_name(ob.expr)
    return sorted(refs)


def _match_where(cond, resolve, tr) -> Column:
    """WHERE over MATCH bindings (subset of the relational predicate set,
    plus similarity() on node embedding columns)."""
    from velesdb_spark.functions.distance import metric_score, similarity_passes

    if isinstance(cond, ast.And):
        out = _match_where(cond.conditions[0], resolve, tr)
        for c in cond.conditions[1:]:
            out = out & _match_where(c, resolve, tr)
        return out
    if isinstance(cond, ast.Or):
        out = _match_where(cond.conditions[0], resolve, tr)
        for c in cond.conditions[1:]:
            out = out | _match_where(c, resolve, tr)
        return out
    if isinstance(cond, ast.Not):
        return ~_match_where(cond.condition, resolve, tr)
    if isinstance(cond, ast.Compare):
        return tr._compare_col(resolve(cond.column), cond.op, tr.value(cond.value))
    if isinstance(cond, ast.In):
        return F.coalesce(resolve(cond.column).isin([tr.value(v) for v in cond.values]),
                          F.lit(False))
    if isinstance(cond, ast.Between):
        return F.coalesce(
            resolve(cond.column).between(F.lit(tr.value(cond.low)), F.lit(tr.value(cond.high))),
            F.lit(False))
    if isinstance(cond, ast.Like):
        c = resolve(cond.column)
        m = c.ilike(cond.pattern) if cond.case_insensitive else c.like(cond.pattern)
        return F.coalesce(m, F.lit(False))
    if isinstance(cond, ast.IsNull):
        c = resolve(cond.column)
        return c.isNotNull() if cond.negated else c.isNull()
    if isinstance(cond, ast.Similarity):
        vec = tr.value(cond.vector)
        score = metric_score(resolve(cond.field_name),
                             double_array_lit(vec), "cosine")
        return similarity_passes(score, cond.op, cond.threshold, "cosine")
    raise ValueError(f"unsupported MATCH WHERE condition: {cond!r}")


def shortest_paths(edges: DataFrame, start_ids: Sequence[int],
                   src: str = "src", dst: str = "dst",
                   weight: str = "w", max_iter: int = 50) -> DataFrame:
    """Weighted single/multi-source shortest-path distances → (id, dist)
    via frontier Bellman-Ford: each round relaxes only edges leaving
    nodes whose distance IMPROVED last round (the delta-frontier form),
    so work tracks the wavefront, not |E|·rounds. Headroom beyond the
    reference's unweighted BFS (streaming.rs BfsIterator): the weighted
    twin for dependency/link graphs.

    Per round: one equi-join of the (shrinking) frontier with the edge
    list on src, one map-combinable min per dst, one join against the
    settled table to keep strict improvements. Distances over integer
    weights are exact int64 — any engine re-deriving the relaxation
    fixpoint (e.g. a bounded recursive CTE) matches bit-for-bit.
    Negative weights are rejected (termination contract); localCheckpoint
    every 4th round cuts the growing lineage like bfs/pagerank. Sources
    are emitted at dist 0; unreachable nodes are absent.
    """
    spark = edges.sparkSession
    w_checked = F.when(
        F.col(weight).cast("long") < 0,
        F.raise_error(F.lit("shortest_paths: negative edge weight"))
    ).otherwise(F.col(weight).cast("long"))
    e = (edges.select(F.col(src).cast("long").alias("_s"),
                      F.col(dst).cast("long").alias("_d"),
                      w_checked.alias("_w"))
         .filter(F.col("_s") != F.col("_d")))
    dist = spark.createDataFrame(
        [(int(i), 0) for i in start_ids], "id bigint, dist bigint")
    frontier = dist
    for rnd in range(max_iter):
        cand = (frontier.join(e, frontier["id"] == e["_s"])
                .groupBy(F.col("_d").alias("id"))
                .agg(F.min(F.col("dist") + F.col("_w")).alias("_nd")))
        # EAGER checkpoints every round: dist/frontier are node-count-
        # bounded, and without materialization every round's emptiness
        # probe re-executes the whole history of joins (the plan
        # compounds per round — measured 10× slower with lazy cuts)
        improved = (cand.join(dist, "id", "left")
                    .filter(F.col("dist").isNull()
                            | (F.col("_nd") < F.col("dist")))
                    .select("id", F.col("_nd").alias("dist"))
                    .localCheckpoint(eager=True))
        if improved.limit(1).count() == 0:
            break
        dist = (dist.join(improved.select(F.col("id").alias("_iid")),
                          F.col("id") == F.col("_iid"), "left_anti")
                .unionByName(improved)
                .localCheckpoint(eager=True))
        frontier = improved
    else:
        raise ValueError(
            f"shortest_paths did not settle within max_iter={max_iter} "
            "rounds — negative cycle, or raise max_iter")
    return dist
