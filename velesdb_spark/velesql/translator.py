"""VelesQL AST → Spark DataFrame translation.

Replaces the reference's planner-in-a-match-statement
(collection/search/query/mod.rs:78-352): instead of dispatching on
(vector_search, similarity, filter) into over-fetch strategies, every special
predicate becomes a score COLUMN on the base DataFrame and the WHERE tree
becomes one boolean expression — Catalyst then orders filters, pushes
predicates into the scan, and picks join strategies. Exact semantics, no
over-fetch.

Null semantics follow filter/matching.rs:9-43: leaf predicates evaluate to
definite booleans (missing/null never yields SQL UNKNOWN): Eq/Gt/../Like/In
are false on null, Neq is TRUE on null, NOT is pure negation.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field as dc_field
from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from velesdb_spark.functions.sqlexpr import double_array_lit

from velesdb_spark.functions import fusion as fusion_mod
from velesdb_spark.functions.distance import (
    higher_is_better,
    metric_score,
    similarity_passes,
)
from velesdb_spark.velesql import ast
from velesdb_spark.velesql.errors import (COLLECTION_NOT_FOUND,
                                          DIMENSION_MISMATCH,
                                          MISSING_PARAMETER,
                                          VelesQLErrorMixin)
from velesdb_spark.velesql.parser import DEFAULT_LIMIT, MAX_LIMIT, parse


class TranslationError(VelesQLErrorMixin, ValueError):
    """Semantic translation failure; unambiguous sites carry an
    error.rs ParseErrorKind code (E002 UnknownColumn, E003
    CollectionNotFound, E005 MissingParameter, E006 TypeMismatch)."""

    def __init__(self, message, kind=None, position=None, fragment=None):
        super().__init__(self._init_error(message, kind, position,
                                          fragment))


class TemporalEpoch(int):
    """Epoch-second point-in-time produced by NOW()/INTERVAL arithmetic
    (values.rs:102-122 resolves temporal expressions to epoch seconds).
    Marked so comparisons against TIMESTAMP columns build a timestamp
    literal instead of an integer one."""


@dataclass
class TableInfo:
    """Per-collection config (the reference fixes metric at collection
    creation — collection/types.rs:32-61)."""

    df: DataFrame
    metric: str = "cosine"
    vector_col: str = "vector"
    id_col: str = "id"
    text_col: Optional[str] = None  # BM25 target; None → first string column
    # declared vector dimensionality (collection/types.rs fixes dim at
    # creation); when set, query vectors are validated eagerly — a
    # mismatched literal would otherwise flow into zip_with/aggregate
    # and score SILENTLY wrong (E004 DimensionMismatch, error.rs)
    dim: Optional[int] = None
    # query-side vector prep (binary storage mode binarizes the query so
    # NEAR/similarity literals match the stored representation)
    query_vec_transform: Optional[object] = None
    # date-typed partition column paired with the timestamp column; temporal
    # predicates derive a redundant bound on it so the scan prunes
    # partitions (the 100 TB layout: events partitioned by day)
    partition_date_col: Optional[str] = None


@dataclass
class Catalog:
    tables: dict = dc_field(default_factory=dict)

    def register(self, name: str, df: DataFrame, **cfg) -> "Catalog":
        self.tables[name] = TableInfo(df=df, **cfg)
        return self

    def resolve(self, name: str) -> TableInfo:
        if name not in self.tables:
            raise TranslationError(f"unknown table: {name}",
                       kind=COLLECTION_NOT_FOUND,
                       fragment=name)
        return self.tables[name]


def _col(name: str) -> Column:
    # items[0].sku JSON-path indexing needs expr; plain dotted paths work in col()
    if "[" in name:
        return F.expr(name)
    return F.col(name)


def _flat(name: str) -> Column:
    """Reference an already-COMPUTED flat output column whose name may
    contain dots/brackets (a nested path used as its own output alias,
    e.g. GROUP BY metadata.source → column literally named
    'metadata.source'). Unquoted, F.col would re-parse the dots as
    struct access and fail to resolve (groupby_tests.rs:358-478 nested
    group-by shapes surfaced this)."""
    if "." in name or "[" in name:
        return F.col(f"`{name}`")
    return F.col(name)


def _never_null(c: Column) -> Column:
    return F.coalesce(c, F.lit(False))


def _check_dim(info: "TableInfo", vec) -> None:
    """E004 parity: reject a query vector whose length differs from the
    collection's declared dim BEFORE it reaches the score expression."""
    if info.dim is not None and hasattr(vec, "__len__")             and len(vec) != info.dim:
        raise TranslationError(
            f"query vector has {len(vec)} dimensions, collection "
            f"expects {info.dim}", kind=DIMENSION_MISMATCH)


class Translator:
    def __init__(self, catalog: Catalog, params: Optional[dict] = None,
                 now_epoch: Optional[int] = None):
        self.catalog = catalog
        self.params = params or {}
        # Deterministic NOW() override (tests/oracles); None → wall clock,
        # matching the reference's values.rs:102-122.
        self.now_epoch = now_epoch

    # ------------------------------------------------------------ values
    def value(self, v):
        if isinstance(v, ast.Param):
            if v.name not in self.params:
                raise TranslationError(f"missing parameter: ${v.name}",
                       kind=MISSING_PARAMETER,
                       fragment=v.name)
            return self.params[v.name]
        if isinstance(v, ast.Now):
            return TemporalEpoch(
                self.now_epoch if self.now_epoch is not None
                else int(time.time()))
        if isinstance(v, ast.Interval):
            return v.seconds
        if isinstance(v, ast.TemporalArith):
            left = self.value(v.left)
            right = self.value(v.right)
            out = left + right if v.op == "+" else left - right
            # NOW() ± INTERVAL stays a point in time; INTERVAL ± INTERVAL
            # stays a plain duration
            if isinstance(left, TemporalEpoch) or isinstance(right, TemporalEpoch):
                return TemporalEpoch(out)
            return out
        if isinstance(v, ast.Subquery):
            # every supported scalar-subquery position (comparison, IN,
            # BETWEEN, HAVING, subquery-vs-subquery) builds a lazy 1-row
            # broadcast join at its call site — translation never runs a
            # Spark job (asserted by test_translation_runs_zero_jobs)
            raise TranslationError(
                "scalar subquery not supported in this position")
        return v

    def scalar_subquery_join(self, base: DataFrame, stmt: ast.Select,
                             tag: str) -> DataFrame:
        """Attach a non-correlated scalar subquery to ``base`` as a LAZY
        broadcast 1-row left join under column ``tag`` (the same shape as
        the WHERE walker's _scalar_join; an empty subquery yields a NULL
        scalar, matching SQL three-valued comparison semantics)."""
        sub = self.select(stmt, apply_default_limit=False)
        if len(sub.columns) != 1:
            raise TranslationError("scalar subquery must return one column")
        one = F.broadcast(sub.limit(1).withColumnRenamed(sub.columns[0], tag))
        return base.join(one, F.lit(True), "left")

    # ------------------------------------------------------------ entry
    def query(self, q: ast.Query) -> DataFrame:
        if isinstance(q, ast.Compound):
            left = self.select(q.left)
            right = self.select(q.right)
            if q.op == "union_all":
                return left.union(right)
            if q.op == "union":
                return left.union(right).distinct()
            if q.op == "intersect":
                return left.intersect(right)
            if q.op == "except":
                # SQL set semantics: distinct difference
                return left.distinct().subtract(right)
            raise TranslationError(f"unknown set op: {q.op}")
        if isinstance(q, ast.MatchQuery):
            from velesdb_spark.operators.graph import translate_match

            return translate_match(q, self.catalog, self.params)
        return self.select(q)

    # ------------------------------------------------------------ SELECT
    def select(self, s: ast.Select, apply_default_limit: bool = True) -> DataFrame:
        info = self.catalog.resolve(s.table)
        base_alias = s.table_alias or s.table
        # always alias the base relation so alias-qualified refs resolve —
        # required for correlated subqueries referencing the outer alias
        base = info.df.alias(base_alias)
        if s.joins:
            for j in s.joins:
                rinfo = self.catalog.resolve(j.table)
                right = rinfo.df.alias(j.alias or j.table)
                how = {"inner": "inner", "left": "left", "right": "right", "full": "full"}[j.how]
                if j.using:
                    base = base.join(right, on=list(j.using), how=how)
                else:
                    cond = F.col(j.left_col) == F.col(j.right_col)
                    base = base.join(right, on=cond, how=how)

        # --- special predicates → score columns
        outer_aliases = {base_alias} | {j.alias or j.table for j in s.joins}
        st = _SearchState(self, info, outer_aliases,
                          with_options=s.with_options)
        pred = None
        if s.where is not None:
            base, pred = st.prepare(base, s.where)

        limit = s.limit
        if limit is not None:
            limit = min(limit, MAX_LIMIT)

        has_agg = any(isinstance(c, ast.Aggregate) for c in s.columns) or s.group_by
        if s.having is not None and not s.group_by:
            # aggregation.rs:144-149 — HAVING requires GROUP BY
            raise TranslationError("HAVING requires GROUP BY")

        if st.rrf_pending is not None:
            # pooled exact ranking only on the plain search shape: a lone
            # NEAR_FUSED predicate (nothing filters rows after ranking),
            # no joins (id uniqueness), no aggregate/DISTINCT/explicit
            # ORDER BY (they consume rows beyond the top-L), and a known
            # limit. Everything else takes the global-window fallback —
            # applied BEFORE the pred filter so ranks keep covering the
            # unfiltered relation, same as the inline form did.
            eff = limit if limit is not None else (
                DEFAULT_LIMIT if apply_default_limit else None)
            if (st.fused_only and not has_agg and not s.distinct
                    and not s.order_by and not s.joins and eff is not None):
                base = st.apply_rrf_pooled(base, eff + (s.offset or 0))
            else:
                base = st.apply_rrf_global(base)

        if pred is not None:
            base = base.filter(pred)

        if st.dual_pending is not None:
            aname, exact_fn = st.dual_pending
            if has_agg or s.distinct or s.order_by:
                # exact fallback: aggregation / DISTINCT / explicit
                # ordering consume rows beyond the NEAR top-k, so a
                # coarse prune would change results — score exact, like
                # the reference's f32 fallback (dual_precision.rs:268-276)
                base = base.withColumn(st.near_score, exact_fn()).drop(aname)
            else:
                # dual-precision coarse phase: keep (k+offset)·oversampling
                # candidates by the SQ8 score (TakeOrderedAndProject — a
                # per-partition partial top-k, no shuffle of the scored
                # set), then compute the exact f32 score for the pool only
                k = limit if limit is not None else DEFAULT_LIMIT
                pool = (k + (s.offset or 0)) * st.oversampling
                first = (F.desc(aname) if higher_is_better(info.metric)
                         else F.asc(aname))
                base = (base.orderBy(first, F.asc(info.id_col)).limit(pool)
                        .withColumn(st.near_score, exact_fn()).drop(aname))

        if has_agg:
            return self._aggregate(base, s, limit)

        score_order = st.final_order()
        search_present = score_order is not None

        # ORDER BY (select-list aliases resolve to their source expressions,
        # since ordering happens pre-projection)
        alias_map = {c.alias: c.name for c in s.columns
                     if isinstance(c, ast.Column) and c.alias}
        order_exprs = self._order_exprs(s.order_by, st, alias_map)
        if not order_exprs and score_order is not None:
            order_exprs = score_order

        if s.distinct:
            out = self._project(base, s.columns, st, search_present)
            out = out.dropDuplicates()
            if order_exprs:
                out = out.orderBy(*order_exprs)
        else:
            if order_exprs:
                base = base.orderBy(*order_exprs)
            out = self._project(base, s.columns, st, search_present)

        if limit is None and apply_default_limit and search_present:
            # default limit 10 for search queries (query/mod.rs:84-87)
            limit = DEFAULT_LIMIT
        if s.offset:
            out = out.offset(s.offset)
        if limit is not None:
            out = out.limit(limit)
        return out

    def _project(self, df: DataFrame, columns, st: "_SearchState",
                 search_present: bool) -> DataFrame:
        if not columns:  # SELECT *
            drop = [c for c in df.columns if c.startswith("_vql_") and c != st.score_output]
            out = df.drop(*drop)
            if st.score_output and st.score_output in out.columns:
                out = out.withColumnRenamed(st.score_output, "score")
            return out
        exprs = []
        for c in columns:
            name = c.alias or c.name
            exprs.append(_col(c.name).alias(name))
        return df.select(*exprs)

    def _order_exprs(self, order_by, st: "_SearchState", alias_map=None):
        alias_map = alias_map or {}
        exprs = []
        for item in order_by:
            if isinstance(item.expr, ast.OrderBySimilarity):
                vec = self.value(item.expr.vector)
                # The collection-level dim (collection/types.rs: one dim
                # per collection) governs only the declared vector column;
                # a secondary vector field of different dimensionality
                # must not be rejected with E004.
                if item.expr.field_name in ("vector", st.info.vector_col):
                    _check_dim(st.info, vec)
                score = metric_score(
                    _col(st.info.vector_col if item.expr.field_name == "vector"
                         else item.expr.field_name),
                    double_array_lit(vec),
                    st.info.metric,
                )
                # Direction is metric-aware (ordering.rs:146-163): for
                # similarity metrics DESC = score desc; for distance metrics
                # the comparison inverts (DESC = distance asc = most similar
                # first).
                hib = higher_is_better(st.info.metric)
                effective_desc = (not item.ascending) if hib else item.ascending
                exprs.append(score.desc() if effective_desc else score.asc())
            elif isinstance(item.expr, ast.Aggregate):
                c = F.col(item.expr.output_name)
                exprs.append(c.asc() if item.ascending else c.desc())
            else:
                c = _col(alias_map.get(item.expr, item.expr))
                exprs.append(c.asc() if item.ascending else c.desc())
        return exprs

    # ------------------------------------------------------------ aggregates
    def _aggregate(self, base: DataFrame, s: ast.Select, limit) -> DataFrame:
        group_cols = list(s.group_by)
        agg_items = [c for c in s.columns if isinstance(c, ast.Aggregate)]
        plain_cols = [c for c in s.columns if isinstance(c, ast.Column)]
        for c in plain_cols:
            if group_cols and c.name not in group_cols:
                raise TranslationError(
                    f"column {c.name} must appear in GROUP BY or an aggregate")

        def agg_expr(a: ast.Aggregate) -> Column:
            if a.func == "count":
                e = F.count(F.lit(1)) if a.arg == "*" else F.count(_col(a.arg))
            else:
                fn = {"sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max}[a.func]
                e = fn(_col(a.arg))
            return e.alias(a.output_name)

        aggs = [agg_expr(a) for a in agg_items]
        seen = {a.output_name for a in agg_items}
        # ORDER BY <aggregate> resolution (reference
        # orderby_multi_tests.rs:30-77): the sort must find the SAME
        # aggregate even when the select list aliased it (COUNT(*) AS n
        # ... ORDER BY COUNT(*) DESC), and an aggregate ordered on but
        # not projected is computed for the sort only and dropped by the
        # final projection.
        agg_by_shape = {(a.func, a.arg): a.output_name for a in agg_items}
        order_agg_names: dict[int, str] = {}
        order_extra = []
        for oi, item in enumerate(s.order_by or []):
            if isinstance(item.expr, ast.Aggregate):
                name = agg_by_shape.get((item.expr.func, item.expr.arg))
                if name is None:
                    name = f"_vql_ord_{len(order_extra)}"
                    order_extra.append(agg_expr(ast.Aggregate(
                        item.expr.func, item.expr.arg, name)))
                order_agg_names[oi] = name
        having_extra = []
        having_terms = []
        if s.having:
            for t in s.having.terms:
                name = t.agg.output_name
                # subquery bounds stay as AST here; they become lazy 1-row
                # joins against the aggregated frame below
                hval = t.value if isinstance(t.value, ast.Subquery) \
                    else self.value(t.value)
                if name not in seen:
                    internal = f"_vql_h_{len(having_extra)}"
                    having_extra.append(agg_expr(ast.Aggregate(t.agg.func, t.agg.arg, internal)))
                    having_terms.append((internal, t.op, hval))
                else:
                    having_terms.append((name, t.op, hval))

        if group_cols:
            keys = [_col(g).alias(g) for g in group_cols]
            grouped = base.groupBy(*keys) \
                .agg(*(aggs + having_extra + order_extra)) \
                if aggs or having_extra or order_extra \
                else base.groupBy(*keys).agg(F.count(F.lit(1)).alias("_vql_cnt")).drop("_vql_cnt")
            # group_limit is the reference's alternative spelling of
            # max_groups; extract_max_groups_limit (aggregation.rs:700-717)
            # walks the WITH options in declaration order and takes the
            # FIRST of max_groups/group_limit whose value IS an integer
            # (WithValue::Integer only — a string '5' or a float is
            # ignored, never coerced), clamped to [1, 1_000_000] — so
            # WITH (max_groups=0) clamps to 1 rather than disabling the
            # guard, and WITH (group_limit=5, max_groups=9) picks 5.
            maxg = None
            for k, v in s.with_options.items():
                if k in ("max_groups", "group_limit"):
                    if isinstance(v, int) and not isinstance(v, bool):
                        maxg = min(max(v, 1), 1_000_000)
                        break
            if maxg is not None:
                n = grouped.count()
                if n > maxg:
                    raise TranslationError(
                        f"GROUP BY produced {n} groups, exceeding max_groups={maxg}")
        else:
            if plain_cols:
                raise TranslationError("mixed select requires GROUP BY")
            grouped = base.agg(*(aggs + having_extra + order_extra))

        having_sq_tags = []
        if s.having:
            cond = None
            conds = []
            for name, op, val in having_terms:
                if isinstance(val, ast.Subquery):
                    # HAVING <agg> op (SELECT ...): lazy broadcast 1-row
                    # join on the aggregated frame — no job at translation
                    tag = f"_vql_hsq_{len(having_sq_tags)}"
                    having_sq_tags.append(tag)
                    grouped = self.scalar_subquery_join(grouped, val.stmt, tag)
                    if op not in _SearchState._COMPARE_OPS:
                        raise TranslationError(
                            f"unsupported operator {op!r} on scalar "
                            "subquery comparison")
                    conds.append(_SearchState._COMPARE_OPS[op](
                        _flat(name), F.col(tag)))
                else:
                    conds.append(self._compare_col(_flat(name), op, val))
            cond = conds[0]
            for op_kw, c in zip(s.having.ops, conds[1:]):
                cond = (cond & c) if op_kw == "AND" else (cond | c)
            grouped = grouped.filter(cond)
        grouped = grouped.drop(
            *[f"_vql_h_{i}" for i in range(len(having_extra))],
            *having_sq_tags)

        order_exprs = []
        for oi, item in enumerate(s.order_by):
            if isinstance(item.expr, ast.Aggregate):
                c = _flat(order_agg_names[oi])
            else:
                c = _flat(item.expr)
            order_exprs.append(c.asc() if item.ascending else c.desc())
        if order_exprs:
            grouped = grouped.orderBy(*order_exprs)
        if order_extra and not s.columns:
            grouped = grouped.drop(
                *[f"_vql_ord_{i}" for i in range(len(order_extra))])

        # project in select-list order
        out_cols = []
        for c in s.columns:
            if isinstance(c, ast.Aggregate):
                out_cols.append(_flat(c.output_name))
            else:
                out_cols.append(_flat(c.alias or c.name))
        if out_cols:
            grouped = grouped.select(*out_cols)
        if s.offset:
            grouped = grouped.offset(s.offset)
        if limit is not None:
            grouped = grouped.limit(limit)
        return grouped

    # ------------------------------------------------------------ predicates
    def _compare_col(self, c: Column, op: str, val,
                     dtype: Optional[str] = None) -> Column:
        # Temporal point-in-time vs TIMESTAMP column: build a timestamp
        # literal (session tz is UTC) so the comparison stays native and
        # parquet-pushable. Against integer epoch columns the plain int
        # literal path below is already correct.
        if isinstance(val, TemporalEpoch) and dtype and dtype.startswith("timestamp"):
            val = F.timestamp_seconds(F.lit(int(val)))
            lit = val
            if op == "=":
                return c == lit
            if op in ("!=", "<>"):
                return ~c.eqNullSafe(lit)
            return {">": c > lit, ">=": c >= lit,
                    "<": c < lit, "<=": c <= lit}[op]
        if isinstance(val, ast.ColumnRef):
            other = _col(val.name)
            if op == "=":
                return c.eqNullSafe(other)
            if op in ("!=", "<>"):
                return ~c.eqNullSafe(other)
            cmp = {">": c > other, ">=": c >= other, "<": c < other, "<=": c <= other}[op]
            return _never_null(cmp)
        if val is None:
            if op == "=":
                return c.isNull()
            if op in ("!=", "<>"):
                return c.isNotNull()
            raise TranslationError(f"cannot compare with NULL using {op}")
        lit = F.lit(val)
        if op == "=":
            return c == lit
        if op in ("!=", "<>"):
            return ~c.eqNullSafe(lit)  # Neq matches missing (matching.rs:14-16)
        # Plain (pushable) comparisons: in WHERE context NULL filters out just
        # like the reference's false (matching.rs is_some_and). The only place
        # SQL three-valued logic diverges is under NOT — handled by wrapping
        # at the Not boundary in _walk, keeping leaves eligible for Parquet
        # predicate pushdown.
        return {">": c > lit, ">=": c >= lit, "<": c < lit, "<=": c <= lit}[op]


def _qualifier(name: str) -> Optional[str]:
    return name.split(".")[0] if "." in name else None


def _references_aliases(cond, aliases: set) -> bool:
    """Does any predicate in the tree reference a column qualified with one
    of `aliases`?"""
    if isinstance(cond, (ast.And, ast.Or)):
        return any(_references_aliases(c, aliases) for c in cond.conditions)
    if isinstance(cond, ast.Not):
        return _references_aliases(cond.condition, aliases)
    col = getattr(cond, "column", None)
    if isinstance(col, str) and _qualifier(col) in aliases:
        return True
    val = getattr(cond, "value", None)
    if isinstance(val, ast.ColumnRef) and _qualifier(val.name) in aliases:
        return True
    return False


def _split_correlation(stmt: ast.Select, outer_aliases: set):
    """Split a subquery's WHERE into correlated equality pairs
    [(outer_col, inner_col)] and the residual inner-only condition.

    The decorrelable class is conjunctive equalities between one inner and
    one outer column — the same PerRow surface the reference plans
    (velesql/subquery_optimizer.rs:10-42), executed set-at-a-time as a join
    instead of a per-row re-execution. The inner relation's own alias shadows
    an identically-named outer alias (SQL scoping)."""
    inner_names = {stmt.table, stmt.table_alias or stmt.table}
    outer = outer_aliases - inner_names
    if stmt.where is None:
        return [], None
    conjuncts = (list(stmt.where.conditions)
                 if isinstance(stmt.where, ast.And) else [stmt.where])
    pairs, residual = [], []
    for c in conjuncts:
        if isinstance(c, ast.Compare) and c.op == "=":
            lq = _qualifier(c.column)
            if isinstance(c.value, ast.ColumnRef):
                rq = _qualifier(c.value.name)
                if rq in outer and lq not in outer:
                    pairs.append((c.value.name, c.column))
                    continue
                if lq in outer and rq not in outer:
                    pairs.append((c.column, c.value.name))
                    continue
        if _references_aliases(c, outer):
            raise TranslationError(
                "correlated subqueries support conjunctive equality "
                f"correlation only; unsupported predicate: {c!r}")
        residual.append(c)
    res = None
    if residual:
        res = residual[0] if len(residual) == 1 else ast.And(tuple(residual))
    return pairs, res


class _SearchState:
    """Collects NEAR / NEAR_FUSED / similarity() / MATCH predicates from the
    WHERE tree (the reference's extraction.rs:25-120), turns each into a score
    column on the base DataFrame, and exposes the final implicit ordering."""

    def __init__(self, tr: Translator, info: TableInfo,
                 outer_aliases: Optional[set] = None,
                 with_options: Optional[dict] = None):
        from velesdb_spark.functions.quantization import (
            DUAL_DEFAULT_OVERSAMPLING, parse_quantization_mode)

        self.tr = tr
        self.info = info
        self.outer_aliases = outer_aliases or set()
        self.counter = 0
        self.near_score: Optional[str] = None
        self.text_score: Optional[str] = None
        self.sim_scores: list[str] = []
        self.score_output: Optional[str] = None
        # WITH (quantization=..., oversampling=N) hints (EPIC-055 US-005,
        # velesql/ast/with_clause.rs:116-131). 'f32' and 'auto' both mean
        # exact scoring here: exact IS this engine's default/auto choice.
        wo = with_options or {}
        self.qmode = parse_quantization_mode(wo.get("quantization"))
        try:
            self.oversampling = max(
                int(wo.get("oversampling", DUAL_DEFAULT_OVERSAMPLING)), 1)
        except (TypeError, ValueError):
            self.oversampling = DUAL_DEFAULT_OVERSAMPLING
        # dual-precision NEAR: (approx_col_name, exact_column_thunk) —
        # resolved in Translator.select() after the coarse-phase prune
        self.dual_pending: Optional[tuple] = None
        # NEAR_FUSED rrf: (score_col_names, rrf_k) — deferred to
        # Translator.select(), which knows the final LIMIT and can run
        # the bounded-pool exact ranking instead of a full-table
        # single-partition window (see apply_rrf_pooled)
        self.rrf_pending: Optional[tuple] = None
        # True when the WHERE tree is exactly one NEAR_FUSED node — the
        # precondition for the pooled path (any other predicate filters
        # rows AFTER ranking, which the pool bound does not model)
        self.fused_only: bool = False

    def prepare(self, base: DataFrame, cond) -> tuple[DataFrame, Column]:
        self.fused_only = isinstance(cond, ast.VectorFusedSearch)
        base, pred = self._walk(base, cond)
        # hybrid MATCH + NEAR_FUSED needs the fused column NOW (it feeds
        # the rank fusion below) — resolve any deferred rrf globally
        if self.rrf_pending is not None and self.text_score:
            base = self.apply_rrf_global(base)
        # Dual-precision only accelerates the pure NEAR top-k path; a
        # hybrid NEAR+MATCH query needs the exact vector score for rank
        # fusion, so resolve the pending exact column here (the
        # reference's f32 fallback, dual_precision.rs:268-276).
        if self.dual_pending is not None and self.text_score:
            aname, exact_fn = self.dual_pending
            base = base.withColumn(self.near_score, exact_fn()).drop(aname)
            self.dual_pending = None
        # Hybrid NEAR + MATCH → RRF-fused score (query/mod.rs:294-305,
        # text.rs:113-203): rank each component, weight/(rank+60).
        # SCALE NOTE: these are no-partition windows — the global-window
        # fallback, NOT the bounded-pool path apply_rrf_pooled uses for
        # pure NEAR_FUSED. Do not copy this pattern onto unbounded
        # inputs casually: here the text leg is bounded by posting-list
        # membership, but the vector leg ranks the whole relation; at
        # 100 TB this hybrid shape should go through the match planner
        # (plans/match_planner.py), which prunes candidates first.
        if self.near_score and self.text_score:
            hib = higher_is_better(self.info.metric)
            idc = self.info.id_col
            wv = Window.orderBy(
                F.desc(self.near_score) if hib else F.asc(self.near_score), F.asc(idc))
            wt = Window.orderBy(F.desc(self.text_score), F.asc(idc))
            base = base.withColumn("_vql_rank_v", F.row_number().over(wv) - 1)
            base = base.withColumn("_vql_rank_t", F.row_number().over(wt) - 1)
            base = base.withColumn(
                "_vql_fused",
                1.0 / (F.col("_vql_rank_v") + 60.0)
                + F.when(F.col(self.text_score).isNotNull(),
                         1.0 / (F.col("_vql_rank_t") + 60.0)).otherwise(0.0),
            )
            self.score_output = "_vql_fused"
        elif self.near_score:
            self.score_output = self.near_score
        elif self.text_score:
            self.score_output = self.text_score
        elif self.sim_scores:
            # cascade: last similarity filter's score wins (query/mod.rs:421-426)
            self.score_output = self.sim_scores[-1]
        return base, pred

    def final_order(self):
        if self.score_output is None:
            return None
        raw_metric_score = (
            self.score_output in self.sim_scores
            or (self.score_output == self.near_score
                and self.score_output != "_vql_fusedv")
        )
        if raw_metric_score:
            hib = higher_is_better(self.info.metric)
            first = F.desc(self.score_output) if hib else F.asc(self.score_output)
        else:
            # fused / BM25 scores are always higher-is-better
            first = F.desc_nulls_last(self.score_output)
        return [first, F.asc(self.info.id_col)]

    # -- tree walk: returns (augmented base, boolean Column)
    def _walk(self, base: DataFrame, cond) -> tuple[DataFrame, Column]:
        tr = self.tr
        if isinstance(cond, ast.And):
            preds = []
            for c in cond.conditions:
                base, p = self._walk(base, c)
                preds.append(p)
            out = preds[0]
            for p in preds[1:]:
                out = out & p
            return base, out
        if isinstance(cond, ast.Or):
            preds = []
            for c in cond.conditions:
                base, p = self._walk(base, c)
                preds.append(p)
            out = preds[0]
            for p in preds[1:]:
                out = out | p
            return base, out
        if isinstance(cond, ast.Not):
            base, p = self._walk(base, cond.condition)
            # pure negation over definite booleans (matching.rs:37): NULL
            # from a three-valued leaf must read as false before negating
            return base, ~_never_null(p)
        if isinstance(cond, ast.Compare):
            if isinstance(cond.value, ast.Subquery):
                pairs, residual = _split_correlation(
                    cond.value.stmt, self.outer_aliases)
                if pairs:
                    return self._correlated_scalar(base, cond, pairs, residual)
                return self._lazy_scalar(base, cond)
            dtype = dict(base.dtypes).get(cond.column.split(".")[0].split("[")[0])
            val = tr.value(cond.value)
            pred = tr._compare_col(_col(cond.column), cond.op, val, dtype=dtype)
            # partition pruning: a temporal bound on the timestamp column
            # implies a (redundant, pruning-eligible) bound on the paired
            # date partition column
            pcol = self.info.partition_date_col
            if (isinstance(val, TemporalEpoch) and pcol
                    and pcol in base.columns
                    and dtype and dtype.startswith("timestamp")):
                day = F.to_date(F.timestamp_seconds(F.lit(int(val))))
                if cond.op in (">", ">="):
                    pred = pred & (F.col(pcol) >= day)
                elif cond.op in ("<", "<="):
                    pred = pred & (F.col(pcol) <= day)
                elif cond.op == "=":
                    pred = pred & (F.col(pcol) == day)
            return base, pred
        if isinstance(cond, ast.In):
            if isinstance(cond.values, ast.Subquery):
                # membership subquery as a flag join (semi-join shape that
                # still composes under OR/NOT; AQE broadcasts small sides).
                # Correlated IN decorrelates the same way EXISTS does: the
                # correlation equalities just become extra join keys.
                stmt = cond.values.stmt
                pairs, residual = _split_correlation(stmt, self.outer_aliases)
                flag = self._next("in")
                if pairs:
                    inner = self._inner_frame(stmt, residual)
                    if len(stmt.columns) != 1 or not isinstance(
                            stmt.columns[0], ast.Column):
                        raise TranslationError(
                            "correlated IN subquery must select one column")
                    keys = [f"{flag}_k{i}" for i in range(len(pairs))]
                    sel = [F.col(stmt.columns[0].name).alias(flag + "_key")]
                    sel += [F.col(ic).alias(k)
                            for k, (_, ic) in zip(keys, pairs)]
                    subdf = (inner.select(*sel).distinct()
                             .withColumn(flag, F.lit(True)))
                    jc = _col(cond.column) == F.col(flag + "_key")
                    for k, (oc, _) in zip(keys, pairs):
                        jc = jc & (_col(oc) == F.col(k))
                    base = base.join(subdf, jc, "left") \
                        .drop(flag + "_key", *keys)
                    return base, _never_null(F.col(flag))
                sub = tr.select(stmt, apply_default_limit=False)
                if len(sub.columns) != 1:
                    raise TranslationError("IN subquery must return one column")
                subdf = (sub.distinct()
                         .withColumnRenamed(sub.columns[0], flag + "_key")
                         .withColumn(flag, F.lit(True)))
                base = base.join(
                    subdf, _col(cond.column) == F.col(flag + "_key"), "left"
                ).drop(flag + "_key")
                return base, _never_null(F.col(flag))
            # literal IN list; a (SELECT ...) element becomes a lazy 1-row
            # scalar join OR-ed with the literal membership test
            lits = [tr.value(v) for v in cond.values
                    if not isinstance(v, ast.Subquery)]
            preds = [_col(cond.column).isin(lits)] if lits else []
            for v in cond.values:
                if isinstance(v, ast.Subquery):
                    base, sc = self._scalar_join(base, v.stmt)
                    preds.append(_col(cond.column) == sc)
            pred = preds[0]
            for p in preds[1:]:
                pred = pred | p
            return base, pred
        if isinstance(cond, ast.Between):
            # subquery bounds become lazy 1-row scalar joins, literal
            # bounds stay literals
            if isinstance(cond.low, ast.Subquery):
                base, lo = self._scalar_join(base, cond.low.stmt)
            else:
                lo = F.lit(tr.value(cond.low))
            if isinstance(cond.high, ast.Subquery):
                base, hi = self._scalar_join(base, cond.high.stmt)
            else:
                hi = F.lit(tr.value(cond.high))
            return base, _col(cond.column).between(lo, hi)
        if isinstance(cond, ast.Like):
            c = _col(cond.column)
            return base, c.ilike(cond.pattern) if cond.case_insensitive else c.like(cond.pattern)
        if isinstance(cond, ast.IsNull):
            c = _col(cond.column)
            return base, c.isNotNull() if cond.negated else c.isNull()
        if isinstance(cond, ast.Similarity):
            vec = tr.value(cond.vector)
            _check_dim(self.info, vec)
            if self.info.query_vec_transform is not None:
                vec = self.info.query_vec_transform(vec)
            name = self._next("sim")
            field = self.info.vector_col if cond.field_name == "vector" else cond.field_name
            qlit = double_array_lit(vec)
            scol = _col(field)
            if self.qmode == "int8":
                # WITH (quantization='int8'): single-phase approximate
                # scoring on the SQ8 representation (QuantizationMode::Int8
                # — "fast, approximate"); thresholds apply to that score.
                from velesdb_spark.functions.quantization import (
                    sq8_dequantize, sq8_quantize)

                scol = sq8_dequantize(sq8_quantize(scol))
            base = base.withColumn(
                name, metric_score(scol, qlit, self.info.metric))
            self.sim_scores.append(name)
            return base, similarity_passes(F.col(name), cond.op, cond.threshold,
                                           self.info.metric)
        if isinstance(cond, ast.VectorSearch):
            vec = tr.value(cond.vector)
            _check_dim(self.info, vec)
            if self.info.query_vec_transform is not None:
                vec = self.info.query_vec_transform(vec)
            name = self._next("near")
            qlit = double_array_lit(vec)
            vcol = self.info.vector_col
            if self.qmode in ("int8", "dual"):
                from velesdb_spark.functions.quantization import (
                    sq8_dequantize, sq8_quantize)

                approx = metric_score(
                    sq8_dequantize(sq8_quantize(_col(vcol))), qlit,
                    self.info.metric)
                if self.qmode == "int8":
                    # int8-only: the approximate score IS the result score
                    base = base.withColumn(name, approx)
                else:
                    # dual: stage the approx column now; the exact column
                    # is added AFTER the coarse-phase top-(k·oversampling)
                    # prune in select(), so exact f32 scoring touches only
                    # the candidate pool (dual_precision.rs:286-330).
                    aname = name + "a"
                    base = base.withColumn(aname, approx)
                    self.dual_pending = (
                        aname,
                        lambda: metric_score(_col(vcol), qlit,
                                             self.info.metric))
            else:
                base = base.withColumn(
                    name, metric_score(_col(vcol), qlit, self.info.metric))
            self.near_score = name
            return base, F.lit(True)
        if isinstance(cond, ast.VectorFusedSearch):
            return self._fused(base, cond)
        if isinstance(cond, ast.MatchText):
            return self._match_text(base, cond)
        if isinstance(cond, ast.Exists):
            return self._exists(base, cond)
        if isinstance(cond, ast.SubqueryCompare):
            return self._subquery_compare(base, cond)
        raise TranslationError(f"unsupported condition: {cond!r}")

    # -- subqueries: decorrelation to joins ------------------------------
    def _inner_frame(self, stmt: ast.Select, residual):
        """The subquery's relation with its inner-only predicates applied
        (runs fully distributed; correlation handled by the caller's join)."""
        tr = self.tr
        info = tr.catalog.resolve(stmt.table)
        inner = info.df.alias(stmt.table_alias or stmt.table)
        if residual is not None:
            ist = _SearchState(tr, info)
            inner, ipred = ist.prepare(inner, residual)
            if ipred is not None:
                inner = inner.filter(ipred)
        return inner

    def _corr_join(self, base: DataFrame, subdf: DataFrame, keys, pairs,
                   drop: list) -> DataFrame:
        jc = None
        for k, (outer_col, _) in zip(keys, pairs):
            c = _col(outer_col) == F.col(k)
            jc = c if jc is None else jc & c
        return base.join(subdf, jc, "left").drop(*drop)

    def _exists(self, base: DataFrame, cond: ast.Exists):
        """EXISTS (correlated or not) as a flag join — semi-join shape that
        still composes under OR/NOT (NOT EXISTS = negated flag ≡ anti-join);
        AQE broadcasts small deduped key sets."""
        tr = self.tr
        pairs, residual = _split_correlation(cond.stmt, self.outer_aliases)
        if not pairs:
            # non-correlated: LAZY broadcast 1-row flag join (no job during
            # translate/explain) — the probe's ≥1-row outcome becomes a
            # TRUE flag every base row left-joins against; an empty probe
            # leaves the flag NULL, read back as false by _never_null
            import dataclasses

            probe = tr.select(
                dataclasses.replace(cond.stmt, where=residual, limit=1,
                                    order_by=(), columns=()),
                apply_default_limit=False)
            flag = self._next("ex")
            one = F.broadcast(
                probe.limit(1).select(F.lit(True).alias(flag)))
            return base.join(one, F.lit(True), "left"), \
                _never_null(F.col(flag))
        inner = self._inner_frame(cond.stmt, residual)
        flag = self._next("ex")
        keys = [f"{flag}_k{i}" for i in range(len(pairs))]
        subdf = (inner.select(*[F.col(ic).alias(k)
                                for k, (_, ic) in zip(keys, pairs)])
                 .distinct().withColumn(flag, F.lit(True)))
        base = self._corr_join(base, subdf, keys, pairs, drop=keys)
        return base, _never_null(F.col(flag))

    def _decorrelated_scalar(self, base: DataFrame, stmt: ast.Select,
                             pairs, residual) -> tuple[DataFrame, Column]:
        """(SELECT agg(x) FROM t WHERE t.k = outer.k ...) as a per-outer-row
        scalar Column: decorrelate to groupBy-on-correlation-keys + left
        join. One shuffle on the correlation key instead of a per-outer-row
        re-execution."""
        if (len(stmt.columns) != 1
                or not isinstance(stmt.columns[0], ast.Aggregate)):
            raise TranslationError(
                "correlated scalar subquery must select exactly one aggregate")
        agg = stmt.columns[0]
        inner = self._inner_frame(stmt, residual)
        tag = self._next("cs")
        keys = [f"{tag}_k{i}" for i in range(len(pairs))]
        fn = {"count": F.count, "sum": F.sum, "avg": F.avg,
              "min": F.min, "max": F.max}[agg.func]
        aggcol = fn(F.lit(1) if agg.arg == "*" else F.col(agg.arg))
        subdf = (inner.groupBy(*[F.col(ic).alias(k)
                                 for k, (_, ic) in zip(keys, pairs)])
                 .agg(aggcol.alias(tag)))
        base = self._corr_join(base, subdf, keys, pairs, drop=keys)
        scalar = F.col(tag)
        if agg.func == "count":
            # empty correlation groups are COUNT = 0, not NULL (the classic
            # decorrelation count bug)
            scalar = F.coalesce(scalar, F.lit(0))
        return base, scalar

    _COMPARE_OPS = {"=": Column.__eq__, "!=": Column.__ne__,
                    "<>": Column.__ne__, ">": Column.__gt__,
                    ">=": Column.__ge__, "<": Column.__lt__,
                    "<=": Column.__le__}

    def _correlated_scalar(self, base: DataFrame, cond: ast.Compare,
                           pairs, residual):
        base, scalar = self._decorrelated_scalar(base, cond.value.stmt,
                                                 pairs, residual)
        if cond.op not in self._COMPARE_OPS:
            raise TranslationError(f"unsupported operator {cond.op!r} on "
                                   "correlated scalar subquery")
        return base, self._COMPARE_OPS[cond.op](_col(cond.column), scalar)

    def _scalar_join(self, base: DataFrame, stmt: ast.Select) \
            -> tuple[DataFrame, Column]:
        """Non-correlated scalar subquery as a LAZY broadcast 1-row left
        join (keeps explain() side-effect-free and the whole plan
        distributed; an empty subquery yields a NULL scalar, which matches
        SQL three-valued comparison semantics under OR/NOT)."""
        sub = self.tr.select(stmt, apply_default_limit=False)
        if len(sub.columns) != 1:
            raise TranslationError("scalar subquery must return one column")
        tag = self._next("sq")
        one = F.broadcast(sub.limit(1).withColumnRenamed(sub.columns[0], tag))
        return base.join(one, F.lit(True), "left"), F.col(tag)

    def _lazy_scalar(self, base: DataFrame, cond: ast.Compare):
        if cond.op not in self._COMPARE_OPS:
            raise TranslationError(f"unsupported operator {cond.op!r} on "
                                   "scalar subquery comparison")
        base, scalar = self._scalar_join(base, cond.value.stmt)
        return base, self._COMPARE_OPS[cond.op](_col(cond.column), scalar)

    def _subquery_compare(self, base: DataFrame, cond: ast.SubqueryCompare):
        """(SELECT ...) op value with the subquery on the LHS."""
        tr = self.tr
        if cond.op not in self._COMPARE_OPS:
            raise TranslationError(f"unsupported operator {cond.op!r} on "
                                   "scalar subquery comparison")
        if isinstance(cond.value, ast.Subquery):
            # (SELECT..) op (SELECT..): both sides lazy 1-row joins
            base, rhs_col = self._scalar_join(base, cond.value.stmt)
        else:
            rhs_col = F.lit(tr.value(cond.value))
        pairs, residual = _split_correlation(cond.sub.stmt, self.outer_aliases)
        if pairs:
            base, scalar = self._decorrelated_scalar(base, cond.sub.stmt,
                                                     pairs, residual)
            return base, self._COMPARE_OPS[cond.op](scalar, rhs_col)
        # non-correlated: lazy broadcast 1-row join, constant per row
        base, scalar = self._scalar_join(base, cond.sub.stmt)
        return base, self._COMPARE_OPS[cond.op](scalar, rhs_col)

    def _fused(self, base: DataFrame, cond: ast.VectorFusedSearch):
        tr = self.tr
        info = self.info
        spec = cond.fusion or ast.FusionSpec()
        hib = higher_is_better(info.metric)
        names = []
        for v in cond.vectors:
            vec = tr.value(v)
            _check_dim(info, vec)
            name = self._next("fv")
            base = base.withColumn(
                name,
                metric_score(_col(info.vector_col),
                             double_array_lit(vec), info.metric),
            )
            names.append(name)
        strategy = spec.strategy
        if strategy in ("average", "maximum", "max"):
            arr = F.array(*[F.col(n) for n in names])
            fusedc = (F.aggregate(arr, F.lit(0.0), lambda a, x: a + x) / len(names)
                      if strategy == "average"
                      else F.array_max(arr))
            base = base.withColumn("_vql_fusedv", fusedc)
        elif strategy == "rrf":
            # DEFERRED: rrf needs per-component global ranks; computing
            # them here would put a no-partition window (single-partition
            # sort of the whole scored table) in the plan. select() knows
            # the final LIMIT and applies either the bounded-pool exact
            # ranking (apply_rrf_pooled) or the global fallback.
            k = float(spec.params.get("k", fusion_mod.RRF_K))
            self.rrf_pending = (list(names), k)
        elif strategy == "weighted":
            aw = float(spec.params.get("avg_weight", 0.4))
            mw = float(spec.params.get("max_weight", 0.4))
            hw = float(spec.params.get("hit_weight", 0.2))
            arr = F.array(*[F.col(n) for n in names])
            avg = F.aggregate(arr, F.lit(0.0), lambda a, x: a + x) / len(names)
            base = base.withColumn(
                "_vql_fusedv", aw * avg + mw * F.array_max(arr) + hw * F.lit(1.0))
        else:
            raise TranslationError(f"unknown fusion strategy: {strategy}")
        self.near_score = "_vql_fusedv"
        # fused scores are always higher-is-better; flag via text-style order
        self._fused_present = True
        return base, F.lit(True)

    def apply_rrf_global(self, base: DataFrame) -> DataFrame:
        """Deferred NEAR_FUSED rrf, global-window form: exact ranks via a
        no-partition row_number over the WHOLE scored relation. Correct
        everywhere (aggregates, DISTINCT, extra predicates, explicit
        ORDER BY, unknown limit) but single-partitions the scored set —
        the fallback, not the search path."""
        names, k = self.rrf_pending
        self.rrf_pending = None
        info = self.info
        hib = higher_is_better(info.metric)
        rrf = None
        for n in names:
            w = Window.orderBy(F.desc(n) if hib else F.asc(n),
                               F.asc(info.id_col))
            base = base.withColumn(n + "_rk", F.row_number().over(w))
            term = 1.0 / (F.lit(k) + F.col(n + "_rk"))
            rrf = term if rrf is None else rrf + term
        return base.withColumn("_vql_fusedv", rrf)

    def apply_rrf_pooled(self, base: DataFrame, want: int) -> DataFrame:
        """Deferred NEAR_FUSED rrf, bounded-pool EXACT form — the 100 TB
        path. No window ever sees more than C = m·(k + L) rows:

        - per component, a distributed TakeOrdered top-C list gets exact
          global ranks 1..C from a window over those ≤C rows;
        - a pooled row outside some component's top-C has its exact
          global rank RECONSTRUCTED by counting strictly-better rows in
          the full scored relation (one broadcast of ≤(m−1)·C threshold
          rows against the scan — map-combinable count, no shuffle of
          the scored set, no single-partition exchange);
        - any row outside ALL top-C lists has every rank ≥ C+1, so its
          fused score ≤ m/(k+C+1) < 1/(k+L) ≤ the L-th best pooled score
          (component 1's top-L rows are all pooled, each with fused ≥
          1/(k+rank₁) ≥ 1/(k+L)) — the returned top-L and every returned
          fused value are EXACTLY what the global window would produce
          (oracle-gated + differential-tested equal).
        """
        names, k = self.rrf_pending
        self.rrf_pending = None
        info = self.info
        idc = info.id_col
        hib = higher_is_better(info.metric)
        m = len(names)
        pool_c = int(m * (k + want)) + 1

        def order(col):
            first = F.desc_nulls_last(col) if hib else F.asc_nulls_last(col)
            return [first, F.asc(idc)]

        # null scores sort last in both paths; a null-scored threshold
        # must still reconstruct (comparisons against NULL are never
        # true), so compare on a worst-sentinel coalesce instead
        sentinel = F.lit(float("-inf") if hib else float("inf"))
        # The tiny derived frames (per-component top-C lists, the pooled
        # id set, the pooled rows' component scores — all ≤ m·C rows of
        # fixed width) are each consumed by several branches below;
        # unstaged, Catalyst re-plans every consumer's upstream and the
        # full scored relation is scanned once PER RE-DERIVATION (~17
        # scans for m=2). Staging them leaves one scored pass per
        # component top-C, one pooled-score hydration, one
        # rank-reconstruction pass per component, and the final hydrate.
        from velesdb_spark.functions.staging import stage

        lists, pool = [], None
        for n in names:
            top = base.select(idc, n).orderBy(*order(n)).limit(pool_c)
            # bounded window: input is the ≤pool_c-row top list above
            w = Window.orderBy(*order(n))
            lists.append(stage(
                top.withColumn(n + "_rk", F.row_number().over(w))
                .select(idc, n + "_rk")))
            ids = lists[-1].select(idc)
            pool = ids if pool is None else pool.union(ids)
        pool = stage(pool.distinct())
        # one scored pass hydrates every pooled id's coalesced component
        # scores; per-component thresholds below slice this cache instead
        # of re-scanning the scored relation
        pool_scores = stage(
            base.select(idc, *[F.coalesce(F.col(n), sentinel)
                               .alias(n + "_cs") for n in names])
            .join(F.broadcast(pool), idc))
        # rank reconstruction: ONE scored pass for every component
        # (r11 optimization round, not-yet #3 closed). Thresholds are
        # tagged with their component index and unioned; the single scan
        # emits every component's coalesced score as an array and the
        # broadcast join condition picks the tagged component's element.
        # The merged result (≤(m−1)·C fixed-width rows) is staged and
        # per-component filters slice it — m column-pruned scored passes
        # become one (scored passes for the whole query: 2m+2 → m+3).
        thr_all = None
        for i, (n, known) in enumerate(zip(names, lists)):
            t = (pool_scores
                 .join(known.select(idc), idc, "left_anti")
                 .select(F.lit(i).alias("_tc"),
                         F.col(idc).alias("_tid"),
                         F.col(n + "_cs").alias("_ts")))
            thr_all = t if thr_all is None else thr_all.unionByName(t)
        sc = base.select(
            F.col(idc).alias("_sid"),
            F.array(*[F.coalesce(F.col(n), sentinel) for n in names])
            .alias("_ssv"))
        ss = F.element_at(F.col("_ssv"), F.col("_tc") + 1)
        better = ss > F.col("_ts") if hib else ss < F.col("_ts")
        beats = better | ((ss == F.col("_ts"))
                          & (F.col("_sid") < F.col("_tid")))
        # every threshold is outside its component's top-C, so at least
        # C rows beat it and the inner-join group always exists
        recon_all = stage(
            sc.join(F.broadcast(thr_all), beats)
            .groupBy("_tc", "_tid")
            .agg((F.count("*") + 1).alias("_rk")))
        ranks = pool
        for i, (n, known) in enumerate(zip(names, lists)):
            recon = (recon_all.filter(F.col("_tc") == i)
                     .select(F.col("_tid").alias(idc),
                             F.col("_rk").alias(n + "_rk")))
            ranks = ranks.join(known.unionByName(recon), idc)
        fused = None
        for n in names:
            term = 1.0 / (F.lit(k) + F.col(n + "_rk"))
            fused = term if fused is None else fused + term
        pooled = ranks.select(idc, fused.alias("_vql_fusedv"))
        return base.join(F.broadcast(pooled), idc)

    def _match_text(self, base: DataFrame, cond: ast.MatchText):
        info = self.info
        text_col = cond.column if cond.column in base.columns else (
            info.text_col or cond.column)
        from velesdb_spark.functions.bm25 import bm25_scan_scores

        name = self._next("bm25")
        scores = bm25_scan_scores(
            info.df, cond.query, id_col=info.id_col, text_col=text_col,
        ).withColumnRenamed("_bm25_score", name)
        base = base.join(scores, on=info.id_col, how="left")
        self.text_score = name
        return base, F.col(name).isNotNull()

    def _next(self, tag: str) -> str:
        self.counter += 1
        return f"_vql_{tag}_{self.counter}"


def _observed_operator_stats(df: DataFrame) -> str:
    """Per-operator SQLMetrics from the executed plan (after an action):
    nodeName + numOutputRows where the metric was populated. Best-effort
    over py4j — any JVM surface drift degrades to the summary stats
    rather than failing the query."""
    try:
        qe = df._jdf.queryExecution()
        root = qe.executedPlan()
        lines: list[str] = []

        def walk(node, depth):
            try:
                m = node.metrics()
                it = m.iterator()
                parts = []
                while it.hasNext():
                    kv = it.next()
                    if kv._1() in ("numOutputRows", "spillSize",
                                   "numFiles", "numPartitions"):
                        v = kv._2().value()
                        if v > 0:
                            parts.append(f"{kv._1()}={v}")
                if parts:
                    lines.append("  " * depth + node.nodeName()
                                 + ": " + ", ".join(parts))
            except Exception:
                pass
            # AQE wrappers: the root exposes the final plan via
            # executedPlan(); materialized stages wrap theirs in
            # *QueryStage nodes reachable only through plan()
            try:
                cls = node.getClass().getSimpleName()
                if cls == "AdaptiveSparkPlanExec":
                    walk(node.executedPlan(), depth + 1)
                    return
                if cls.endswith("QueryStageExec") \
                        or "QueryStage" in node.nodeName():
                    walk(node.plan(), depth + 1)
                    return
            except Exception:
                pass
            try:
                ch = node.children().iterator()
                while ch.hasNext():
                    walk(ch.next(), depth + 1)
            except Exception:
                pass

        walk(root, 0)
        if not lines:
            return ""
        return "\n-- operator metrics --\n" + "\n".join(lines)
    except Exception:
        return ""


def translate(sql_or_ast, catalog: Catalog, params: Optional[dict] = None,
              now_epoch: Optional[int] = None) -> DataFrame:
    """Parse (if needed) and translate a VelesQL query to a DataFrame."""
    q = parse(sql_or_ast) if isinstance(sql_or_ast, str) else sql_or_ast
    if isinstance(q, ast.Explain):
        # EXPLAIN <query> → one-row (plan STRING) DataFrame: the VelesQL
        # plan tree + the Catalyst physical plan (velesql/explain.rs; REST
        # /query/explain returns the same shape as data)
        from velesdb_spark.plans.explain import plan_tree
        from velesdb_spark.plans.queryplan import QueryPlan

        df = Translator(catalog, params, now_epoch).query(q.query)
        catalyst = df._jdf.queryExecution().explainString(
            df._sc._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))
        # Reference-shaped structured plan (explain.rs QueryPlan — node
        # tree, estimated cost, index, filter strategy) for the shapes
        # the reference plans (Select / MATCH); compounds keep only the
        # legacy pipeline view.
        inner = q.query
        if isinstance(inner, ast.Select):
            structured = QueryPlan.from_select(inner).to_tree()
        elif isinstance(inner, ast.MatchQuery):
            structured = QueryPlan.from_match(inner).to_tree()
        else:
            structured = ""
        text = (f"-- VelesQL plan --\n{structured}\n"
                f"-- operator pipeline --\n{plan_tree(q.query)}\n\n"
                f"-- Catalyst plan --\n{catalyst}")
        if q.analyze:
            # EXPLAIN ANALYZE: execute and append OBSERVED stats, not
            # just wall time — the reference's ExplainAnalyze carries
            # per-run execution statistics (velesql/explain.rs:38-177).
            # The row count comes from an Observation (flows through the
            # executed plan itself, no second job); per-operator
            # numOutputRows/spill metrics come from the executed plan's
            # SQLMetrics after the action.
            import time as _time

            from pyspark.sql import Observation

            obs = Observation()
            observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
            t0 = _time.time()
            # collect() (not count()/noop-write) so the action runs THIS
            # DataFrame's own QueryExecution — that is the object whose
            # SQLMetrics we read below; a separate write/count execution
            # would leave them at zero. Result size is bounded by the
            # VelesQL limit conventions (default 10, MAX_LIMIT cap).
            observed.collect()
            elapsed = (_time.time() - t0) * 1000
            n = obs.get["rows"]
            text += (f"\n\n-- ANALYZE (observed) --\nrows: {n}\n"
                     f"elapsed_ms: {elapsed:.1f}")
            text += _observed_operator_stats(observed)
        return df.sparkSession.createDataFrame([(text,)], "plan string")
    return Translator(catalog, params, now_epoch).query(q)
