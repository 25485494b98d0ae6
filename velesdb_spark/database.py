"""Database / Collection — the programmatic API surface.

Mirrors the reference's Python bindings (crates/velesdb-python/src/
collection.rs:81-582: upsert, upsert_bulk, search, search_with_filter,
text_search, hybrid_search, batch_search, multi_query_search, query,
query_ids, create_property_index, create_range_index) and the graph CRUD API
(collection/core/graph_api.rs:40-299), re-expressed over DataFrames.

Storage model: a collection is a DataFrame (id, vector, payload columns...)
plus an optional edges DataFrame — persisted as Parquet when the Database has
a path (the reference's mmap/log stores are storage/mmap.rs,
storage/log_payload.rs; Parquet + partition pruning replaces both). Upsert is
last-writer-wins by id (MERGE semantics — crud.rs:19-118).
"""

from __future__ import annotations

import os
import warnings
from typing import Iterable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from velesdb_spark.functions.bm25 import Bm25Index
from velesdb_spark.functions.distance import higher_is_better
from velesdb_spark.operators import graph as graph_ops
from velesdb_spark.operators import topk as topk_ops
from velesdb_spark.velesql.translator import Catalog, translate
from velesdb_spark.velesql.parser import parse
from dataclasses import dataclass


@dataclass
class StreamingConfig:
    """Streaming-traversal bounds (bindings graph_store.rs:27-51)."""

    max_depth: int = 3
    max_visited: int = 10_000
    relationship_types: Optional[list] = None


@dataclass
class TraversalResult:
    """One BFS discovery edge (bindings graph_store.rs:55-68)."""

    depth: int
    source: int
    target: int
    label: str


class Collection:
    def __init__(self, spark: SparkSession, name: str, dimension: Optional[int] = None,
                 metric: str = "cosine", df: Optional[DataFrame] = None,
                 id_col: str = "id", vector_col: str = "vector",
                 text_col: Optional[str] = None,
                 edges: Optional[DataFrame] = None, path: Optional[str] = None,
                 storage_mode: str = "full", metadata_only: bool = False):
        self.spark = spark
        self.name = name
        self.dimension = dimension
        # CollectionType::MetadataOnly (types.rs:32-61): payload-only
        # rows; vector upserts and vector search raise typed errors
        # instead of leaking engine analysis exceptions
        self.metadata_only = bool(metadata_only)
        self.metric = metric.lower()
        # storage modes (quantization.rs + collection types.rs config):
        # 'full' stores f32; 'sq8' stores the SQ8 struct (4x smaller,
        # scores approximate); 'binary' stores packed sign bits (32x
        # smaller, hamming/jaccard only). Quantized modes transform the
        # vector column ON WRITE; reads score the stored representation.
        storage_mode = storage_mode.lower()
        if storage_mode not in ("full", "sq8", "binary"):
            raise ValueError(f"unknown storage_mode: {storage_mode!r} "
                             "(full|sq8|binary)")
        if storage_mode == "binary" and self.metric not in ("hamming",
                                                            "jaccard"):
            raise ValueError(
                "binary storage keeps only sign bits — metric must be "
                "hamming or jaccard (quantization.rs Binary mode)")
        self.storage_mode = storage_mode
        self.id_col = id_col
        self.vector_col = vector_col
        self.text_col = text_col
        self.path = path
        self._df = df
        self._edges = edges
        self._bm25: Optional[Bm25Index] = None
        self._bm25_text_col: Optional[str] = None
        # durable log-structured store (storage.py): source of truth when a
        # path is given and no explicit in-memory frame overrides it. A
        # legacy flat `points/` parquet dir (pre-log layout) keeps the old
        # in-memory + overwrite-flush behavior.
        self.store = None
        self.edge_store = None
        if path and df is None and not os.path.isdir(os.path.join(path, "points")):
            from velesdb_spark.storage import LogStore

            self.store = LogStore(spark, os.path.join(path, "points_log"),
                                  id_col=id_col)
            if self.store.exists():
                self._df = self.store.read()
            self.edge_store = LogStore(
                spark, os.path.join(path, "edges_log"), id_col="id")
            if edges is None and self.edge_store.exists():
                self._edges = self.edge_store.read()

    # ------------------------------------------------------------ data
    @property
    def df(self) -> DataFrame:
        if self._df is None:
            raise ValueError(f"collection {self.name} is empty")
        return self._df

    @property
    def edges(self) -> DataFrame:
        if self._edges is None:
            raise ValueError(f"collection {self.name} has no edges")
        return self._edges

    def upsert(self, points: DataFrame | Sequence[dict]) -> "Collection":
        """Insert-or-replace by id (crud.rs:19-118 → MERGE semantics)."""
        if self.metadata_only and not isinstance(points, DataFrame) \
                and any(p.get(self.vector_col) is not None for p in points):
            raise ValueError(
                f"collection '{self.name}' is metadata-only: points must "
                "not carry a vector (CollectionType::MetadataOnly, "
                "types.rs:32-61); use upsert_metadata or a vector "
                "collection")
        if not isinstance(points, DataFrame):
            points = [self._coerce_point(p) for p in points]
        new = points if isinstance(points, DataFrame) else \
            self.spark.createDataFrame(points)
        if self.metadata_only and self.vector_col in new.columns:
            raise ValueError(
                f"collection '{self.name}' is metadata-only: the upsert "
                f"frame must not carry a {self.vector_col!r} column")
        if self.dimension is not None and self.vector_col in new.columns \
                and not self._vectors_quantized(new):
            wrong = F.size(self.vector_col) != self.dimension
            packed_len = self._binary_packed_len()
            if packed_len is not None and self._is_integral_array(
                    new.schema[self.vector_col].dataType):
                # binary collections accept pre-packed words too
                wrong = wrong & (F.size(self.vector_col) != packed_len)
            bad = new.filter(
                F.col(self.vector_col).isNotNull() & wrong).limit(1).count()
            if bad:
                raise ValueError(
                    f"vector dimension mismatch (expected {self.dimension})")
        new = self._quantize_on_write(new)
        ids = None
        if self.store is not None:
            # durable path: append an immutable log segment, commit the
            # manifest, re-resolve the read view (read-your-writes); the
            # segment's ids, collected once by the store, are the text
            # index's shadow set too
            ids = self.store.append_upsert(new)
            self._df = self.store.read()
        elif self._df is None:
            self._df = new
        else:
            # last-writer-wins by id: new batch shadows old rows
            old = self._df.join(new.select(self.id_col), on=self.id_col, how="left_anti")
            self._df = old.unionByName(new, allowMissingColumns=True)
        self._refresh_bm25(new_docs=new, new_ids=ids)
        self._stats = None  # statistics reflect the pre-mutation table
        self._n_cached = None
        return self

    upsert_bulk = upsert

    # ---------------------------------------------------- storage modes
    def _vectors_quantized(self, df: DataFrame) -> bool:
        """True when the frame's vector column already carries the stored
        (quantized) representation — struct for sq8, bigint words for
        binary — so re-merges of store reads aren't double-transformed.

        For binary mode the schema alone is ambiguous: raw 0/1 integer
        vectors (createDataFrame infers bigint from Python ints) share the
        array<bigint> type with packed words but are dim-long, not
        ceil(dim/64)-long, so classification is per-row by length inside
        ``_quantize_on_write`` — this returns False for them and the
        write path passes genuinely-packed rows through unchanged."""
        from pyspark.sql.types import StructType

        if self.storage_mode == "full" or self.vector_col not in df.columns:
            return False
        dt = df.schema[self.vector_col].dataType
        if self.storage_mode == "sq8":
            return isinstance(dt, StructType)
        # binary: schema can never prove packed-ness (see docstring) —
        # always defer to _quantize_on_write's per-row length check
        return False

    @staticmethod
    def _is_integral_array(dt) -> bool:
        from pyspark.sql.types import ArrayType

        return (isinstance(dt, ArrayType) and dt.elementType.simpleString()
                in ("tinyint", "smallint", "int", "bigint"))

    def _binary_packed_len(self) -> Optional[int]:
        if self.storage_mode != "binary" or not self.dimension:
            return None
        return (int(self.dimension) + 63) // 64

    def _quantize_on_write(self, new: DataFrame) -> DataFrame:
        """Apply the collection's storage mode to incoming f32 vectors
        (quantization.rs: SQ8 4x / Binary 32x smaller at rest). Idempotent
        on frames already carrying the stored representation."""
        vc = self.vector_col
        if self.storage_mode == "full" or vc not in new.columns \
                or self._vectors_quantized(new):
            return new
        from velesdb_spark.functions.quantization import (binary_quantize,
                                                          sq8_quantize)

        if self.storage_mode == "sq8":
            q = sq8_quantize(F.col(vc))
        else:
            if not self.dimension:
                raise ValueError("binary storage needs an explicit "
                                 "collection dimension")
            q = binary_quantize(F.col(vc), int(self.dimension))
            if self._is_integral_array(new.schema[vc].dataType):
                # array<bigint> is ambiguous: store re-reads carry packed
                # words (length ceil(dim/64)); raw 0/1 integer vectors are
                # dim-long and must still be packed — a schema-only check
                # would skip them and later unpack garbage sign bits
                packed_len = self._binary_packed_len()
                return new.withColumn(
                    vc, F.when(F.col(vc).isNull(), F.lit(None)
                               .cast("array<bigint>"))
                         .when(F.size(vc) == packed_len, F.col(vc))
                         .otherwise(q))
        return new.withColumn(
            vc, F.when(F.col(vc).isNotNull(), q))

    def _prep_query_vec(self, vector):
        """Binary storage binarizes the query to sign bits so hamming /
        jaccard compare like-with-like (the stored representation)."""
        if self.storage_mode == "binary":
            return [1.0 if float(x) > 0 else 0.0 for x in vector]
        return list(vector)

    def _score_df(self) -> DataFrame:
        """The collection with the vector column in scoreable array form:
        sq8 dequantizes (approximate values — the mode's contract),
        binary unpacks sign bits to 0/1 (hamming/jaccard on the unpacked
        array ≡ the packed kernels). Lazy column transform — the stored
        data stays quantized; every search/VelesQL path reads this view."""
        if self.storage_mode == "full" or self._df is None \
                or self.vector_col not in self.df.columns:
            return self.df
        from velesdb_spark.functions.quantization import (binary_unpack,
                                                          sq8_dequantize)

        vc = self.vector_col
        if self.storage_mode == "sq8":
            return self.df.withColumn(vc, sq8_dequantize(F.col(vc)))
        return self.df.withColumn(
            vc, binary_unpack(F.col(vc), int(self.dimension)))

    def delete(self, ids: Sequence[int]) -> "Collection":
        if self.store is not None:
            # durable path: tombstone log segment
            self.store.append_delete(ids)
            self._df = self.store.read()
        else:
            self._df = self.df.filter(
                ~F.col(self.id_col).isin([int(i) for i in ids]))
        self._refresh_bm25(deleted_ids=[int(i) for i in ids])
        self._stats = None
        self._n_cached = None
        return self

    def _refresh_bm25(self, new_docs: DataFrame | None = None,
                      deleted_ids=None, new_ids=None) -> None:
        """Keep the text index serving-ready across mutations: the write
        composes the cached base index with ONE cached delta built from
        ONLY the mutated docs, folding any earlier delta into it and
        memoizing the corpus stats (bm25.Bm25Index.incremental_update), so
        the next search neither re-tokenizes the corpus nor recomputes the
        stats — the batch-scale analogue of the reference's transactional
        per-upsert index update (crud.rs:19-118). The write's ids
        (``new_ids``, ``deleted_ids``) are the index's literal shadow-id
        set; a durable write hands on the ids its log store learned, so
        they are collected once. Falls back to rebuild-on-demand when the
        batch lacks the indexed text column."""
        if self._bm25 is None:
            return
        text_col = self._bm25_text_col
        try:
            if new_docs is not None and (
                    text_col not in new_docs.columns
                    or self.id_col not in new_docs.columns):
                raise ValueError("delta lacks indexed columns")
            self._bm25 = self._bm25.incremental_update(
                new_docs=new_docs, deleted_ids=deleted_ids,
                text_col=text_col, new_ids=new_ids)
        except Exception:
            self._bm25 = None  # next search rebuilds from scratch

    def get(self, point_id: int) -> Optional[dict]:
        rows = self.df.filter(F.col(self.id_col) == int(point_id)).limit(1).collect()
        return rows[0].asDict(recursive=True) if rows else None

    def count(self) -> int:
        return self.df.count()

    def is_empty(self) -> bool:
        """bindings is_empty: no points stored."""
        return self._df is None or self._df.limit(1).count() == 0

    def is_metadata_only(self) -> bool:
        """bindings is_metadata_only: collection stores no vectors
        (CollectionType::MetadataOnly, types.rs:32-61)."""
        return (self.metadata_only
                or self._df is None
                or self.vector_col not in self._df.columns
                or self.dimension == 0)

    def info(self) -> dict:
        """bindings info (collection.rs:48-73): name/dimension/metric/
        storage_mode/count."""
        return {
            "name": self.name,
            "dimension": self.dimension,
            "metric": self.metric,
            "storage_mode": self.storage_mode,
            "count": 0 if self._df is None else self.count(),
        }

    def upsert_metadata(self, points: Sequence[dict]) -> "Collection":
        """Metadata-only upsert (collection.rs:133): points carry id +
        payload fields, no vector; vector column is null for new rows."""
        rows = []
        for p in points:
            r = dict(p.get("payload", {}))
            r[self.id_col] = p["id"]
            rows.append(r)
        return self.upsert(rows)

    # index-management surface: exact execution needs no index structures
    # (parquet stats + pushdown replace property/range indexes), so these
    # track declarations for API parity (collection.rs:524+)
    def list_indexes(self) -> list[dict]:
        return list(getattr(self, "_declared_indexes", []))

    def has_property_index(self, label: str, prop: str) -> bool:
        return any(i["index_type"] == "property" and i["label"] == label
                   and i["property"] == prop for i in self.list_indexes())

    def has_range_index(self, label: str, prop: str) -> bool:
        return any(i["index_type"] == "range" and i["label"] == label
                   and i["property"] == prop for i in self.list_indexes())

    def drop_index(self, label: str, prop: str) -> "Collection":
        self._declared_indexes = [
            i for i in self.list_indexes()
            if not (i["label"] == label and i["property"] == prop)]
        return self

    def flush(self) -> "Collection":
        """Durable store: snapshot compaction (log folds into a new
        snapshot version, log truncates — log_payload.rs:316-363). Legacy
        path: full overwrite of the flat points dir."""
        if self.store is not None:
            self.store.compact()
            self._df = self.store.read()
            if self.edge_store is not None and self.edge_store.exists():
                self.edge_store.compact()
                self._edges = self.edge_store.read()
            elif self._edges is not None and self.path:
                self._edges.write.mode("overwrite").parquet(
                    os.path.join(self.path, "edges"))
        elif self.path:
            self.df.write.mode("overwrite").parquet(os.path.join(self.path, "points"))
            if self._edges is not None:
                self._edges.write.mode("overwrite").parquet(os.path.join(self.path, "edges"))
        return self

    # ------------------------------------------------------------ search
    def search(self, vector: Sequence[float], k: int = 10,
               quantization: Optional[str] = None,
               oversampling: Optional[int] = None, **_ignored) -> DataFrame:
        """Exact k-NN (reference: HNSW ANN, search/vector.rs:18-59; quality
        profiles / ef_search accepted and ignored — exact is 'Perfect').

        ``quantization`` selects the search precision, the bindings'
        search_with_config surface (dual_precision.rs:260-282):
        'int8'/'sq8' scores on the SQ8 representation; 'dual'/'hybrid'
        does the coarse-SQ8 → exact-f32 two-phase re-rank with
        ``oversampling``·k candidates (default 4·k); 'auto' applies the
        reference's decision rule (config.rs should_quantize +
        DualPrecisionConfig.min_index_size): dual above 10k vectors
        (cached count — one job, invalidated on mutation), exact below;
        'f32'/None keep exact scoring. On a quantized-storage collection
        the hint is ignored — the storage mode already fixes precision."""
        from velesdb_spark.functions.quantization import (
            DUAL_MIN_INDEX_SIZE, parse_quantization_mode, sq8_dequantize,
            sq8_quantize)

        self._reject_if_metadata_only("search")
        mode = parse_quantization_mode(quantization)
        if self.storage_mode != "full":
            mode = None
        if mode == "auto":
            if getattr(self, "_n_cached", None) is None:
                self._n_cached = self.count()
            mode = "dual" if self._n_cached >= DUAL_MIN_INDEX_SIZE else None
        if mode == "dual":
            return topk_ops.dual_precision_knn(
                self.df, vector, k, self.metric, self.vector_col,
                self.id_col, oversampling=oversampling)
        if mode == "int8":
            approx = self.df.withColumn(
                "_sq8", sq8_dequantize(sq8_quantize(F.col(self.vector_col))))
            return (topk_ops.knn(approx, vector, k, self.metric, "_sq8",
                                 self.id_col).drop("_sq8"))
        return topk_ops.knn(self._score_df(), self._prep_query_vec(vector),
                            k, self.metric, self.vector_col, self.id_col)

    def search_with_filter(self, vector: Sequence[float], filter_cond, k: int = 10) -> DataFrame:
        """Filtered k-NN — filter BEFORE top-k (exact; no 4× over-fetch).

        filter_cond is either a boolean Column or a reference-format filter
        dict (filter/mod.rs:56-161 tagged JSON, as accepted by the Python
        bindings' search_with_filter — velesdb-python collection.rs:359)."""
        self._reject_if_metadata_only("search_with_filter")
        if isinstance(filter_cond, dict):
            from velesdb_spark.functions.filters import filter_to_column

            filter_cond = filter_to_column(filter_cond)
        return topk_ops.knn(self._score_df(), self._prep_query_vec(vector),
                            k, self.metric, self.vector_col, self.id_col,
                            filter_cond=filter_cond)

    def _coerce_point(self, p: dict) -> dict:
        """Bindings-parity input coercion (velesdb-python
        tests/test_velesdb.py numpy shapes): vectors arrive as lists,
        numpy float32/float64 arrays, or any iterable — normalize to
        list[float] so Spark's type inference never sees numpy; numpy
        scalars anywhere in the point unwrap via .item()."""
        out = {}
        for k, v in p.items():
            if k == self.vector_col and v is not None:
                # element TYPES are preserved: raw 0/1 int vectors must
                # stay ints (binary storage packs the inferred
                # array<bigint> on write); only numpy wrappers unwrap
                if hasattr(v, "tolist"):
                    out[k] = v.tolist()
                else:
                    out[k] = [x.item() if hasattr(x, "item") else x
                              for x in v]
            elif hasattr(v, "tolist") and not isinstance(
                    v, (str, bytes, dict, list, tuple)):
                # numpy arrays -> lists, numpy scalars -> python scalars
                out[k] = v.tolist()
            else:
                out[k] = v
        return out

    def _reject_if_metadata_only(self, op: str) -> None:
        """Typed rejection (metadata_only_tests.rs: search on a
        metadata-only collection is an error, never an engine analysis
        exception). Applies when the collection was DECLARED metadata-only
        or its stored frame has no vector column; an empty vector
        collection still searches (zero results, not an error)."""
        if self.metadata_only or (
                self._df is not None
                and self.vector_col not in self._df.columns):
            raise ValueError(
                f"collection '{self.name}' is metadata-only: {op} needs "
                "a vector column (CollectionType::MetadataOnly, "
                "types.rs:32-61)")

    def search_ids(self, vector: Sequence[float], k: int = 10) -> DataFrame:
        return self.search(vector, k).select(self.id_col, "score")

    @staticmethod
    def _as_column(filter_cond):
        if isinstance(filter_cond, dict):
            from velesdb_spark.functions.filters import filter_to_column

            return filter_to_column(filter_cond)
        return filter_cond

    def batch_search(self, vectors: Iterable[Sequence[float]] = (), k: int = 10,
                     searches: Optional[Sequence[dict]] = None) -> DataFrame:
        """Batch k-NN. Either plain `vectors`, or `searches` = the bindings'
        request-dict form (batch.rs:26-231): each {"vector": [...],
        "top_k": n, "filter": <condition dict>} with per-query filters.
        All queries execute as ONE Spark job (union of per-query plans)."""
        if searches is None:
            queries = [(i, self._prep_query_vec(v))
                       for i, v in enumerate(vectors)]
            return topk_ops.knn_batch(self._score_df(), queries, k,
                                      self.metric, self.vector_col,
                                      self.id_col)
        parts = []
        for i, req in enumerate(searches):
            cond = self._as_column(req.get("filter"))
            part = topk_ops.knn(self._score_df(),
                                self._prep_query_vec(req["vector"]),
                                req.get("top_k", k),
                                self.metric, self.vector_col, self.id_col,
                                filter_cond=cond)
            parts.append(part.select(F.lit(i).alias("qid"), "*"))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def multi_query_search(self, vectors: Iterable[Sequence[float]], k: int = 10,
                           strategy: str = "rrf", filter_cond=None,
                           fusion_params: Optional[dict] = None,
                           **params) -> DataFrame:
        """Fused multi-query search (batch.rs:231-352, fusion/strategy.rs);
        optional shared filter (bindings collection.rs:430) applied before
        per-query top-k — exact, no over-fetch. Strategy parameters come
        from ``fusion_params`` (needed for rrf's constant, whose name
        'k' collides with the top-k kwarg) merged over ``**params``."""
        from velesdb_spark.functions import fusion as fusion_mod

        base = self._score_df()
        cond = self._as_column(filter_cond)
        if cond is not None:
            base = base.filter(cond)
        vlist = list(vectors)
        if fusion_params:
            params = {**params, **fusion_params}
        vlist = [self._prep_query_vec(v) for v in vlist]
        per_query = topk_ops.knn_batch(base, list(enumerate(vlist)),
                                       max(k * 2, k), self.metric,
                                       self.vector_col, self.id_col)
        fused = fusion_mod.fuse(strategy, per_query, params,
                                total_queries=len(vlist), qid_col="qid",
                                id_col=self.id_col, score_col="score",
                                higher_is_better=higher_is_better(self.metric))
        return fused.orderBy(F.desc("score"), F.asc(self.id_col)).limit(k)

    def multi_query_search_ids(self, vectors: Iterable[Sequence[float]],
                               k: int = 10, strategy: str = "rrf",
                               **params) -> DataFrame:
        """ids + fused scores only (bindings collection.rs:458)."""
        return self.multi_query_search(vectors, k, strategy, **params) \
            .select(self.id_col, "score")

    # ------------------------------------------------------------ text
    def _bm25_index(self) -> Bm25Index:
        if self._bm25 is None:
            text_col = self.text_col
            if text_col is None:
                strings = [f.name for f in self.df.schema.fields
                           if f.dataType.simpleString() == "string"]
                if not strings:
                    raise ValueError("no string column for text search")
                text_col = strings[0]
            self._bm25 = Bm25Index(self.df, id_col=self.id_col, text_col=text_col,
                                   cache=True)
            self._bm25_text_col = text_col
        return self._bm25

    def text_search(self, query: str, k: int = 10, filter_cond=None) -> DataFrame:
        """BM25 top-k (collection/search/text.rs:21-91). filter_cond is a
        boolean Column or a reference-format filter dict (the bindings'
        optional `filter` — collection.rs:259); applied BEFORE top-k, so no
        4× over-fetch is needed."""
        if isinstance(filter_cond, dict):
            from velesdb_spark.functions.filters import filter_to_column

            filter_cond = filter_to_column(filter_cond)
        if filter_cond is None:
            scores = self._bm25_index().search(query, k)
            # the score side holds at most k rows: limit(k) keeps the final
            # order a TakeOrderedAndProject instead of a global sort
            return self.df.join(scores, on=self.id_col, how="inner") \
                .withColumnRenamed("_bm25_score", "score") \
                .orderBy(F.desc("score"), F.asc(self.id_col)).limit(k)
        # exact filtered top-k: restrict the score set to filtered ids, THEN
        # take k (the reference over-fetches 4× and can drop results;
        # filtering before top-k is both exact and cheaper here)
        scores = self._bm25_index().scores(query)
        return (self.df.filter(filter_cond)
                .join(scores, on=self.id_col, how="inner")
                .withColumnRenamed("_bm25_score", "score")
                .orderBy(F.desc("score"), F.asc(self.id_col)).limit(k))

    def hybrid_search(self, query: str, vector: Sequence[float], k: int = 10,
                      weight: float = 1.0, text_weight: float = 1.0,
                      filter_cond=None,
                      vector_weight: Optional[float] = None) -> DataFrame:
        """Vector ∪ BM25 with RRF weight/(rank+60) (text.rs:113-203).
        Optional filter (bindings collection.rs:278) applies to BOTH legs
        before their top-k — exact, no over-fetch.

        vector_weight mirrors the bindings' single-knob convention
        (collection.rs:278, text.rs:133-134): weight = clamp(vw, 0, 1),
        text weight = 1 − weight; it overrides weight/text_weight."""
        if vector_weight is not None:
            weight = max(0.0, min(1.0, float(vector_weight)))
            text_weight = 1.0 - weight
        cond = self._as_column(filter_cond)
        if cond is None:
            vres = self.search(vector, k * 2)
            tres = self._bm25_index().search(query, k * 2)
        else:
            vres = self.search_with_filter(vector, cond, k * 2)
            tres = (self.df.filter(cond)
                    .join(self._bm25_index().scores(query),
                          on=self.id_col, how="inner")
                    .orderBy(F.desc("_bm25_score"), F.asc(self.id_col))
                    .limit(k * 2))
        # RRF ranks each leg by score DESC; for distance metrics the vector
        # leg's better-is-smaller scores must be flipped so rank order
        # matches the reference's index-returned order (text.rs:152 ranks
        # follow the metric's direction)
        vscore = F.col("score") if higher_is_better(self.metric) \
            else -F.col("score")
        vres = vres.select(
            F.lit("v").alias("qid"), F.col(self.id_col).alias("id"),
            vscore.alias("score"))
        tres = tres.select(
            F.lit("t").alias("qid"), F.col(self.id_col).alias("id"),
            F.col("_bm25_score").alias("score"))
        from velesdb_spark.functions.fusion import fuse_hybrid_rrf

        fused = fuse_hybrid_rrf(vres.union(tres), {"v": weight, "t": text_weight})
        return fused.withColumnRenamed("id", self.id_col) \
            .orderBy(F.desc("score"), F.asc(self.id_col)).limit(k)

    # ------------------------------------------------------------ graph
    def add_edges(self, edges: DataFrame | Sequence[dict]) -> "Collection":
        new = edges if isinstance(edges, DataFrame) else self.spark.createDataFrame(edges)
        use_store = self.edge_store is not None and (
            self._edges is None or self.edge_store.exists())
        if use_store:
            # durable edge log (same LWW-by-edge-id store as points)
            self.edge_store.append_upsert(new)
            self._edges = self.edge_store.read()
        else:
            self._edges = new if self._edges is None else \
                self._edges.unionByName(new, allowMissingColumns=True)
        return self

    def add_node(self, id: int, label: str,
                 metadata: Optional[dict] = None,
                 vector: Optional[Sequence[float]] = None) -> "Collection":
        """Single graph-node upsert (bindings graph API; the llamaindex
        GraphLoader drives this — graph_loader.py:57-91): a point row
        with ``labels=[label]`` plus metadata columns, optional vector."""
        # metadata first, reserved fields last: a metadata key named like
        # the id/labels/vector columns must not shadow the real values —
        # including when vector=None (a metadata key named like the vector
        # column must not inject a vector; advisor r6)
        row: dict = dict(metadata or {})
        row.pop(self.vector_col, None)
        row[self.id_col] = int(id)
        row["labels"] = [label]
        if vector is not None:
            row[self.vector_col] = [float(x) for x in vector]
        return self.upsert([row])

    def add_edge(self, id: int, source: int, target: int, label: str,
                 metadata: Optional[dict] = None) -> "Collection":
        """Single edge upsert (bindings add_edge; graph_loader.py:93-129):
        metadata lands as edge-property columns."""
        return self.add_edges([{"id": int(id), "src": int(source),
                                "dst": int(target), "label": label,
                                **(metadata or {})}])

    def get_edges(self, label: Optional[str] = None,
                  limit: Optional[int] = None) -> list[dict]:
        """Edges as bindings dicts {id, source, target, label, properties}
        (graph_loader.py:131-166). ``limit`` bounds the driver collect —
        pass None for the reference's collect-all behavior, but prefer a
        bound (or the ``edges`` DataFrame directly) on a large graph."""
        if not self._has_edges():
            return []
        e = self.edges
        if label is not None:
            e = e.filter(F.col("label") == label)
        if limit is not None:
            e = e.limit(int(limit))
        core = {"id", "src", "dst", "label"}
        out = []
        for r in e.collect():
            row = r.asDict(recursive=True)
            out.append({
                "id": int(row.get("id", 0)),
                "source": int(row.get("src", 0)),
                "target": int(row.get("dst", 0)),
                "label": row.get("label", ""),
                "properties": {k: v for k, v in row.items()
                               if k not in core and v is not None},
            })
        return out

    def get_outgoing(self, node_id: int, label: Optional[str] = None) -> DataFrame:
        e = self.edges.filter(F.col("src") == int(node_id))
        return e.filter(F.col("label") == label) if label else e

    def get_incoming(self, node_id: int, label: Optional[str] = None) -> DataFrame:
        e = self.edges.filter(F.col("dst") == int(node_id))
        return e.filter(F.col("label") == label) if label else e

    def get_edges_by_label(self, label: str) -> DataFrame:
        return self.edges.filter(F.col("label") == label)

    def edge_count(self) -> int:
        """Total live edges (bindings graph.rs edge_count)."""
        return self.edges.count() if self._has_edges() else 0

    def has_edge(self, src: int, dst: int,
                 label: Optional[str] = None) -> bool:
        """Existence probe (bindings graph.rs has_edge) — limit(1), never
        a full count."""
        if not self._has_edges():
            return False
        e = self.edges.filter((F.col("src") == int(src))
                              & (F.col("dst") == int(dst)))
        if label is not None:
            e = e.filter(F.col("label") == label)
        return len(e.limit(1).collect()) > 0

    def _has_edges(self) -> bool:
        # _edges is hydrated from the edge log at init and refreshed on
        # every mutation, so None ⇔ the collection has no edges
        return self._edges is not None

    def remove_edge(self, edge_id: int) -> "Collection":
        if self.edge_store is not None and self.edge_store.exists():
            self.edge_store.append_delete([edge_id])
            self._edges = self.edge_store.read()
        else:
            self._edges = self.edges.filter(F.col("id") != int(edge_id))
        return self

    def node_degree(self, node_id: int, direction: str = "both") -> int:
        deg = graph_ops.node_degree(self.edges, direction) \
            .filter(F.col("node_id") == int(node_id)).collect()
        return deg[0]["degree"] if deg else 0

    def out_degree(self, node_id: int) -> int:
        """bindings graph_store.rs:305-311."""
        return self.node_degree(node_id, "out") if self._has_edges() else 0

    def in_degree(self, node_id: int) -> int:
        """bindings graph_store.rs:321-327."""
        return self.node_degree(node_id, "in") if self._has_edges() else 0

    def get_outgoing_by_label(self, node_id: int, label: str) -> DataFrame:
        """bindings graph_store.rs:175+ — alias of the labeled form."""
        return self.get_outgoing(node_id, label)

    def traverse_bfs_streaming(self, start_node: int,
                               config: "StreamingConfig" = None
                               ) -> list["TraversalResult"]:
        """Memory-bounded BFS returning discovery edges (bindings
        graph_store.rs:210-246 over core streaming.rs BfsIterator):
        TraversalResult {depth, source, target, label} per first-reached
        node, capped at config.max_visited results. The traversal itself
        is the distributed min-depth BFS + one discovery-edge join; only
        ≤ max_visited skinny rows reach the driver."""
        config = config or StreamingConfig()
        if not self._has_edges():
            return []
        df = graph_ops.bfs_edge_trace(
            self.edges, int(start_node), config.max_depth,
            tuple(config.relationship_types or ()))
        rows = (df.orderBy("depth", "target")
                .limit(int(config.max_visited)).collect())
        return [TraversalResult(int(r["depth"]), int(r["source"]),
                                int(r["target"]), r["label"])
                for r in rows]

    def traverse_bfs(self, start_id: int, max_depth: int = 3,
                     rel_types: Sequence[str] = (), direction: str = "out") -> DataFrame:
        return graph_ops.bfs(self.edges, [start_id], 1, max_depth, rel_types, direction)

    def traverse_dfs(self, start_id: int, max_depth: int = 3,
                     rel_types: Sequence[str] = (),
                     limit: int = 100, max_visited: int = 100_000) -> list[dict]:
        """DFS with visited-set and path tracking (graph_api.rs:204-257).

        DFS order is inherently sequential (stack discipline), so there is
        no distributed formulation that preserves the reference's result
        order. Scale approach: a distributed BFS first prunes the graph to
        the ≤max_depth reachable subgraph (bounded by depth, tiny relative
        to the full edge table), then the reference's exact stack algorithm
        replays on that subgraph driver-side. Neighbor order = ascending
        edge id (the reference's insertion order; ids are its insertion
        sequence). Returns [{target_id, depth, path}] like TraversalResult.
        """
        reach = graph_ops.bfs(self.edges, [start_id], 1, max_depth,
                              rel_types, "out").select("node_id")
        # cap BEFORE anything crosses to the driver (the reference's
        # max_visited guard, collection/graph/streaming.rs:99-247): a
        # depth-3 neighborhood of a hub node can be millions of rows, and
        # collecting it would OOM the driver. limit(n+1) keeps the probe
        # itself bounded. On overflow we DEGRADE GRACEFULLY like
        # streaming.rs (visited_overflow: truncate the subgraph, keep
        # traversing bounded by max_depth) rather than erroring —
        # graph_api.rs traverse_dfs (204-257) never fails on size, it
        # returns the first `limit` results.
        probe = reach.limit(max_visited + 1).collect()
        overflow = len(probe) > max_visited
        if overflow:
            warnings.warn(
                f"traverse_dfs: reachable subgraph exceeds max_visited="
                f"{max_visited} nodes within depth {max_depth}; replaying "
                f"DFS on a truncated subgraph (results beyond the cap may "
                f"be missed — raise max_visited for exactness)")
        nodes = {start_id} | {r.node_id for r in probe[:max_visited]}
        e = self.edges
        if rel_types:
            e = e.filter(F.col("label").isin(list(rel_types)))
        # dst filter too: any traversable dst is within max_depth and hence
        # in nodes — without it, all out-edges of depth==max_depth boundary
        # nodes are pulled to the driver but never expanded (a hub at the
        # boundary could still blow driver memory past the node-count guard)
        node_list = list(nodes)
        adj: dict[int, list[int]] = {}
        for r in (e.filter(F.col("src").isin(node_list)
                           & F.col("dst").isin(node_list))
                  .select("src", "dst", "id")
                  .orderBy("src", "id").collect()):
            adj.setdefault(r.src, []).append(r.dst)

        visited = {start_id}
        stack = [(start_id, 0, [start_id])]
        results: list[dict] = []
        while stack:
            node, depth, path = stack.pop()
            if len(results) >= limit:
                break
            if depth >= max_depth:
                continue
            for target in adj.get(node, []):
                if target in visited:
                    continue
                visited.add(target)
                new_path = path + [target]
                results.append({"target_id": target, "depth": depth + 1,
                                "path": new_path})
                if len(results) < limit:
                    stack.append((target, depth + 1, new_path))
        return results

    def match_plan(self, sql: str, use_stats: bool = True):
        """Chosen MATCH execution strategy for a query
        (match_planner.rs:84-153 decision rules): GraphFirst /
        VectorFirst / Parallel. With ``use_stats`` the decision uses
        real graph statistics (one light aggregation per table, HLL
        label cardinality); otherwise default stats — which never pick
        Parallel, exactly like the reference with empty CollectionStats.
        Returns (strategy, explain_line)."""
        from velesdb_spark.plans import match_planner as mp
        from velesdb_spark.velesql import ast as _ast

        q = parse(sql)
        while isinstance(q, _ast.Explain):
            q = q.query
        if not isinstance(q, _ast.MatchQuery):
            raise ValueError("match_plan expects a MATCH query")
        stats = (mp.PlannerStats.from_graph(self._df, self._edges)
                 if use_stats and self._df is not None
                 else mp.PlannerStats())
        strat = mp.plan(q, stats)
        return strat, mp.explain_strategy(strat)

    # ------------------------------------------------------------ VelesQL
    def _catalog(self) -> Catalog:
        cat = Catalog()
        cat.register(self.name, self._score_df(), metric=self.metric,
                     vector_col=self.vector_col, id_col=self.id_col,
                     text_col=self.text_col,
                     query_vec_transform=(self._prep_query_vec
                                          if self.storage_mode == "binary"
                                          else None))
        # graph convention: MATCH resolves 'nodes'/'edges'
        if self._df is not None:
            cat.register("nodes", self._df, id_col=self.id_col)
        if self._edges is not None:
            cat.register("edges", self._edges)
        return cat

    def query(self, sql: str, params: Optional[dict] = None,
              now_epoch: Optional[int] = None) -> DataFrame:
        """Execute VelesQL (SELECT or MATCH) against this collection.

        now_epoch pins NOW() for deterministic temporal predicates
        (values.rs:102-122 resolves NOW()/INTERVAL to epoch seconds)."""
        return translate(sql, self._catalog(), params, now_epoch=now_epoch)

    def stats(self, refresh: bool = False):
        """Collection statistics (stats/mod.rs) for the CLI ``.stats``
        command: one distributed aggregation (HLL cardinalities + Catalyst
        size), cached until refresh=True or a mutation clears it."""
        from velesdb_spark.plans.cost import collect_stats

        if refresh or getattr(self, "_stats", None) is None:
            self._stats = collect_stats(self.df)
        return self._stats

    def query_ids(self, sql: str, params: Optional[dict] = None) -> DataFrame:
        out = self.query(sql, params)
        cols = [self.id_col] + (["score"] if "score" in out.columns else [])
        return out.select(*cols)

    def explain(self, sql: str, params: Optional[dict] = None,
                format: str = "text") -> str:
        """Translation-level plan tree (velesql/explain.rs node shapes) +
        the Catalyst physical plan. ``format='json'`` returns the
        structured QueryPlan as the REST ``/query/explain`` endpoint's
        JSON shape (externally-tagged nodes + estimated_cost_ms +
        index_used + filter_strategy) for the Select/MATCH shapes the
        reference plans."""
        from velesdb_spark.velesql import ast as _ast

        q = parse(sql)
        if not isinstance(q, _ast.Explain):
            q = _ast.Explain(q)
        if format == "json":
            from velesdb_spark.plans.queryplan import QueryPlan

            inner = q.query
            if isinstance(inner, _ast.Select):
                return QueryPlan.from_select(inner).to_json()
            if isinstance(inner, _ast.MatchQuery):
                return QueryPlan.from_match(inner).to_json()
            raise ValueError(
                "format='json' supports SELECT and MATCH shapes")
        # translate's Explain branch assembles the plan text
        return translate(q, self._catalog(), params).collect()[0].plan

    # index hints are no-ops: Parquet column stats + predicate pushdown play
    # the role of property/range indexes (graph/property_index.rs,
    # range_index.rs)
    def _declare_index(self, index_type: str, label: str, prop: str) -> None:
        lst = getattr(self, "_declared_indexes", [])
        entry = {"label": label, "property": prop, "index_type": index_type,
                 "cardinality": 0, "memory_bytes": 0}
        if not any(i["label"] == label and i["property"] == prop
                   and i["index_type"] == index_type for i in lst):
            lst.append(entry)
        self._declared_indexes = lst

    def create_property_index(self, label: str = "", prop: str = "",
                              *_a, **_k) -> "Collection":
        """Accepted declaration; execution relies on parquet column stats +
        predicate pushdown instead of a bitmap index (property_index.rs)."""
        if label or prop:
            self._declare_index("property", label, prop)
        return self

    def create_range_index(self, label: str = "", prop: str = "",
                           *_a, **_k) -> "Collection":
        if label or prop:
            self._declare_index("range", label, prop)
        return self


class Database:
    """Directory of collections (lib.rs:228-236)."""

    def __init__(self, spark: SparkSession, path: Optional[str] = None):
        self.spark = spark
        self.path = path
        self.collections: dict[str, Collection] = {}

    @classmethod
    def open(cls, spark: SparkSession, path: Optional[str] = None) -> "Database":
        db = cls(spark, path)
        if path and os.path.isdir(path):
            for name in os.listdir(path):
                cdir = os.path.join(path, name)
                edir = os.path.join(cdir, "edges")
                edges = spark.read.parquet(edir) if os.path.isdir(edir) else None
                if os.path.exists(os.path.join(cdir, "points_log",
                                               "MANIFEST.json")):
                    # durable log-structured layout: the Collection's stores
                    # resolve the read views from their manifests (edge log
                    # preferred over a legacy flat edges dir)
                    col = Collection(spark, name, path=cdir)
                    if col._edges is None and edges is not None:
                        col._edges = edges
                    db.collections[name] = col
                elif os.path.isdir(os.path.join(cdir, "points")):
                    df = spark.read.parquet(os.path.join(cdir, "points"))
                    db.collections[name] = Collection(
                        spark, name, df=df, edges=edges, path=cdir)
        return db

    def create_collection(self, name: str, dimension: Optional[int] = None,
                          metric: str = "cosine", **kwargs) -> Collection:
        if name in self.collections:
            raise ValueError(f"collection {name} already exists")
        path = os.path.join(self.path, name) if self.path else None
        col = Collection(self.spark, name, dimension, metric, path=path, **kwargs)
        self.collections[name] = col
        return col

    def create_metadata_collection(self, name: str, **kwargs) -> Collection:
        """Vector-less collection (bindings create_metadata_collection):
        payload-only rows, is_metadata_only() True, text/filter surface
        fully available, vector upserts and search rejected with typed
        errors (metadata_only_tests.rs)."""
        return self.create_collection(name, dimension=None,
                                      metadata_only=True, **kwargs)

    def delete_collection(self, name: str, delete_files: bool = False) -> None:
        """Bindings alias for drop_collection."""
        self.drop_collection(name, delete_files)

    def get_collection(self, name: str) -> Collection:
        return self.collections[name]

    def list_collections(self) -> list[str]:
        return sorted(self.collections)

    def agent_memory(self, dimension: Optional[int] = None):
        """Agent memory rooted at this database (bindings lib.rs:344-346:
        ``db.agent_memory(dimension=...)`` → memory with .episodic /
        .semantic / .procedural layer views). One instance per database;
        layers persist under ``<path>/memory_*`` when the db is durable."""
        mem = getattr(self, "_agent_memory", None)
        if mem is None:
            from velesdb_spark.agent import AgentMemory

            mem = self._agent_memory = AgentMemory(
                self.spark, dimension=dimension,
                path=(os.path.join(self.path, "agent_memory")
                      if self.path else None))
        return mem

    def drop_collection(self, name: str, delete_files: bool = False) -> None:
        """Remove from the directory; with delete_files=True also remove
        the on-disk stores (the reference's drop deletes collection files —
        opt-in here because readers may hold older manifests)."""
        self.collections.pop(name, None)
        if delete_files and self.path:
            import shutil

            target = os.path.join(self.path, name)
            if os.path.isdir(target):
                shutil.rmtree(target)
