"""BM25 full-text scoring as DataFrame programs.

Reference: crates/velesdb-core/src/index/bm25.rs —
score(D,Q) = Σ_q IDF(q) · tf·(k1+1) / (tf + k1·(1−b+b·|D|/avgdl)),
IDF(q) = ln((N − df + 0.5)/(df + 0.5) + 1), k1=1.2, b=0.75 (bm25.rs:10-20,
idf bm25.rs:298-303). Tokenizer: lowercase, split on non-alphanumeric, drop
tokens of byte-length ≤ 1 (bm25.rs:114-120 — note the reference's `s.len()`
is BYTES, so single multi-byte chars survive; we use octet_length for parity).
Duplicate query terms score multiply (scoring loop iterates the query bag,
bm25.rs:348-360).

Scale design: the corpus statistics (postings tf, per-term df, doc lengths,
N/avgdl) are DataFrames produced by explode + groupBy — the classic
distributed inverted-index build, one shuffle each, all map-side combinable.
A query is a tiny (terms × multiplicity) DataFrame broadcast against the
postings; per-doc score is one partial aggregation. Nothing is collected to
the driver except the optional top-k.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from velesdb_spark.functions.sqlexpr import double_lit, ident, str_lit

K1 = 1.2
B = 0.75
# Unicode-aware split (Rust char::is_alphanumeric ≈ \p{L} | \p{N})
TOKEN_SPLIT_RE = r"[^\p{L}\p{N}]+"


def tokenize(col: Column) -> Column:
    """lowercase → split non-alphanumeric → drop byte-length ≤ 1 tokens
    (bm25.rs:114-120)."""
    return F.filter(
        F.split(F.lower(col), TOKEN_SPLIT_RE),
        lambda t: F.octet_length(t) > 1,
    )


def tokenize_py(text: str) -> list[str]:
    """Driver-side tokenizer (for query strings) — must match tokenize()."""
    import re

    # [\W_]+ = non-alphanumeric incl. underscore (Rust '_'.is_alphanumeric()
    # is false, so '_' separates tokens)
    out = []
    for tok in re.split(r"[\W_]+", text.lower(), flags=re.UNICODE):
        if len(tok.encode("utf-8")) > 1:
            out.append(tok)
    return out


def term_bucket_expr(col: Column, n_buckets: int) -> Column:
    """Term → bucket id, md5-based so the SAME bucket is computable
    driver-side (term_bucket_py) — that is what turns the partitioned
    postings layout into real partition pruning: a query's terms map to
    literal bucket ids the scan can prune on."""
    return (F.conv(F.substring(F.md5(col), 1, 8), 16, 10)
            .cast("long") % n_buckets)


def term_bucket_py(term: str, n_buckets: int) -> int:
    """Driver-side twin of term_bucket_expr."""
    import hashlib

    return int(hashlib.md5(term.encode()).hexdigest()[:8], 16) % n_buckets


class Bm25Index:
    """Corpus statistics for BM25 over (id, text) — all lazy DataFrames.

    Mirrors Bm25Index in the reference (index/bm25.rs): ``add``-time work
    becomes the postings build; ``search`` becomes a score join.
    """

    term_buckets: int | None = None  # set on saved/loaded indexes

    def __init__(self, docs: DataFrame, id_col: str = "id", text_col: str = "text",
                 cache: bool = False):
        from velesdb_spark.functions.util import spread

        self.id_col = id_col
        spark = docs.sparkSession
        # Stage the token array before exploding (keeps the regex chain out
        # of the generator) and spread small single-file inputs across cores.
        toks = spread(docs).select(
            F.col(id_col).alias("_doc_id"),
            tokenize(F.col(text_col)).alias("_toks"),
        )
        tokens = toks.select("_doc_id", F.explode("_toks").alias("term"))
        # Per-doc length; empty docs are NOT indexed (bm25.rs:146-148)
        self.doc_lengths = tokens.groupBy("_doc_id").agg(F.count("*").alias("dl"))
        # Postings: term frequency per (term, doc)
        self.postings = tokens.groupBy("term", "_doc_id").agg(F.count("*").alias("tf"))
        # Document frequency per term
        self.term_df = self.postings.groupBy("term").agg(F.count("*").alias("df"))
        # Corpus stats: N and avgdl (1-row DataFrame, broadcastable)
        self.stats = self.doc_lengths.agg(
            F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
        )
        self.spark = spark
        if cache:
            self.postings = self.postings.cache()
            self.doc_lengths = self.doc_lengths.cache()
            self.stats = self.stats.cache()
            # Serving layout, built ONCE at add time (the reference's
            # add/search split, index/bm25.rs):
            # - term_df and the search base are range-partitioned by term
            #   and sorted within partitions — a sorted term dictionary —
            #   so the in-memory scan's per-batch min/max stats prune a
            #   query's In(term, ...) filter to the few batches actually
            #   holding its terms (measured 2× on the sf0.1 corpus);
            # - the search base carries dl inline with the postings (the
            #   classic norms-in-postings layout), so a search needs NO
            #   doc-side join: filter → map-lookup → one aggregation.
            # Partition counts track cluster width, not a constant, so the
            # layout survives a wide cluster; the range shuffle + sort are
            # paid once and amortized across every search.
            par = spark.sparkContext.defaultParallelism
            self.term_df = (self.term_df
                            .repartitionByRange(max(2, par // 16), "term")
                            .sortWithinPartitions("term").cache())
            self._postings_dl = (self.postings
                                 .join(self.doc_lengths, "_doc_id")
                                 .repartitionByRange(max(8, par // 4), "term")
                                 .sortWithinPartitions("term").cache())

    def query_terms_df(self, query: str) -> DataFrame:
        """Query token bag with multiplicities (duplicate terms multiply)."""
        terms = tokenize_py(query)
        counts: dict[str, int] = {}
        for t in terms:
            counts[t] = counts.get(t, 0) + 1
        rows = [(t, c) for t, c in counts.items()] or []
        return self.spark.createDataFrame(rows, "term string, qtf int") if rows else \
            self.spark.createDataFrame([], "term string, qtf int")

    def _corpus_stats(self) -> tuple[int, float]:
        """(n_docs, avgdl), collected once per index instance. The
        reference keeps these as plain struct fields read per search
        (bm25.rs:298-303); here they are a 1-row aggregate memoized on
        first use — bounded driver state, never corpus-sized."""
        vals = getattr(self, "_stats_vals", None)
        if vals is None:
            row = self.stats.select("n_docs", "avgdl").first()
            vals = (int(row["n_docs"] or 0), float(row["avgdl"] or 0.0))
            self._stats_vals = vals
        return vals

    def _empty_scores(self) -> DataFrame:
        return (self.doc_lengths
                .select(F.col("_doc_id").alias(self.id_col)).limit(0)
                .withColumn("_bm25_score", F.lit(0.0)))

    def scores(self, query: str) -> DataFrame:
        """Per-document BM25 scores for ``query`` → (id, _bm25_score).

        Docs containing none of the query terms are absent; score > 0
        filter matches the reference (bm25.rs:321-327).

        Scale shape: the query's terms are known driver-side, so
        - the term-membership filter is applied EXPLICITLY to the
          postings before any other op — Catalyst pushes it through to
          the parquet scans (PushedFilters: In(term, ...)), so a search
          over a saved or snapshot+delta index reads only row groups
          (and, via the literal ``_tb`` bucket ids, only PARTITIONS)
          containing its terms instead of the whole postings table;
        - per-term IDF·qtf weights are folded driver-side from a bounded
          (≤ |query terms| rows) term_df lookup — exactly the reference's
          in-memory df hashmap read (bm25.rs:298-303) — so the search
          plan carries no query-terms dimension join at all;
        - on a cached index the denormalized ``_postings_dl`` base also
          removes the doc_lengths join: the whole search is filter →
          literal-map lookup → one partial aggregation.
        """
        import math

        counts: dict[str, int] = {}
        for t in tokenize_py(query):
            counts[t] = counts.get(t, 0) + 1
        terms = list(counts)
        if not terms:
            return self._empty_scores()
        n_docs, avgdl = self._corpus_stats()
        if n_docs == 0 or avgdl == 0.0:
            return self._empty_scores()
        # bounded driver lookup: df for the query's terms only
        dfs = {r["term"]: int(r["df"])
               for r in self.term_df.filter(F.col("term").isin(terms))
                                    .collect()}
        weights = {
            t: counts[t] * math.log(
                (n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5) + 1.0)
            for t in terms if t in dfs
        }
        if not weights:
            return self._empty_scores()

        base = getattr(self, "_postings_dl", None)
        src = base if base is not None else self.postings
        if self.term_buckets and "_tb" in src.columns:
            # literal bucket ids → PARTITION pruning on the saved layout,
            # not just row-group skipping
            bkts = sorted({term_bucket_py(t, self.term_buckets)
                           for t in weights})
            src = src.filter(F.col("_tb").isin(bkts))
        src = src.filter(F.col("term").isin(list(weights)))
        if "_tb" in src.columns:
            src = src.drop("_tb")
        if base is None:
            src = src.join(self.doc_lengths, "_doc_id")
        wmap = F.create_map(*[F.lit(x) for kv in weights.items() for x in kv])
        scored = (
            src.withColumn(
                "_term_score",
                wmap[F.col("term")]
                * (F.col("tf") * (K1 + 1.0))
                / (
                    F.col("tf")
                    + K1 * (1.0 - B + B * F.col("dl") / F.lit(avgdl))
                ),
            )
            .groupBy("_doc_id")
            .agg(F.sum("_term_score").alias("_bm25_score"))
            .filter(F.col("_bm25_score") > 0.0)
        )
        return scored.select(F.col("_doc_id").alias(self.id_col), "_bm25_score")

    def search(self, query: str, k: int = 10) -> DataFrame:
        """Top-k by BM25 score descending (TakeOrderedAndProject — no full
        sort at scale)."""
        return self.scores(query).orderBy(F.desc("_bm25_score"), F.asc(self.id_col)).limit(k)

    def incremental_update(self, new_docs: DataFrame | None = None,
                           deleted_ids=None,
                           text_col: str = "text") -> "Bm25Index":
        """Composed index after an upsert/delete batch WITHOUT re-tokenizing
        the corpus: only ``new_docs`` go through tokenize/explode; the
        existing postings/doc_lengths (cached by the collection) are reused
        behind a broadcast anti join on the mutated ids, and term df is
        adjusted arithmetically. The in-memory twin of
        IncrementalBm25Index.as_bm25()."""
        spark = self.spark
        shadow_parts = []
        delta = None
        if new_docs is not None:
            delta = Bm25Index(new_docs, id_col=self.id_col, text_col=text_col)
            shadow_parts.append(new_docs.select(
                F.col(self.id_col).alias("_doc_id")))
        if deleted_ids:
            shadow_parts.append(spark.createDataFrame(
                [(int(i),) for i in deleted_ids], "_doc_id bigint"))
        if not shadow_parts:
            return self
        shadowed = shadow_parts[0]
        for p in shadow_parts[1:]:
            shadowed = shadowed.unionByName(p)
        shadowed = shadowed.distinct()

        out = Bm25Index.__new__(Bm25Index)
        out.id_col = self.id_col
        out.spark = spark
        kept_postings = self.postings.join(
            F.broadcast(shadowed), "_doc_id", "left_anti")
        kept_dl = self.doc_lengths.join(
            F.broadcast(shadowed), "_doc_id", "left_anti")
        rem_tdf = (self.postings
                   .join(F.broadcast(shadowed), "_doc_id", "left_semi")
                   .groupBy("term").agg(F.count("*").alias("_rem")))
        if delta is not None:
            delta_postings = delta.postings
            if "_tb" in kept_postings.columns:
                if self.term_buckets:
                    # loaded (bucketed) index: compute the SAME bucket for
                    # the delta rows so the union keeps the pruning column
                    # (what as_bm25() does for log deltas)
                    delta_postings = delta_postings.withColumn(
                        "_tb", term_bucket_expr(F.col("term"),
                                                self.term_buckets))
                else:
                    kept_postings = kept_postings.drop("_tb")
            out.postings = kept_postings.unionByName(delta_postings)
            out.doc_lengths = kept_dl.unionByName(delta.doc_lengths)
            add_tdf = delta.term_df.withColumnRenamed("df", "_add")
        else:
            out.postings = kept_postings
            out.doc_lengths = kept_dl
            add_tdf = spark.createDataFrame([], "term string, _add bigint")
        out.term_buckets = self.term_buckets
        out.term_df = (
            self.term_df.join(rem_tdf, "term", "full")
            .join(add_tdf, "term", "full")
            .select("term", (F.coalesce(F.col("df"), F.lit(0))
                             - F.coalesce(F.col("_rem"), F.lit(0))
                             + F.coalesce(F.col("_add"), F.lit(0))).alias("df"))
            .filter(F.col("df") > 0))
        # narrow map-combinable agg over the composed (mostly cached) dl set
        out.stats = out.doc_lengths.agg(
            F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
        return out

    def save(self, path: str, term_buckets: int = 64) -> str:
        """Materialize the inverted index to parquet. Postings are written
        bucketed by a hash of the term so a query's score join reads only
        its terms' buckets (the 100 TB layout; locally the same files).

        The reference persists its index on flush (crud.rs flush →
        index/bm25.rs serialization); this is that, as columnar artifacts.
        """
        import json
        import os

        # persist the shared tokenize/explode lineage: term_df derives from
        # postings and stats from doc_lengths — without this, the four
        # writes would each re-scan and re-shuffle the whole corpus
        postings = self.postings.persist()
        doc_lengths = self.doc_lengths.persist()
        try:
            (postings
             .withColumn("_tb", term_bucket_expr(F.col("term"), term_buckets))
             .write.mode("overwrite").partitionBy("_tb")
             .parquet(f"{path}/postings"))
            doc_lengths.write.mode("overwrite").parquet(f"{path}/doc_lengths")
            postings.groupBy("term").agg(F.count("*").alias("df")) \
                .write.mode("overwrite").parquet(f"{path}/term_df")
            doc_lengths.agg(
                F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")) \
                .write.mode("overwrite").parquet(f"{path}/stats")
        finally:
            postings.unpersist()
            doc_lengths.unpersist()
        with open(os.path.join(path, "_meta.json"), "w") as f:
            json.dump({"term_buckets": term_buckets}, f)
        return path

    @classmethod
    def load(cls, spark, path: str, id_col: str = "id") -> "Bm25Index":
        """Open a saved index without recomputing corpus statistics. The
        bucket column rides along so scores() can prune partitions."""
        import json
        import os

        idx = cls.__new__(cls)
        idx.id_col = id_col
        idx.spark = spark
        idx.postings = spark.read.parquet(f"{path}/postings")
        idx.doc_lengths = spark.read.parquet(f"{path}/doc_lengths")
        idx.term_df = spark.read.parquet(f"{path}/term_df")
        idx.stats = spark.read.parquet(f"{path}/stats")
        try:
            with open(os.path.join(path, "_meta.json")) as f:
                idx.term_buckets = json.load(f)["term_buckets"]
        except (FileNotFoundError, KeyError):
            idx.term_buckets = None  # pre-meta layout: no pruning
            idx.postings = idx.postings.drop("_tb")
        return idx


class IncrementalBm25Index:
    """Incremental BM25 maintenance: snapshot postings + a postings delta
    log, following the same manifest/segment/compaction protocol as
    storage.LogStore (the reference updates its text index transactionally
    per upsert — crud.rs:19-118; this is that contract at batch scale).

    - ``upsert_docs``/``delete_docs`` append one immutable log segment
      computed from ONLY the mutated docs (tokenize cost ∝ batch size,
      never corpus size — no full re-index per upsert→search cycle).
    - Search composes the live view lazily: snapshot postings minus
      shadowed docs, union the log's last-writer-wins postings; term df
      and corpus stats are adjusted arithmetically from the (small) delta
      instead of re-aggregated from the corpus. The snapshot is never
      shuffled — shadowed-doc removal is a broadcast anti join.
    - ``compact()`` folds the log into a new snapshot version and
      truncates the log atomically (manifest rename is the commit point).

    Layout: MANIFEST.json, snapshot/v=N/{postings,doc_lengths,term_df,
    stats}, log/NNNNNN.parquet with rows (_doc_id, term, tf, dl, _op,
    _seq); a delete (or an upsert whose new text has no tokens) is a
    single term=NULL tombstone row.
    """

    def __init__(self, spark, path: str, id_col: str = "id",
                 text_col: str = "text"):
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.text_col = text_col

    # ------------------------------------------------------------ build
    @classmethod
    def build(cls, docs: DataFrame, path: str, id_col: str = "id",
              text_col: str = "text",
              term_buckets: int = 64) -> "IncrementalBm25Index":
        """Full index build → snapshot v=1 with an empty log.
        ``term_buckets`` sizes the postings partitioning (a query's score
        join reads only its terms' buckets); small corpora can use fewer
        to cut per-directory write overhead."""
        idx = cls(docs.sparkSession, path, id_col, text_col)
        idx.term_buckets = term_buckets
        idx._write_snapshot(Bm25Index(docs, id_col=id_col, text_col=text_col),
                            version=1, seq=0)
        return idx

    def _write_snapshot(self, src, version: int, seq: int) -> None:
        import os

        from velesdb_spark.storage import commit_manifest

        snap = f"snapshot/v={version}"
        base = os.path.join(self.path, snap)
        buckets = getattr(self, "term_buckets", 64) or 64
        src_postings = src.postings
        if "_tb" in src_postings.columns:
            src_postings = src_postings.drop("_tb")
        postings = src_postings.persist()
        doc_lengths = src.doc_lengths.persist()
        try:
            # repartition on the bucket key before the partitionBy write:
            # without it every upstream task writes a sliver into every
            # bucket directory (buckets x tasks files — 256 at 8 buckets
            # on local[32]); with it each bucket is one task's single
            # well-sized file, and a query's per-term bucket read opens
            # 1 file instead of tasks-many (guide §6 file sizing)
            (postings.withColumn("_tb",
                                 term_bucket_expr(F.col("term"), buckets))
             .repartition(buckets, F.col("_tb"))
             .write.mode("overwrite").partitionBy("_tb")
             .parquet(f"{base}/postings"))
            doc_lengths.write.mode("overwrite").parquet(f"{base}/doc_lengths")
            postings.groupBy("term").agg(F.count("*").alias("df")) \
                .write.mode("overwrite").parquet(f"{base}/term_df")
            # sum_dl rides along so stats compose arithmetically with deltas
            doc_lengths.agg(
                F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"),
                F.sum("dl").alias("sum_dl")) \
                .write.mode("overwrite").parquet(f"{base}/stats")
        finally:
            postings.unpersist()
            doc_lengths.unpersist()
        commit_manifest(self.path, {"snapshot": snap, "segments": [],
                                    "seq": seq, "term_buckets": buckets})

    # ------------------------------------------------------------ writes
    _LOG_SCHEMA = ("_doc_id bigint, term string, tf bigint, dl bigint, "
                   "_op string, _seq bigint")

    def _append_segment(self, rows: DataFrame) -> None:
        import os

        from velesdb_spark.storage import commit_manifest, read_manifest

        os.makedirs(os.path.join(self.path, "log"), exist_ok=True)
        m = read_manifest(self.path)
        seq = m["seq"] + 1
        seg = f"log/{seq:06d}.parquet"
        rows.withColumn("_seq", F.lit(seq).cast("long")) \
            .write.mode("overwrite").parquet(os.path.join(self.path, seg))
        m["seq"] = seq
        m["segments"] = m["segments"] + [seg]
        commit_manifest(self.path, m)

    def upsert_docs(self, docs: DataFrame) -> "IncrementalBm25Index":
        """Append one postings-delta segment for ``docs`` (replaces any
        prior version of each doc). Tokenization touches only this batch."""
        toks = docs.select(
            F.col(self.id_col).alias("_doc_id"),
            tokenize(F.col(self.text_col)).alias("_toks"))
        tokens = toks.select("_doc_id", F.size("_toks").alias("dl"),
                             F.explode_outer("_toks").alias("term"))
        posting_rows = (
            tokens.filter(F.col("term").isNotNull())
            .groupBy("_doc_id", "dl", "term").agg(F.count("*").alias("tf"))
            .select("_doc_id", "term", "tf", "dl", F.lit("upsert").alias("_op")))
        # a doc whose new text has no tokens (or NULL text) still shadows
        # its old postings
        empty_rows = (
            toks.filter(F.coalesce(F.size("_toks"), F.lit(0)) <= 0)
            .select("_doc_id", F.lit(None).cast("string").alias("term"),
                    F.lit(None).cast("long").alias("tf"),
                    F.lit(None).cast("long").alias("dl"),
                    F.lit("delete").alias("_op")))
        self._append_segment(posting_rows.unionByName(empty_rows))
        return self

    def delete_docs(self, ids) -> "IncrementalBm25Index":
        rows = self.spark.createDataFrame(
            [(int(i), None, None, None, "delete") for i in ids],
            "_doc_id bigint, term string, tf bigint, dl bigint, _op string")
        self._append_segment(rows)
        return self

    # ------------------------------------------------------------ reads
    def _snapshot_frames(self, m):
        import os

        if m["snapshot"]:
            base = os.path.join(self.path, m["snapshot"])
            # _tb stays: scores() prunes snapshot partitions on it
            return (self.spark.read.parquet(f"{base}/postings"),
                    self.spark.read.parquet(f"{base}/doc_lengths"),
                    self.spark.read.parquet(f"{base}/term_df"),
                    self.spark.read.parquet(f"{base}/stats"))
        empty = self.spark.createDataFrame
        return (empty([], "term string, _doc_id bigint, tf bigint"),
                empty([], "_doc_id bigint, dl bigint"),
                empty([], "term string, df bigint"),
                empty([(0, 0.0, 0)], "n_docs bigint, avgdl double, sum_dl bigint"))

    def as_bm25(self) -> Bm25Index:
        """Compose the live index view as a Bm25Index (same scores/search).

        Plan shape: snapshot postings/doc_lengths anti-joined against the
        (small, broadcast) shadowed-doc set ∪ the log's latest postings;
        term_df and stats adjusted by delta arithmetic — no corpus-wide
        re-aggregation, no tokenization anywhere."""
        from pyspark.sql import Window

        from velesdb_spark.storage import read_manifest

        import os

        m = read_manifest(self.path)
        snap_postings, snap_dl, snap_tdf, snap_stats = self._snapshot_frames(m)
        buckets = m.get("term_buckets")
        idx = Bm25Index.__new__(Bm25Index)
        idx.id_col = self.id_col
        idx.spark = self.spark
        idx.term_buckets = buckets
        if buckets is None and "_tb" in snap_postings.columns:
            snap_postings = snap_postings.drop("_tb")  # pre-meta layout
        if not m["segments"]:
            idx.postings = snap_postings
            idx.doc_lengths = snap_dl
            idx.term_df = snap_tdf
            idx.stats = snap_stats.select("n_docs", "avgdl")
            return idx
        log = self.spark.read.parquet(
            *[os.path.join(self.path, s) for s in m["segments"]])
        # last-writer-wins per doc: all postings rows of the winning seq
        w = Window.partitionBy("_doc_id")
        latest = (log.withColumn("_max_seq", F.max("_seq").over(w))
                  .filter(F.col("_seq") == F.col("_max_seq")))
        live = latest.filter(F.col("_op") != "delete")
        shadowed = log.select("_doc_id").distinct()
        add_postings = live.select("term", "_doc_id", "tf")
        if buckets is not None:
            # delta rows get the same bucket column so the composed frame
            # stays uniformly bucketed (union requires matching schemas)
            add_postings = add_postings.withColumn(
                "_tb", term_bucket_expr(F.col("term"), buckets))
        add_dl = live.select("_doc_id", "dl").distinct()
        idx.postings = snap_postings.join(
            F.broadcast(shadowed), "_doc_id", "left_anti") \
            .unionByName(add_postings)
        idx.doc_lengths = snap_dl.join(
            F.broadcast(shadowed), "_doc_id", "left_anti") \
            .unionByName(add_dl)
        # term df adjustment: -1 per (removed snapshot doc containing term),
        # +1 per (added live doc containing term)
        rem_tdf = (snap_postings
                   .join(F.broadcast(shadowed), "_doc_id", "left_semi")
                   .groupBy("term").agg(F.count("*").alias("_rem")))
        add_tdf = add_postings.groupBy("term").agg(F.count("*").alias("_add"))
        idx.term_df = (
            snap_tdf.join(rem_tdf, "term", "full")
            .join(add_tdf, "term", "full")
            .select("term", (F.coalesce(F.col("df"), F.lit(0))
                             - F.coalesce(F.col("_rem"), F.lit(0))
                             + F.coalesce(F.col("_add"), F.lit(0))).alias("df"))
            .filter(F.col("df") > 0))
        # corpus stats adjustment (map-combinable aggs over narrow columns)
        rem_stats = (snap_dl.join(F.broadcast(shadowed), "_doc_id", "left_semi")
                     .agg(F.count("*").alias("_rn"),
                          F.coalesce(F.sum("dl"), F.lit(0)).alias("_rs")))
        add_stats = add_dl.agg(F.count("*").alias("_an"),
                               F.coalesce(F.sum("dl"), F.lit(0)).alias("_as"))
        idx.stats = (snap_stats.crossJoin(rem_stats).crossJoin(add_stats)
                     .select(
                         (F.col("n_docs") - F.col("_rn") + F.col("_an"))
                         .alias("n_docs"),
                         ((F.col("sum_dl") - F.col("_rs") + F.col("_as"))
                          / (F.col("n_docs") - F.col("_rn") + F.col("_an")))
                         .alias("avgdl")))
        return idx

    def scores(self, query: str) -> DataFrame:
        return self.as_bm25().scores(query)

    def search(self, query: str, k: int = 10) -> DataFrame:
        return self.as_bm25().search(query, k)

    # ------------------------------------------------------------ maintenance
    def compact(self) -> None:
        """Fold the delta log into a new snapshot version and truncate the
        log; superseded versions stay until vacuum()."""
        from velesdb_spark.storage import read_manifest

        m = read_manifest(self.path)
        if not m["segments"]:
            return
        if m.get("term_buckets"):
            self.term_buckets = m["term_buckets"]  # keep the built layout
        cur = int(m["snapshot"].rsplit("=", 1)[1]) if m["snapshot"] else 0
        self._write_snapshot(self.as_bm25(), version=cur + 1, seq=m["seq"])

    def vacuum(self) -> None:
        import os
        import shutil

        from velesdb_spark.storage import read_manifest

        m = read_manifest(self.path)
        snapdir = os.path.join(self.path, "snapshot")
        live = os.path.basename(m["snapshot"]) if m["snapshot"] else None
        if os.path.isdir(snapdir):
            for v in os.listdir(snapdir):
                if v != live:
                    shutil.rmtree(os.path.join(snapdir, v))
        live_segs = {os.path.basename(s) for s in m["segments"]}
        logdir = os.path.join(self.path, "log")
        if os.path.isdir(logdir):
            for s in os.listdir(logdir):
                if s not in live_segs:
                    seg = os.path.join(logdir, s)
                    shutil.rmtree(seg) if os.path.isdir(seg) else os.remove(seg)


def bm25_scan_scores(docs: DataFrame, query: str, id_col: str = "id",
                     text_col: str = "text") -> DataFrame:
    """Query-time BM25 with NO postings index: per-term tf is an array
    expression over the tokenized text, so the whole plan is two
    column-pruned scans (one tiny stats aggregate, one scoring pass) and a
    broadcast of a single stats row — no explode, no shuffle of doc-level
    data, no Python. Identical scores to Bm25Index.scores().

    Use this for ad-hoc queries; use Bm25Index (postings DataFrames) when
    the corpus is indexed once and searched many times — that amortizes the
    inverted-index build exactly like the reference's add-time indexing
    (index/bm25.rs add/search split).

    The plan is built from a handful of SQL expression strings (guide §5,
    the r11 driver-latency class) instead of ~250 py4j round-trips of
    Column plumbing; names and terms are spelled by functions/sqlexpr.py.
    """
    from velesdb_spark.functions.staging import stage

    counts: dict[str, int] = {}
    for t in tokenize_py(query):
        counts[t] = counts.get(t, 0) + 1
    if not counts:
        return docs.select(
            F.col(ident(id_col)), F.lit(0.0).alias("_bm25_score")).limit(0)

    terms = list(counts)
    base = (
        docs.selectExpr(
            f"{ident(id_col)} AS _doc_id",
            f"filter(split(lower({ident(text_col)}), "
            f"{str_lit(TOKEN_SPLIT_RE)}), t -> octet_length(t) > 1) AS _toks")
        .selectExpr("_doc_id", "_toks", "size(_toks) AS _dl")
        .filter("_dl > 0")  # empty docs are not indexed (bm25.rs:146-148)
    )
    # tf as a HOF filter count. An ArrayRemove spelling (size −
    # size(array_remove)) was measured ~33% faster on the ISOLATED tf
    # pass at sf0.1 but end-to-end the two-pass query is tokenize/
    # stats-dominated and the interleaved A/B was a wash — keeping the
    # allocation-free original.
    tf_exprs = [f"size(filter(_toks, x -> x = {str_lit(t)})) AS _tf{i}"
                for i, t in enumerate(terms)]
    # Persist the post-tokenize tf projection: BOTH the corpus-stats
    # aggregate (broadcast side) and the scoring pass consume it, and
    # unpersisted the regexp tokenize — the dominant cost — runs twice.
    # The projection drops the text and token arrays, so the staged frame
    # is (_doc_id, _dl, _tf*) ints only: ~16+4·|terms| bytes/doc, at 1B
    # docs tens of GB cluster-wide, comfortably MEMORY_AND_DISK.
    # Registered with the shared staging registry for harness release.
    base = stage(base.selectExpr("_doc_id", "_dl", *tf_exprs))

    stats = base.agg(
        F.expr("count(*) AS n_docs"), F.expr("avg(_dl) AS avgdl"),
        *[F.expr(f"sum(cast((_tf{i} > 0) AS long)) AS _df{i}")
          for i in range(len(terms))])
    scored = base.crossJoin(F.broadcast(stats))
    # score: left-assoc 0.0 + Σ CASE chain; all constants are
    # Python-folded first and spelled with repr so the parsed doubles
    # are bit-identical (repr round-trips)
    pieces = ["0.0D"]
    for i, t in enumerate(terms):
        idf = (f"ln((n_docs - _df{i} + 0.5D) / (_df{i} + 0.5D) + 1.0D)")
        # NOTE the outer parens: * and / share precedence left-assoc, so
        # without them "qtf * idf * a / b" would regroup the division
        # and drift by 1-2 ULP from the (tf·(k1+1))/(…) formula
        sat = (f"((_tf{i} * {double_lit(K1 + 1.0)}) / (_tf{i} + "
               f"{double_lit(K1)} * ({double_lit(1.0 - B)} + "
               f"{double_lit(B)} * _dl / avgdl)))")
        pieces.append(
            f"CASE WHEN _tf{i} > 0 THEN {double_lit(counts[t])} * {idf} "
            f"* {sat} ELSE 0.0D END")
    return (
        scored.withColumn("_bm25_score", F.expr(" + ".join(pieces)))
        .filter("_bm25_score > 0.0D")
        .selectExpr(f"_doc_id AS {ident(id_col)}", "_bm25_score")
    )


def bm25_scan_search(docs: DataFrame, query: str, k: int = 10,
                     id_col: str = "id", text_col: str = "text") -> DataFrame:
    """Top-k over the scan path (TakeOrderedAndProject — no full sort)."""
    return (bm25_scan_scores(docs, query, id_col, text_col)
            .orderBy(F.desc("_bm25_score"), F.asc(ident(id_col))).limit(k))


def bm25_score_df(docs: DataFrame, query: str, id_col: str = "id",
                  text_col: str = "text") -> DataFrame:
    """One-shot convenience: scan-path scores (no index build)."""
    return bm25_scan_scores(docs, query, id_col=id_col, text_col=text_col)
