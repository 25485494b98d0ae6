"""BM25 full-text scoring as DataFrame programs.

Reference: crates/velesdb-core/src/index/bm25.rs —
score(D,Q) = Σ_q IDF(q) · tf·(k1+1) / (tf + k1·(1−b+b·|D|/avgdl)),
IDF(q) = ln((N − df + 0.5)/(df + 0.5) + 1), k1=1.2, b=0.75 (bm25.rs:10-20,
idf bm25.rs:298-303). Tokenizer: lowercase, split on non-alphanumeric, drop
tokens of byte-length ≤ 1 (bm25.rs:114-120 — note the reference's `s.len()`
is BYTES, so single multi-byte chars survive; we use octet_length for parity).
Duplicate query terms score multiply (scoring loop iterates the query bag,
bm25.rs:348-360).

Scale design: the corpus statistics (postings tf with each doc's length
inline, per-term df, N/avgdl) are DataFrames produced by explode + groupBy —
the classic distributed inverted-index build, one shuffle each, all map-side
combinable; doc lengths are a projection of the token arrays.
A query is a tiny (terms × multiplicity) DataFrame broadcast against the
postings; per-doc score is one partial aggregation. Nothing is collected to
the driver except the optional top-k.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from velesdb_spark.functions.sqlexpr import double_lit, ident, in_sql, str_lit

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


def _tokenized(docs: DataFrame, id_col: str,
               text_col: str) -> tuple[DataFrame, DataFrame]:
    """The one text → postings step: norms-in-postings
    ``(term, _doc_id, tf, dl)`` of ``docs`` from one groupBy, with the
    doc's token count ``dl`` inline, and ``(_doc_id, dl)`` for every doc,
    a projection of the token arrays. ``dl`` is 0 for empty or NULL text;
    such docs have no postings and are not indexed (bm25.rs:146-148), so
    an index keeps the lengths with ``dl > 0``."""
    from velesdb_spark.functions.util import spread

    # Stage the token array before exploding (keeps the regex chain out
    # of the generator) and spread small single-file inputs across cores.
    toks = spread(docs).select(
        F.col(id_col).alias("_doc_id"),
        tokenize(F.col(text_col)).alias("_toks"))
    toks = toks.select(
        "_doc_id", "_toks",
        F.coalesce(F.size("_toks"), F.lit(0)).cast("long").alias("dl"))
    postings = (toks.select("_doc_id", "dl", F.explode("_toks").alias("term"))
                .groupBy("term", "_doc_id", "dl").agg(F.count("*").alias("tf"))
                .select("term", "_doc_id", "tf", "dl"))
    return postings, toks.select("_doc_id", "dl")


class Bm25Index:
    """Corpus statistics for BM25 over (id, text) — all lazy DataFrames.

    Mirrors Bm25Index in the reference (index/bm25.rs): ``add``-time work
    becomes the postings build; ``search`` becomes a score join.
    """

    def __init__(self, docs: DataFrame, id_col: str = "id", text_col: str = "text",
                 cache: bool = False):
        spark = docs.sparkSession
        postings, lengths = _tokenized(docs, id_col, text_col)
        doc_lengths = lengths.filter(F.col("dl") > 0)
        if cache:
            # Serving layout, built ONCE at add time (the reference's
            # add/search split, index/bm25.rs):
            # - the search base carries dl inline with the postings (the
            #   classic norms-in-postings layout), so a search needs NO
            #   doc-side join: filter → map-lookup → one aggregation;
            # - it and term_df are range-partitioned by term and sorted
            #   within partitions — a sorted term dictionary — so the
            #   in-memory scan's per-batch min/max stats prune a query's
            #   In(term, ...) filter to the few batches actually holding
            #   its terms (measured 2× on the sf0.1 corpus);
            # - postings is a projection of the search base and term_df
            #   an aggregate of it, so neither re-tokenizes nor holds a
            #   second copy of the postings.
            # Partition counts track cluster width, not a constant, so the
            # layout survives a wide cluster; the range shuffle + sort are
            # paid once and amortized across every search.
            par = spark.sparkContext.defaultParallelism
            postings = (postings.repartitionByRange(max(8, par // 4), "term")
                        .sortWithinPartitions("term").cache())
            doc_lengths = doc_lengths.cache()
        self._attach(spark, id_col, postings, doc_lengths)
        if cache:
            self.term_df = self._df_parts = (
                self.term_df.repartitionByRange(max(2, par // 16), "term")
                .sortWithinPartitions("term").cache())
            self.stats = self.stats.cache()
            self._base = self

    def _attach(self, spark, id_col: str, postings: DataFrame,
                doc_lengths: DataFrame, term_buckets: int | None = None,
                df_parts: DataFrame | None = None) -> "Bm25Index":
        """Set the index frames. ``postings`` that carry each doc's ``dl``
        (norms-in-postings) are also the search base ``_postings_dl``, and
        ``postings`` is their projection. Term df and the corpus stats are
        derived from (postings, doc_lengths) — for a fresh build and a
        snapshot alike — so a df lookup filtered on its terms pushes down
        to the postings scans; a composed view passes its signed
        ``df_parts`` instead (_compose), and term df is their sum. On a
        bucketed view term df keeps the ``_tb`` bucket as a grouping key
        (it is a function of the term), so the lookup also prunes
        snapshot partitions."""
        self.spark = spark
        self.id_col = id_col
        self.term_buckets = term_buckets
        self._postings_dl = postings if "dl" in postings.columns else None
        self.postings = postings.drop("dl")
        self.doc_lengths = doc_lengths
        # serving base, its cached delta and the ids the delta shadows
        # (incremental_update)
        self._base = None
        self._delta = None
        self._shadow = set()
        # Document frequency per term
        keys = ["_tb", "term"] if "_tb" in postings.columns else ["term"]
        if df_parts is None:
            self.term_df = self._df_parts = postings.groupBy(*keys).agg(
                F.count("*").alias("df"))
        else:
            self._df_parts = df_parts
            self.term_df = (df_parts.groupBy(*keys)
                            .agg(F.sum("df").alias("df")).filter("df > 0"))
        # Corpus stats: N and avgdl (1-row DataFrame, broadcastable)
        self.stats = doc_lengths.agg(
            F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
        return self

    def _compose(self, shadow, add_postings: DataFrame | None,
                 add_dl: DataFrame | None) -> "Bm25Index":
        """This index minus the docs in ``shadow``, a literal shadow-id
        set, plus a delta (none for a delete-only batch). The base is
        never shuffled or joined: removal is a ``NOT _doc_id IN (…)``
        filter that Spark hashes as InSet. The set holds the delta's docs
        (Collection writes) or the log's (as_bm25): the ids a broadcast
        anti join would collect to the driver for every search.

        Term df is not regrouped from the base postings: the view keeps
        signed rows (base df, +1 per delta posting, −1 per base posting
        of a shadowed doc), which a df lookup sums on the driver in one
        shuffle-free collect. A norms-in-postings base composes its
        search base, so the result keeps that layout; over a snapshot's
        postings the delta's ``dl`` column is dropped. Delta postings get
        the base's ``_tb`` bucket column so the union stays uniformly
        bucketed."""
        base = self._postings_dl if self._postings_dl is not None \
            else self.postings
        keys = ["_tb", "term"] if "_tb" in base.columns else ["term"]
        parts = self._df_parts
        postings, doc_lengths = base, self.doc_lengths
        gone = in_sql("_doc_id", shadow)
        if gone:
            postings = base.filter(f"NOT {gone}")
            doc_lengths = doc_lengths.filter(f"NOT {gone}")
            parts = parts.unionByName(base.filter(gone).select(
                *keys, F.lit(-1).cast("long").alias("df")))
        if add_postings is not None:
            if "dl" not in base.columns:
                add_postings = add_postings.drop("dl")
            if self.term_buckets:
                add_postings = add_postings.withColumn(
                    "_tb", term_bucket_expr(F.col("term"), self.term_buckets))
            postings = postings.unionByName(add_postings)
            doc_lengths = doc_lengths.unionByName(add_dl)
            parts = parts.unionByName(add_postings.select(
                *keys, F.lit(1).cast("long").alias("df")))
        return Bm25Index.__new__(Bm25Index)._attach(
            self.spark, self.id_col, postings, doc_lengths, self.term_buckets,
            parts)

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
          over a snapshot or snapshot+delta index reads only row groups
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
        # bounded driver lookup: df for the query's terms only (and, on a
        # bucketed view, their literal buckets — partition pruning); a
        # composed view's signed parts are summed here, not shuffled
        lookup = self._df_parts
        if self.term_buckets and "_tb" in lookup.columns:
            lookup = lookup.filter(F.col("_tb").isin(
                sorted({term_bucket_py(t, self.term_buckets) for t in terms})))
        dfs: dict[str, int] = {}
        for r in lookup.filter(F.col("term").isin(terms)).collect():
            dfs[r["term"]] = dfs.get(r["term"], 0) + int(r["df"])
        weights = {
            t: counts[t] * math.log(
                (n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5) + 1.0)
            for t in terms if dfs.get(t, 0) > 0
        }
        if not weights:
            return self._empty_scores()

        base = self._postings_dl
        src = base if base is not None else self.postings
        if self.term_buckets and "_tb" in src.columns:
            # literal bucket ids → PARTITION pruning on the snapshot layout,
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
                           deleted_ids=None, text_col: str = "text",
                           new_ids=None) -> "Bm25Index":
        """Composed index after an upsert/delete batch WITHOUT re-tokenizing
        the corpus: only ``new_docs`` go through _tokenized, and each
        mutated id shadows its old version through a literal shadow-id
        set (_compose). ``new_ids`` are the ids of ``new_docs`` when the
        caller already holds them (a Collection write gets them from its
        log store); otherwise they are collected in one job.

        On a serving index (``cache=True``, the one a Collection keeps) the
        write leaves a serving-ready index: the base's cached
        norms-in-postings layout minus the shadowed ids, plus ONE cached
        delta. The delta holds the batch's postings-with-dl and one doc
        row per mutated id (_doc_rows: its shadowed id and new length).
        The write memoizes the composed (n_docs, avgdl), which fills the
        delta's cache. A later write folds into that delta (old delta
        minus the newly mutated ids, plus the batch) and releases the
        superseded one, so the shadow set is every doc the delta holds —
        bounded by the delta, not the corpus — a search plan filters the
        base once and joins nothing, and the cached frame count stays
        constant. On an uncached index or a snapshot view the composition
        stays lazy: the in-memory twin of IncrementalBm25Index.as_bm25()."""
        from functools import reduce

        from velesdb_spark.functions.util import id_frame

        shadow, rows = set(), []
        add_postings = add_dl = None
        if new_docs is not None:
            if new_ids is None:
                new_ids = [r[0] for r in
                           new_docs.select(self.id_col).collect()]
            shadow.update(new_ids)
            add_postings, lengths = _tokenized(new_docs, self.id_col, text_col)
            add_dl = lengths.filter(F.col("dl") > 0)
            rows += [add_postings, _doc_rows(lengths)]
        if deleted_ids:
            shadow.update(int(i) for i in deleted_ids)
            rows.append(_doc_rows(id_frame(self.spark, deleted_ids,
                                           "_doc_id")))
        if not rows:
            return self
        if self._base is None:
            return self._compose(shadow, add_postings, add_dl)
        delta = reduce(DataFrame.unionByName, rows)
        gone = in_sql("_doc_id", shadow)
        if self._delta is not None:
            old = self._delta.filter(f"NOT {gone}") if gone else self._delta
            delta = old.unionByName(delta)
        # one partition per core, however many writes were folded in
        delta = delta.coalesce(self.spark.sparkContext.defaultParallelism) \
            .cache()
        docs = delta.filter(F.col("term").isNull())
        shadow |= self._shadow
        out = self._base._compose(
            shadow, delta.filter(F.col("term").isNotNull()),
            docs.filter(F.col("dl") > 0).select("_doc_id", "dl"))
        out._base, out._delta, out._shadow = self._base, delta, shadow
        out._corpus_stats()
        if self._delta is not None:
            self._delta.unpersist()
        return out


def _doc_rows(ids: DataFrame) -> DataFrame:
    """Rows in the postings layout ``(_doc_id, term, tf, dl)`` that stand
    for a whole doc rather than a posting: term and tf are NULL. They
    shadow the doc's old postings; ``dl`` is the new version's length
    when ``ids`` carries one, else NULL (a delete)."""
    dl = F.col("dl") if "dl" in ids.columns else F.lit(None).cast("long")
    return ids.select("_doc_id", F.lit(None).cast("string").alias("term"),
                      F.lit(None).cast("long").alias("tf"), dl.alias("dl"))


def _tombstones(ids: DataFrame) -> DataFrame:
    """Postings-log rows that shadow each ``_doc_id`` of ``ids`` and add
    no postings."""
    return _doc_rows(ids.select("_doc_id")).withColumn(
        "_op", F.lit("delete"))


class IncrementalBm25Index:
    """Incremental BM25 maintenance: snapshot postings + a postings delta
    log, following the same manifest/segment/compaction protocol as
    storage.LogStore (the reference updates its text index transactionally
    per upsert — crud.rs:19-118; this is that contract at batch scale).

    - ``upsert_docs``/``delete_docs`` append one immutable log segment
      computed from ONLY the mutated docs (tokenize cost ∝ batch size,
      never corpus size — no full re-index per upsert→search cycle).
    - ``as_bm25()`` opens the live view lazily: snapshot postings minus
      shadowed docs, union the log's last-writer-wins postings — the same
      composition Bm25Index.incremental_update runs in memory. Term df
      and corpus stats are aggregated from the composed frames. The
      snapshot is never shuffled — shadowed-doc removal filters on the
      log's doc ids, collected as a literal shadow-id set.
    - ``compact()`` folds the log into a new snapshot version and
      truncates the log atomically (manifest rename is the commit point);
      ``vacuum()`` then deletes what the manifest no longer references.

    ``build()`` plus ``IncrementalBm25Index(spark, path).as_bm25()`` is
    the way to persist and reopen a BM25 index.

    Layout: MANIFEST.json (snapshot, segments, seq, term_buckets),
    snapshot/v=N/{postings partitioned by _tb, doc_lengths},
    log/NNNNNN.parquet with rows (_doc_id, term, tf, dl, _op, _seq); a
    delete (or an upsert whose new text has no tokens) is a single
    term=NULL tombstone row.
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
        postings, lengths = _tokenized(docs, id_col, text_col)
        idx._write_snapshot(postings, lengths.filter(F.col("dl") > 0),
                            version=1, seq=0, buckets=term_buckets)
        return idx

    def _write_snapshot(self, postings: DataFrame, doc_lengths: DataFrame,
                        version: int, seq: int, buckets: int) -> None:
        import os

        from velesdb_spark.storage import commit_manifest

        snap = f"snapshot/v={version}"
        base = os.path.join(self.path, snap)
        postings = postings.select("term", "_doc_id", "tf")
        # repartition on the bucket key before the partitionBy write:
        # without it every upstream task writes a sliver into every
        # bucket directory (buckets x tasks files — 256 at 8 buckets
        # on local[32]); with it each bucket is one task's single
        # well-sized file, and a query's per-term bucket read opens
        # 1 file instead of tasks-many (guide §6 file sizing)
        (postings.withColumn("_tb", term_bucket_expr(F.col("term"), buckets))
         .repartition(buckets, F.col("_tb"))
         .write.mode("overwrite").partitionBy("_tb")
         .parquet(f"{base}/postings"))
        doc_lengths.write.mode("overwrite").parquet(f"{base}/doc_lengths")
        commit_manifest(self.path, {"snapshot": snap, "segments": [],
                                    "seq": seq, "term_buckets": buckets})

    # ------------------------------------------------------------ writes
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
        postings, lengths = _tokenized(docs, self.id_col, self.text_col)
        posting_rows = postings.select(
            "_doc_id", "term", "tf", "dl", F.lit("upsert").alias("_op"))
        # a doc whose new text has no tokens (or NULL text) still shadows
        # its old postings
        empty_rows = _tombstones(lengths.filter(F.col("dl") <= 0))
        self._append_segment(posting_rows.unionByName(empty_rows))
        return self

    def delete_docs(self, ids) -> "IncrementalBm25Index":
        from velesdb_spark.functions.util import id_frame

        self._append_segment(_tombstones(id_frame(self.spark, ids, "_doc_id")))
        return self

    # ------------------------------------------------------------ reads
    def as_bm25(self) -> Bm25Index:
        """Open the live index view as a Bm25Index (same scores/search).

        Plan shape: the snapshot's bucketed postings/doc_lengths minus the
        docs the log shadows (a literal shadow-id set, collected from the
        log in one job), union the log's last-writer-wins postings
        (Bm25Index._compose, shared with incremental_update). Term df and corpus stats are aggregated from
        that composed view, so a df lookup's term filter reaches the
        snapshot postings scan; nothing is tokenized."""
        import os

        from pyspark.sql import Window

        from velesdb_spark.storage import read_manifest

        m = read_manifest(self.path)
        if m["snapshot"]:
            snap = os.path.join(self.path, m["snapshot"])
            # _tb stays: scores() prunes snapshot partitions on it
            frames = (self.spark.read.parquet(f"{snap}/postings"),
                      self.spark.read.parquet(f"{snap}/doc_lengths"))
        else:
            frames = (self.spark.createDataFrame(
                          [], "term string, _doc_id bigint, tf bigint"),
                      self.spark.createDataFrame([], "_doc_id bigint, dl bigint"))
        idx = Bm25Index.__new__(Bm25Index)._attach(
            self.spark, self.id_col, *frames, m.get("term_buckets"))
        if not m["segments"]:
            return idx
        log = self.spark.read.parquet(
            *[os.path.join(self.path, s) for s in m["segments"]])
        # last-writer-wins per doc: all postings rows of the winning seq
        w = Window.partitionBy("_doc_id")
        latest = (log.withColumn("_max_seq", F.max("_seq").over(w))
                  .filter(F.col("_seq") == F.col("_max_seq")))
        live = latest.filter(F.col("_op") != "delete")
        # the log's doc ids, the shadow set: bounded by the log since the
        # last compaction
        shadow = {r[0] for r in log.select("_doc_id").collect()}
        return idx._compose(shadow, live.select("term", "_doc_id", "tf"),
                            live.select("_doc_id", "dl").distinct())

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
        cur = int(m["snapshot"].rsplit("=", 1)[1]) if m["snapshot"] else 0
        live = self.as_bm25()
        # keep the built layout
        self._write_snapshot(live.postings, live.doc_lengths,
                             version=cur + 1, seq=m["seq"],
                             buckets=m.get("term_buckets") or 64)

    def vacuum(self) -> None:
        """Remove snapshot versions and log segments the manifest no
        longer references (storage.vacuum_dir, shared with LogStore)."""
        from velesdb_spark.storage import vacuum_dir

        vacuum_dir(self.path)


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

