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


def _tokenized(docs: DataFrame, id_col: str,
               text_col: str) -> tuple[DataFrame, DataFrame]:
    """(postings, doc_lengths) of ``docs``: tf per (term, doc) and token
    count per doc."""
    from velesdb_spark.functions.util import spread

    # Stage the token array before exploding (keeps the regex chain out
    # of the generator) and spread small single-file inputs across cores.
    toks = spread(docs).select(
        F.col(id_col).alias("_doc_id"),
        tokenize(F.col(text_col)).alias("_toks"),
    )
    tokens = toks.select("_doc_id", F.explode("_toks").alias("term"))
    # Per-doc length; empty docs are NOT indexed (bm25.rs:146-148)
    doc_lengths = tokens.groupBy("_doc_id").agg(F.count("*").alias("dl"))
    postings = tokens.groupBy("term", "_doc_id").agg(F.count("*").alias("tf"))
    return postings, doc_lengths


class Bm25Index:
    """Corpus statistics for BM25 over (id, text) — all lazy DataFrames.

    Mirrors Bm25Index in the reference (index/bm25.rs): ``add``-time work
    becomes the postings build; ``search`` becomes a score join.
    """

    def __init__(self, docs: DataFrame, id_col: str = "id", text_col: str = "text",
                 cache: bool = False):
        spark = docs.sparkSession
        self._attach(spark, id_col, *_tokenized(docs, id_col, text_col))
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

    def _attach(self, spark, id_col: str, postings: DataFrame,
                doc_lengths: DataFrame,
                term_buckets: int | None = None) -> "Bm25Index":
        """Set the index frames. Term df and the corpus stats are always
        derived from (postings, doc_lengths) — for a fresh build, a
        snapshot and a composed snapshot+delta view alike — so a df lookup
        filtered on its terms pushes down to the postings scans."""
        self.spark = spark
        self.id_col = id_col
        self.term_buckets = term_buckets
        self.postings = postings
        self.doc_lengths = doc_lengths
        # Document frequency per term
        self.term_df = postings.groupBy("term").agg(F.count("*").alias("df"))
        # Corpus stats: N and avgdl (1-row DataFrame, broadcastable)
        self.stats = doc_lengths.agg(
            F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
        return self

    def _compose(self, shadowed: DataFrame, add_postings: DataFrame | None,
                 add_dl: DataFrame | None) -> "Bm25Index":
        """This index minus the ``shadowed`` docs, plus a delta (none for a
        delete-only batch). The base is never shuffled — shadowed-doc
        removal is a broadcast anti join — and delta postings get the
        base's ``_tb`` bucket column so the union stays uniformly
        bucketed."""
        shadowed = F.broadcast(shadowed)
        postings = self.postings.join(shadowed, "_doc_id", "left_anti")
        doc_lengths = self.doc_lengths.join(shadowed, "_doc_id", "left_anti")
        if add_postings is not None:
            if self.term_buckets:
                add_postings = add_postings.withColumn(
                    "_tb", term_bucket_expr(F.col("term"), self.term_buckets))
            postings = postings.unionByName(add_postings)
            doc_lengths = doc_lengths.unionByName(add_dl)
        return Bm25Index.__new__(Bm25Index)._attach(
            self.spark, self.id_col, postings, doc_lengths, self.term_buckets)

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
                           deleted_ids=None,
                           text_col: str = "text") -> "Bm25Index":
        """Composed index after an upsert/delete batch WITHOUT re-tokenizing
        the corpus: only ``new_docs`` go through tokenize/explode; the
        existing postings/doc_lengths (cached by the collection) are reused
        behind a broadcast anti join on the mutated ids. The in-memory twin
        of IncrementalBm25Index.as_bm25(); both go through _compose."""
        shadow_parts = []
        add_postings = add_dl = None
        if new_docs is not None:
            add_postings, add_dl = _tokenized(new_docs, self.id_col, text_col)
            shadow_parts.append(new_docs.select(
                F.col(self.id_col).alias("_doc_id")))
        if deleted_ids:
            shadow_parts.append(self.spark.createDataFrame(
                [(int(i),) for i in deleted_ids], "_doc_id bigint"))
        if not shadow_parts:
            return self
        shadowed = shadow_parts[0]
        for p in shadow_parts[1:]:
            shadowed = shadowed.unionByName(p)
        return self._compose(shadowed.distinct(), add_postings, add_dl)


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
      snapshot is never shuffled — shadowed-doc removal is a broadcast
      anti join.
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
        idx._write_snapshot(*_tokenized(docs, id_col, text_col),
                            version=1, seq=0, buckets=term_buckets)
        return idx

    def _write_snapshot(self, postings: DataFrame, doc_lengths: DataFrame,
                        version: int, seq: int, buckets: int) -> None:
        import os

        from velesdb_spark.storage import commit_manifest

        snap = f"snapshot/v={version}"
        base = os.path.join(self.path, snap)
        if "_tb" in postings.columns:
            postings = postings.drop("_tb")
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
    def as_bm25(self) -> Bm25Index:
        """Open the live index view as a Bm25Index (same scores/search).

        Plan shape: the snapshot's bucketed postings/doc_lengths minus the
        (small, broadcast) set of docs the log shadows, union the log's
        last-writer-wins postings (Bm25Index._compose, shared with
        incremental_update). Term df and corpus stats are aggregated from
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
        return idx._compose(log.select("_doc_id").distinct(),
                            live.select("term", "_doc_id", "tf"),
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

