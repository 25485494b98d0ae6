"""Training-data assembly operators: sequence packing and repeated-span
removal.

These extend the engine beyond the reference surface (which stops at
document-level dedup — see functions/dedup.py for the MinHash/SimHash
family) with the two steps an LLM pre-training pipeline runs after
dedup: packing documents into fixed-token-budget training sequences and
removing spans duplicated ACROSS documents (block-hash variant of the
repeated-substring dedup in Lee et al., "Deduplicating Training Data
Makes Language Models Better").

Scale design
------------
- ``pack_sequences`` is closed-form: pack assignment is a pure function
  of the exclusive running token total within a hash shard, so shards
  pack independently (one window per shard, shard count bounds partition
  width) and no sequential scan or driver loop exists. At 100 TB, raise
  ``n_shards`` until a shard's documents fit an executor.
- ``dedup_spans`` keys spans by their text and picks the keeper with a
  ``min(struct(doc, pos))`` aggregate — map-side combinable, no window
  over the span key, so a span duplicated a billion times costs one
  partial min per partition instead of a single hot reducer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from velesdb_spark.functions.text_analysis import token_count, word_tokens

DEFAULT_BUDGET = 512
DEFAULT_BLOCK = 25


def _shard_expr(col: Column, n_shards: int, shard_hash: str) -> Column:
    """Deterministic shard id. "xxhash64" is the cheap default (JVM hash,
    no cross-engine contract); "md5" matches DuckDB bit-for-bit
    (same trick as the train/val/test split) so oracle checks can
    replicate the assignment."""
    if shard_hash == "md5":
        bucket = F.conv(F.substring(F.md5(col.cast("string")), 1, 4),
                        16, 10).cast("long")
        return (bucket % n_shards).cast("int")
    if shard_hash == "xxhash64":
        return F.pmod(F.xxhash64(col.cast("string")),
                      F.lit(n_shards)).cast("int")
    raise ValueError(f"unknown shard_hash: {shard_hash!r}")


def pack_sequences(df: DataFrame, budget: int = DEFAULT_BUDGET,
                   text_col: str = "text", id_col: str = "id",
                   n_shards: int = 8,
                   shard_hash: str = "xxhash64") -> DataFrame:
    """Assign documents to fixed-token-budget training packs.

    Offset-bucketed packing (deterministic, closed-form): documents are
    ordered by id inside ``n_shards`` hash shards; a document's pack is
    ``floor(exclusive_cumulative_tokens / budget)`` — it starts in the
    pack where its first token lands, and a pack may overflow by the
    tail of its last document (documents are never split). This is the
    non-sequential variant of greedy packing: unlike greedy-with-reset
    it needs no O(N) sequential pass, so it is expressible as one
    window per shard and scales with shard count.

    Returns (shard, pack_id, doc_id, n_tokens, tok_start) — one row per
    document, ordered output left to the caller.
    """
    base = df.select(
        F.col(id_col).alias("doc_id"),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    ).withColumn(
        "shard", _shard_expr(F.col("doc_id"), n_shards, shard_hash))
    w = Window.partitionBy("shard").orderBy("doc_id")
    excl = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("tok_start")
    return (base.select("shard", "doc_id", "n_tokens", excl)
            .withColumn("pack_id",
                        F.floor(F.col("tok_start") / budget).cast("long")))


def _token_blocks(col: Column, block: int) -> Column:
    """Non-overlapping ``block``-token spans as ARRAY<STRING> (each span
    the space-joined token run; trailing short span kept; empty text →
    no spans). Mirrors text_analysis.chunk_tokens with overlap=0."""
    toks = word_tokens(col)
    n = F.size(toks)
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(block))
    return F.when(n > 0, F.transform(
        starts, lambda s: F.array_join(F.slice(toks, s, block), " "))) \
        .otherwise(F.array().cast("array<string>"))


def dedup_spans(df: DataFrame, mode: str = "token_block",
                block: int = DEFAULT_BLOCK, separator: str = "\n\n",
                text_col: str = "text", id_col: str = "id") -> DataFrame:
    """Corpus-level repeated-span removal: split every document into
    spans, keep only the FIRST occurrence of each span text across the
    whole corpus (first = smallest (doc, position)), and reassemble
    documents from their surviving spans.

    mode="paragraph" splits on ``separator`` (natural prose); mode
    ="token_block" uses fixed ``block``-token windows (the block-hash
    approximation that works on text without paragraph structure).

    Returns one row per input document: (doc_id, text, n_spans, n_kept)
    — text is '' when every span was seen earlier (the row survives so
    downstream joins keep their cardinality).
    """
    if mode == "paragraph":
        spans_arr = F.filter(
            F.transform(F.split(F.col(text_col), separator), F.trim),
            lambda p: p != "")
        joiner = separator
    elif mode == "token_block":
        spans_arr = _token_blocks(F.col(text_col), block)
        joiner = " "
    else:
        raise ValueError(f"unknown dedup_spans mode: {mode!r}")

    from velesdb_spark.functions.util import spread

    # spread(): span tokenization+explode is the expensive per-row stage;
    # a single-file input would otherwise run it on the file's 1-2 splits
    spans = spread(df).select(
        F.col(id_col).alias("_did"),
        F.posexplode_outer(spans_arr).alias("_pos", "_span"))
    # keeper per span text: min-struct aggregate (map-side combinable; a
    # window over _span would serialize hot spans onto one reducer)
    keepers = (spans.filter(F.col("_span").isNotNull())
               .groupBy("_span")
               .agg(F.min(F.struct("_did", "_pos")).alias("_keep")))
    kept = (spans.join(keepers, "_span", "left")
            .withColumn("_is_kept",
                        (F.col("_keep._did") == F.col("_did"))
                        & (F.col("_keep._pos") == F.col("_pos"))))
    out = (kept.groupBy("_did").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.when(F.col("_is_kept"),
                           F.struct("_pos", "_span")))),
                lambda s: s["_span"]),
            joiner).alias("text"),
        F.count(F.col("_span")).alias("n_spans"),
        F.count(F.when(F.col("_is_kept"), 1)).alias("n_kept")))
    return out.select(F.col("_did").alias("doc_id"), "text",
                      "n_spans", "n_kept")
