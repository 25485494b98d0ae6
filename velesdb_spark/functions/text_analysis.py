"""Text-analysis operators for large-scale training-data pipelines.

Beyond reference parity (the reference has no text analytics beyond BM25);
designed for the 100 TB documents regime: every function here is a native
Column expression (JVM-side, whole-stage-codegen friendly, no Python UDFs),
so they compose with filters/aggregations and scale linearly.

All expressions are deterministic and reproducible in ANSI SQL (DuckDB) for
oracle checking; hashes use md5 (identical in Spark and DuckDB).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small multilingual stopword seed (language-id heuristic); deterministic.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "it"],
    "es": ["el", "la", "de", "que", "los", "en", "un", "una", "por", "con"],
    "fr": ["le", "la", "les", "de", "des", "et", "un", "une", "du", "dans"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "ein", "im"],
    "zh": ["的", "是", "在", "了", "和", "有", "我", "不", "这", "他"],
}


def word_tokens(col: Column) -> Column:
    """Whitespace-ish word split (lowercased, non-alphanumeric separators)."""
    return F.filter(F.split(F.lower(col), r"[^\p{L}\p{N}]+"), lambda t: t != "")


def token_count(col: Column) -> Column:
    """Word-token count (whitespace+punct split)."""
    return F.size(word_tokens(col))


def avg_word_length(col: Column) -> Column:
    toks = word_tokens(col)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def stopword_ratio(col: Column, lang: str = "en") -> Column:
    toks = word_tokens(col)
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def punct_ratio(col: Column) -> Column:
    n = F.length(col)
    punct = n - F.length(F.regexp_replace(col, r"[^\p{L}\p{N}\s]", ""))
    return F.when(n > 0, punct / n).otherwise(F.lit(0.0))


def quality_score(col: Column, lang: str = "en") -> Column:
    """Composite [0,1] quality heuristic: length band + stopword presence +
    low punctuation noise + word-length sanity. Deterministic arithmetic
    (oracle-checkable); tune weights per corpus."""
    n_tok = token_count(col)
    len_ok = F.when((n_tok >= 5) & (n_tok <= 100000), 1.0).otherwise(0.0)
    sw = stopword_ratio(col, lang)
    sw_ok = F.when((sw > 0.01) & (sw < 0.6), 1.0).otherwise(0.0)
    pr = punct_ratio(col)
    punct_ok = F.when(pr < 0.2, 1.0).otherwise(0.0)
    awl = avg_word_length(col)
    wl_ok = F.when((awl >= 2.0) & (awl <= 12.0), 1.0).otherwise(0.0)
    return (0.3 * len_ok + 0.3 * sw_ok + 0.2 * punct_ok + 0.2 * wl_ok)


def lang_id(col: Column) -> Column:
    """Stopword-vote language id over {en,es,fr,de,zh}: language with the
    highest stopword hit-count wins; 'und' when no hits. N-gram-free
    heuristic that is exactly reproducible in SQL."""
    return lang_id_from_tokens(word_tokens(col))


def lang_id_from_tokens(toks: Column) -> Column:
    out = F.lit("und")
    best = F.lit(0)
    # build nested CASE: iterate deterministically, strictly-greater wins →
    # first language in insertion order wins ties
    def hit_counter(words):
        sw = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))

    exprs = [(lang, hit_counter(words)) for lang, words in STOPWORDS.items()]
    # fold: select lang with max hits, ties → earlier language
    score = F.greatest(*[h for _, h in exprs])
    out = F.lit("und")
    for lang, hits in reversed(exprs):
        out = F.when(hits == score, F.lit(lang)).otherwise(out)
    return F.when(score > 0, out).otherwise(F.lit("und"))


def text_stats_df(df, text_col: str = "text", id_col: str = "id",
                  lang: str = "en"):
    """Per-doc stats with tokenization evaluated ONCE (staged select — see
    dedup.shingles_from_tokens for the CollapseProject pitfall):
    (_id, n_tokens, avg_wlen, sw_ratio, lang)."""
    toks = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text"),
                     word_tokens(F.col(text_col)).alias("_toks"))
    t = F.col("_toks")
    total_len = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.filter(t, lambda x: F.array_contains(sw, x)))
    return toks.select(
        "_id",
        F.size(t).alias("n_tokens"),
        F.when(F.size(t) > 0, total_len / F.size(t)).otherwise(F.lit(0.0)).alias("avg_wlen"),
        F.when(F.size(t) > 0, hits / F.size(t)).otherwise(F.lit(0.0)).alias("sw_ratio"),
        lang_id_from_tokens(t).alias("lang"),
    )


def ngram_multiset(toks: Column, n: int = 2) -> Column:
    """Word n-grams WITH duplicates — repetition analysis needs the
    multiset (dedup.shingles_from_tokens dedups for Jaccard). Empty
    array when the doc has fewer than n tokens."""
    k = F.size(toks)
    grams = F.transform(F.sequence(F.lit(1), k - n + 1),
                        lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    return F.when(k >= n, grams).otherwise(F.array().cast("array<string>"))


def repetition_from_sorted_grams(grams: Column) -> Column:
    """struct(n_grams, top_frac, dup_frac) from a SORTED n-gram multiset:
    Gopher-style repetition signals (Rae et al. 2021, appendix A1.1 —
    public quality heuristics; the reference engine has no text-quality
    module). top_frac = share of n-gram occurrences claimed by the single
    most frequent n-gram; dup_frac = share claimed by n-grams occurring
    more than once. Computed as a run-length fold over the sorted array —
    map-only, no explode, no shuffle: the per-doc frequency table never
    materializes, which is what lets this run inside a scan at 100 TB.

    Pass a STAGED sorted-gram column (prior select), not the expression —
    the fold and size() both reference it (CollapseProject keeps staged
    non-cheap aliases, see dedup.shingles_from_tokens)."""
    total = F.size(grams)
    acc0 = F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                    F.lit(0).alias("best"), F.lit(0).alias("dup"))

    def step(acc, x):
        closes = x != acc["prev"]
        best = F.when(closes, F.greatest(acc["best"], acc["run"])) \
            .otherwise(acc["best"])
        dup = F.when(closes & (acc["run"] > 1), acc["dup"] + acc["run"]) \
            .otherwise(acc["dup"])
        run = F.when(closes, F.lit(1)).otherwise(acc["run"] + 1)
        return F.struct(x.alias("prev"), run.alias("run"),
                        best.alias("best"), dup.alias("dup"))

    def fin(acc):
        return F.struct(
            F.greatest(acc["best"], acc["run"]).alias("best"),
            F.when(acc["run"] > 1, acc["dup"] + acc["run"])
            .otherwise(acc["dup"]).alias("dup"))

    folded = F.aggregate(grams, acc0, step, fin)
    top = F.when(total > 0, folded["best"] / total).otherwise(F.lit(0.0))
    dupf = F.when(total > 0, folded["dup"] / total).otherwise(F.lit(0.0))
    return F.struct(total.alias("n_grams"), top.alias("top_frac"),
                    dupf.alias("dup_frac"))


def repetition_stats_df(df, text_col: str = "text", id_col: str = "id",
                        n: int = 2):
    """Per-doc repetition signals: (_id, n_grams, top_frac, dup_frac).
    Three staged selects so tokenization, gram-building and the fold each
    evaluate once per row."""
    toks = df.select(F.col(id_col).alias("_id"),
                     word_tokens(normalized_text(F.col(text_col)))
                     .alias("_toks"))
    grams = toks.select(
        "_id", F.array_sort(ngram_multiset(F.col("_toks"), n)).alias("_g"))
    rep = grams.select(
        "_id", repetition_from_sorted_grams(F.col("_g")).alias("_r"))
    return rep.select(
        "_id", F.col("_r.n_grams").alias("n_grams"),
        F.col("_r.top_frac").alias("top_frac"),
        F.col("_r.dup_frac").alias("dup_frac"))


def normalized_text(col: Column) -> Column:
    """Canonical text for near-dup fingerprinting: lowercase, collapse
    whitespace, strip punctuation."""
    return F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(col), r"[^\p{L}\p{N}\s]", " "), r"\s+", " "))


def chunk_tokens(col: Column, chunk_size: int = 100,
                 overlap: int = 20) -> Column:
    """Overlapping token-window chunks as ARRAY<STRING> (each chunk the
    space-joined token window) — the training-data chunking primitive.

    Windows start every (chunk_size - overlap) tokens; starts run while
    start <= max(n_tokens - overlap, 1), so the final (possibly short)
    window is emitted and empty texts produce no chunks. Pure JVM array
    expressions (sequence/transform/slice) — no UDF, chunking stays inside
    whole-stage codegen at any corpus size.
    """
    if overlap >= chunk_size:
        raise ValueError("overlap must be < chunk_size")
    stride = chunk_size - overlap
    toks = word_tokens(col)
    n = F.size(toks)
    starts = F.sequence(F.lit(1), F.greatest(n - overlap, F.lit(1)),
                        F.lit(stride))

    def _window(s):
        return F.array_join(F.slice(toks, s, chunk_size), " ")

    return F.when(n > 0, F.transform(starts, _window)) \
        .otherwise(F.array().cast("array<string>"))


def chunk_documents_df(df, chunk_size: int = 100, overlap: int = 20,
                       text_col: str = "text", id_col: str = "id"):
    """Explode documents into (id, chunk_idx, chunk_text, chunk_tokens)."""
    chunks = chunk_tokens(F.col(text_col), chunk_size, overlap)
    return (df.select(F.col(id_col).alias("_id"),
                      F.posexplode(chunks).alias("chunk_idx", "chunk_text"))
            .withColumn("chunk_tokens",
                        F.size(F.split(F.col("chunk_text"), " "))))


def pii_scrub(col: Column) -> Column:
    """Redact common PII patterns (training-data hygiene): emails →
    [EMAIL], SSN-shaped → [SSN], phone-shaped → [PHONE], IPv4 → [IP].
    Patterns use the RE2-compatible subset so the same regexes run in
    Spark (Java regex) and DuckDB (RE2) for oracle parity; applied in a
    fixed order (email first — its local part can contain digits that
    phone patterns would otherwise bite)."""
    out = F.regexp_replace(
        col, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]")
    out = F.regexp_replace(out, r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]")
    out = F.regexp_replace(
        out, r"(\+?1[-. ])?\(?\b\d{3}\)?[-. ]\d{3}[-. ]\d{4}\b", "[PHONE]")
    out = F.regexp_replace(
        out, r"\b(\d{1,3}\.){3}\d{1,3}\b", "[IP]")
    return out


def top_tokens(df, text_col: str = "text", k: int = 20,
               max_items: int = 100_000):
    """Corpus heavy hitters: the k most frequent tokens and their
    counts, via Spark 4's ``approx_top_k`` sketch.

    100 TB design: the exact spelling — explode + groupBy(token).count()
    + TakeOrdered — shuffles one record per (distinct token ×
    partition). The sketch aggregates map-side into a bounded
    frequent-items buffer (``max_items`` slots) and merges buffers, so
    the token multiset never shuffles; executors exchange only
    fixed-size sketches. Counts are EXACT whenever the corpus
    vocabulary fits ``max_items`` (the buffer then is the full count
    table), approximate with the usual frequent-items guarantees
    beyond it.

    Returns (token STRING, cnt BIGINT) rows, most frequent first.
    """
    from pyspark.sql import functions as F

    toks = df.select(F.explode(
        F.split(F.lower(F.col(text_col)), r"\s+")).alias("token")) \
        .filter(F.length("token") > 0)
    est = toks.agg(F.expr(
        f"approx_top_k(token, {int(k)}, {int(max_items)})").alias("tk"))
    return (est.select(F.explode("tk").alias("e"))
            .select(F.col("e.item").alias("token"),
                    F.col("e.count").alias("cnt")))


def zipf_slope(df, text_col: str = "text", top_n: int = 200):
    """Zipf-law fit over the corpus frequency table: OLS of ln(freq) on
    ln(rank) for the ``top_n`` most frequent word tokens — the corpus
    naturalness/diversity diagnostic (natural language ≈ slope −1;
    templated or deduplicated-to-death corpora flatten).

    Scale shape: token counts are one map-combinable groupBy; the top-n
    cut is TakeOrderedAndProject (no full sort); the rank row_number
    window runs over the ALREADY top_n-bounded rows (the documented
    bounded-window pattern — never over the open vocabulary); the fit
    is stats.linreg's single moment-sum aggregate. Returns one row
    (n, slope, intercept, r, r2).

    Ranking ties break by token text ascending, so rank assignment —
    and therefore the fit — is engine-reproducible.
    """
    from pyspark.sql import Window

    from .stats import linreg

    freq = (df.select(F.explode(word_tokens(F.col(text_col)))
                      .alias("token"))
            .groupBy("token").agg(F.count("*").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("token")).limit(int(top_n)))
    ranked = freq.withColumn(
        "rank", F.row_number().over(
            Window.orderBy(F.desc("cnt"), F.asc("token"))))
    pts = ranked.select(F.log("rank").alias("x"),
                        F.log("cnt").alias("y"))
    return linreg(pts, "x", "y")
