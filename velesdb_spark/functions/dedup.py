"""Deduplication operators for training-data pipelines (exact, MinHash/LSH,
SimHash, n-gram Jaccard, embedding-cosine) — beyond reference parity, designed
for 100 TB corpora.

Scale design notes:
- Exact dedup: hash-groupBy on a 64-bit content fingerprint — one shuffle on
  the fingerprint, map-side combinable; never shuffles full text.
- MinHash/LSH: per-doc signatures are JVM-side array expressions over word
  shingles (md5-based hashes — deterministic, identical in DuckDB for
  oracles); candidate generation joins docs on (band, band_hash), so the
  shuffle carries only (id, band_hash) pairs; exact Jaccard verifies
  candidates only. This is the standard near-dup pipeline (shingle → minhash
  → band → bucket-join) used on web-scale corpora.
- SimHash: 32-bit signature via per-bit majority vote over token hashes.
- Embedding near-dup: brute-force cosine self-join for small N; LSH-bucketed
  (random-hyperplane) self-join as the scale path (see
  functions/similarity.py).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from velesdb_spark.functions.text_analysis import normalized_text, word_tokens

DEFAULT_SHINGLE = 3
DEFAULT_MINHASHES = 16
DEFAULT_BANDS = 4  # 16 hashes / 4 rows per band


def content_fingerprint(col: Column) -> Column:
    """64-bit exact-dup key on normalized text (md5-derived, SQL-reproducible)."""
    return F.conv(F.substring(F.md5(normalized_text(col)), 1, 15), 16, 10).cast("bigint")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "id") -> DataFrame:
    """Keep the minimum id per normalized-content fingerprint."""
    fp = content_fingerprint(F.col(text_col))
    return (
        df.withColumn("_fp", fp)
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
        .drop("_fp")
    )


def shingles_from_tokens(toks: Column, n: int = DEFAULT_SHINGLE) -> Column:
    """Distinct word n-gram shingles from a pre-computed token array.

    IMPORTANT (perf): pass a MATERIALIZED column (a prior select stage), not
    the tokenization expression itself — otherwise Catalyst inlines the regex
    chain into the per-element lambda and recomputes it for every shingle
    (~14× slower measured at sf0.1)."""
    k = F.size(toks)
    ngrams = F.transform(
        F.sequence(F.lit(1), F.greatest(k - n + 1, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(k > 0, F.array_distinct(ngrams)).otherwise(F.array().cast("array<string>"))


def shingles(col: Column, n: int = DEFAULT_SHINGLE) -> Column:
    """Expression form (convenient for single-column use; see
    shingles_from_tokens for the staged fast path)."""
    return shingles_from_tokens(word_tokens(normalized_text(col)), n)


def staged_shingles(df: DataFrame, text_col: str = "text", id_col: str = "id",
                    n: int = DEFAULT_SHINGLE) -> DataFrame:
    """(_id, _sh) with tokenization evaluated once per row (two select
    stages defeat CollapseProject's expression inlining)."""
    from velesdb_spark.functions.util import spread

    toks = spread(df).select(
        F.col(id_col).alias("_id"),
        word_tokens(normalized_text(F.col(text_col))).alias("_toks"))
    return toks.select("_id", shingles_from_tokens(F.col("_toks"), n).alias("_sh"))


def minhash_signature(col: Column, num_hashes: int = DEFAULT_MINHASHES,
                      n: int = DEFAULT_SHINGLE) -> Column:
    """MinHash signature: for seed i, min over shingles of md5(i || '|' || s)
    (lexicographic min of hex strings — identical semantics in any engine)."""
    return minhash_from_shingles(shingles(col, n), num_hashes)


def minhash_from_shingles(sh: Column, num_hashes: int = DEFAULT_MINHASHES) -> Column:
    def one_hash(seed: int):
        # NB: single-arg lambda — PySpark treats 2-arg lambdas as
        # (element, index)
        return F.array_min(
            F.transform(sh, lambda s: F.md5(F.concat(F.lit(f"{seed}|"), s))))

    return F.array(*[one_hash(i) for i in range(num_hashes)])


def minhash_signatures_df(df: DataFrame, text_col: str = "text",
                          id_col: str = "id",
                          num_hashes: int = DEFAULT_MINHASHES,
                          n: int = DEFAULT_SHINGLE) -> DataFrame:
    """(_id, _sig): expression form for narrow signatures, postings form
    for wide ones (see minhash_band_rows for the wide-width hazard).

    A narrow signature (≤ 4 hashes) stays one whole-stage-codegen
    expression — shuffle-free, ~0.3 s for 5k docs. A wide one would
    collapse into a mega-expression that falls out of codegen, so it is
    computed postings-style instead: one explode + num_hashes tiny md5
    columns + one map-side-combinable min-aggregate, reassembled into
    the signature array. Zero-shingle docs keep their row in both forms
    (explode_outer → all-NULL mins ≡ array_min over an empty
    transform) — results are bit-identical."""
    sh = staged_shingles(df, text_col, id_col, n)
    if num_hashes <= 4:
        return sh.select(
            "_id", minhash_from_shingles(F.col("_sh"), num_hashes)
            .alias("_sig"))
    ex = sh.select("_id", F.explode_outer("_sh").alias("_s"))
    mins = [
        F.min(F.when(F.col("_s").isNotNull(),
                     F.md5(F.concat(F.lit(f"{i}|"), F.col("_s")))))
        .alias(f"_m{i}")
        for i in range(num_hashes)]
    return (ex.groupBy("_id").agg(*mins)
            .select("_id", F.array(*[F.col(f"_m{i}")
                                     for i in range(num_hashes)])
                    .alias("_sig")))


def minhash_band_rows(df: DataFrame, text_col: str = "text",
                      id_col: str = "id",
                      num_hashes: int = DEFAULT_MINHASHES,
                      bands: int = DEFAULT_BANDS,
                      n: int = DEFAULT_SHINGLE) -> DataFrame:
    """Banded LSH keys, one row per (doc, band): (_id, _b, _bh) where
    _bh = md5 of the band's per-seed signature mins. The exploded
    postings form every LSH consumer joins on — batch candidate pairs
    and the streaming accept/reject store share this exact derivation.

    Round-10 restructure: the old form selected num_hashes references to
    an ALIASED signature-array expression — CollapseProject duplicated
    the whole tokenize+shingle+minhash pipeline per reference, the
    resulting mega-expression fell out of codegen, and interpreted eval
    (no common-subexpression elimination) re-ran the tokenizer regex per
    shingle: ~32 ms/doc, unusable past a few thousand docs. Now the
    signature is computed postings-style — explode shingles, md5 per
    (seed, shingle) as num_hashes TINY columns, one map-side-combinable
    min-aggregate — so every expression stays codegen-sized and nothing
    is ever re-derived: ~0.1 ms/doc, and the only shuffle carries the
    partial mins (num_hashes × 32-hex strings per doc). explode_outer
    keeps zero-shingle docs: their per-seed mins are NULL, concat_ws
    skips NULLs, and their band hash is md5('') — bit-identical to the
    old path (and to the SQL oracles)."""
    rows_per_band = num_hashes // bands
    sh = staged_shingles(df, text_col, id_col, n)
    ex = sh.select("_id", F.explode_outer("_sh").alias("_s"))
    mins = [
        F.min(F.when(F.col("_s").isNotNull(),
                     F.md5(F.concat(F.lit(f"{i}|"), F.col("_s")))))
        .alias(f"_m{i}")
        for i in range(num_hashes)]
    sig = ex.groupBy("_id").agg(*mins)
    band_structs = [
        F.struct(F.lit(b).alias("_b"),
                 F.md5(F.concat_ws("|", *[
                     F.col(f"_m{b * rows_per_band + r}")
                     for r in range(rows_per_band)])).alias("_bh"))
        for b in range(bands)]
    return (sig.select("_id", F.explode(F.array(*band_structs)).alias("bv"))
            .select("_id", "bv._b", "bv._bh"))


def minhash_lsh_candidates(df: DataFrame, text_col: str = "text",
                           id_col: str = "id",
                           num_hashes: int = DEFAULT_MINHASHES,
                           bands: int = DEFAULT_BANDS,
                           n: int = DEFAULT_SHINGLE) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing ≥1 LSH band."""
    buckets = minhash_band_rows(df, text_col, id_col, num_hashes, bands, n)
    a = buckets.select(F.col("_id").alias("id_a"), "_b", "_bh")
    bb = buckets.select(F.col("_id").alias("id_b"), "_b", "_bh")
    return (
        a.join(bb, on=["_b", "_bh"]).filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b").distinct()
    )


def jaccard_of_shingles(df: DataFrame, pairs: DataFrame, text_col: str = "text",
                        id_col: str = "id", n: int = DEFAULT_SHINGLE) -> DataFrame:
    """Exact shingle-Jaccard for candidate pairs → (id_a, id_b, jaccard)."""
    sh = staged_shingles(df, text_col, id_col, n).withColumnRenamed("_id", "_jid")
    out = (
        pairs
        .join(sh.withColumnRenamed("_jid", "id_a").withColumnRenamed("_sh", "_sh_a"), "id_a")
        .join(sh.withColumnRenamed("_jid", "id_b").withColumnRenamed("_sh", "_sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    union = F.size(F.array_union("_sh_a", "_sh_b"))
    return out.select(
        "id_a", "id_b",
        F.when(union > 0, inter.cast("double") / union).otherwise(0.0).alias("jaccard"),
    )


def minhash_dedup_pairs(df: DataFrame, threshold: float = 0.8,
                        text_col: str = "text", id_col: str = "id",
                        num_hashes: int = DEFAULT_MINHASHES,
                        bands: int = DEFAULT_BANDS,
                        n: int = DEFAULT_SHINGLE) -> DataFrame:
    """Full pipeline: LSH candidates → exact Jaccard ≥ threshold."""
    cands = minhash_lsh_candidates(df, text_col, id_col, num_hashes, bands, n)
    return jaccard_of_shingles(df, cands, text_col, id_col, n) \
        .filter(F.col("jaccard") >= threshold)


# shared registry (staging.py): bm25's tf projection stages here too, so
# one release_staged() call frees everything between harness queries
from velesdb_spark.functions.staging import release_staged, stage  # noqa: E402,F401


AUTO_PREFIX_DF_CUTOFF = 2
# Probe sampling: keep 1/PROBE_KEY_MOD of the shingle-hash key space. A
# key that survives the filter keeps its EXACT document frequency (every
# posting of a shingle shares the hash), so the df regime the probe sees
# is scale-invariant — doc-sampling would deflate df and flip the pick at
# small scale factors. Below PROBE_MIN_KEYS sampled keys the estimate is
# too thin (tiny corpora, closed vocabularies with few distinct
# shingles) and the probe falls back to the full distribution.
PROBE_KEY_MOD = 64
PROBE_MIN_KEYS = 200


def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.5,
                        text_col: str = "text", id_col: str = "id",
                        n: int = DEFAULT_SHINGLE,
                        max_shingle_df: int | None = None,
                        prefix_filter: bool | None = None):
    """All-pairs exact n-gram Jaccard ≥ threshold via inverted shingle index.

    No O(N²) crossJoin and no shingle-array transfer: candidate pairs come
    from docs sharing ≥1 shingle; |A∩B| falls out of the same exploded join
    as a count (shingles are distinct per doc), and |A∪B| = |A|+|B|−|A∩B|
    from a tiny per-doc size table. One shuffle on the shingle hash, one on
    the pair key — both map-side combinable.

    ``max_shingle_df`` (default off — exact) drops shingles whose document
    frequency exceeds the cap BEFORE the self-join: the standard web-scale
    guard against stop-shingles (boilerplate n-grams with df in the
    millions) that quadratically inflate one join key — a shingle shared by
    d docs contributes d·(d−1)/2 candidate rows. Cost is one extra
    map-combinable groupBy + a co-partitioned join on the shingle hash.
    Semantics with the cap ON are a documented lower bound: per-doc set
    sizes stay exact (computed before the drop), so surviving pairs report
    jaccard ≤ their exact value, and pairs whose overlap is entirely
    stop-shingles vanish — bounded loss, never a false positive. With the
    cap OFF the result is exact (property-tested equal).

    ``prefix_filter=None`` (the default) is AUTO: one cheap
    map-combinable probe of the shingle document-frequency distribution
    (5th-percentile df over distinct shingles — the df regime of the
    rarest-first prefixes the pruned join would scan) picks the
    strategy. Open-vocabulary (power-law/Zipf) corpora, where the
    rarest shingles have df ≈ 1, take the prefix path and escape the
    Σdf²/2 candidate blowup; closed-vocabulary corpora, where even
    5th-percentile df exceeds ``AUTO_PREFIX_DF_CUTOFF``, keep the plain
    inverted-index join, which measured ~2× faster there. Both paths
    are EXACT, so auto never changes results (property-tested).

    ``prefix_filter=True`` forces candidate generation to the
    EXACT prefix-filtering set-similarity join (Vernica/Carey/Li,
    SIGMOD'10 §3; PPJoin's Jaccard prefix): under a single global shingle
    order (ascending document frequency, rarest first), any pair with
    J(A,B) ≥ t must share a shingle inside BOTH docs' first
    |X| − ceil(t·|X|) + 1 shingles — so the self-join runs over prefix
    postings only, and because prefixes are the RAREST shingles, the
    quadratic df² blowup collapses. Survivors are verified exactly on the
    full shingle arrays. Identical results to the plain path
    (property-tested + oracle-gated); costs one df aggregate + one
    per-doc rank + a verification join. Measured trade-off: the win
    REQUIRES an open (power-law) vocabulary where the rarest shingles
    have df ≈ 1 — on such corpora candidates collapse from Σdf²/2 to
    ~O(N) (candidate-count-tested below) — while on a closed-vocabulary
    corpus where even rare shingles have df in the hundreds (the
    synthetic fixture: min df ≈ 88 at sf1) the pruning is weak and the
    extra stages cost ~2× (20 s → 49 s at sf1/t=0.6). Real web corpora
    are the former. Mutually exclusive with max_shingle_df (exact vs
    documented-lossy).

    The staged shingle table is tracked in a module registry released by
    release_staged()."""
    # persist the shingle arrays: BOTH sides of the self-join derive from
    # them — unpersisted, the tokenize/shingle pipeline recomputes per side
    # and Catalyst loses the size stats that keep the join strategy sane
    # (at 100 TB this table would be written out, not recomputed)
    if prefix_filter and max_shingle_df is not None:
        raise ValueError("prefix_filter (exact) and max_shingle_df "
                         "(documented-lossy) are alternative strategies — "
                         "pick one")
    base = stage(staged_shingles(df, text_col, id_col, n))
    # exploded postings carry the doc's shingle-set size INLINE (8 bytes/row)
    # so |A∪B| falls out of the pair aggregate via first() — no post-agg
    # size joins, the whole op is one self-join + one groupBy. Join key is
    # xxhash64 of the shingle (longs shuffle ~4x less than md5 hex strings
    # and compare as ints).
    ex = base.select("_id", F.size("_sh").alias("_sz"),
                     F.explode("_sh").alias("_s")) \
        .withColumn("_s", F.xxhash64("_s"))
    if prefix_filter is None:
        if threshold <= 0.0 or max_shingle_df is not None:
            # prefix prunes nothing at t=0; an explicit df cap is the
            # caller choosing the documented-lossy plain path
            prefix_filter = False
        else:
            prefix_filter = _probe_cached(ex)
    if prefix_filter and threshold > 0.0:
        return _ngram_prefix_join(base, ex, float(threshold))
    if max_shingle_df is not None:
        # document frequency per shingle hash (shingles are distinct per
        # doc, so count(*) IS the df), then keep only sub-cap postings.
        # Both sides hash-partition on _s, so the join reuses the shuffle.
        live = (ex.groupBy("_s")
                  .agg(F.count("*").alias("_df"))
                  .filter(F.col("_df") <= int(max_shingle_df))
                  .select("_s"))
        ex = ex.join(live, "_s")
    a = ex.select(F.col("_id").alias("id_a"), F.col("_sz").alias("_sa"), "_s")
    b = ex.select(F.col("_id").alias("id_b"), F.col("_sz").alias("_sb"), "_s")
    inter = (
        a.join(b, "_s").filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_inter"),
             F.first("_sa").alias("_sa"), F.first("_sb").alias("_sb"))
    )
    return (
        inter.select(
            "id_a", "id_b",
            (F.col("_inter").cast("double")
             / (F.col("_sa") + F.col("_sb") - F.col("_inter"))).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# Memoized probe picks, keyed by the logical plan's semanticHash — the
# strategy decision is corpus statistics (same spirit as ANALYZE TABLE),
# so repeated jobs over the same corpus pay the probe once. Safe to
# memoize because BOTH strategies are exact: a stale or hash-colliding
# entry can only swap two result-identical plans, never change output.
_PROBE_CACHE: dict[int, bool] = {}
_PROBE_CACHE_MAX = 64


def _probe_cached(ex: DataFrame) -> bool:
    try:
        key = ex.semanticHash()
    except Exception:
        return _probe_prefix_wins(ex)
    hit = _PROBE_CACHE.get(key)
    if hit is None:
        if len(_PROBE_CACHE) >= _PROBE_CACHE_MAX:
            _PROBE_CACHE.clear()
        hit = _PROBE_CACHE[key] = _probe_prefix_wins(ex)
    return hit


def _probe_prefix_wins(ex: DataFrame) -> bool:
    """The auto-strategy probe: 5th-percentile document frequency across
    distinct shingles. Prefix postings are the RAREST shingles, so this
    is the df regime the pruned join would actually scan — df ≈ 1 ⟹
    ~O(N) candidates ⟹ prefix wins; df in the tens+ (closed vocabulary)
    ⟹ pruning is weak and the plain join's fewer stages win (measured
    ~2× at sf1). The distribution is estimated from a hash-range sample
    of shingle KEYS (1/PROBE_KEY_MOD of the key space): each sampled key
    carries its exact df, so only the shuffle shrinks, not the df values
    — one small map-combinable aggregate, one driver-side scalar, the
    cost a 100 TB job pays once to avoid a Σdf²/2 candidate explosion
    that would never complete. Thin samples (fewer than PROBE_MIN_KEYS
    distinct shingles survive the hash filter) fall back to the exact
    full-distribution aggregate, so tiny corpora keep the deterministic
    pick."""
    row = (ex.filter(F.pmod(F.col("_s"), F.lit(PROBE_KEY_MOD)) == 0)
           .groupBy("_s").agg(F.count("*").alias("_df"))
           .agg(F.count("*").alias("_n"),
                F.percentile_approx("_df", 0.05, 1000).alias("_p"))
           .first())
    if row["_n"] >= PROBE_MIN_KEYS:
        return row["_p"] is not None and row["_p"] <= AUTO_PREFIX_DF_CUTOFF
    p05 = (ex.groupBy("_s").agg(F.count("*").alias("_df"))
           .agg(F.percentile_approx("_df", 0.05, 1000).alias("_p"))
           .first()["_p"])
    return p05 is not None and p05 <= AUTO_PREFIX_DF_CUTOFF


def _prefix_candidates(ex: DataFrame, t: float) -> DataFrame:
    """Distinct candidate pairs from prefix postings only: per-doc global
    rank (ascending df, ties by hash) ≤ |X| − ceil(t·|X|) + 1."""
    from pyspark.sql import Window

    # hint("merge") on every join in this path: the inputs are derived
    # frames (aggregates / persisted-unmaterialized projections) whose
    # size Catalyst under-estimates, and a "small"-looking side here is
    # hundreds of MB deserialized at 500k docs — the round-10 zipf10 run
    # OOM'd an 8g driver broadcasting one. Both join sides share the _s
    # shuffle key, so sort-merge reuses the partitioning anyway.
    dfreq = ex.groupBy("_s").agg(F.count("*").alias("_df"))
    # per-doc global-order rank; epsilon guards float artifacts in
    # ceil(t·sz) (an artifact HIGH ceil would shorten the prefix and
    # break exactness; the epsilon only ever lengthens it)
    ranked = (ex.join(dfreq.hint("merge"), "_s")
              .withColumn("_rn", F.row_number().over(
                  Window.partitionBy("_id").orderBy("_df", "_s")))
              .withColumn("_plen",
                          F.col("_sz")
                          - F.ceil(F.col("_sz") * F.lit(t) - F.lit(1e-9))
                          + F.lit(1))
              .filter(F.col("_rn") <= F.col("_plen"))
              .select("_id", "_s"))
    return (ranked.select(F.col("_id").alias("id_a"), "_s")
            .join(ranked.select(F.col("_id").alias("id_b"), "_s")
                  .hint("merge"), "_s")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())


def _ngram_prefix_join(base: DataFrame, ex: DataFrame,
                       t: float) -> DataFrame:
    """Exact prefix-filtering candidate join + array verification.

    Correctness (Vernica et al. SIGMOD'10, Thm for Jaccard): J(A,B) ≥ t
    implies |A∩B| ≥ t·|A| (and ≥ t·|B|); order all shingles by one global
    total order (here: ascending df, ties by hash). If no common shingle
    fell in A's first p_A = |A| − ceil(t·|A|) + 1 positions, all |A∩B|
    common shingles would sit in the ceil(t·|A|) − 1 < t·|A| suffix slots
    — contradiction. Applying the argument to the globally-smallest
    common shingle puts it in BOTH prefixes, so joining prefix postings
    against prefix postings loses nothing. Rarest-first ordering makes
    prefix document frequencies minimal, which is what collapses the df²
    candidate blowup."""
    cand = _prefix_candidates(ex, t)
    # verify survivors on the full (distinct) shingle arrays; arithmetic
    # union — same trick as trigram_jaccard(distinct_inputs=True)
    va = base.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sha"))
    vb = base.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_shb"))
    inter = F.size(F.array_intersect("_sha", "_shb"))
    return (cand.join(va.hint("merge"), "id_a")
            .join(vb.hint("merge"), "id_b")
            .withColumn("_i", inter)
            .withColumn("jaccard",
                        F.col("_i").cast("double")
                        / (F.size("_sha") + F.size("_shb") - F.col("_i")))
            .filter(F.col("jaccard") >= t)
            .select("id_a", "id_b", "jaccard"))


def simhash_from_tokens(toks: Column) -> Column:
    """32-bit SimHash from a pre-computed token array (see
    shingles_from_tokens for why staging matters: 32 per-bit aggregates would
    otherwise re-run tokenization 32×)."""

    def bit_vote(nibble_idx: int, bit_in_nibble: int):
        def merge(acc, t):
            is_set = (
                F.conv(F.substring(F.md5(t), nibble_idx, 1), 16, 10)
                .cast("int").bitwiseAND(F.lit(1 << bit_in_nibble)) > 0)
            return acc + F.when(is_set, 1).otherwise(-1)

        return F.aggregate(toks, F.lit(0), merge)

    total = F.lit(0).cast("bigint")
    for bit in range(32):
        vote = bit_vote(bit // 4 + 1, bit % 4)  # 1-based hex char position
        total = total + F.when(vote > 0, F.lit(1 << bit).cast("bigint")) \
            .otherwise(F.lit(0).cast("bigint"))
    return total


def simhash_df(df: DataFrame, text_col: str = "text", id_col: str = "id") -> DataFrame:
    """(_id, _simhash) with staged tokenization."""
    from velesdb_spark.functions.util import spread

    toks = spread(df).select(
        F.col(id_col).alias("_id"),
        word_tokens(normalized_text(F.col(text_col))).alias("_toks"))
    return toks.select("_id", simhash_from_tokens(F.col("_toks")).alias("_simhash"))


def lsh_params_for(threshold: float, target_recall: float = 0.95,
                   max_tables: int = 128) -> tuple[int, int]:
    """(nbits, tables) sized from the banded-LSH recall formula.

    Per-table collision probability for a pair at cosine t is
    p = (1 - arccos(t)/π)^b; over L tables recall = 1-(1-p)^L. Pick the
    LARGEST b (best candidate precision: random pairs collide at ~2^-b per
    table) whose required L = ceil(log(1-r)/log(1-p)) fits max_tables.
    Examples: t=0.95 → (16, 15); t=0.8 → (16, 116); t=0.5 → (8, 76)."""
    import math

    t = min(max(threshold, -1.0), 1.0)
    frac = 1.0 - math.acos(t) / math.pi
    for b in range(16, 3, -1):
        p = frac ** b
        if p >= 1.0:
            return b, 1
        if p <= 0.0:
            continue
        need = math.ceil(math.log(max(1.0 - target_recall, 1e-12))
                         / math.log(1.0 - p))
        if need <= max_tables:
            return b, max(int(need), 1)
    # very low thresholds: even b=4 cannot reach target recall within the
    # table budget — take the budget and document the shortfall in recall
    return 4, max_tables


def embedding_near_dups(df: DataFrame, threshold: float = 0.95,
                        vector_col: str = "embedding", id_col: str = "id",
                        method: str = "lsh", tables: int | None = None,
                        nbits: int | None = None, dim: int | None = None,
                        target_recall: float = 0.95) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold.

    'lsh' (default, the scale path) = banded random-hyperplane LSH: L
    independent hash tables of b sign bits each (same banding idea as
    MinHash LSH). A pair collides in one table with p = (1-θ/π)^b,
    θ = arccos(cosine); over L tables recall = 1-(1-p)^L. When nbits/tables
    are not given they are SIZED FROM THE THRESHOLD via lsh_params_for so
    recall ≥ target_recall at the decision boundary for any threshold (low
    thresholds automatically get smaller bands / more tables; passing
    explicit nbits/tables overrides). Candidates are exact-cosine verified,
    so precision is 1.0 and recall is the only approximation. Exact-direction
    duplicates (v vs c·v, c>0) are caught with provable recall 1.0: IEEE
    scaling by powers of two commutes with rounding, so every sign bit — and
    therefore every bucket in every table — is identical. Shuffle carries
    (id, table, band_hash) longs only; vectors join back for verification.

    'brute' = exact all-pairs self-join (O(N²) scores, JVM-side) — the
    oracle path, fine to ~10⁵ rows, never the default.
    """
    from velesdb_spark.functions.distance import (_as_double,
                                                  cosine_similarity)
    from velesdb_spark.functions.similarity import multi_table_buckets

    a = df.select(F.col(id_col).alias("id_a"), F.col(vector_col).alias("_va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vector_col).alias("_vb"))
    if method != "lsh":
        # 'brute': all-pairs exact. Precompute the double cast and the norm ONCE
        # per ROW (N) instead of per PAIR (N²/2). Unprojected, the
        # generic cosine ran 5 interpreted HOF aggregates per pair — and
        # the pushed threshold filter duplicated the WHOLE expression
        # into the join condition (plan-observed), doubling it again.
        # With per-side (_v double, _n norm) attributes the condition
        # and projection re-evaluate only the single dot aggregate.
        # Same expressions over the same data — values bit-identical
        # (norm = SQRT(aggregate(transform(cast), acc+x²)) exactly as
        # cosine_similarity spells it).
        def side(idname, vname, nname):
            s = df.select(F.col(id_col).alias(idname),
                          _as_double(F.col(vector_col)).alias(vname))
            return s.withColumn(nname, F.sqrt(F.aggregate(
                F.col(vname), F.lit(0.0), lambda acc, x: acc + x * x)))

        a2 = side("id_a", "_va", "_na")
        b2 = side("id_b", "_vb", "_nb")
        dot = F.aggregate(F.zip_with(F.col("_va"), F.col("_vb"),
                                     lambda x, y: x * y),
                          F.lit(0.0), lambda acc, x: acc + x)
        cos = F.when((F.col("_na") == 0.0) | (F.col("_nb") == 0.0),
                     F.lit(0.0)).otherwise(
            dot / (F.col("_na") * F.col("_nb")))
        return (a2.join(b2, F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b", cos.alias("cosine"))
                .filter(F.col("cosine") >= threshold))
    if method == "lsh":
        auto_b, auto_t = lsh_params_for(threshold, target_recall)
        nbits = nbits if nbits is not None else auto_b
        tables = tables if tables is not None else auto_t
        d = dim or len(df.select(vector_col).first()[0])

        # (id, table, bucket) postings: one Arrow matmul computes all T
        # signatures, posexplode fans them out; one row per (vector, table).
        # Staged: BOTH sides of the bucket self-join consume the postings,
        # and unpersisted each side re-runs the Arrow signature matmul over
        # the full corpus (plan-observed: 2x ArrowEvalPython per union
        # branch). The staged frame is three longs per (vector, table) —
        # the banded-LSH working set, never the vectors.
        posted = stage(df.select(
            F.col(id_col).alias("_id"),
            multi_table_buckets(F.col(vector_col), d, nbits, tables)
            .alias("_sig"))
            .select("_id", F.posexplode("_sig").alias("_t", "_b")))
        pa = posted.select(F.col("_id").alias("id_a"), "_t", "_b")
        pb = posted.select(F.col("_id").alias("id_b"), "_t", "_b")
        cand = (pa.join(pb, ["_t", "_b"])
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b").distinct())
        joined = cand.join(a, "id_a").join(b, "id_b")
    return (
        joined.select(
            "id_a", "id_b",
            cosine_similarity(F.col("_va"), F.col("_vb")).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b", max_iter: int = 25,
                         algorithm: str = "auto",
                         probe_rounds: int = 8) -> DataFrame:
    """Cluster near-duplicate pairs into components: (id, cluster_id) where
    cluster_id = the minimum member id (deterministic representative).

    Two interchangeable algorithms (property-tested equal):

    - ``min_label``: label propagation over iterative joins; every node
      starts labeled with itself, each round takes the min label in its
      closed neighborhood. Rounds ≤ graph diameter — the cheapest form
      for near-dup components, which are shallow (dozens of docs). Each
      round is one shuffle-join on the edge list + one
      map-side-combinable min-aggregate; localCheckpoint truncates the
      lineage (the standard Spark iterative-algorithm pattern).
    - ``alternating_star``: the large-star/small-star algorithm (Kiveris
      et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
      O(log² n) rounds regardless of diameter, so pathological
      chain-shaped components (linked crawl chains, transitive mirror
      sets) converge where plain propagation would need diameter rounds.
      Same per-round shape (join + min-agg on the shrinking edge set).
    - ``auto`` (default, round 8): the probe IS min_label itself —
      propagate for ``probe_rounds`` rounds; convergence there means the
      graph was shallow and the (correct, complete) labels are returned
      as-is, no work wasted. No convergence means a deep component, so
      switch to alternating_star for the diameter-independent bound.
      Structural probes (max degree etc.) can't see depth — a chain is
      all degree-2 — so convergence behavior is the honest signal.
      Callers no longer need to know the flag to be safe at 100 TB.
    """
    if algorithm == "auto":
        out, converged = _cc_min_label(pairs, id_a, id_b, probe_rounds)
        if converged:
            return out
        return _cc_alternating_star(pairs, id_a, id_b, max_iter)
    if algorithm == "alternating_star":
        return _cc_alternating_star(pairs, id_a, id_b, max_iter)
    if algorithm != "min_label":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    return _cc_min_label(pairs, id_a, id_b, max_iter)[0]


def _cc_min_label(pairs: DataFrame, id_a: str, id_b: str,
                  max_iter: int) -> tuple:
    """(labels, converged): min-label propagation; converged=False means
    the round budget ran out with labels still moving (deep graph)."""
    converged = False
    edges = (pairs.select(F.col(id_a).alias("_src"), F.col(id_b).alias("_dst"))
             .union(pairs.select(F.col(id_b).alias("_src"),
                                 F.col(id_a).alias("_dst")))
             .distinct()
             .persist())
    labels = (edges.select(F.col("_src").alias("_id")).distinct()
              .withColumn("_lbl", F.col("_id"))
              .localCheckpoint())
    for _ in range(max_iter):
        # neighbor labels: for each edge (src → dst), dst's label flows
        # to src. hint("merge"): a localCheckpoint-ed labels frame has no
        # size statistics, so Catalyst would BROADCAST it — at 500k-doc
        # pair graphs the build blew an 8g driver (round-10 zipf10 run).
        # Sort-merge scales unconditionally; per-round cost is one
        # edge-list shuffle either way.
        nbr = (edges.join(labels.withColumnRenamed("_id", "_dst")
                          .hint("merge"), "_dst")
               .select(F.col("_src").alias("_id"), "_lbl"))
        # checkpoint BEFORE the convergence probe so each round materializes
        # the new labels exactly once (the probe and the next round both
        # read the checkpointed result)
        new_labels = (labels.union(nbr)
                      .groupBy("_id").agg(F.min("_lbl").alias("_lbl"))
                      .localCheckpoint())
        changed = (new_labels.alias("n")
                   .join(labels.alias("o").hint("merge"), "_id")
                   .filter(F.col("n._lbl") != F.col("o._lbl"))
                   .limit(1).count())
        labels = new_labels
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    return (labels.select(F.col("_id").alias("id"),
                          F.col("_lbl").alias("cluster_id")), converged)


def _cc_alternating_star(pairs: DataFrame, id_a: str, id_b: str,
                         max_iter: int) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.):

    - large-star: every neighbor LARGER than u is re-linked to the min of
      u's closed neighborhood (cuts long tails toward local minima);
    - small-star: every neighbor ≤ u (and u itself) links to that min
      (collapses the remainder into stars).

    The edge set is kept canonical ((min, max), distinct) between phases;
    at the fixed point it is exactly star edges (component-min, member).
    Convergence in O(log² n) phases independent of diameter; each phase
    is one min-aggregate + one equi-join on the current (shrinking) edge
    set, checkpointed so plans stay flat."""
    canon = (pairs.select(F.least(F.col(id_a), F.col(id_b)).alias("_a"),
                          F.greatest(F.col(id_a), F.col(id_b)).alias("_b"))
             .filter(F.col("_a") != F.col("_b"))
             .distinct().localCheckpoint())
    all_nodes = (canon.select(F.col("_a").alias("_id"))
                 .union(canon.select(F.col("_b").alias("_id")))
                 .distinct().localCheckpoint())

    def _sym(e: DataFrame) -> DataFrame:
        return (e.select(F.col("_a").alias("_u"), F.col("_b").alias("_v"))
                .union(e.select(F.col("_b").alias("_u"),
                                F.col("_a").alias("_v"))))

    def _mins(sym: DataFrame) -> DataFrame:
        return (sym.groupBy("_u").agg(F.min("_v").alias("_mv"))
                .select("_u", F.least("_u", F.col("_mv")).alias("_m")))

    def _canon(e: DataFrame) -> DataFrame:
        return (e.filter(F.col("_x") != F.col("_y"))
                .select(F.least("_x", "_y").alias("_a"),
                        F.greatest("_x", "_y").alias("_b"))
                .distinct())

    def _probe(e: DataFrame):
        # order-insensitive set checksum (edges are distinct): xor never
        # overflows, unlike a sum under ANSI arithmetic
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("_a", "_b")).alias("h")).first()
        return (row["n"], row["h"])

    sig = _probe(canon)
    for _ in range(max_iter):
        sym = _sym(canon)
        mins = _mins(sym)
        # large-star: (v, m(u)) for v > u
        large = (sym.filter(F.col("_v") > F.col("_u"))
                 .join(mins.hint("merge"), "_u")
                 .select(F.col("_v").alias("_x"), F.col("_m").alias("_y")))
        canon = _canon(large).localCheckpoint()
        sym = _sym(canon)
        mins = _mins(sym)
        # small-star: (v, m(u)) for v < u, plus (u, m(u))
        small = (sym.filter(F.col("_v") < F.col("_u"))
                 .join(mins.hint("merge"), "_u")
                 .select(F.col("_v").alias("_x"), F.col("_m").alias("_y"))
                 .union(mins.select(F.col("_u").alias("_x"),
                                    F.col("_m").alias("_y"))))
        canon = _canon(small).localCheckpoint()
        new_sig = _probe(canon)
        if new_sig == sig:
            break
        sig = new_sig
    # fixed point = stars (component-min, member); isolated former nodes
    # (their whole component collapsed onto them) label themselves.
    # min-agg instead of a raw projection so a max_iter bailout still
    # yields one (deterministic) label per node.
    member = (canon.groupBy("_b").agg(F.min("_a").alias("_lbl"))
              .select(F.col("_b").alias("_id"), "_lbl"))
    labels = (all_nodes.join(member.hint("merge"), "_id", "left")
              .select("_id", F.coalesce("_lbl", F.col("_id")).alias("_lbl")))
    return labels.select(F.col("_id").alias("id"),
                         F.col("_lbl").alias("cluster_id"))


def dedup_keep_representatives(df: DataFrame, pairs: DataFrame,
                               id_col: str = "id",
                               prefer_col: Optional[str] = None,
                               prefer: str = "max") -> DataFrame:
    """Drop every near-duplicate except one representative per
    component: the keep/drop decision layer over any pair generator
    (minhash, ngram, embedding). Docs in no pair are kept.

    Default representative = minimum id (deterministic, join-free).
    ``prefer_col`` picks by QUALITY instead — e.g. keep the longest /
    highest-quality-score version of each near-dup set, the policy real
    corpus curation wants — with ``prefer`` 'max' or 'min' and min-id
    tie-break. The per-component argmax is a window over the component
    table (components only — tiny next to the corpus), not the corpus."""
    if prefer not in ("max", "min"):
        raise ValueError("prefer must be 'max' or 'min'")
    cc = connected_components(pairs)
    if prefer_col is None:
        drop = cc.filter(F.col("id") != F.col("cluster_id")).select("id")
    else:
        from pyspark.sql import Window

        scored = cc.join(
            df.select(F.col(id_col).alias("id"),
                      F.col(prefer_col).alias("_score")), "id")
        order = [F.desc("_score") if prefer == "max" else F.asc("_score"),
                 F.asc("id")]
        drop = (scored.withColumn(
            "_rn", F.row_number().over(
                Window.partitionBy("cluster_id").orderBy(*order)))
            .filter(F.col("_rn") > 1).select("id"))
    return df.join(drop.withColumnRenamed("id", id_col),
                   on=id_col, how="left_anti")
