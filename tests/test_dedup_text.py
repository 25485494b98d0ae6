"""Dedup + text-analysis operators: self-consistency and Spark↔DuckDB hash
parity (the md5-based fingerprints must be identical in both engines — this
is what makes the driver's oracle checks possible)."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, assert_matches_oracle
from velesdb_spark.functions import dedup, text_analysis as ta


@pytest.fixture(scope="module")
def docs(catalog):
    return catalog.resolve("documents").df


def test_fingerprint_parity(docs, duck):
    sdf = docs.select("doc_id", dedup.content_fingerprint(F.col("text")).alias("fp")) \
        .orderBy("doc_id").limit(50)
    assert_matches_oracle(sdf, duck, r"""
        SELECT doc_id, CAST(('0x' || substr(md5(
            trim(regexp_replace(regexp_replace(lower(text), '[^\p{L}\p{N}\s]', ' ', 'g'),
                 '\s+', ' ', 'g'))), 1, 15)) AS BIGINT) AS fp
        FROM documents ORDER BY doc_id LIMIT 50""")


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World!"), (2, "hello world"), (3, "different text")],
        "id bigint, text string")
    out = {r.id: r.dup_count for r in dedup.exact_dedup(df).collect()}
    assert out == {1: 2, 3: 1}  # 1 and 2 normalize identically


def test_minhash_near_dups(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "the quick brown fox jumps over the lazy dog today"),  # near-dup of 1
        (3, "completely unrelated content about spark and databases"),
        (4, "the quick brown fox jumps over the lazy dog tonight"),  # exact dup of 1
    ]
    df = spark.createDataFrame(rows, "id bigint, text string")
    pairs = dedup.minhash_dedup_pairs(df, threshold=0.5).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 4) in got
    assert (1, 2) in got or (2, 4) in got
    assert not any(3 in p for p in got)


def test_ngram_jaccard_pairs(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta zeta"),
        (3, "one two three four five"),
    ]
    df = spark.createDataFrame(rows, "id bigint, text string")
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in dedup.ngram_jaccard_pairs(df, threshold=0.1).collect()}
    assert (1, 2) in pairs
    # shingles(1) = {abg, bgd, gde}; shingles(2) = {abg, bgd, gdz}; J = 2/4
    assert abs(pairs[(1, 2)] - 0.5) < 1e-12
    assert (1, 3) not in pairs


def test_embedding_near_dups_brute_vs_lsh(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "id bigint, embedding array<float>")
    brute = {(r.id_a, r.id_b) for r in
             dedup.embedding_near_dups(df, 0.99, method="brute").collect()}
    assert brute == {(1, 2)}
    lsh = {(r.id_a, r.id_b) for r in
           dedup.embedding_near_dups(df, 0.99, method="lsh").collect()}
    assert lsh <= brute  # LSH is a recall-trading subset
    # banded LSH at b=8, L=16 has recall 1-(1-(1-θ/π)^8)^16 ≈ 0.9999 at
    # cosine .99 — on 3 rows it must find the pair
    assert lsh == brute


def test_embedding_lsh_exact_direction_recall_one(spark):
    """Planted exact-direction duplicates (0.5·v, float-exact) collide in
    every hash table: LSH recall is provably 1.0, result == brute."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = [(i, rng.randn(16).astype("float32").tolist()) for i in range(40)]
    dup = [(i + 1000, [x * 0.5 for x in v]) for i, v in base]
    df = spark.createDataFrame(base + dup,
                               "id bigint, embedding array<float>")
    lsh = {(r.id_a, r.id_b) for r in
           dedup.embedding_near_dups(df, 0.999, method="lsh", dim=16).collect()}
    brute = {(r.id_a, r.id_b) for r in
             dedup.embedding_near_dups(df, 0.999, method="brute").collect()}
    assert {(i, i + 1000) for i, _ in base} <= lsh
    assert lsh == brute


def test_lsh_params_autoscale():
    """nbits/tables sized from the recall formula: low thresholds get more
    tables (or smaller bands), and the promised recall holds analytically."""
    import math

    for t in (0.5, 0.8, 0.9, 0.95, 0.99, 0.999):
        b, L = dedup.lsh_params_for(t, target_recall=0.95)
        p = (1 - math.acos(t) / math.pi) ** b
        recall = 1 - (1 - p) ** L
        assert recall >= 0.95, (t, b, L, recall)
        assert L <= 128
    # tables must grow as the threshold drops (harder problem)
    _, l_hi = dedup.lsh_params_for(0.95)
    _, l_lo = dedup.lsh_params_for(0.5)
    assert l_lo > l_hi


def test_token_count_parity(docs, duck):
    sdf = docs.select("doc_id", ta.token_count(F.col("text")).alias("n_tokens")) \
        .orderBy("doc_id").limit(100)
    assert_matches_oracle(sdf, duck, r"""
        SELECT doc_id, len(list_filter(regexp_split_to_array(lower(text),
            '[^\p{L}\p{N}]+'), x -> x != '')) AS n_tokens
        FROM documents ORDER BY doc_id LIMIT 100""")


def test_quality_and_langid(docs):
    out = docs.select(
        "doc_id",
        ta.quality_score(F.col("text")).alias("q"),
        ta.lang_id(F.col("text")).alias("lang"),
    ).collect()
    assert all(0.0 <= r.q <= 1.0 for r in out)
    assert {r.lang for r in out} <= {"en", "es", "fr", "de", "zh", "und"}


def test_lang_id_basic(spark):
    rows = [
        (1, "the cat and the dog is in that house for it"),
        (2, "el gato y la casa de que los en un una por"),
        (3, "le chat et la maison des les de du dans"),
        (4, "xyzzy plugh"),
    ]
    df = spark.createDataFrame(rows, "id bigint, text string")
    got = {r.id: r.lang for r in
           df.select("id", ta.lang_id(F.col("text")).alias("lang")).collect()}
    assert got[1] == "en" and got[2] == "es" and got[3] == "fr" and got[4] == "und"


def test_similarity_lsh_recall(catalog):
    from velesdb_spark.functions.similarity import LshIndex
    from velesdb_spark.operators.topk import knn

    import numpy as np

    df = catalog.resolve("embeddings").df
    rng = np.random.RandomState(3)
    q = rng.randn(64).tolist()
    exact = [r.vec_id for r in
             knn(df, q, 10, "cosine", "embedding", "vec_id").collect()]
    idx = LshIndex(df, "embedding", "vec_id", nbits=4)
    approx = [r.vec_id for r in idx.search(q, 10, multiprobe=2).collect()]
    # ~2^4 buckets over 500 vecs, 3 probed → recall is imperfect but nonzero
    assert len(set(exact) & set(approx)) >= 3


def test_ivf_index_search(spark):
    """IVF probes the nprobe nearest centroid lists and re-ranks exactly;
    with nprobe == n_centroids it must equal exact brute-force top-k."""
    import numpy as np

    from velesdb_spark.functions.similarity import IvfIndex
    from velesdb_spark.operators.topk import knn

    rng = np.random.RandomState(5)
    rows = [(i, [float(round(x, 4)) for x in rng.randn(8)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    q = [float(round(x, 4)) for x in rng.randn(8)]

    idx = IvfIndex(df, "embedding", "vec_id", n_centroids=4)
    got = [(r.vec_id, round(r.score, 6))
           for r in idx.search(q, 5, nprobe=4).collect()]
    want = [(r.vec_id, round(r.score, 6))
            for r in knn(df, q, 5, "cosine", "embedding", "vec_id").collect()]
    assert got == want


def test_ivf_gemm_matches_expr_paths(spark):
    """The Arrow-gemm assignment/probe paths (large nlist) must agree with
    the codegen'd expression paths (small nlist) exactly — same squared-L2
    argmin, same first-index / (distance, id) tie order."""
    import numpy as np

    from velesdb_spark.functions import similarity as S

    rng = np.random.RandomState(11)
    rows = [(i, [float(round(x, 4)) for x in rng.randn(8)]) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    cents = rng.randn(6, 8).round(4)

    expr_assign = {r.vec_id: r.l for r in df.select(
        "vec_id", S._nearest_centroid_expr(F.col("embedding"), cents)
        .alias("l")).collect()}
    gemm_assign = {r.vec_id: r.l for r in df.select(
        "vec_id", S._nearest_centroid_gemm(F.col("embedding"), cents)
        .alias("l")).collect()}
    assert expr_assign == gemm_assign

    expr_probe = {r.vec_id: list(r.ls) for r in df.select(
        "vec_id", S._nprobe_lists_expr(F.col("embedding"), cents, 3)
        .alias("ls")).collect()}
    gemm_probe = {r.vec_id: list(r.ls) for r in df.select(
        "vec_id", S._nprobe_lists_gemm(F.col("embedding"), cents, 3)
        .alias("ls")).collect()}
    assert expr_probe == gemm_probe


def test_ivf_large_nlist_plan_scales(spark):
    """nlist=1024 must dispatch to the gemm path: the analyzed plan stays
    small and builds fast (the expression path would emit 1024 aggregate
    terms and blow codegen limits), and search still returns sane top-k."""
    import time

    import numpy as np

    from velesdb_spark.functions import similarity as S
    from velesdb_spark.functions.similarity import IvfIndex

    rng = np.random.RandomState(7)
    rows = [(i, [float(round(x, 4)) for x in rng.randn(8)])
            for i in range(2000)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")

    t0 = time.monotonic()
    idx = IvfIndex(df, "embedding", "vec_id", n_centroids=1024,
                   train_sample=2000)
    plan = idx.assigned._jdf.queryExecution().analyzed().toString()
    build_s = time.monotonic() - t0
    assert len(idx.centroids) == 1024
    assert "pythonUDF" in plan or "_assign" in plan  # gemm path taken
    assert len(plan) < 20_000      # constant-size plan, not O(nlist) terms
    assert build_s < 60

    q = [float(round(x, 4)) for x in rng.randn(8)]
    got = idx.search(q, 5, nprobe=64).collect()
    assert len(got) == 5
    assert got == sorted(got, key=lambda r: (-r.score, r.vec_id))


def test_connected_components_vs_union_find(spark):
    """Min-label propagation equals a reference union-find on a graph with
    a chain, a triangle, an isolated pair, and a star."""
    from velesdb_spark.functions.dedup import connected_components

    pairs = [(1, 2), (2, 3), (3, 4),          # chain 1-2-3-4
             (10, 11), (11, 12), (10, 12),    # triangle
             (20, 21),                        # pair
             (30, 31), (30, 32), (30, 33)]    # star
    pdf = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
    got = {r.id: r.cluster_id
           for r in connected_components(pdf).collect()}

    # reference union-find
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in pairs:
        union(a, b)
    want = {x: find(x) for x in parent}
    assert got == want


def test_alternating_star_equals_min_label(spark):
    """large-star/small-star CC must produce exactly the same
    (id, cluster_id) map as min-label propagation — on random graphs and
    on a deep chain (the shape alternating-star exists for: its O(log² n)
    rounds beat propagation's diameter rounds there)."""
    import random

    from velesdb_spark.functions.dedup import connected_components

    def uf_labels(pairs):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {x: find(x) for x in parent}

    rng = random.Random(7)
    graphs = [[(i, i + 1) for i in range(60)]]          # 61-node chain
    for _ in range(4):
        n = rng.randint(8, 40)
        m = rng.randint(4, 50)
        graphs.append([(rng.randint(0, n), rng.randint(0, n))
                       for _ in range(m)])
    for pairs in graphs:
        pairs = [(a, b) for a, b in pairs if a != b] or [(0, 1)]
        pdf = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
        star = {r.id: r.cluster_id
                for r in connected_components(
                    pdf, algorithm="alternating_star").collect()}
        prop = {r.id: r.cluster_id
                for r in connected_components(
                    pdf, max_iter=70, algorithm="min_label").collect()}
        assert star == prop == uf_labels(pairs), pairs


def test_connected_components_auto_strategy(spark):
    """algorithm='auto' (the round-8 default) must equal BOTH fixed
    algorithms on a star (shallow: the min_label probe converges and its
    labels are returned) and a deep chain (the probe budget runs out →
    alternating_star takes over). Probing must never return the
    incomplete mid-propagation labels."""
    from velesdb_spark.functions.dedup import connected_components

    star_pairs = [(0, i) for i in range(1, 30)]
    chain_pairs = [(i, i + 1) for i in range(60)]       # diameter 60 > 8
    both = star_pairs + [(100 + i, 101 + i) for i in range(40)]
    for pairs in (star_pairs, chain_pairs, both):
        pdf = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
        auto = {r.id: r.cluster_id
                for r in connected_components(pdf).collect()}
        ml = {r.id: r.cluster_id
              for r in connected_components(
                  pdf, max_iter=100, algorithm="min_label").collect()}
        st = {r.id: r.cluster_id
              for r in connected_components(
                  pdf, algorithm="alternating_star").collect()}
        assert auto == ml == st, pairs[:3]
        # every cluster label is the component min (complete propagation)
        assert all(cid <= i for i, cid in auto.items())


def test_dedup_keep_representatives(spark):
    from velesdb_spark.functions.dedup import dedup_keep_representatives

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in [1, 2, 3, 10, 11, 99]],
        "id bigint, text string")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a bigint, id_b bigint")
    kept = sorted(r.id for r in
                  dedup_keep_representatives(df, pairs).collect())
    # components {1,2,3} and {10,11} keep their min; 99 untouched
    assert kept == [1, 10, 99]


def test_chunk_tokens_windows(spark):
    from velesdb_spark.functions.text_analysis import chunk_documents_df

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j"),   # 10 tokens
         (2, "x y"),                   # shorter than one chunk
         (3, ""),                      # no chunks
         (4, None)],                   # no chunks
        "id bigint, text string")
    out = chunk_documents_df(df, chunk_size=4, overlap=1, id_col="id")
    rows = {(r._id, r.chunk_idx): (r.chunk_text, r.chunk_tokens)
            for r in out.collect()}
    # stride 3, starts while s <= max(10-1,1)=9 → 1,4,7
    assert rows[(1, 0)] == ("a b c d", 4)
    assert rows[(1, 1)] == ("d e f g", 4)
    assert rows[(1, 2)] == ("g h i j", 4)
    assert rows[(2, 0)] == ("x y", 2)
    assert not any(k[0] in (3, 4) for k in rows)
    assert len(rows) == 4

    import pytest as _pt
    with _pt.raises(ValueError):
        chunk_documents_df(df, chunk_size=4, overlap=4)


def test_pii_scrub(spark):
    from velesdb_spark.functions.text_analysis import pii_scrub

    df = spark.createDataFrame(
        [(1, "mail bob.smith+x@corp.example.org now"),
         (2, "ssn 123-45-6789 phone (555) 123-4567 alt 555-123-4567"),
         (3, "server at 10.0.255.3 port"),
         (4, "clean text stays clean")],
        "id bigint, text string")
    got = {r.id: r.s for r in
           df.select("id", pii_scrub(F.col("text")).alias("s")).collect()}
    assert got[1] == "mail [EMAIL] now"
    assert got[2] == "ssn [SSN] phone [PHONE] alt [PHONE]"
    assert got[3] == "server at [IP] port"
    assert got[4] == "clean text stays clean"


def test_ngram_jaccard_max_shingle_df_cap(spark):
    """Cap OFF (or above every df) is exact; cap ON drops only candidates
    whose overlap ran through stop-shingles and never raises a pair's
    jaccard — bounded loss, no false positives (dedup.py max_shingle_df)."""
    import random

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(1, 25):
        words = [rng.choice(vocab) for _ in range(12)]
        # every doc shares one boilerplate trigram → a df=24 stop-shingle
        rows.append((i, "common boiler plate " + " ".join(words)))
    # one true near-dup pair that also shares non-boilerplate content
    rows.append((100, "common boiler plate unique body text here now"))
    rows.append((101, "common boiler plate unique body text here soon"))
    df = spark.createDataFrame(rows, "id bigint, text string")

    exact = {(r.id_a, r.id_b): r.jaccard
             for r in dedup.ngram_jaccard_pairs(df, threshold=0.05).collect()}
    dedup.release_staged()
    # a cap above the max df changes nothing (recall preserved when off)
    loose = {(r.id_a, r.id_b): r.jaccard
             for r in dedup.ngram_jaccard_pairs(
                 df, threshold=0.05, max_shingle_df=10_000).collect()}
    dedup.release_staged()
    assert loose == exact

    capped = {(r.id_a, r.id_b): r.jaccard
              for r in dedup.ngram_jaccard_pairs(
                  df, threshold=0.05, max_shingle_df=5).collect()}
    dedup.release_staged()
    # subset: no new pairs, and no pair's jaccard went UP
    assert set(capped) <= set(exact)
    for k, v in capped.items():
        assert v <= exact[k] + 1e-12
    # the true near-dups share sub-cap shingles → still found
    assert (100, 101) in capped


def test_ngram_prefix_filter_equals_plain_path(spark):
    """prefix_filter=True must return EXACTLY the plain inverted-index
    result — same pairs, same jaccard values — across thresholds and on
    real corpus text (Vernica prefix theorem; candidate pruning may
    never lose a qualifying pair)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .filter(F.col("doc_id") < 120) \
        .select(F.col("doc_id").alias("id"), "text")
    for t in (0.15, 0.3, 0.5, 0.8):
        plain = {(r.id_a, r.id_b): round(r.jaccard, 9) for r in
                 dedup.ngram_jaccard_pairs(docs, t).collect()}
        pref = {(r.id_a, r.id_b): round(r.jaccard, 9) for r in
                dedup.ngram_jaccard_pairs(docs, t,
                                          prefix_filter=True).collect()}
        dedup.release_staged()
        assert pref == plain, f"t={t}: {len(pref)} vs {len(plain)}"
    # synthetic near-dup set at a high threshold (prefix len 1-2)
    rows = [(1, "a b c d e f g h i j k l"),
            (2, "a b c d e f g h i j k m"),
            (3, "a b c d e f g h i j k l"),
            (4, "z y x w v u t s r q p o")]
    df = spark.createDataFrame(rows, "id bigint, text string")
    for t in (0.6, 0.9):
        plain = {(r.id_a, r.id_b): round(r.jaccard, 9) for r in
                 dedup.ngram_jaccard_pairs(df, t).collect()}
        pref = {(r.id_a, r.id_b): round(r.jaccard, 9) for r in
                dedup.ngram_jaccard_pairs(df, t,
                                          prefix_filter=True).collect()}
        dedup.release_staged()
        assert pref == plain and (1, 3) in pref
    with pytest.raises(ValueError):
        dedup.ngram_jaccard_pairs(df, 0.5, prefix_filter=True,
                                  max_shingle_df=10)


def test_ngram_prefix_filter_collapses_candidates_on_zipf_corpus(spark):
    """The prefix join's value proposition, measured deterministically:
    on an open Zipfian vocabulary (real-corpus shape — most shingles
    rare), prefix candidates collapse vs the plain Σ df·(df−1)/2
    all-pairs count, because per-doc prefixes keep only the RAREST
    shingles. Counts, not wall-clock, so the assertion can't flake."""
    import random

    from velesdb_spark.functions.dedup import (_prefix_candidates,
                                               staged_shingles)

    rng = random.Random(7)
    # Zipf-ish: word w drawn with p ∝ 1/rank over a 20k vocab
    vocab = [f"w{i}" for i in range(20_000)]
    weights = [1.0 / (i + 1) for i in range(len(vocab))]
    docs = [(i, " ".join(rng.choices(vocab, weights=weights, k=40)))
            for i in range(800)]
    df = spark.createDataFrame(docs, "id bigint, text string")
    base = staged_shingles(df, "text", "id").persist()
    ex = base.select("_id", F.size("_sh").alias("_sz"),
                     F.explode("_sh").alias("_s")) \
        .withColumn("_s", F.xxhash64("_s"))
    plain_cand = (ex.groupBy("_s").count()
                  .agg(F.sum(F.expr("count * (count - 1) / 2")))
                  .first()[0])
    prefix_cand = _prefix_candidates(ex, 0.8).count()
    base.unpersist()
    assert plain_cand > 0 and prefix_cand >= 0
    # rarest-first prefixes must cut candidates by well over an order
    # of magnitude at t=0.8 on this vocabulary shape
    assert prefix_cand * 10 < plain_cand, (prefix_cand, plain_cand)


def test_ngram_auto_strategy_picks_by_df_and_matches_both(spark):
    """prefix_filter=None (the default) probes the shingle-df
    distribution: open Zipf vocabulary (rare shingles df≈1) → prefix
    path; closed vocabulary (every shingle common) → plain path. Both
    paths are exact, so auto must equal BOTH forced strategies on BOTH
    corpus shapes — the strategy choice can never change results."""
    import random

    from velesdb_spark.functions.dedup import (_probe_prefix_wins,
                                               staged_shingles)

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(20_000)]
    weights = [1.0 / (i + 1) for i in range(len(vocab))]
    zipf_rows = [(i, " ".join(rng.choices(vocab, weights=weights, k=30)))
                 for i in range(300)]
    # planted near-dup so the zipf corpus has a real qualifying pair
    zipf_rows.append((9001, zipf_rows[0][1] + " tail token probe"))
    closed_rows = [(i, " ".join(rng.choices(
        ["a", "b", "c", "d", "e", "f", "g", "h"], k=25)))
        for i in range(200)]

    def probe(rows):
        df = spark.createDataFrame(rows, "id bigint, text string")
        base = staged_shingles(df, "text", "id")
        ex = base.select("_id", F.size("_sh").alias("_sz"),
                         F.explode("_sh").alias("_s")) \
            .withColumn("_s", F.xxhash64("_s"))
        return _probe_prefix_wins(ex)

    assert probe(zipf_rows) is True
    assert probe(closed_rows) is False

    for rows, t in ((zipf_rows, 0.6), (closed_rows, 0.3)):
        df = spark.createDataFrame(rows, "id bigint, text string")
        auto = {(r.id_a, r.id_b): round(r.jaccard, 9) for r in
                dedup.ngram_jaccard_pairs(df, t).collect()}
        plain = {(r.id_a, r.id_b): round(r.jaccard, 9) for r in
                 dedup.ngram_jaccard_pairs(
                     df, t, prefix_filter=False).collect()}
        pref = {(r.id_a, r.id_b): round(r.jaccard, 9) for r in
                dedup.ngram_jaccard_pairs(
                    df, t, prefix_filter=True).collect()}
        dedup.release_staged()
        assert auto == plain == pref
        if rows is zipf_rows:
            assert (0, 9001) in auto   # the planted near-dup survives
    # auto + explicit df cap resolves to the capped plain path (no raise)
    capped = dedup.ngram_jaccard_pairs(
        spark.createDataFrame(closed_rows, "id bigint, text string"),
        0.3, max_shingle_df=50)
    assert capped.columns == ["id_a", "id_b", "jaccard"]
    dedup.release_staged()


def test_ngram_auto_probe_memoized_per_corpus(spark):
    """The auto-strategy probe is corpus statistics, memoized by the
    logical plan's semanticHash (ANALYZE-TABLE spirit): repeated calls
    over the same corpus pay the probe aggregate once, and memoization
    can never change results because both strategies are exact."""
    from velesdb_spark.functions import dedup as dd

    rows = [(i, f"alpha beta gamma delta epsilon {i % 7}")
            for i in range(40)]
    df = spark.createDataFrame(rows, "id bigint, text string")
    calls = {"n": 0}
    real = dd._probe_prefix_wins

    dd._PROBE_CACHE.clear()
    def counting(ex):
        calls["n"] += 1
        return real(ex)
    dd._probe_prefix_wins = counting
    try:
        first = {(r.id_a, r.id_b) for r in
                 dd.ngram_jaccard_pairs(df, 0.4).collect()}
        second = {(r.id_a, r.id_b) for r in
                  dd.ngram_jaccard_pairs(df, 0.4).collect()}
    finally:
        dd._probe_prefix_wins = real
        dd.release_staged()
    assert first == second
    assert calls["n"] == 1, calls


def test_dedup_keep_best_prefers_quality_over_min_id(spark):
    """prefer_col flips the representative: min-id keeps doc 1, but
    keep-longest keeps doc 2 (higher id, longer text); ties fall back
    to min id; unpaired docs always survive."""
    rows = [(1, "a b c d e f g h i j"),
            (2, "a b c d e f g h i j k l"),     # longer near-dup of 1
            (3, "z y x w v u t s r q")]
    df = spark.createDataFrame(rows, "id bigint, text string") \
        .withColumn("qlen", F.length("text"))
    pairs = dedup.ngram_jaccard_pairs(df, 0.5, "text", "id")
    min_id = {r.id for r in
              dedup.dedup_keep_representatives(df, pairs, "id").collect()}
    best = {r.id for r in dedup.dedup_keep_representatives(
        df, pairs, "id", prefer_col="qlen").collect()}
    dedup.release_staged()
    assert min_id == {1, 3}
    assert best == {2, 3}
    with pytest.raises(ValueError):
        dedup.dedup_keep_representatives(df, pairs, "id",
                                         prefer_col="qlen", prefer="avg")


def test_ngram_pairs_staging_respects_cap(spark, monkeypatch):
    """ngram_jaccard_pairs registers its shingle frame through
    staging.stage(), so the registry's MAX_STAGED eviction bounds it: a
    session running many distinct near-dup queries cannot pile up one
    cached frame per query."""
    from velesdb_spark.functions import staging

    staging.release_staged()
    monkeypatch.setattr(staging, "MAX_STAGED", 2)
    try:
        for i in range(3):
            df = spark.createDataFrame(
                [(1, f"alpha beta gamma delta {i}"),
                 (2, f"alpha beta gamma delta epsilon {i}")],
                "id bigint, text string")
            dedup.ngram_jaccard_pairs(df, 0.3).collect()
            assert staging.staged_count() <= 2
    finally:
        staging.release_staged()


def test_weighted_sample_proportions_and_determinism(spark):
    """Max-of-w-hashes weighted sampling: P(top pick) proportional to
    weight — verified empirically over many seeds — plus exact
    determinism for a fixed seed and the plan staying a top-k."""
    from velesdb_spark.functions.sampling import (weighted_key,
                                                  weighted_sample_topk)

    rows = [(1, 9), (2, 3), (3, 3), (4, 1)]   # weights sum 16
    df = spark.createDataFrame(rows, "id bigint, w bigint")
    # empirical pick frequency across 300 seeds (driver-side md5 twin)
    import hashlib
    wins = {i: 0 for i, _ in rows}
    for s in range(300):
        best = max(
            ((max(hashlib.md5(f"s{s}:{i}:{j}".encode()).hexdigest()
                  for j in range(1, w + 1)), i) for i, w in rows))
        wins[best[1]] += 1
    assert wins[1] > wins[2] > wins[4]
    assert 0.40 < wins[1] / 300 < 0.72          # expect 9/16 = 0.56
    # engine key == driver twin for one seed
    got = {r.id: r.k for r in df.select(
        "id", weighted_key(F.col("id"), F.col("w"), "s7", 64)
        .alias("k")).collect()}
    for i, w in rows:
        twin = max(hashlib.md5(f"s7:{i}:{j}".encode()).hexdigest()
                   for j in range(1, w + 1))
        assert got[i] == twin
    out1 = [r.id for r in weighted_sample_topk(df, 2, "w", "id").collect()]
    out2 = [r.id for r in weighted_sample_topk(df, 2, "w", "id").collect()]
    assert out1 == out2 and len(out1) == 2


def test_training_mix_hits_target_shares(spark):
    """make_mixture downsamples strata to the target proportions at the
    largest achievable total; untargeted strata drop entirely; bad
    targets raise."""
    from velesdb_spark.functions.mixture import make_mixture, mixture_rates

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    mixed = make_mixture(docs, "lang", {"en": 0.5, "zh": 0.2, "es": 0.3},
                         id_col="doc_id")
    got = {r.lang: r.n for r in
           mixed.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert set(got) <= {"en", "zh", "es"}      # de/fr dropped
    total = sum(got.values())
    # achieved shares within md5-bucket sampling noise of the targets
    assert abs(got["en"] / total - 0.5) < 0.08
    assert abs(got["zh"] / total - 0.2) < 0.08
    assert abs(got["es"] / total - 0.3) < 0.08
    # the binding stratum (smallest n/share) keeps ~everything
    counts = {r[0]: r[1] for r in docs.groupBy("lang").count().collect()}
    rates = mixture_rates(counts, {"en": 0.5, "zh": 0.2, "es": 0.3})
    assert max(rates.values()) >= 9900          # ~10000 bp = keep all
    with pytest.raises(ValueError):
        mixture_rates(counts, {"en": 0.5})      # shares must sum to 1
    with pytest.raises(ValueError):
        mixture_rates(counts, {"klingon": 1.0})
