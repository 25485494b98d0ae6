"""Quality metrics (metrics.rs parity), Structured Streaming, multimodal."""

import math

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from velesdb_spark import metrics as M


# ------------------------------------------------------------ metrics

def test_recall_precision_mrr_lists():
    truth = [1, 2, 3, 4]
    results = [2, 9, 1, 7]
    assert M.recall_at_k(truth, results) == 0.5
    assert M.precision_at_k(truth, results) == 0.5
    assert M.mrr(truth, results) == 1.0
    assert M.mrr(truth, [9, 7, 3]) == pytest.approx(1 / 3)
    assert M.recall_at_k([], results) == 0.0
    assert M.precision_at_k(truth, []) == 0.0


def test_ndcg():
    rels = [3.0, 2.0, 3.0, 0.0, 1.0, 2.0]
    dcg = sum((2 ** r - 1) / math.log2(i + 2) for i, r in enumerate(rels))
    ideal = sorted(rels, reverse=True)
    idcg = sum((2 ** r - 1) / math.log2(i + 2) for i, r in enumerate(ideal))
    assert M.ndcg_at_k(rels, 6) == pytest.approx(dcg / idcg)
    assert M.ndcg_at_k([1.0, 2.0], 2) < 1.0
    assert M.ndcg_at_k([2.0, 1.0], 2) == 1.0
    assert M.ndcg_at_k([], 5) == 0.0


def test_metrics_df(spark):
    results = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3),
         (2, 20, 1), (2, 21, 2)],
        "qid bigint, id bigint, rank int")
    truth = spark.createDataFrame(
        [(1, 10), (1, 12), (1, 99), (2, 77)], "qid bigint, id bigint")
    out = {r.qid: r for r in M.recall_precision_mrr_df(results, truth).collect()}
    assert out[1].recall == pytest.approx(2 / 3)
    assert out[1].precision == pytest.approx(2 / 3)
    assert out[1].mrr == pytest.approx(1.0)
    assert out[2].recall == 0.0 and out[2].mrr == 0.0


def test_lsh_recall_evaluation(catalog):
    """Quality loop: ANN recall measured against the engine's own exact k-NN."""
    import numpy as np

    from velesdb_spark.functions.similarity import LshIndex

    df = catalog.resolve("embeddings").df
    rng = np.random.RandomState(5)
    queries = [(i, rng.randn(64).tolist()) for i in range(3)]
    idx = LshIndex(df, "embedding", "vec_id", nbits=4)
    approx = None
    for qid, qv in queries:
        r = idx.search(qv, 10, multiprobe=2).select(
            F.lit(qid).alias("qid"), "vec_id", "score")
        approx = r if approx is None else approx.union(r)
    out = M.evaluate_knn_recall(df, approx, queries, 10, "cosine",
                                "embedding", "vec_id").collect()
    assert len(out) == 3
    assert all(0.0 <= r.recall <= 1.0 for r in out)


# ------------------------------------------------------------ streaming

def _events_stream_dir(tmp_path):
    import os

    d = tmp_path / "events_stream"
    d.mkdir(exist_ok=True)
    os.symlink(f"{SF_DIR}/events.parquet", d / "part-0.parquet")
    return str(d)


def test_tumbling_counts_stream(spark, tmp_path):
    from velesdb_spark.streaming import events as ev

    stream = ev.read_events_stream(spark, _events_stream_dir(tmp_path))
    agg = ev.tumbling_counts(stream, "1 hour", "2 hours")
    q = ev.run_to_memory(agg, "t_counts", mode="update")
    got = spark.sql("SELECT sum(n) AS total FROM t_counts").collect()[0].total
    batch_total = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert got == batch_total  # every event lands in exactly one window
    q.stop()


def test_session_windows_stream(spark, tmp_path):
    from velesdb_spark.streaming import events as ev

    stream = ev.read_events_stream(spark, _events_stream_dir(tmp_path))
    sess = ev.session_windows(stream, "5 minutes", "30 minutes")
    # session windows don't support update mode — complete for the memory sink
    q = ev.run_to_memory(sess, "t_sessions", mode="complete")
    rows = spark.sql("SELECT * FROM t_sessions").collect()
    assert rows and all(r.session_end >= r.session_start for r in rows)
    q.stop()


def test_running_user_counts_stateful(spark, tmp_path):
    from velesdb_spark.streaming import events as ev

    stream = ev.read_events_stream(spark, _events_stream_dir(tmp_path))
    counts = ev.running_user_counts(stream)
    q = ev.run_to_memory(counts, "t_user_counts", mode="update")
    got = spark.sql(
        "SELECT user_id, max(total_events) AS n FROM t_user_counts GROUP BY user_id"
    ).collect()
    want = {r.user_id: r.n for r in
            spark.read.parquet(f"{SF_DIR}/events.parquet")
            .groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    assert {r.user_id: r.n for r in got} == want
    q.stop()


def test_streaming_dedup(spark, tmp_path):
    """Duplicate deliveries across micro-batches collapse to one row per
    key; watermark bounds the dedup state."""
    from velesdb_spark.streaming import events as ev

    rows = [(i, 1_700_000_000_000_000 + i * 10**6, i % 3, "click", 1.0, "{}")
            for i in range(20)]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts bigint, user_id bigint, "
              "event_type string, value double, props string"
    ).withColumn("ts", F.timestamp_micros(F.col("ts")))  # fixture ts encoding
    df.coalesce(1).write.parquet(str(tmp_path / "f1"))
    df.coalesce(1).write.parquet(str(tmp_path / "f2"))
    stage = tmp_path / "stage"
    stage.mkdir()
    import os
    for i, src in enumerate(["f1", "f2"]):
        for f in os.listdir(tmp_path / src):
            if f.endswith(".parquet"):
                os.symlink(tmp_path / src / f, stage / f"{i}_{f}")
    stream = ev.read_events_stream(spark, str(stage))
    dd = ev.streaming_dedup(stream, ["event_id"])
    ev.run_to_memory(dd, "t_stream_dedup", mode="append")
    got = spark.table("t_stream_dedup").collect()
    assert len(got) == 20
    assert sorted(r.event_id for r in got) == list(range(20))


def test_watermark_drops_late_data(spark, tmp_path):
    """Two out-of-order micro-batches: a late row beyond the watermark is
    dropped (its window state was evicted), a late row within it merges.

    Batch 1 ends with max ts 12:00 → watermark 11:30 (30 min delay). The
    filter engages one batch after the watermark commits (measured Spark
    behavior), so the late rows ride in batch 3: 10:30 (window 10:00 below
    watermark → dropped) and 11:45 (window 11:00 still live → merged)."""
    import os

    from velesdb_spark.streaming import events as ev

    base = 1_700_000_000_000_000  # µs epoch
    base -= base % 3_600_000_000  # hour-aligned so windows are deterministic
    m = 60_000_000  # one minute in µs

    def mk(rows, path):
        df = spark.createDataFrame(
            rows, "event_id bigint, ts bigint, user_id bigint, "
                  "event_type string, value double, props string"
        ).withColumn("ts", F.timestamp_micros(F.col("ts")))
        df.coalesce(1).write.parquet(str(path))

    mk([(1, base + 0 * m, 1, "click", 1.0, "{}"),
        (2, base + 10 * m, 1, "click", 1.0, "{}"),
        (3, base + 20 * m, 1, "click", 1.0, "{}"),
        (4, base + 60 * m, 1, "click", 1.0, "{}"),
        (5, base + 70 * m, 1, "click", 1.0, "{}"),
        (6, base + 120 * m, 1, "click", 1.0, "{}")], tmp_path / "b1")
    mk([(7, base + 125 * m, 1, "click", 1.0, "{}")], tmp_path / "b2")
    mk([(8, base + 30 * m, 1, "click", 1.0, "{}"),     # beyond watermark
        (9, base + 105 * m, 1, "click", 1.0, "{}")], tmp_path / "b3")

    stage = tmp_path / "stage"
    stage.mkdir()
    for i, src in enumerate(["b1", "b2", "b3"]):
        for f in os.listdir(tmp_path / src):
            if f.endswith(".parquet"):
                os.symlink(tmp_path / src / f, stage / f"{i}_{f}")
                # file-source batch order follows target mtime
                os.utime(tmp_path / src / f, (1000 + i, 1000 + i))

    stream = ev.read_events_stream(spark, str(stage))  # 1 file per trigger
    agg = ev.tumbling_counts(stream, "1 hour", "30 minutes")
    q = ev.run_to_memory(agg, "t_late", mode="update")
    dropped = sum(p["stateOperators"][0]["numRowsDroppedByWatermark"]
                  for p in q.recentProgress)
    # update-mode memory sink appends each batch's updates; max(n) per
    # window = the final state the operator held for it
    got = {r.ws: r.n for r in spark.sql(
        "SELECT window_start AS ws, max(n) AS n FROM t_late GROUP BY 1"
    ).collect()}
    import datetime
    w0 = datetime.datetime.fromtimestamp(base / 1e6)
    w1 = datetime.datetime.fromtimestamp((base + 60 * m) / 1e6)
    w2 = datetime.datetime.fromtimestamp((base + 120 * m) / 1e6)
    assert dropped == 1      # exactly the beyond-watermark replay
    assert got[w0] == 3      # late replay at 10:30 dropped, count unchanged
    assert got[w1] == 3      # 11:45 within watermark merged (2 → 3)
    assert got[w2] == 2      # 12:00 + 12:05
    q.stop()


# ------------------------------------------------------------ multimodal

def test_media_decode_plumbing(spark):
    from velesdb_spark import multimodal as mm

    rows = [
        (1, "image", b"\x89PNGfake", ("png", 640, 480, None, None)),
        (2, "image", b"\xff\xd8jpegfake", ("jpeg", 1024, 768, None, None)),
        (3, "video", b"mp4fake", ("mp4", 1920, 1080, 5000, None)),
    ]
    media = mm.media_table(spark, rows)
    feats = mm.decode_and_featurize(media.filter(F.col("modality") == "image"))
    got = {r.id: r for r in feats.collect()}
    assert len(got[1].feature) == 16
    assert got[1].n_bytes == 8
    # deterministic: same bytes → same feature
    again = {r.id: r.feature for r in
             mm.decode_and_featurize(media.filter(F.col("modality") == "image")).collect()}
    assert again[1] == got[1].feature


def test_decode_wav_real(spark):
    """REAL WAV decode: synth PCM16 → parse → features match the sample
    formula; end-to-end through the Arrow mapInPandas path."""
    from velesdb_spark import multimodal as mm

    content = mm.synth_wav(5)
    feats = mm.decode_wav(content, {})
    samples = [((5 * 31 + i * 7) % 2003) - 1001 for i in range(64)]
    assert feats[0] == 64.0
    assert feats[1] == pytest.approx(sum(samples) / 64 / 32768.0)
    assert feats[3] == pytest.approx(max(samples) / 32768.0)
    assert feats[7] == pytest.approx(samples[0] / 32768.0)
    assert feats[15] == pytest.approx(samples[56] / 32768.0)
    # dispatch: RIFF magic routes to the real decoder on the audio path
    media = mm.media_table(
        spark, [(5, "audio", content, ("wav", None, None, None, 8000))])
    got = mm.decode_and_featurize(media).collect()[0]
    assert got.feature[0] == 64.0 and got.n_bytes == 172
    assert got.feature[7] == pytest.approx(samples[0] / 32768.0)


def test_decode_bmp_real(spark):
    """REAL BMP decode: hand-built 24-bpp bottom-up BMP with row padding;
    channel means and dims recovered exactly."""
    import struct

    from velesdb_spark import multimodal as mm

    # 3x2 image: top row red green blue / bottom row white black gray
    top = [(255, 0, 0), (0, 255, 0), (0, 0, 255)]
    bottom = [(255, 255, 255), (0, 0, 0), (128, 128, 128)]
    w, h = 3, 2
    row_bytes = (w * 3 + 3) & ~3  # 12, incl. 3 pad bytes
    pix = b""
    for row in (bottom, top):  # bottom-up storage
        line = b"".join(bytes([b, g, r]) for r, g, b in row)
        pix += line + b"\x00" * (row_bytes - len(line))
    hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pix), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix),
                       2835, 2835, 0, 0)
    content = hdr + info + pix
    f = mm.decode_bmp(content, {})
    assert f[:3] == [3.0, 2.0, 24.0]
    assert f[3] == pytest.approx((255 + 0 + 0 + 255 + 0 + 128) / 6 / 255)  # R
    assert f[4] == pytest.approx((0 + 255 + 0 + 255 + 0 + 128) / 6 / 255)  # G
    # dispatch through the image path (BM magic → real decoder)
    assert mm.image_decoder(content, {}) == f
    # non-BMP bytes fall back to the md5 fake
    assert mm.image_decoder(b"\x89PNGfake", {}) == \
        mm.fake_image_decoder(b"\x89PNGfake", {})


def test_video_frame_sample(spark):
    from velesdb_spark import multimodal as mm

    rows = [(3, "video", b"mp4fake", ("mp4", 1920, 1080, 5000, None))]
    media = mm.media_table(spark, rows)
    frames = mm.frame_sample(media, every_ms=1000).collect()
    assert [r.frame_ms for r in frames] == [0, 1000, 2000, 3000, 4000]


def test_video_decoder_dispatch(spark):
    """Video modality: y4m streams decode for real; compressed codecs
    (mp4 etc.) fall back to the md5 fake (no media libs in container);
    an UNKNOWN modality still refuses loudly."""
    from velesdb_spark import multimodal as mm

    y4m = mm.synth_y4m(seed=5, w=8, h=6, frames=3)
    rows = [(3, "video", b"mp4fake", ("mp4", 1920, 1080, 5000, None)),
            (4, "video", y4m, ("y4m", 8, 6, 120, None))]
    media = mm.media_table(spark, rows)
    got = {r.id: r.feature
           for r in mm.decode_and_featurize(media).collect()}
    assert got[4][0] == 8.0 and got[4][2] == 3.0   # real y4m decode
    assert len(got[3]) == 16                        # md5 fake fallback
    unknown = mm.media_table(
        spark, [(9, "hologram", b"x", ("h", None, None, None, None))])
    with pytest.raises(Exception):  # NotImplementedError in the worker
        mm.decode_and_featurize(unknown).collect()


def test_ndcg_binary_df_matches_scalar(spark):
    """DataFrame NDCG@k with binary relevance equals the scalar
    ndcg_at_k on the equivalent 0/1 gain list."""
    from velesdb_spark import metrics as M

    # query 1: truth {1,2,3}, results ranked [2, 9, 1, 8] → gains [1,0,1,0]
    results = spark.createDataFrame(
        [(1, 2, 1), (1, 9, 2), (1, 1, 3), (1, 8, 4)], "qid int, id int, rank int")
    truth = spark.createDataFrame([(1, 1), (1, 2), (1, 3)], "qid int, id int")
    got = {r.qid: r.ndcg for r in
           M.ndcg_binary_df(results, truth, 4).collect()}
    # scalar form: gains in ranked order, ideal = all 3 relevant first but
    # cut at k=4 → idcg over [1,1,1,0]
    import math
    dcg = 1 / math.log2(2) + 1 / math.log2(4)
    idcg = sum(1 / math.log2(i + 1) for i in range(1, 4))
    assert abs(got[1] - dcg / idcg) < 1e-12


# ------------------------------------------------------------ latency stats


def test_latency_percentiles_reference_example():
    """The metrics.rs doc example: samples 10µs..1000µs step 10 — p50 is
    the round(0.5·99)=50th sorted element, p95 the 94th, p99 the 98th
    (nearest-rank with round-half-away, metrics.rs:407-427)."""
    from velesdb_spark.metrics import compute_latency_percentiles

    s = [i * 10.0 for i in range(1, 101)]
    st = compute_latency_percentiles(s)
    assert (st.min, st.max) == (10.0, 1000.0)
    assert st.mean == pytest.approx(505.0)
    assert (st.p50, st.p95, st.p99) == (510.0, 950.0, 990.0)

    empty = compute_latency_percentiles([])
    assert (empty.min, empty.max, empty.mean, empty.p50, empty.p95,
            empty.p99) == (0.0,) * 6

    one = compute_latency_percentiles([7.5])
    assert (one.min, one.max, one.p50, one.p99) == (7.5, 7.5, 7.5, 7.5)


def test_latency_stats_df_matches_list_form(spark):
    """The grouped DataFrame aggregation must reproduce the list form
    exactly per group (same nearest-rank definition); the approx variant
    stays within the sketch's tolerance on the same data."""
    import random

    from velesdb_spark.metrics import (compute_latency_percentiles,
                                       latency_stats_df)

    rng = random.Random(99)
    rows = [(f"g{i % 3}", float(rng.randint(1, 500))) for i in range(400)]
    df = spark.createDataFrame(rows, "grp string, ms double")
    got = {r.grp: r for r in latency_stats_df(df, "ms", ["grp"]).collect()}
    by_grp = {}
    for g, ms in rows:
        by_grp.setdefault(g, []).append(ms)
    for g, samples in by_grp.items():
        want = compute_latency_percentiles(samples)
        r = got[g]
        assert r.n == len(samples)
        assert (r.min_ms, r.max_ms) == (want.min, want.max)
        assert r.mean_ms == pytest.approx(want.mean, rel=1e-12)
        assert (r.p50, r.p95, r.p99) == (want.p50, want.p95, want.p99), g

    approx = {r.grp: r for r in
              latency_stats_df(df, "ms", ["grp"], approx=True).collect()}
    for g, samples in by_grp.items():
        want = compute_latency_percentiles(samples)
        assert abs(approx[g].p50 - want.p50) <= 30  # sketch tolerance


def test_stream_docs_into_bm25(spark, tmp_path):
    """Streaming text-index maintenance: two arriving doc files become two
    micro-batches, each upserted into the incremental BM25 index as one
    delta segment; the composed index then scores identically to a full
    rebuild over the final corpus (including an LWW overwrite across
    batches)."""
    import os

    from velesdb_spark.functions.bm25 import Bm25Index, IncrementalBm25Index
    from velesdb_spark.streaming import events as ev

    base = {1: "rust systems programming", 2: "python data tools",
            3: "the quick brown fox"}
    b1 = {4: "spark streaming joins", 1: "rust rewritten in batch one"}
    b2 = {5: "spark spark indexes", 1: "rust rewritten again batch two"}

    idx = IncrementalBm25Index.build(
        spark.createDataFrame(list(base.items()), "doc_id bigint, text string"),
        str(tmp_path / "idx"), id_col="doc_id", text_col="text",
        term_buckets=4)

    stage = tmp_path / "docs_stage"
    stage.mkdir()
    for i, batch in enumerate([b1, b2]):
        d = tmp_path / f"b{i}"
        spark.createDataFrame(list(batch.items()),
                              "doc_id bigint, text string") \
            .coalesce(1).write.parquet(str(d))
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                os.symlink(d / f, stage / f"{i}_{f}")

    stream = ev.read_docs_stream(spark, str(stage))
    ev.stream_docs_into_bm25(stream, idx, str(tmp_path / "ckpt"))

    from velesdb_spark.storage import read_manifest
    m = read_manifest(str(tmp_path / "idx"))
    assert len(m["segments"]) == 2  # one delta segment per micro-batch

    final = dict(base)
    final.update(b1)
    final.update(b2)  # doc 1: last writer (batch two) wins
    fresh = Bm25Index(spark.createDataFrame(
        list(final.items()), "doc_id bigint, text string"),
        id_col="doc_id", text_col="text")
    for q in ["rust batch", "spark", "fox indexes"]:
        got = {r.doc_id: r._bm25_score for r in idx.scores(q).collect()}
        want = {r.doc_id: r._bm25_score for r in fresh.scores(q).collect()}
        assert set(got) == set(want), q
        for i in got:
            assert got[i] == pytest.approx(want[i], rel=1e-9), (q, i)


# ------------------------------------------------- log2-bucket histogram


def test_log2_histogram_reference_semantics():
    """Ported from storage/histogram_tests.rs: empty, single, multiple,
    percentile ordering, reset."""
    from velesdb_spark.metrics import Log2Histogram

    h = Log2Histogram()
    assert h.is_empty() and h.count == 0
    assert h.min() == 0 and h.max() == 0 and h.mean() == 0
    assert h.percentile(50) == 0

    h.record(100)
    assert not h.is_empty()
    assert (h.count, h.min(), h.max(), h.mean()) == (1, 100, 100, 100)

    h.reset()
    assert h.is_empty()

    for i in range(1, 101):
        h.record(i)
    assert (h.count, h.min(), h.max(), h.mean()) == (100, 1, 100, 50)

    h.reset()
    for _ in range(1000):
        h.record(10)
    for _ in range(100):
        h.record(1000)
    for _ in range(10):
        h.record(100_000)
    p50, p99 = h.percentile(50), h.percentile(99)
    assert p50 < 100
    assert p99 > p50


def test_log2_bucket_boundaries():
    from velesdb_spark.metrics import _log2_bucket, _log2_bucket_value

    assert _log2_bucket(0) == 0
    assert _log2_bucket(1) == 0
    assert _log2_bucket(2) == 1
    assert _log2_bucket(3) == 1
    assert _log2_bucket(4) == 2
    assert _log2_bucket((1 << 63) + 5) == 63
    assert _log2_bucket_value(0) == 1
    assert _log2_bucket_value(5) == 32 + 16


def test_log2_histogram_df_matches_driver(spark):
    """The distributed sketch rehydrates to the identical histogram:
    buckets, count, sum, min, max, and hence every percentile."""
    import random

    from velesdb_spark.metrics import Log2Histogram, log2_histogram_df

    rng = random.Random(11)
    vals = [rng.randrange(1, 10_000_000) for _ in range(500)] + [0, 1, 2 ** 40]
    h = Log2Histogram()
    for v in vals:
        h.record(v)

    df = spark.createDataFrame([(v,) for v in vals], "us long")
    row = log2_histogram_df(df).collect()[0]
    h2 = Log2Histogram.from_buckets(
        [(b["bucket"], b["n"]) for b in row["buckets"]],
        row["n"], row["sum_us"], row["min_us"], row["max_us"])
    assert h2.buckets == h.buckets
    assert (h2.count, h2.min(), h2.max(), h2.mean()) == \
        (h.count, h.min(), h.max(), h.mean())
    for p in (1, 25, 50, 90, 95, 99, 100):
        assert h2.percentile(p) == h.percentile(p)


def test_log2_histogram_df_grouped(spark):
    from velesdb_spark.metrics import log2_histogram_df

    df = spark.createDataFrame(
        [("a", 10), ("a", 12), ("a", 4000), ("b", 1)],
        "op string, us long")
    rows = {r["op"]: r for r in log2_histogram_df(
        df, group_cols=["op"]).collect()}
    assert rows["a"]["n"] == 3 and rows["a"]["min_us"] == 10
    assert rows["a"]["max_us"] == 4000
    assert rows["b"]["n"] == 1 and rows["b"]["max_us"] == 1
    # 10,12 share bucket 3; 4000 in bucket 11
    got = {(b["bucket"], b["n"]) for b in rows["a"]["buckets"]}
    assert got == {(3, 2), (11, 1)}


def test_decode_png_real_exact_pixels():
    """REAL PNG decode (zlib + NumPy unfiltering): synth encoder cycles
    every filter type (None/Sub/Up/Average/Paeth) across rows; decoded
    features must equal stats computed directly from the known pixel
    array — for gray, gray+alpha, RGB, and RGBA."""
    import numpy as np

    from velesdb_spark import multimodal as mm

    for channels in (1, 2, 3, 4):
        png, px = mm.synth_png(seed=9, w=13, h=11, channels=channels)
        feats = mm.decode_png(png, {})
        px = px.astype(np.float64)
        if channels >= 3:
            r, g, b = px[..., 0], px[..., 1], px[..., 2]
        else:
            r = g = b = px[..., 0]
        lum = 0.299 * r + 0.587 * g + 0.114 * b
        hist, _ = np.histogram(lum, bins=8, range=(0, 256))
        want = [13.0, 11.0, float(8 * channels),
                r.mean() / 255.0, g.mean() / 255.0, b.mean() / 255.0,
                lum.std() / 255.0, lum.min() / 255.0,
                *(hist / (13 * 11)).tolist()]
        assert feats == pytest.approx(want, abs=1e-12), f"ch={channels}"


def test_decode_png_dispatch_and_guards(spark):
    """Magic dispatch routes PNG to the real decoder through the Arrow
    mapInPandas path; unsupported variants raise for a registered
    external decoder instead of returning garbage."""
    from velesdb_spark import multimodal as mm

    png, px = mm.synth_png(seed=3, w=8, h=6, channels=3)
    media = mm.media_table(
        spark, [(1, "image", png, ("png", 8, 6, None, None))])
    got = mm.decode_and_featurize(media).collect()[0]
    assert got.feature[0] == 8.0 and got.feature[1] == 6.0
    assert got.feature[2] == 24.0
    assert got.n_bytes == len(png)
    # 16-bit depth / interlaced / palette all refuse
    import struct
    bad_ihdr = struct.pack(">IIBBBBB", 4, 4, 16, 2, 0, 0, 0)

    def chunk(tag, data):
        import zlib
        return struct.pack(">I", len(data)) + tag + data + \
            struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)

    bad = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", bad_ihdr) + \
        chunk(b"IDAT", b"x") + chunk(b"IEND", b"")
    with pytest.raises(NotImplementedError):
        mm.decode_png(bad, {})
    with pytest.raises(ValueError):
        mm.decode_png(b"not a png", {})


def test_decode_y4m_real_exact_planes():
    """REAL y4m video decode: synth encoder emits integer-arithmetic
    planes; decoded 16-dim feature must equal stats computed directly
    from the formula — for C444, C420jpeg, and Cmono colorspaces."""
    import numpy as np

    from velesdb_spark import multimodal as mm

    for cs in ("C444", "C420jpeg", "Cmono"):
        blob = mm.synth_y4m(seed=9, w=8, h=6, frames=4, colorspace=cs)
        feats = mm.decode_y4m(blob, {})
        cw = {"C444": 8, "C420jpeg": 4, "Cmono": 0}[cs]
        chh = {"C444": 6, "C420jpeg": 3, "Cmono": 0}[cs]
        i = np.arange(48, dtype=np.int64)
        j = np.arange(cw * chh, dtype=np.int64)
        ys = np.stack([(i * 31 + 9 * 7 + f * 13) % 251 for f in range(4)]
                      ).astype(np.float64)
        if cw:
            us = np.stack([(j * 17 + 9 * 5 + f * 11) % 251
                           for f in range(4)]).astype(np.float64)
            vs = np.stack([(j * 23 + 9 * 3 + f * 19) % 251
                           for f in range(4)]).astype(np.float64)
            u_mean, v_mean = us.mean() / 255.0, vs.mean() / 255.0
        else:
            u_mean = v_mean = 0.0
        hist, _ = np.histogram(ys, bins=8, range=(0, 256))
        want = [8.0, 6.0, 4.0, ys.mean() / 255.0, u_mean, v_mean,
                ys.std() / 255.0, ys.min() / 255.0,
                *(hist / ys.size).tolist()]
        assert feats == pytest.approx(want, abs=1e-12), cs


def test_decode_y4m_guards():
    """Container guards: truncated frames, bad FRAME markers, unsupported
    colorspaces, odd 4:2:0 dims, and non-y4m streams all refuse loudly;
    non-y4m video bytes route to the md5 fake through video_decoder."""
    from velesdb_spark import multimodal as mm

    blob = mm.synth_y4m(seed=1, w=8, h=6, frames=2)
    with pytest.raises(ValueError):
        mm.decode_y4m(blob[:-10], {})          # truncated plane data
    with pytest.raises(ValueError):
        mm.decode_y4m(b"garbage", {})
    with pytest.raises(NotImplementedError):
        mm.decode_y4m(b"YUV4MPEG2 W4 H4 F25:1 C422\n", {})
    with pytest.raises(ValueError):
        mm.decode_y4m(b"YUV4MPEG2 W5 H4 F25:1 C420\n", {})  # odd w @420
    with pytest.raises(NotImplementedError):
        mm.synth_y4m(1, colorspace="C422")
    assert len(mm.video_decoder(b"\x00mp4garbage", {})) == 16


def test_decode_frames_sampling(spark):
    """decode_frames: one row per sampled frame (every_n), ts_ms from the
    stream's own F<num>:<den> rate, per-frame stats matching the formula;
    the plan is a pure map over the scan (no shuffle before decode)."""
    import numpy as np

    from velesdb_spark import multimodal as mm

    rows = [(k, "video", mm.synth_y4m(k, w=8, h=6, frames=5),
             ("y4m", 8, 6, None, None)) for k in (3, 4)]
    media = mm.media_table(spark, rows)
    got = mm.decode_frames(media, every_n=2).collect()
    assert sorted((r.id, r.frame_idx, r.ts_ms) for r in got) == [
        (k, f, f * 40) for k in (3, 4) for f in (0, 2, 4)]
    i = np.arange(48, dtype=np.int64)
    for r in got:
        y = ((i * 31 + r.id * 7 + r.frame_idx * 13) % 251).astype(float)
        assert r.y_mean == pytest.approx(y.mean(), abs=0)
        assert (r.y_min, r.y_max) == (int(y.min()), int(y.max()))
    plan = mm.decode_frames(media, every_n=2) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
