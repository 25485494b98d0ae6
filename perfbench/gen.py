"""Seeded inputs for the benchmark: collections as parquet, op sequences as
JSON. Pure NumPy/pyarrow, no Spark, so the same seed gives byte-identical
files and the program under test only ever sees the generated inputs.

Sizes and op counts are fixed per workload (never read from a clock); only
content depends on the seed, so the state after op *i* is the same in every
run with the same seed.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
VOCAB = 4000          # Zipf vocabulary w0..w3999
ZIPF_S = 1.2          # word-rank skew of the corpus
DOC_LEN = (8, 24)     # tokens per document, uniform
CATEGORIES = 10
EDGE_LABELS = ("CITES", "LINKS")
EDGES_PER_POINT = 5
K = 10                # top-k of every search op

RETRIEVAL_POINTS = 5_000
RETRIEVAL_POOL = 24                     # distinct parameter sets per op kind
# ops per kind in one run. knn and text, which are gated on their own,
# get the most samples of the costly kinds; the cheap gets bring the run to
# the 20 ops that an all-op median needs (10 samples beyond it).
RETRIEVAL_COUNTS = {"knn": 5, "text": 5, "hybrid": 2, "velesql": 2,
                    "match": 2, "get": 4}

INGEST_BASE = 2_000
INGEST_BATCH = 100        # rows per upsert: half new ids, half overwrites
INGEST_DELETE = 25        # ids per delete batch
# Each write is followed by read-after-write ops, text_search included, and
# by flush() + vacuum(). text_search slows with every write since the index
# was built (about 4 s after the first write and 5-6.5 s after the second,
# on 4 cores), so two writes keep a run inside its time budget while the
# growth shows in every run.
INGEST_WRITES = ("upsert", "delete")

_WORKLOAD_TAG = {"retrieval": 1, "ingest": 2}


def rng_for(workload: str, seed: int, stream: int = 0) -> np.random.Generator:
    return np.random.default_rng([_WORKLOAD_TAG[workload], int(seed), stream])


# ------------------------------------------------------------------ corpus
def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def make_texts(rng: np.random.Generator, n: int) -> list[str]:
    p = _zipf_weights(VOCAB, ZIPF_S)
    lens = rng.integers(DOC_LEN[0], DOC_LEN[1] + 1, n)
    words = rng.choice(VOCAB, size=int(lens.sum()), p=p)
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(f"w{w}" for w in words[pos:pos + ln]))
        pos += ln
    return out


def make_vectors(rng: np.random.Generator, n: int) -> np.ndarray:
    """Gaussian mixture around 16 centres, so neighbourhoods are uneven."""
    centres = rng.standard_normal((16, DIM))
    which = rng.integers(0, 16, n)
    vec = centres[which] + 0.6 * rng.standard_normal((n, DIM))
    return vec.astype(np.float32)


def points_table(ids: np.ndarray, vectors: np.ndarray, texts: list[str],
                 categories: np.ndarray) -> pa.Table:
    return pa.table({
        "id": pa.array(ids, pa.int64()),
        "vector": pa.FixedSizeListArray.from_arrays(
            pa.array(vectors.reshape(-1), pa.float32()), DIM).cast(
                pa.list_(pa.float32())),
        "text": pa.array(texts, pa.string()),
        "category": pa.array(categories, pa.int64()),
        "labels": pa.array([["Doc"]] * len(ids), pa.list_(pa.string())),
    })


def make_edges(rng: np.random.Generator, n: int) -> pa.Table:
    src = np.repeat(np.arange(n, dtype=np.int64), EDGES_PER_POINT)
    dst = rng.integers(0, n, src.size).astype(np.int64)
    lab = np.array(EDGE_LABELS)[rng.integers(0, len(EDGE_LABELS), src.size)]
    return pa.table({"id": pa.array(np.arange(src.size, dtype=np.int64)),
                     "src": pa.array(src), "dst": pa.array(dst),
                     "label": pa.array(lab.tolist(), pa.string())})


# A text query takes one term from each word-rank band, so every query
# matches and its postings volume is about the same for every seed.
QUERY_BANDS = ((10, 14), (50, 60), (300, 340))


def _text_query(rng: np.random.Generator) -> str:
    return " ".join(f"w{int(rng.integers(lo, hi))}" for lo, hi in QUERY_BANDS)


def _query_vector(rng: np.random.Generator, vectors: np.ndarray) -> list:
    base = vectors[int(rng.integers(0, len(vectors)))].astype(np.float64)
    return [round(float(x), 5) for x in base + 0.3 * rng.standard_normal(DIM)]


def _zipf_pick(rng: np.random.Generator, pool: int) -> int:
    return int(rng.choice(pool, p=_zipf_weights(pool, 1.1)))


# ------------------------------------------------------------------ writers
def _write_json(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True, separators=(",", ":"))


def gen_retrieval(out_dir: str, seed: int) -> None:
    rng = rng_for("retrieval", seed)
    n = RETRIEVAL_POINTS
    vectors = make_vectors(rng, n)
    texts = make_texts(rng, n)
    cats = rng.integers(0, CATEGORIES, n)
    pq.write_table(points_table(np.arange(n), vectors, texts, cats),
                   os.path.join(out_dir, "points.parquet"))
    pq.write_table(make_edges(rng, n), os.path.join(out_dir, "edges.parquet"))

    orng = rng_for("retrieval", seed, 1)
    pools = {
        "knn": [{"vector": _query_vector(orng, vectors)}
                for _ in range(RETRIEVAL_POOL)],
        "text": [{"query": _text_query(orng)} for _ in range(RETRIEVAL_POOL)],
        "hybrid": [{"query": _text_query(orng),
                    "vector": _query_vector(orng, vectors)}
                   for _ in range(RETRIEVAL_POOL)],
        "velesql": [{"vector": _query_vector(orng, vectors),
                     "category": int(orng.integers(0, CATEGORIES))}
                    for _ in range(RETRIEVAL_POOL)],
        "match": [{"start": int(orng.integers(0, n))}
                  for _ in range(RETRIEVAL_POOL)],
        "get": [{"id": int(orng.integers(0, n))}
                for _ in range(RETRIEVAL_POOL)],
    }
    # fixed count per kind (so every per-kind figure has the same number of
    # samples in every run), in a seeded order
    kinds = [k for k, n_kind in RETRIEVAL_COUNTS.items()
             for _ in range(n_kind)]
    orng.shuffle(kinds)
    ops = [{"op": i, "kind": kind,
            **pools[kind][_zipf_pick(orng, RETRIEVAL_POOL)]}
           for i, kind in enumerate(kinds)]
    _write_json(os.path.join(out_dir, "ops.json"), ops)


def gen_ingest(out_dir: str, seed: int) -> None:
    rng = rng_for("ingest", seed)
    n = INGEST_BASE
    vectors = make_vectors(rng, n)
    pq.write_table(points_table(np.arange(n), vectors, make_texts(rng, n),
                                rng.integers(0, CATEGORIES, n)),
                   os.path.join(out_dir, "points.parquet"))

    live = set(range(n))
    next_id = n
    ops = []

    def add(kind, **kw):
        ops.append({"op": len(ops), "kind": kind, **kw})

    for w, write in enumerate(INGEST_WRITES):
        if write == "upsert":
            half = INGEST_BATCH // 2
            new_ids = list(range(next_id, next_id + half))
            next_id += half
            old_ids = sorted(int(i) for i in rng.choice(sorted(live), half,
                                                        replace=False))
            ids = np.array(new_ids + old_ids, dtype=np.int64)
            vec = make_vectors(rng, len(ids))
            name = f"batch{w:03d}.parquet"
            pq.write_table(
                points_table(ids, vec, make_texts(rng, len(ids)),
                             rng.integers(0, CATEGORIES, len(ids))),
                os.path.join(out_dir, name))
            live.update(new_ids)
            # read-after-write: new and overwritten rows are visible at once
            add("upsert", batch=name, rows=len(ids))
            add("get", id=int(rng.choice(new_ids)))
            add("get", id=int(rng.choice(old_ids)))
            add("knn", vector=_query_vector(rng, vec))
            add("text", query=_text_query(rng))
        else:
            gone = sorted(int(i) for i in rng.choice(sorted(live),
                                                     INGEST_DELETE,
                                                     replace=False))
            live.difference_update(gone)
            # deleted rows are gone at once, from text_search too, which
            # sees the delete through the same index maintenance as an upsert
            add("delete", ids=gone)
            add("get", id=gone[0])
            add("knn", vector=_query_vector(rng, vectors))
            add("text", query=_text_query(rng))
        add("compact")
    _write_json(os.path.join(out_dir, "ops.json"), ops)


GENERATORS = {"retrieval": gen_retrieval, "ingest": gen_ingest}


def ensure_inputs(work_dir: str, workload: str, seed: int) -> str:
    """Generate the inputs for (workload, seed) once; later runs with the
    same seed reuse the directory."""
    out = os.path.join(work_dir, "data", f"{workload}-seed{seed}")
    done = os.path.join(out, "DONE")
    if not os.path.exists(done):
        tmp = out + f".tmp{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        GENERATORS[workload](tmp, seed)
        if os.path.isdir(out):
            import shutil

            shutil.rmtree(out)
        os.replace(tmp, out)
        open(done, "w").close()
    return out


def load_ops(data_dir: str) -> list[dict]:
    with open(os.path.join(data_dir, "ops.json")) as f:
        return json.load(f)
