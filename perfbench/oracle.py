"""Reference answers computed without Spark: exact NumPy top-k, a Python
BM25 over the generated corpus, RRF fusion, a 2-hop walk over the generated
edges, and a dict model of a collection under writes.

Checks compare score lists with a tolerance and accept any order among
near-ties, so float noise between engines is not a failure but a wrong or
missing id is."""

from __future__ import annotations

import math
import re
from collections import Counter

import numpy as np

K1, B = 1.2, 0.75
RRF_K = 60.0
TOL = 1e-6


def tokenize(text: str) -> list[str]:
    # lowercase, split on non-alphanumerics (underscore too), drop 1-byte
    # tokens: the tokenizer the collection's BM25 index documents
    return [t for t in re.split(r"[\W_]+", text.lower(), flags=re.UNICODE)
            if len(t.encode("utf-8")) > 1]


class Corpus:
    """Live points of a collection: id -> (vector, text, category)."""

    def __init__(self, ids, vectors, texts, categories):
        self.rows = {int(i): (np.asarray(v, dtype=np.float32), t, int(c))
                     for i, v, t, c in zip(ids, vectors, texts, categories)}
        self._cache = None

    @classmethod
    def from_table(cls, table) -> "Corpus":
        d = table.to_pydict()
        return cls(d["id"], d["vector"], d["text"], d["category"])

    def upsert(self, other: "Corpus") -> None:
        self.rows.update(other.rows)
        self._cache = None

    def delete(self, ids) -> None:
        for i in ids:
            self.rows.pop(int(i), None)
        self._cache = None

    def _arrays(self):
        if self._cache is None:
            ids = np.array(sorted(self.rows), dtype=np.int64)
            mat = np.stack([self.rows[i][0] for i in ids]).astype(np.float64)
            norms = np.linalg.norm(mat, axis=1)
            docs = [tokenize(self.rows[i][1]) for i in ids]
            tf = [Counter(d) for d in docs]
            dl = np.array([len(d) for d in docs], dtype=np.float64)
            df = Counter()
            for c in tf:
                df.update(c.keys())
            cats = np.array([self.rows[i][2] for i in ids])
            self._cache = (ids, mat, norms, tf, dl, df, cats)
        return self._cache

    # ---------------------------------------------------------- rankings
    def knn_scores(self, vector, category=None):
        ids, mat, norms, *_rest, cats = self._arrays()
        q = np.asarray(vector, dtype=np.float64)
        sims = mat @ q / (norms * np.linalg.norm(q))
        if category is not None:
            keep = cats == category
            return ids[keep], sims[keep]
        return ids, sims

    def bm25_scores(self, query: str):
        ids, _m, _n, tf, dl, df, _c = self._arrays()
        qtf = Counter(tokenize(query))
        n_docs = len(ids)
        avgdl = float(dl.mean())
        scores = np.zeros(n_docs)
        for term, qc in qtf.items():
            if term not in df:
                continue
            idf = math.log((n_docs - df[term] + 0.5) / (df[term] + 0.5) + 1.0)
            for j, c in enumerate(tf):
                f = c.get(term)
                if f:
                    scores[j] += qc * idf * f * (K1 + 1.0) / (
                        f + K1 * (1.0 - B + B * dl[j] / avgdl))
        keep = scores > 0.0
        return ids[keep], scores[keep]

    def get(self, point_id: int):
        return self.rows.get(int(point_id))

    def __len__(self) -> int:
        return len(self.rows)


def top(ids, scores, k):
    """(id, score) of the best k, score descending then id ascending."""
    order = np.lexsort((ids, -scores))[:k]
    return [(int(ids[j]), float(scores[j])) for j in order]


def rrf(vec_top, text_top, k):
    """Σ 1/(rank + 60) over both legs, 0-based ranks."""
    fused: dict[int, float] = {}
    for leg in (vec_top, text_top):
        for rank, (i, _s) in enumerate(leg):
            fused[i] = fused.get(i, 0.0) + 1.0 / (rank + RRF_K)
    ids = np.array(list(fused), dtype=np.int64)
    sc = np.array([fused[i] for i in ids])
    return top(ids, sc, k) if len(ids) else []


def same_ranking(got, want) -> str:
    """'' when ``got`` [(id, score)] is a valid answer for ``want``: the same
    length, the same scores within TOL, and each id holding the score the
    reference gives it. Ties may come in any order."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    ref = dict(want)
    for (gi, gs), (_wi, ws) in zip(got, want):
        if abs(gs - ws) > TOL * max(1.0, abs(ws)):
            return f"score {gs} where {ws} expected"
        if gi not in ref:
            # an id outside the reference top-k is fine only on a tie at
            # the cut-off
            if abs(gs - want[-1][1]) > TOL * max(1.0, abs(gs)):
                return f"id {gi} not in the top {len(want)}"
        elif abs(ref[gi] - gs) > TOL * max(1.0, abs(gs)):
            return f"id {gi} scored {gs}, reference {ref[gi]}"
    return ""


class Graph:
    def __init__(self, edges_table):
        d = edges_table.to_pydict()
        self.out: dict[tuple, list[int]] = {}
        for s, t, lab in zip(d["src"], d["dst"], d["label"]):
            self.out.setdefault((s, lab), []).append(t)

    def two_hop(self, start: int, live, l1="CITES", l2="LINKS") -> list[int]:
        """c ids of every (a {id: start})-[:l1]->(b)-[:l2]->(c) path whose
        three nodes are live points, one entry per path."""
        if start not in live:
            return []
        out = []
        for b in self.out.get((start, l1), []):
            if b not in live:
                continue
            out.extend(c for c in self.out.get((b, l2), []) if c in live)
        return sorted(out)
