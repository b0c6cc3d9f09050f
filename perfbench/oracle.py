"""Seeded inputs and the numpy oracle that checks every benchmark op.

Everything the library sees is generated here from the workload seed:
the clustered corpus, the query stream, the add batches and the text
corpus with planted near-copies. The same arrays answer each op
exactly on the driver, so a result is checked without trusting Spark.
"""

from __future__ import annotations

import math

import numpy as np

DIMS = 16
DOCS = 8
CLUSTERS = 24
SPREAD = 0.08
# ball radii from selective (a handful of matches) to broad (~500 of
# 16k rows); every loop cycle reads each of them equally often, so a
# run's sample mix does not depend on how fast the host is
RADII = (0.25, 0.35, 0.5)
# distances within this of the radius may fall either side: float32
# storage summed in another order moves them by ~1e-16
EPS = 1e-9
KNN_K = 10
# batch = this share of a document's rows; with `reindex="auto"` and
# the library's 0.2 tail threshold the third add to a document in a
# row compacts it (tail 0.3/1.3 > 0.2, while 0.2/1.2 is not)
ADD_SHARE = 0.1
# an ingest cycle is ADDS_PER_DOC rounds, one per radius
ADDS_PER_DOC = 3


class Corpus:
    """The vector corpus and everything derived from the seed."""

    def __init__(self, seed: int, n: int):
        self.seed = seed
        self.n = n
        rng = np.random.default_rng(seed)
        self.centers = rng.uniform(-0.8, 0.8, (CLUSTERS, DIMS))
        label = rng.integers(0, CLUSTERS, n)
        self.vectors = self._around(rng, self.centers[label])
        self.text_ids = np.arange(n, dtype=np.int64)
        self.doc_ids = (self.text_ids % DOCS).astype(np.int32)
        self.batch_rows = max(1, math.ceil(ADD_SHARE * n / DOCS))
        self._next_id = n
        # one generator per stream (warm-up, loop, adds, checks), so the
        # loop's inputs do not depend on how many warm-up calls ran
        self._streams: dict[str, np.random.Generator] = {}

    def stream(self, name: str) -> np.random.Generator:
        if name not in self._streams:
            key = int.from_bytes(name.encode(), "little")
            self._streams[name] = np.random.default_rng([self.seed, key])
        return self._streams[name]

    @staticmethod
    def _around(rng: np.random.Generator, centers: np.ndarray) -> np.ndarray:
        noise = rng.normal(0.0, SPREAD, centers.shape)
        return np.clip(centers + noise, -1.0, 1.0).astype(np.float32)

    def query(self, stream: str, near: np.ndarray | None = None) -> list[float]:
        """The stream's next query: a corpus point (or ``near``) plus jitter."""
        rng = self.stream(stream)
        if near is None:
            near = self.vectors[rng.integers(0, self.n)]
        q = near.astype(np.float64) + rng.normal(0.0, 0.02, DIMS)
        return [float(x) for x in q]

    def add_batch(self) -> tuple[np.ndarray, np.ndarray]:
        """The next add: ids and vectors of ``batch_rows`` new rows."""
        rng = self.stream("add")
        label = rng.integers(0, CLUSTERS, self.batch_rows)
        vecs = self._around(rng, self.centers[label])
        ids = np.arange(self._next_id, self._next_id + self.batch_rows, dtype=np.int64)
        self._next_id += self.batch_rows
        return ids, vecs


def frame(spark, doc_ids, text_ids, vectors):
    """A (doc_id, text_id, vector) DataFrame holding exactly these rows."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": np.asarray(doc_ids, dtype=np.int32),
            "text_id": np.asarray(text_ids, dtype=np.int64),
            "vector": list(np.asarray(vectors, dtype=np.float32)),
        }
    )
    return spark.createDataFrame(pdf, "doc_id int, text_id long, vector array<float>")


class Store:
    """What one facade store holds, as numpy arrays."""

    def __init__(self, ids: np.ndarray, docs: np.ndarray, vecs: np.ndarray):
        self.ids = ids.copy()
        self.docs = docs.copy()
        self.vecs = vecs.astype(np.float64)

    def append(self, doc: int, ids: np.ndarray, vecs: np.ndarray) -> None:
        self.ids = np.concatenate([self.ids, ids])
        self.docs = np.concatenate([self.docs, np.full(len(ids), doc, np.int32)])
        self.vecs = np.concatenate([self.vecs, vecs.astype(np.float64)])

    def ball_ok(self, q: list[float], r: float, got_ids) -> bool:
        """The set of ``got_ids`` is exactly the ball: every id within
        r - EPS is there and nothing beyond r + EPS is. Repeated ids are
        counted by the caller, not failed here."""
        d = np.sqrt(((self.vecs - np.asarray(q)) ** 2).sum(axis=1))
        must = set(self.ids[d <= r - EPS].tolist())
        may = set(self.ids[d <= r + EPS].tolist())
        return must <= set(got_ids) <= may

    def knn_dot_recall(self, q: list[float], rows) -> float | None:
        """Recall@k of ``rows`` (text_id, ip) against the exact top-k by
        inner product, or None when a returned ``ip`` is not the exact
        dot product of its row."""
        ip = self.vecs @ np.asarray(q)
        pos = {int(t): i for i, t in enumerate(self.ids)}
        for tid, got in rows:
            i = pos.get(int(tid))
            if i is None or abs(ip[i] - got) > 1e-9 * (1.0 + abs(ip[i])):
                return None
        k = min(KNN_K, len(ip))
        # ties at the k-th value may legitimately go either way
        kth = np.partition(ip, -k)[-k]
        want = set(self.ids[ip > kth].tolist())
        ok_at_kth = set(self.ids[ip == kth].tolist())
        got = {int(t) for t, _ in rows}
        hits = len(got & want) + min(len(got & ok_at_kth), k - len(want))
        return hits / k


def index_ok(rows, ids: np.ndarray, docs: np.ndarray, complete: bool = True) -> bool:
    """BSP index rows (doc_id, range_id, text_id): every document has a
    root at range_id 0 and no id sits in two leaves or under another
    document. ``complete``: every stored id is in a leaf (right after a
    full build; later adds may wait in the un-indexed tail)."""
    leaf = {}
    roots = set()
    for doc, rng_id, tid in rows:
        if rng_id == 0:
            roots.add(int(doc))
        if tid is not None:
            if tid in leaf:
                return False
            leaf[int(tid)] = int(doc)
    want = dict(zip(ids.tolist(), docs.tolist()))
    if roots != set(want.values()):
        return False
    if complete:
        return leaf == want
    return all(want.get(t) == d for t, d in leaf.items())


def knn_graph_ok(edges, vecs: np.ndarray, k: int, sample: int, floor: float,
                 rng: np.random.Generator) -> tuple[bool, float]:
    """Edges (src, dst, dist): every distance exact, at most k per
    source, and sampled recall@k against the exact graph >= floor."""
    v = vecs.astype(np.float64)
    by_src: dict[int, list[int]] = {}
    for s, t, dist in edges:
        if s == t or abs(float(np.linalg.norm(v[s] - v[t])) - dist) > 1e-9:
            return False, 0.0
        by_src.setdefault(int(s), []).append(int(t))
    if any(len(ts) > k for ts in by_src.values()):
        return False, 0.0
    pick = rng.choice(len(v), size=min(sample, len(v)), replace=False)
    hits = 0
    for s in pick:
        d = np.sqrt(((v - v[s]) ** 2).sum(axis=1))
        d[s] = np.inf
        kth = np.partition(d, k - 1)[k - 1]
        hits += sum(1 for t in by_src.get(int(s), []) if d[t] <= kth + 1e-12)
    recall = hits / (k * len(pick))
    return recall >= floor, recall


class TextCorpus:
    """Seeded documents of ``words`` tokens with near-copies planted:
    every ``copy_every``-th document copies an earlier one and swaps a
    few words, which keeps its word-3-gram Jaccard well above 0.5."""

    def __init__(self, seed: int, n_docs: int, words: int = 64,
                 vocab: int = 20_000, copy_every: int = 10, swaps: int = 2):
        rng = np.random.default_rng(seed + 7919)
        toks = rng.integers(0, vocab, (n_docs, words))
        self.planted: list[tuple[int, int]] = []
        for b in range(copy_every, n_docs, copy_every):
            a = int(rng.integers(0, b))
            toks[b] = toks[a]
            pos = rng.choice(words, size=swaps, replace=False)
            toks[b, pos] = rng.integers(0, vocab, swaps)
            self.planted.append((a, b))
        self.texts = [" ".join(f"w{t}" for t in row) for row in toks]

    def shingles(self, i: int, n: int = 3) -> set[str]:
        t = self.texts[i].lower().split()
        return {" ".join(t[j:j + n]) for j in range(len(t) - n + 1)}

    def jaccard(self, a: int, b: int) -> float:
        sa, sb = self.shingles(a), self.shingles(b)
        return len(sa & sb) / len(sa | sb)

    def pairs_ok(self, pairs, threshold: float, floor: float) -> tuple[bool, float]:
        """Every emitted pair has true Jaccard >= threshold, and the
        share of planted pairs found (either order) is >= floor."""
        got = set()
        for a, b, _j in pairs:
            if self.jaccard(a, b) < threshold - 1e-12:
                return False, 0.0
            got.add((min(a, b), max(a, b)))
        planted = {(min(a, b), max(a, b)) for a, b in self.planted
                   if self.jaccard(a, b) >= threshold}
        recall = len(planted & got) / max(1, len(planted))
        return recall >= floor, recall

    def groups_ok(self, rows, pairs) -> bool:
        """dedup_groups rows (doc_id, group_id, group_size, is_canonical):
        one row per document, group id = the smallest id of the pair
        graph's connected component, canonical iff it is that id."""
        parent = list(range(len(self.texts)))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b, _j in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comp = [find(i) for i in range(len(self.texts))]
        size: dict[int, int] = {}
        for c in comp:
            size[c] = size.get(c, 0) + 1
        if len(rows) != len(self.texts):
            return False
        for doc, gid, gsize, canon in rows:
            c = comp[doc]
            if gid != c or gsize != size[c] or canon != int(doc == c):
                return False
        return True
