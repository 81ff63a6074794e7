"""Correctness checks computed apart from the program: a numpy top-k
over the generated vectors, a model of each mutated store, and the
closed-form stub featurizer. Nothing here imports ``ahnlich_spark``.

Every checker returns a list of problems; an empty list means the
program's output passed."""

from __future__ import annotations

from collections import Counter

import numpy as np

COSINE, DOT, EUCLIDEAN = "cosine_similarity", "dot_product", "euclidean_distance"
LINEAR = (COSINE, DOT, EUCLIDEAN)

# The program scores in float32; the reference here is float64 over the
# same float32 inputs. Sums over a few hundred float32 products drift
# by well under 1e-4 of their magnitude.
REL_TOL, ABS_TOL = 1e-4, 1e-5


def tol(x: float) -> float:
    return ABS_TOL + REL_TOL * abs(x)


def scores(metric: str, matrix: np.ndarray, q: np.ndarray) -> np.ndarray:
    m = matrix.astype(np.float64)
    v = np.asarray(q, dtype=np.float32).astype(np.float64)
    if metric == DOT:
        return m @ v
    if metric == COSINE:
        return (m @ v) / (np.linalg.norm(m, axis=1) * np.linalg.norm(v))
    if metric == EUCLIDEAN:
        return np.sqrt(((m - v) ** 2).sum(axis=1))
    raise ValueError(f"unknown metric {metric!r}")


def closeness(metric: str, s):
    """Greater is closer, for similarities and distances alike."""
    return -s if metric == EUCLIDEAN else s


class Rows:
    """Stored vectors, addressable by their float32 bytes (the vector is
    the store's primary key)."""

    def __init__(self, vectors: np.ndarray):
        self.matrix = np.asarray(vectors, dtype=np.float32)
        self.index = {v.tobytes(): i for i, v in enumerate(self.matrix)}

    def find(self, vec) -> int | None:
        return self.index.get(np.asarray(vec, dtype=np.float32).tobytes())


def top_k(label, metric, rows: Rows, q, k, got_keys, got_scores, mask=None):
    """Exact top-k check. Every returned row must be a stored row (and
    pass ``mask`` when given), its score must match the recomputed one,
    the rows must come sorted by closeness, and the set must be the
    numpy top-k except where rows tie with the k-th within tolerance."""
    problems = []
    true = scores(metric, rows.matrix, q)
    close = closeness(metric, true)
    eligible = np.arange(len(true)) if mask is None else np.flatnonzero(mask)
    want = min(k, len(eligible))
    if len(got_keys) != want:
        problems.append(f"{label}: {len(got_keys)} rows, expected {want}")
    if want == 0:
        return problems
    ranked = eligible[np.argsort(-close[eligible], kind="stable")]
    kth = close[ranked[want - 1]]
    seen = set()
    prev = np.inf
    for key, s in zip(got_keys, got_scores):
        i = rows.find(key)
        if i is None or (mask is not None and not mask[i]):
            problems.append(f"{label}: returned a row that is not an eligible stored row")
            continue
        if i in seen:
            problems.append(f"{label}: row {i} returned twice")
        seen.add(i)
        if abs(true[i] - s) > tol(true[i]):
            problems.append(f"{label}: row {i} score {s} != {true[i]:.6f}")
        c = closeness(metric, s)
        if c > prev + tol(prev):
            problems.append(f"{label}: rows not sorted by closeness")
        prev = c
        if close[i] < kth - tol(kth):
            problems.append(f"{label}: row {i} is outside the top {k}")
    missing = [i for i in ranked[:want] if close[i] > kth + tol(kth) and i not in seen]
    if missing:
        problems.append(f"{label}: top-{k} rows {missing} missing")
    return problems


def ann(label, metric, rows: Rows, q, k, got_keys, got_scores):
    """An approximate answer: real stored rows, each with its true
    score, sorted by closeness, k of them. Returns (problems, recall)
    where recall is the share of the exact top-k that was found."""
    problems = []
    true = scores(metric, rows.matrix, q)
    close = closeness(metric, true)
    want = min(k, len(true))
    if len(got_keys) != want:
        problems.append(f"{label}: {len(got_keys)} rows, expected {want}")
    found = []
    prev = np.inf
    for key, s in zip(got_keys, got_scores):
        i = rows.find(key)
        if i is None:
            problems.append(f"{label}: returned a row that is not stored")
            continue
        found.append(i)
        if abs(true[i] - s) > tol(true[i]):
            problems.append(f"{label}: row {i} score {s} != {true[i]:.6f}")
        c = closeness(metric, s)
        if c > prev + tol(prev):
            problems.append(f"{label}: rows not sorted by closeness")
        prev = c
    if len(set(found)) != len(found):
        problems.append(f"{label}: a row was returned twice")
    exact = set(np.argsort(-close, kind="stable")[:want].tolist())
    recall = len(exact & set(found)) / want if want else 1.0
    return problems, recall


def get_key(label, probe, expected_meta, got):
    """GetKey must return exactly the probed row: ``got`` is a list of
    (key, meta) pairs."""
    if len(got) != 1:
        return [f"{label}: {len(got)} rows, expected exactly 1"]
    key, meta = got[0]
    problems = []
    if np.asarray(key, dtype=np.float32).tobytes() != np.asarray(probe, dtype=np.float32).tobytes():
        problems.append(f"{label}: returned another vector than the probe")
    if meta != expected_meta:
        problems.append(f"{label}: metadata {meta} != {expected_meta}")
    return problems


def counts(label, got: tuple, want: tuple):
    return [] if tuple(got) == tuple(want) else [f"{label}: counts {tuple(got)} != {tuple(want)}"]


# ---------------------------------------------------------------- store model --

class StoreModel:
    """What a vector store must hold after a sequence of mutations: the
    vector (float32 bytes) is the primary key; metadata is a flat
    string map."""

    def __init__(self, vectors, metas):
        self.rows = {}
        for v, m in zip(np.asarray(vectors, dtype=np.float32), metas):
            self.rows[v.tobytes()] = (v, dict(m))
        self._snapshot = None

    def set(self, entries):
        """Apply a SET batch; later duplicates in a batch win. Returns
        (inserted, updated)."""
        batch = {}
        for v, m in entries:
            v = np.asarray(v, dtype=np.float32)
            batch[v.tobytes()] = (v, dict(m))
        updated = sum(1 for b in batch if b in self.rows)
        self.rows.update(batch)
        self._snapshot = None
        return len(batch) - updated, updated

    def delete(self, keys) -> int:
        gone = 0
        for v in keys:
            b = np.asarray(v, dtype=np.float32).tobytes()
            if self.rows.pop(b, None) is not None:
                gone += 1
        self._snapshot = None
        return gone

    def upsert(self, key: str, value: str, new_meta: dict):
        """Replace the metadata of the single row whose ``key`` equals
        ``value``. Returns (inserted, updated) = (0, 1)."""
        hits = [b for b, (_v, m) in self.rows.items() if m.get(key) == value]
        if len(hits) != 1:
            raise ValueError(f"model: {len(hits)} rows match {key}={value}")
        v, _m = self.rows[hits[0]]
        self.rows[hits[0]] = (v, dict(new_meta))
        self._snapshot = None
        return 0, 1

    def snapshot(self):
        """(Rows, metas) in a stable order, rebuilt after mutations."""
        if self._snapshot is None:
            items = sorted(self.rows.items())
            self._snapshot = (
                Rows(np.stack([v for _b, (v, _m) in items])),
                [m for _b, (_v, m) in items],
            )
        return self._snapshot

    def aggregate(self, group_key: str, measure):
        """{group: (n, sum(measure(meta)))} — what a grouped count/sum
        view over the store must hold."""
        out = {}
        for _v, m in self.rows.values():
            g = m.get(group_key)
            n, s = out.get(g, (0, 0))
            out[g] = (n + 1, s + measure(m))
        return out


def same_rows(label, model: StoreModel, got):
    """``got``: (key, flat meta) pairs read back from a store."""
    problems = []
    seen = {}
    for key, meta in got:
        b = np.asarray(key, dtype=np.float32).tobytes()
        if b in seen:
            problems.append(f"{label}: vector stored twice")
        seen[b] = meta
    if set(seen) != set(model.rows):
        extra, lost = len(set(seen) - set(model.rows)), len(set(model.rows) - set(seen))
        problems.append(f"{label}: {extra} unexpected rows, {lost} rows missing")
    wrong = sum(1 for b, m in seen.items() if b in model.rows and model.rows[b][1] != m)
    if wrong:
        problems.append(f"{label}: {wrong} rows with wrong metadata")
    return problems


def same_groups(label, want: dict, got: dict):
    """Grouped view check: ``{group: (n, measure...)}`` on both sides."""
    if want == got:
        return []
    diff = sorted(set(want) ^ set(got), key=str)
    bad = sorted((g for g in set(want) & set(got) if want[g] != got[g]), key=str)
    return [f"{label}: groups differ (only on one side: {diff[:5]}, wrong: {bad[:5]})"]


# ------------------------------------------------------- stub featurizer --

STUB_P = 1_000_003
STUB_RANGE = 2001


def stub_embedding(text: str, dim: int) -> np.ndarray:
    """The closed form documented with the program's stub featurizer:
    with c_j the j-th code point (1-based j), s1 = sum(c_j * j) mod P
    and s2 = sum(c_j) mod P, component i (1-based) is
    ((s1 * i + s2) mod 2001 - 1000) / 1000 as float32."""
    s1 = s2 = 0
    for j, ch in enumerate(text, start=1):
        c = ord(ch)
        s1 = (s1 + c * j) % STUB_P
        s2 = (s2 + c) % STUB_P
    i = np.arange(1, dim + 1, dtype=np.int64)
    return (((s1 * i + s2) % STUB_RANGE - 1000) / 1000.0).astype(np.float32)


class AiModel:
    """An AI store with stored originals: embedding -> the original
    texts that may own it (more than one only where the stub collides)."""

    def __init__(self, dim: int):
        self.dim = dim
        self.rows = {}
        self._cache = {}
        self._snapshot = None

    def embed(self, text: str) -> np.ndarray:
        e = self._cache.get(text)
        if e is None:
            e = self._cache[text] = stub_embedding(text, self.dim)
        return e

    def ingest(self, texts) -> int:
        """Bulk SET into an empty store; returns rows inserted."""
        self.rows = {}
        for t in texts:
            self.rows.setdefault(self.embed(t).tobytes(), set()).add(t)
        self._snapshot = None
        return len(self.rows)

    def collides(self, text: str) -> bool:
        owners = self.rows.get(self.embed(text).tobytes())
        return owners is not None and owners != {text}

    def unique_originals(self):
        return sorted(next(iter(o)) for o in self.rows.values() if len(o) == 1)

    def set(self, texts):
        """AI SET with stored originals: rows holding any of the batch's
        originals are removed first, then the batch upserts. Returns
        (inserted, updated)."""
        originals = set(texts)
        self.rows = {b: o for b, o in self.rows.items() if not (o & originals)}
        batch = {self.embed(t).tobytes(): t for t in texts}
        updated = sum(1 for b in batch if b in self.rows)
        for b, t in batch.items():
            self.rows[b] = {t}
        self._snapshot = None
        return len(batch) - updated, updated

    def snapshot(self) -> Rows:
        if self._snapshot is None:
            self._snapshot = Rows(np.stack([np.frombuffer(b, dtype=np.float32) for b in sorted(self.rows)]))
        return self._snapshot

    def check_originals(self, label, got):
        """``got``: original texts read back from the store."""
        want = Counter()
        for owners in self.rows.values():
            want[frozenset(owners)] += 1
        problems = []
        seen = Counter()
        for t in got:
            owners = self.rows.get(self.embed(t).tobytes())
            if owners is None or t not in owners:
                problems.append(f"{label}: stored original not in the model")
                break
            seen[frozenset(owners)] += 1
        if not problems and seen != want:
            problems.append(f"{label}: {sum(seen.values())} rows, expected {sum(want.values())}")
        return problems
