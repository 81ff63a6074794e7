"""Seeded input generators. The same seed gives the same inputs; the
program under test only ever sees what these functions return."""

from __future__ import annotations

import numpy as np

DIM = 128
N_CLUSTERS = 100
CLUSTER_SPREAD = 0.15  # per-dimension noise around a centre, as in SIFT-shaped data
CATEGORIES = 8

# The make-up of the documents fixture (documents.parquet at sf0.1):
# 30 words drawn uniformly, 10 to 100 tokens per text, a handful of
# exact copies and a few copies tagged with an extra "dup" token.
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
MIN_TOKENS, MAX_TOKENS = 10, 100


class Clustered:
    """SIFT-shaped vectors: points scattered around random cluster
    centres, each with a uniformly drawn category."""

    def __init__(self, rng: np.random.Generator, n: int, dim: int = DIM):
        self.rng = rng
        self.dim = dim
        self.centres = rng.normal(0.0, 1.0, (N_CLUSTERS, dim))
        self.vectors = self.fresh(n)
        self.categories = rng.integers(0, CATEGORIES, n)

    def fresh(self, n: int) -> np.ndarray:
        """``n`` new points of the same distribution (float32)."""
        which = self.rng.integers(0, N_CLUSTERS, n)
        noise = self.rng.normal(0.0, CLUSTER_SPREAD, (n, self.dim))
        return (self.centres[which] + noise).astype(np.float32)

    def probe(self) -> np.ndarray:
        """A query near a cluster centre; never a copy of a stored row."""
        return self.fresh(1)[0]


def texts(rng: np.random.Generator, n: int) -> list:
    """``n`` texts of the documents fixture's make-up."""
    out = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.002:
            out.append(out[int(rng.integers(0, i))])
        elif i > 10 and roll < 0.05:
            out.append(out[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(MIN_TOKENS, MAX_TOKENS + 1))
            out.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return out
