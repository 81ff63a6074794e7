"""Approximate nearest neighbour as a Spark-first two-stage plan.

The reference maintains incremental KD-tree / HNSW graphs in RAM
(ahnlich/similarity/src/kdtree.rs, hnsw/index.rs). Pointer-chasing graph
traversal is the wrong shape for a 1000-executor cluster; the classic
Spark-native equivalent is **bucket pruning + exact rescore**:

1. signature: sign-bits of the key against ``n_planes`` fixed random
   hyperplanes (random-projection LSH) — batch-precomputable as an index
   artifact co-partitioned with the store;
2. candidate pruning: keep rows whose signature is within a Hamming
   radius of the query's signature (partition/file pruning at scale when
   the store is laid out by signature prefix);
3. exact top-k rescore over the surviving candidates.

Two reference behaviors are preserved deliberately:
- accept-lists <= 4096 short-circuit to exact brute force
  (ahnlich/similarity/src/hnsw/index.rs:24) — here: if the candidate set
  is small (or the radius prunes too hard), we widen and ultimately fall
  back to the exact scan, so recall never collapses;
- exact mode must reach recall 1.0, approximate > 0.9 @ k=50
  (sift_dataset_validation.rs:97-113) — validated in tests/test_ann.py.
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ahnlich_spark.functions import similarity as S
from ahnlich_spark.operators.topk import top_k_similar

DEFAULT_N_PLANES = 16
DEFAULT_SEED = 7
# Signature-prefix bits used as the store's partition-layout key: the
# Hamming-ball probe maps to a small set of feasible prefixes, so the
# candidate read prunes whole partition directories (files) at scale.
PREFIX_BITS = 6


def hyperplanes(dim: int, n_planes: int = DEFAULT_N_PLANES, seed: int = DEFAULT_SEED) -> np.ndarray:
    """Deterministic random hyperplanes (fixed seed => index is stable
    across rebuilds and across the query/build sides)."""
    rng = np.random.RandomState(seed)
    return rng.normal(size=(n_planes, dim)).astype(np.float32)


def signature_expr(key: Column, planes: np.ndarray) -> Column:
    """Sign-bit signature of an ARRAY<FLOAT> column as a BIGINT,
    JVM-side.

    Accumulation is DOUBLE with a left-associative fold: f32 inputs are
    exact in f64, so the same chain is bit-reproducible by the driver
    (``signature_of``) and by a SQL oracle — signatures are portable
    integers, not f32-summation-order artifacts.

    Built as ONE parsed SQL expression: the plane matrix rides in as a
    constant-folded ``from_json`` literal and the n_planes dot products
    are HOF transforms over it, so Catalyst walks a handful of nodes
    instead of n_planes*dim py4j-built literals (each py4j Column call
    costs ~10ms driver-side — building this per-plane took ~10s per
    store write at n_planes=16, dim=64)."""
    import json as _json

    col = _column_sql(key)
    pm = _json.dumps([[float(x) for x in p] for p in planes])
    bits = _json.dumps([1 << i for i in range(len(planes))])
    return F.expr(f"""
aggregate(
  zip_with(
    transform(from_json('{pm}', 'array<array<double>>'),
      p -> aggregate(zip_with({col}, p, (x, y) -> CAST(x AS DOUBLE) * y),
                     CAST(0 AS DOUBLE), (a, x) -> a + x)),
    from_json('{bits}', 'array<bigint>'),
    (d, w) -> IF(d >= CAST(0 AS DOUBLE), w, 0L)),
  0L, (a, x) -> a + x)
""".strip())


def _column_sql(key: Column) -> str:
    """SQL text of a plain (possibly qualified) column reference — the
    only shapes signature_expr is used with."""
    if isinstance(key, str):
        return f"`{key}`"
    name = key._jc.toString()
    if not all(part.replace("_", "").isalnum() for part in name.split(".")):
        raise ValueError(f"signature_expr needs a plain column, got {name!r}")
    return ".".join(f"`{p}`" for p in name.split("."))


def signature_of(vec: Sequence[float], planes: np.ndarray) -> int:
    """Driver-side signature of one vector — the SAME left-associative
    f64 chain as ``signature_expr`` (Python floats are IEEE doubles), so
    the query signature agrees bit-for-bit with build-side signatures."""
    v = [float(x) for x in np.asarray(list(vec), dtype=np.float32)]
    sig = 0
    for i, p in enumerate(planes):
        acc = 0.0
        for x, y in zip(v, p):
            acc += x * float(y)
        if acc >= 0:
            sig |= 1 << i
    return sig


def build_signature_index(df: DataFrame, dim: int, n_planes: int = DEFAULT_N_PLANES,
                          seed: int = DEFAULT_SEED) -> DataFrame:
    """(id, sig) index artifact; co-partition by id with the store so the
    candidate join never shuffles the store side."""
    planes = hyperplanes(dim, n_planes, seed)
    return df.select("id", signature_expr(F.col("key"), planes).alias("sig"))


def sig_prefix_expr(sig: Column, n_planes: int, prefix_bits: int = PREFIX_BITS) -> Column:
    """Top ``prefix_bits`` of the signature — the partition-layout key."""
    return F.shiftrightunsigned(sig, max(0, n_planes - prefix_bits)).cast("int")


# ------------------------------------------- driver-side probe planning --
# These run on SMALL per-index statistics (<= 2^n_planes signature counts,
# <= n_clusters bucket counts) collected ONCE per store version, so query
# planning costs zero cluster scans.

def choose_radius(hist: dict, min_candidates: int, min_radius: int, n_planes: int):
    """Smallest radius >= min_radius whose cumulative candidate count
    fills the quota; (None, total) when even the widest ball starves."""
    cum = 0
    for radius in range(n_planes + 1):
        cum += hist.get(radius, 0)
        if radius >= min_radius and cum >= min_candidates:
            return radius, cum
    return None, cum


def feasible_prefixes(qsig: int, n_planes: int, radius: int,
                      prefix_bits: int = PREFIX_BITS) -> list:
    """All prefix values a signature within Hamming ``radius`` of the
    query can have: at most ``radius`` of the differing bits land in the
    prefix, so the feasible set is the prefix-ball of the same radius.
    Partition-prunes the candidate read when the store is laid out by
    ``sig_prefix_expr``."""
    from itertools import combinations

    qp = qsig >> max(0, n_planes - prefix_bits)
    out = set()
    for d in range(min(radius, prefix_bits) + 1):
        for pos in combinations(range(prefix_bits), d):
            p = qp
            for b in pos:
                p ^= 1 << b
            out.add(p)
    return sorted(out)


def choose_probes(order, bucket_counts: dict, n_probe: int, min_candidates: int):
    """First ``i >= n_probe`` nearest buckets whose cumulative count
    fills the quota; (None, total) when all buckets together starve."""
    cum = 0
    for i, c in enumerate(order):
        cum += bucket_counts.get(int(c), 0)
        if i + 1 >= n_probe and cum >= min_candidates:
            return [int(x) for x in order[: i + 1]], cum
    return None, cum


def _popcount64(x: np.ndarray) -> np.ndarray:
    """Vectorized 64-bit popcount (numpy<2 has no bitwise_count)."""
    x = x.astype(np.uint64, copy=True)
    x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
    x = (x & np.uint64(0x3333333333333333)) + (
        (x >> np.uint64(2)) & np.uint64(0x3333333333333333)
    )
    x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return (x * np.uint64(0x0101010101010101)) >> np.uint64(56)


# ----------------------------------------------- per-probe index planners --
# One planner per pruned index. ``plan(vec)`` is the WHOLE per-probe
# planning rule; the single-probe query, the batch driver loop and the
# distributed pandas-UDF planner (``plan_udf``) all call it, so the three
# faces cannot drift apart. A plan is ``(row, keys)``: ``row`` holds the
# values of ``plan_cols`` (what the batch join needs per probe) and
# ``keys`` the values of ``prune_col`` the probe's candidates can carry
# (what prunes partition directories); ``None`` means the probe's
# candidate quota cannot be filled and the caller answers exactly.

class IvfPlanner:
    """IVF probe sets: the ``n_probe``+ buckets nearest the query (float64
    centroid distances, stable argsort) widened by ``choose_probes``
    until their counted rows fill ``min_candidates``."""

    prune_col = "_ann_bucket"
    plan_cols = ("qbuckets",)
    plan_schema = "qbuckets array<int>"

    def __init__(self, centroids: np.ndarray, bucket_counts: dict,
                 n_probe: int, min_candidates: int):
        self.centroids = centroids
        self._c64 = np.ascontiguousarray(centroids, dtype=np.float64)
        self._counts = {int(k): v for k, v in bucket_counts.items()}
        self._n_probe = int(n_probe)
        self._quota = min_candidates

    def plan(self, vec):
        q = np.asarray(list(vec), dtype=np.float64)
        order = np.argsort(((self._c64 - q) ** 2).sum(axis=1), kind="stable")
        picked, _cum = choose_probes(order, self._counts, self._n_probe,
                                     self._quota)
        return None if picked is None else ((picked,), picked)

    def probe_filter(self, row, keys) -> Column:
        return F.col(self.prune_col).isin(keys)

    def join_cond(self) -> Column:
        return F.array_contains(F.col("qbuckets"), F.col(self.prune_col))


class LshPlanner:
    """LSH Hamming balls: the query's signature and the smallest radius
    >= ``min_radius`` whose ball holds ``min_candidates`` rows of the
    signature histogram (one vectorized popcount + bincount over the
    table); its feasible signature prefixes prune the scan."""

    prune_col = "_ann_sigp"
    plan_cols = ("qsig", "qradius")
    plan_schema = "qsig long, qradius int"

    def __init__(self, planes: np.ndarray, sig_counts: dict,
                 min_candidates: int, min_radius: int):
        self._planes = planes
        self._n_planes = len(planes)
        self._sigs = np.fromiter((int(s) for s in sig_counts), dtype=np.uint64,
                                 count=len(sig_counts))
        self._cnts = np.fromiter((float(c) for c in sig_counts.values()),
                                 dtype=np.float64, count=len(sig_counts))
        self._quota = min_candidates
        self._min_radius = int(min_radius)

    def plan(self, vec):
        qsig = signature_of(vec, self._planes)
        d = _popcount64(np.bitwise_xor(self._sigs, np.uint64(qsig)))
        hist = np.bincount(d.astype(np.int64), weights=self._cnts,
                           minlength=self._n_planes + 1)
        radius, _cum = choose_radius(dict(enumerate(hist.tolist())),
                                     self._quota, self._min_radius,
                                     self._n_planes)
        if radius is None:
            return None
        return (qsig, radius), feasible_prefixes(qsig, self._n_planes, radius)

    def probe_filter(self, row, keys) -> Column:
        qsig, radius = row
        return F.col(self.prune_col).isin(keys) & (
            F.bit_count(F.col("_ann_sig").bitwiseXOR(F.lit(qsig))) <= radius
        )

    def join_cond(self) -> Column:
        return (F.bit_count(F.col("_ann_sig").bitwiseXOR(F.col("qsig")))
                <= F.col("qradius"))


# --------------------------------------- distributed probe planning --
# Above the engine's BATCH_PLAN_THRESHOLD the per-probe planning loop
# moves OFF the driver: the planner (its histograms/centroids are small
# by construction) ships into an Arrow-batched pandas UDF over the probe
# frame, each executor plans its slice with the IDENTICAL ``plan`` the
# driver loop calls, and only the bounded union of prune keys (<=
# n_clusters / 2^PREFIX_BITS values) ever returns to the driver. A
# million-probe batch costs the driver one tiny distinct-collect instead
# of a million argsorts.

def plan_udf(planner, dim: int):
    """pandas UDF ``qkey -> struct(<planner.plan_cols>, qkeys array<int>)``
    running ``planner.plan`` per probe; a starved probe comes back with
    every field NULL (the caller falls back to the exact batch plan)."""
    import pandas as pd

    names = [*planner.plan_cols, "qkeys"]

    def plan(keys):
        cols = [[] for _ in names]
        for v in keys:
            if len(v) != dim:
                raise ValueError(
                    f"probe dimension {len(v)} != store dimension {dim}"
                )
            p = planner.plan(v)
            vals = [None] * len(names) if p is None else [*p[0], p[1]]
            for col, val in zip(cols, vals):
                col.append(val)
        return pd.DataFrame({n: pd.Series(c, dtype=object)
                             for n, c in zip(names, cols)})

    plan.__annotations__ = {"keys": pd.Series, "return": pd.DataFrame}
    return F.pandas_udf(f"{planner.plan_schema}, qkeys array<int>")(plan)


def lsh_top_k(
    df: DataFrame,
    query_vector: Sequence[float],
    metric: str = S.COSINE,
    k: int = 10,
    precision: str = "float",
    brute_force_threshold: int = 4096,
    n_planes: int = DEFAULT_N_PLANES,
    seed: int = DEFAULT_SEED,
    hamming_radius: int = 3,
    index_df: Optional[DataFrame] = None,
) -> DataFrame:
    """Approximate top-k: Hamming-ball bucket pruning + exact rescore.

    ``index_df`` is a prebuilt (id, sig) artifact; without one the
    signature is computed on the fly (correct, but pays the per-row
    projection cost at query time — create the index for repeated use).

    An adaptive widen-then-fallback loop keeps recall honest: if a radius
    prunes below max(4*k, brute_force_threshold/8) candidates, widen; if
    the widest radius still starves, run the exact scan (the reference's
    small-accept-list brute-force shortcut, hnsw/index.rs:24).
    """
    dim = len(list(query_vector))

    # The reference's small-store shortcut (hnsw/index.rs:24): below the
    # brute-force threshold the exact scan IS the fast path — skip the
    # signature projection entirely (one cheap count vs evaluating
    # n_planes dot products per row just to discover pruning won't pay).
    if df.limit(brute_force_threshold + 1).count() <= brute_force_threshold:
        return top_k_similar(df, query_vector, metric, k, precision=precision)

    planes = hyperplanes(dim, n_planes, seed)
    qsig = signature_of(query_vector, planes)

    if index_df is not None:
        cand_base = df.join(index_df, "id")
    else:
        cand_base = df.withColumn("sig", signature_expr(F.col("key"), planes))

    min_candidates = max(4 * k, brute_force_threshold // 8)
    dist = F.bit_count(F.col("sig").bitwiseXOR(F.lit(qsig)))
    # AQE-style runtime decision from ONE pass: the Hamming-distance
    # histogram (n_planes+1 tiny rows) picks the smallest radius whose
    # cumulative candidate count fills the quota — instead of paying a
    # full signature evaluation per probed radius.
    hist = dict(
        cand_base.select(dist.alias("d")).groupBy("d").count().collect()
    )
    chosen, _cum = choose_radius(hist, min_candidates, hamming_radius, n_planes)
    if chosen is None:
        return top_k_similar(df, query_vector, metric, k, precision=precision)
    cands = cand_base.filter(dist <= chosen).drop("sig")
    return top_k_similar(cands, query_vector, metric, k, precision=precision)


# ----------------------------------------------------------------- IVF --

DEFAULT_N_CLUSTERS = 64
DEFAULT_N_PROBE = 8
KMEANS_ITERS = 8
KMEANS_SAMPLE = 20_000


def train_centroids(
    df: DataFrame,
    dim: int,
    n_clusters: int = DEFAULT_N_CLUSTERS,
    sample: int = KMEANS_SAMPLE,
    seed: int = DEFAULT_SEED,
    key_col: str = "key",
) -> np.ndarray:
    """IVF coarse quantizer: k-means on a driver-side sample (the
    standard IVF recipe — training is sample-based even at billions of
    rows; only ASSIGNMENT is distributed). Deterministic via fixed seed
    and Lloyd iterations in float64.

    The sample is HASH-ORDERED (top-``sample`` by xxhash64 of the
    vector), not first-partitions: at 100 TB data is near-always
    clustered on disk by source/date, so ``limit(N)`` would train the
    quantizer on one biased slice and skew every bucket the pruned path
    prunes by. orderBy+limit compiles to TakeOrdered — each partition
    keeps its local top-``sample``, no global shuffle — and the result
    is invariant to partition count/order (pinned by
    test_ann_index.test_train_centroids_partition_invariant)."""
    rows = (
        df.select(key_col)
        .orderBy(F.xxhash64(F.col(key_col)))
        .limit(sample)
        .collect()
    )
    data = np.asarray([list(r[key_col]) for r in rows], dtype=np.float64)
    n_clusters = min(n_clusters, len(data))
    rng = np.random.RandomState(seed)
    centers = data[rng.choice(len(data), size=n_clusters, replace=False)]
    for _ in range(KMEANS_ITERS):
        d2 = ((data[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(n_clusters):
            members = data[assign == c]
            if len(members):
                centers[c] = members.mean(axis=0)
    return centers.astype(np.float32)


def assign_buckets(df: DataFrame, centroids: np.ndarray, key_col: str = "key") -> DataFrame:
    """Add a ``bucket`` column: nearest-centroid id, one numpy matmul
    per Arrow batch. At scale, WRITE the store partitioned by this
    column — the probe-time bucket filter then prunes whole files
    (classic IVF partition pruning)."""
    import pandas as pd

    cents = centroids.astype(np.float64)
    cnorm = (cents * cents).sum(axis=1)

    def assign(keys):
        mat = np.stack(keys.map(lambda v: np.asarray(v, dtype=np.float64)).to_numpy())
        # argmin ||x-c||^2 = argmin (||c||^2 - 2 x.c)
        d = cnorm[None, :] - 2.0 * (mat @ cents.T)
        return pd.Series(d.argmin(axis=1))

    assign.__annotations__ = {"keys": pd.Series, "return": pd.Series}
    assign_udf = F.pandas_udf(T.IntegerType())(assign)
    return df.withColumn("bucket", assign_udf(F.col(key_col)))


def ivf_top_k(
    df: DataFrame,
    query_vector: Sequence[float],
    metric: str = S.COSINE,
    k: int = 10,
    precision: str = "float",
    centroids: Optional[np.ndarray] = None,
    index_df: Optional[DataFrame] = None,
    n_clusters: int = DEFAULT_N_CLUSTERS,
    n_probe: int = DEFAULT_N_PROBE,
    brute_force_threshold: int = 4096,
) -> DataFrame:
    """IVF: probe the ``n_probe`` clusters nearest the query, exact
    top-k over their members only. ``index_df`` is a prebuilt
    (id, bucket) artifact (or the store may carry a ``bucket`` column);
    otherwise assignment is computed on the fly. Mirrors lsh_top_k's
    contracts: small stores brute-force; a starved probe set widens and
    ultimately falls back to the exact scan."""
    if df.limit(brute_force_threshold + 1).count() <= brute_force_threshold:
        return top_k_similar(df, query_vector, metric, k, precision=precision)

    dim = len(list(query_vector))
    if centroids is None:
        centroids = train_centroids(df, dim, n_clusters)
    if index_df is not None:
        base = df.join(index_df, "id")
    elif "bucket" in df.columns:
        base = df
    else:
        base = assign_buckets(df, centroids)

    # one histogram pass picks the probe width (same trick as the LSH
    # radius histogram — never re-evaluate assignment per attempt)
    hist = dict(base.groupBy("bucket").count().collect())
    plan = IvfPlanner(centroids, hist, n_probe,
                      max(4 * k, brute_force_threshold // 8)).plan(query_vector)
    if plan is None:
        return top_k_similar(df.drop("bucket") if "bucket" in df.columns else df,
                             query_vector, metric, k, precision=precision)
    cands = base.filter(F.col("bucket").isin(plan[1])).drop("bucket")
    return top_k_similar(cands, query_vector, metric, k, precision=precision)
