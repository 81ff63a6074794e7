"""Engine facade: the reference's DB service surface as DataFrame plans.

One method per operator in SURVEY.md §2.1 (reference wire surface:
ahnlich/types/src/db/pipeline.rs:13-55). Every data-touching method is a
declarative Catalyst plan over the store's parquet snapshot:

- Set        -> id-hash + keep-last dedup + hash-join counting + rewrite
                (reference ahnlich/db/src/engine/store.rs:1050-1135)
- GetKey     -> left-semi join on hashed probe ids   (store.rs:860-867)
- GetPred    -> Catalyst filter                      (store.rs:871-874)
- GetSimN    -> filter -> score -> TakeOrderedAndProject (store.rs:290-399)
- DelKey     -> left-anti join + count               (store.rs:842-849)
- DelPred    -> negated filter + count               (store.rs:853-856)
- Upsert     -> exactly-one-match guard + rewrite    (store.rs:443-528)
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Dict, Iterable, List, Optional, Sequence, Tuple, Union

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ahnlich_spark import errors
from ahnlich_spark.catalog import (
    Catalog,
    HNSW_DEFAULTS,
    PUBLIC_SCHEMA,
    StoreMeta,
)
from ahnlich_spark.functions import similarity as S
from ahnlich_spark.functions import local_rows_df
from ahnlich_spark.functions.hashing import store_key_id
from ahnlich_spark.operators.predicates import Predicate, compile_predicate
from ahnlich_spark.operators.topk import top_k_similar
from ahnlich_spark.sources.store_io import (
    drop_internal,
    internal_columns,
    read_store,
    write_store,
)
from ahnlich_spark.types import (
    META_MAP_TYPE,
    META_MAP_TYPE_RELAXED,
    MetadataValue,
    meta_map,
    store_schema,
    vector_lit,
)

Entry = Tuple[Sequence[float], dict]

NON_LINEAR_ALGOS = ("kdtree", "hnsw", "ivf", "pq")
LINEAR_ALGOS = (S.COSINE, S.DOT, S.EUCLIDEAN)

# Reference crossover: accept lists <= 4096 are brute-forced even when an
# ANN index exists (ahnlich/similarity/src/hnsw/index.rs:24).
BRUTE_FORCE_THRESHOLD = 4096

# Per-algorithm index defaults. kdtree is EXACT (the reference KD-tree
# n_nearest is exact k-NN, kdtree.rs:437-529) so it needs no artifact;
# hnsw maps to LSH bucket pruning where ef_construction is honored as
# the candidate-list quota (its literal HNSW meaning) and
# n_planes/hamming_radius tune the signature; ivf is the engine's
# space-partitioned extension (the distributed analog of tree search).
ANN_DEFAULTS = {
    "kdtree": {"distance": "euclidean_distance"},
    "hnsw": dict(HNSW_DEFAULTS, n_planes=16, seed=7, hamming_radius=3),
    "ivf": {"n_clusters": 64, "n_probe": 8, "distance": "euclidean_distance", "seed": 7},
    # pq: ADC over an embedded code column (operators/pq.py) — 32x
    # smaller scan per query than raw f32 vectors; candidates = the
    # exact-rescore budget (recall knob, like ivf n_probe)
    "pq": {"m": 8, "k_centroids": 16, "candidates": 256, "iters": 10,
           "sample": 4096, "distance": "euclidean_distance"},
}


def _map_hnsw_tunables(cfg: dict, user: dict) -> dict:
    """Map the reference's HNSW construction tunables
    (ahnlich/similarity/src/hnsw/mod.rs:285-296) onto the LSH-signature
    analog so they are honored, not silently dropped (VERDICT r02 #7):

    - ``m`` (graph degree, default 16) -> ``n_planes`` (signature
      bits, default 16): both trade recall for per-row index cost, and
      the defaults coincide. An explicit ``n_planes`` wins.
    - ``extend_candidates`` (bool: widen the construction candidate
      pool) -> +1 on the ``hamming_radius`` floor (search a wider
      ball). An explicit ``hamming_radius`` wins.
    - ``ef_construction`` is already honored as the candidate-list
      quota (its literal HNSW meaning) in ``_ann_top_k``.
    - ``m0`` (layer-0 degree) and ``keep_pruned_connections`` are
      graph-construction details with NO analog in a bucketed index;
      they are accepted and recorded for config round-trip but have no
      effect (documented in COVERAGE.md).
    """
    # accept the proto wire field names too (HnswConfig:
    # maximum_connections = m, maximum_connections_zero = m0)
    if "maximum_connections" in user and "m" not in user:
        user = dict(user, m=user["maximum_connections"])
    if "maximum_connections_zero" in user and "m0" not in user:
        user = dict(user, m0=user["maximum_connections_zero"])
        cfg["m0"] = int(user["m0"])
    if "m" in user and "n_planes" not in user:
        n_planes = int(user["m"])
        if not 1 <= n_planes <= 62:
            raise ValueError(f"hnsw m (-> n_planes) must be in [1, 62], got {n_planes}")
        cfg["n_planes"] = n_planes
    if user.get("extend_candidates") and "hamming_radius" not in user:
        cfg["hamming_radius"] = int(cfg.get("hamming_radius", 3)) + 1
    # the bound holds for an EXPLICIT n_planes too, not just the
    # m-derived one: signatures serialize as BIGINT bit masks, so
    # 1 << 63 and beyond overflow the 'qsig long' schema
    n_planes = int(cfg.get("n_planes", 16))
    if not 1 <= n_planes <= 62:
        raise ValueError(
            f"hnsw n_planes must be in [1, 62] (BIGINT signature), "
            f"got {n_planes}"
        )
    cfg["n_planes"] = n_planes
    return cfg


def _validate_ann_configs(dimension: int, cfgs: dict,
                          algos: set) -> None:
    """The pq structural checks shared by BOTH index-creation doors
    (CreateStore's non_linear_indices and
    CreateNonLinearAlgorithmIndex) — one door skipping them would let
    mismatched subvector splits or residual codes without a coarse
    quantizer silently produce garbage ADC rankings."""
    pq_cfg = cfgs.get("pq")
    if pq_cfg and int(dimension) % int(pq_cfg.get("m", 8)) != 0:
        raise ValueError(
            f"pq requires dimension divisible by m={pq_cfg.get('m', 8)}; "
            f"store dimension is {dimension}"
        )
    if pq_cfg and pq_cfg.get("residual") and "ivf" not in algos:
        raise ValueError(
            "pq residual=true needs the ivf coarse quantizer on the same "
            "store (residuals are taken against the row's bucket centroid)"
        )


@dataclass(frozen=True)
class StoreUpsert:
    inserted: int
    updated: int


@dataclass(frozen=True)
class DelResult:
    deleted_count: int


@dataclass(frozen=True)
class StoreInfo:
    name: str
    schema: str
    len: int
    size_in_bytes: int
    dimension: int
    predicates: Tuple[str, ...]
    non_linear: Tuple[str, ...]
    # per-algorithm index configuration, echoed back like the
    # reference's ListStores (server_tests.rs
    # test_list_stores_returns_nonlinear_config)
    non_linear_config: Dict[str, dict] = None


def _dir_size(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total


def _check_algorithm(algorithm: str) -> None:
    """The one unknown-algorithm error of GetSimN, single and batch."""
    if algorithm not in LINEAR_ALGOS and algorithm not in NON_LINEAR_ALGOS:
        raise ValueError(
            f"unknown algorithm {algorithm!r}; one of "
            f"{sorted(set(LINEAR_ALGOS) | set(NON_LINEAR_ALGOS))}"
        )


def _f32(vec) -> List[float]:
    return [float(x) for x in np.asarray(list(vec), dtype=np.float32)]


def _union_chunks(items: list, step: int, answer) -> DataFrame:
    """``answer`` over ``items`` in chunks of ``step``, the results
    unioned: bounds what one plan ships per chunk (ADC LUTs)."""
    from functools import reduce

    return reduce(DataFrame.unionByName, [
        answer(items[i:i + step]) for i in range(0, max(1, len(items)), step)
    ])


class _ProbeBatch:
    """A GetSimN probe batch — a list of (qid, vector) or a DataFrame
    with (qid, qkey) columns — normalized once for every batch path.
    Every form a path takes checks the dimension first: a NULL or
    wrong-size key raises the typed DimensionMismatch on every path and
    on both sides of BATCH_PLAN_THRESHOLD, never an opaque executor
    pandas-UDF failure or fully ranked nonsense rows for that qid.

    - ``count()``: the probe count; for a DataFrame ONE job that also
      checks every key (skipped when the rows are already collected);
    - ``rows()``: (qid, vector) pairs on the driver, vectors as given;
    - ``frame()``: (qid long, qkey array<float>) for the broadcast join
      and the exact rank;
    - ``src()``: (qid long, qkey) at the probes' own precision, the
      distributed planner's input — planning parity with the driver
      loop, which also plans on unrounded values."""

    def __init__(self, spark: SparkSession, meta: StoreMeta, probes):
        self._spark, self._meta = spark, meta
        self._df = self._rows = self._n = None
        if isinstance(probes, DataFrame):
            # the documented probe contract is (qid, qkey); fall back to
            # position only for undocumented frames
            cols = probes.columns
            self._df = probes.select(
                F.col("qid" if "qid" in cols else cols[0]).cast("long").alias("qid"),
                F.col("qkey" if "qkey" in cols else cols[1]).alias("qkey"),
            )
        else:
            self._set_rows(probes)

    def _set_rows(self, rows) -> None:
        for _pid, v in rows:
            if v is None or len(v) != self._meta.dimension:
                self._mismatch("a NULL probe key" if v is None else len(v))
        self._rows = [(int(pid), [float(x) for x in v]) for pid, v in rows]
        self._n = len(self._rows)

    def _mismatch(self, got):
        m = self._meta
        raise errors.DimensionMismatch(
            f"store {m.schema}.{m.name} expects dimension {m.dimension}, "
            f"got {got}"
        )

    def count(self) -> int:
        if self._n is None:
            # NULL keys must count as bad: under ANSI mode size(NULL) is
            # NULL, so a plain size != dim predicate would silently pass
            # a null probe row
            kcol = F.col("qkey")
            row = self._df.agg(
                F.count(F.lit(1)).alias("n"),
                F.count(F.when(
                    kcol.isNull() | (F.size(kcol) != int(self._meta.dimension)), 1
                )).alias("bad"),
            ).collect()[0]
            if row["bad"]:
                self._mismatch("other sizes in the probe batch")
            self._n = int(row["n"])
        return self._n

    def rows(self) -> list:
        if self._rows is None:
            self._set_rows([(r[0], r[1]) for r in self._df.collect()])
        return self._rows

    def frame(self) -> DataFrame:
        self.count()
        if self._rows is None:
            return self._df.select(
                "qid", F.col("qkey").cast("array<float>").alias("qkey"))
        return local_rows_df(
            self._spark, [(pid, _f32(v)) for pid, v in self._rows],
            "qid long, qkey array<float>",
        )

    def src(self) -> DataFrame:
        if self._rows is None:
            return self._df
        return local_rows_df(self._spark, self._rows,
                             "qid long, qkey array<double>")


class Engine:
    """The DB-service operation surface, Spark-first."""

    # Delta segments tolerated before a mutation triggers auto-compaction.
    # Each segment adds one (small) scan + union branch to merged reads;
    # 16 keeps read plans shallow while amortizing the full rewrite over
    # 16 O(batch) mutations. Tune per workload via the class attribute.
    AUTO_COMPACT_SEGMENTS = 16

    # Probe batches above this size skip the driver-side planning loop
    # of the one pruned batch path, _batch_pruned: the
    # index's per-probe planner (operators/ann.py IvfPlanner for ivf,
    # LshPlanner for hnsw) runs in a pandas UDF over the probe frame
    # (ann.plan_udf), and only the bounded union of prune keys (buckets
    # / signature prefixes) returns to the driver; pq chunks its
    # LUT-building loop at this size. Below it the driver loop calls
    # the same planner and is faster (no extra jobs); answers are
    # identical either side (parity-pinned).
    BATCH_PLAN_THRESHOLD = 10_000

    # Full LSH signature histograms are collected only up to this many
    # planes; beyond (2^n_planes can exceed any driver) planning runs on
    # a fixed-size hash-ordered signature SAMPLE scaled to the store
    # count — ball-mass estimates, exact data filter (VERDICT r03 #6).
    SIG_HISTOGRAM_MAX_PLANES = 24
    SIG_HISTOGRAM_SAMPLE = 65_536

    # Per-warehouse connected-client registry (reference
    # handler.rs:385-401 tracks gRPC connections; the Spark-first analog
    # is Engine facades attached to a warehouse within this process —
    # cross-process listing would live in the catalog file).
    _clients: Dict[str, List[dict]] = {}

    # Reference default --maximum-clients (utils/src/cli.rs:117).
    MAX_CLIENTS = 512

    def __init__(self, spark: SparkSession, warehouse: str,
                 max_clients: Optional[int] = None):
        limit = self.MAX_CLIENTS if max_clients is None else int(max_clients)
        if len(Engine._clients.get(warehouse, [])) >= limit:
            raise errors.MaxClientsReached(
                f"warehouse {warehouse!r} already has {limit} connected clients"
            )
        self.spark = spark
        self.catalog = Catalog(warehouse)
        # Reference crossover (hnsw/index.rs:24): stores at or below this
        # size answer non-linear queries with the exact scan. Instance-
        # configurable so tests/gates can force the PRUNED path on small
        # fixtures (VERDICT r02 #2).
        self.brute_force_threshold = BRUTE_FORCE_THRESHOLD
        # per-(schema, store, version, algo) index statistics: signature /
        # bucket histograms + row count, collected from ONE narrow
        # column scan on first use and valid for the version's lifetime
        # (writes bump the version, so stale entries simply never match)
        self._ann_cache: dict = {}
        self._warehouse = warehouse
        self._client_entry = {
            "client_id": uuid.uuid4().hex,
            "address": spark.sparkContext.applicationId,
            "user": spark.sparkContext.sparkUser(),
            "connected_at": datetime.now(timezone.utc).isoformat(),
        }
        Engine._clients.setdefault(warehouse, []).append(self._client_entry)

    def close(self) -> None:
        """Deregister this engine from the warehouse's client registry
        (the reference drops a client on TCP disconnect)."""
        entries = Engine._clients.get(self._warehouse, [])
        if self._client_entry in entries:
            entries.remove(self._client_entry)

    # ------------------------------------------------------------- DDL --
    def create_store(
        self,
        name: str,
        dimension: int,
        predicates: Iterable[str] = (),
        non_linear_indices: Iterable[str] = (),
        error_if_exists: bool = True,
        schema: str = PUBLIC_SCHEMA,
        non_linear_config: Optional[Dict[str, dict]] = None,
    ) -> None:
        """``non_linear_config`` maps algorithm name -> per-index
        configuration overrides (the reference's CreateStore carries a
        config per NonLinearIndex, e.g. HnswConfig ef_construction /
        maximum_connections / extend_candidates —
        types/src/db/query.rs); HNSW tunables map onto the LSH analog
        exactly like CreateNonLinearAlgorithmIndex's config."""
        if dimension <= 0:
            raise ValueError("dimension must be a positive integer")
        self.catalog.ensure_schema(schema)
        if self.catalog.has_store(name, schema):
            if error_if_exists:
                raise errors.StoreAlreadyExists(f"store {schema}.{name} already exists")
            return
        from ahnlich_spark.plans import views as V

        # the mirror of view creation's store-name check: stores and
        # managed views share the schema namespace in both directions
        if V.has_view(self.catalog, name, schema):
            raise errors.StoreAlreadyExists(
                f"{schema}.{name} already names a materialized view"
            )
        non_linear = sorted(set(non_linear_indices))
        for a in non_linear:
            if a not in NON_LINEAR_ALGOS:
                raise ValueError(f"unknown non-linear algorithm {a!r}")
        cfgs = {}
        for a in non_linear:
            user = (non_linear_config or {}).get(a, {})
            cfg = dict(ANN_DEFAULTS[a], **user)
            if a == "hnsw":
                cfg = _map_hnsw_tunables(cfg, user)
            cfgs[a] = cfg
        _validate_ann_configs(int(dimension), cfgs, set(non_linear))
        self.catalog.put_store(
            StoreMeta(
                name=name,
                schema=schema,
                dimension=int(dimension),
                predicates=sorted(set(predicates)),
                non_linear=non_linear,
                non_linear_config=cfgs,
                len_cache=0,
                bytes_cache=0,
            )
        )

    def drop_store(
        self,
        name: str,
        error_if_not_exists: bool = True,
        schema: str = PUBLIC_SCHEMA,
        cascade_views: bool = False,
    ) -> int:
        if not self.catalog.has_store(name, schema):
            if error_if_not_exists:
                raise errors.StoreNotFound(f"store {schema}.{name} not found")
            return 0
        from ahnlich_spark.plans import views as V

        deps = V.dependent_views(self.catalog, name, schema)
        if deps:
            if not cascade_views:
                raise errors.StoreHasDependentViews(
                    f"store {schema}.{name} has dependent materialized "
                    f"views {deps}; drop them first or pass "
                    f"cascade_views=True"
                )
            for v in deps:
                V.drop_materialized_view(self, v, schema=schema)
        self.catalog.drop_store(name, schema)
        # a recreated store restarts at (version 1, deltas 0) — the
        # SAME cache key the dead store used, so its stale histograms
        # would plan probes for data that no longer exists
        for k in [k for k in self._ann_cache if k[:2] == (schema, name)]:
            del self._ann_cache[k]
        return 1

    def drop_schema(self, schema: str) -> int:
        return self.catalog.drop_schema(schema)

    def vacuum(self, store: str, schema: str = PUBLIC_SCHEMA) -> int:
        """Reclaim superseded version directories beyond the write-time
        retention window (which keeps current + previous so lazy
        DataFrames survive one mutation). Returns dirs removed. Invalid-
        ates any still-unexecuted DataFrame over an older version —
        same contract as Delta VACUUM."""
        meta = self.catalog.get_store(store, schema)
        return self.catalog.gc_versions(meta, keep=1)

    def create_pred_index(
        self, store: str, keys: Iterable[str], schema: str = PUBLIC_SCHEMA
    ) -> int:
        """Idempotent; returns the number of NEWLY indexed keys
        (reference store.rs:1138-1158). PHYSICAL effect (reference
        backfills an inverted index, predicate.rs:142-178): the store is
        rewritten once with flat ``_pred_<key>`` columns + file
        clustering, so Equals/In on indexed keys push down to the
        parquet scan. The ANSWER never changes — the tagged-struct
        filter still runs; the index only prunes what it scans."""
        meta = self.catalog.get_store(store, schema)
        keys = list(keys)
        new = [k for k in keys if k not in meta.predicates]
        meta.predicates = sorted(set(meta.predicates) | set(keys))
        self.catalog.put_store(meta)
        from ahnlich_spark.operators.predicates import pred_col_name

        if new and meta.version > 0 and any(pred_col_name(k) for k in new):
            self._write(meta, read_store(self.spark, self.catalog, meta))
        return len(new)

    def drop_pred_index(
        self,
        store: str,
        keys: Iterable[str],
        error_if_not_exists: bool = True,
        schema: str = PUBLIC_SCHEMA,
    ) -> int:
        meta = self.catalog.get_store(store, schema)
        keys = list(keys)
        missing = [k for k in keys if k not in meta.predicates]
        if missing and error_if_not_exists:
            raise errors.PredicateIndexNotFound(f"predicate index not found: {missing}")
        removed = [k for k in keys if k in meta.predicates]
        meta.predicates = sorted(set(meta.predicates) - set(keys))
        self.catalog.put_store(meta)
        return len(removed)

    def create_non_linear_algorithm_index(
        self,
        store: str,
        algorithms: Iterable[str],
        schema: str = PUBLIC_SCHEMA,
        config: Optional[dict] = None,
    ) -> int:
        """Create ANN indexes and BACKFILL their physical artifacts
        (reference backfills on creation, non_linear.rs:186-205): for
        hnsw/ivf on a non-empty store the store is rewritten once with
        embedded signature/bucket columns and a matching partition
        layout, so queries read the index instead of recomputing it.
        ``config`` overrides per-algorithm defaults (e.g. hnsw
        ef_construction/n_planes, ivf n_clusters/n_probe)."""
        meta = self.catalog.get_store(store, schema)
        created = 0
        for a in algorithms:
            if a not in NON_LINEAR_ALGOS:
                raise ValueError(f"unknown non-linear algorithm {a!r}")
            if a not in meta.non_linear:
                cfg = dict(ANN_DEFAULTS[a], **(config or {}))
                if a == "hnsw":
                    cfg = _map_hnsw_tunables(cfg, config or {})
                meta.non_linear.append(a)
                meta.non_linear_config[a] = cfg
                created += 1
        _validate_ann_configs(
            meta.dimension, meta.non_linear_config, set(meta.non_linear)
        )
        meta.non_linear = sorted(meta.non_linear)
        self.catalog.put_store(meta)
        if created and meta.version > 0 and ({"hnsw", "ivf", "pq"} & set(meta.non_linear)):
            df = read_store(self.spark, self.catalog, meta)
            self._write(meta, df)
        return created

    def drop_non_linear_algorithm_index(
        self,
        store: str,
        algorithms: Iterable[str],
        error_if_not_exists: bool = True,
        schema: str = PUBLIC_SCHEMA,
    ) -> int:
        meta = self.catalog.get_store(store, schema)
        algorithms = list(algorithms)
        missing = [a for a in algorithms if a not in meta.non_linear]
        if missing and error_if_not_exists:
            raise errors.NonLinearIndexNotFound(f"non-linear index not found: {missing}")
        removed = [a for a in algorithms if a in meta.non_linear]
        survivors = set(meta.non_linear) - set(algorithms)
        pq_cfg = meta.non_linear_config.get("pq")
        if ("ivf" in removed and "pq" in survivors
                and pq_cfg and pq_cfg.get("residual")):
            # residual codes are taken against ivf bucket centroids —
            # without them the code column is undecodable and later
            # writes would encode garbage; make the caller drop pq too
            # (or first)
            raise ValueError(
                "cannot drop 'ivf' while the residual 'pq' index remains: "
                "residual codes decode against the ivf centroids — drop "
                "'pq' in the same call or beforehand"
            )
        meta.non_linear = sorted(survivors)
        for a in removed:
            meta.non_linear_config.pop(a, None)
        self.catalog.put_store(meta)
        # aux artifacts die WITH their index: a surviving
        # pq_codebooks.npy trained under an old config would poison a
        # later re-create (codes encoded with the stale m/k while the
        # catalog claims the new one); drift_baseline.npy likewise
        # describes the dropped quantizer's training distribution
        dead_aux = []
        if "ivf" in removed:
            dead_aux.append("ivf_centroids.npy")
        if "pq" in removed:
            dead_aux.append("pq_codebooks.npy")
        if removed and not ({"hnsw", "ivf", "pq"} & survivors):
            dead_aux.append("drift_baseline.npy")
        for art in dead_aux:
            try:
                os.remove(self.catalog.store_aux_path(meta, art))
            except OSError:
                pass
        return len(removed)

    def maintain_index(
        self,
        store: str,
        schema: str = PUBLIC_SCHEMA,
        drift_threshold_e9: int = 20_000_000,
        retrain: bool = True,
        centroids=None,
        codebooks=None,
    ) -> dict:
        """Drift-triggered ANN index maintenance — the batch analog of
        the reference's incremental per-mutation index upkeep
        (non_linear.rs:231-247): where the reference re-inserts every
        mutated vector into its live KD/HNSW graph, a bucketed batch
        index is refreshed WHOLESALE when the data has drifted far
        enough from the quantizer's training distribution to hurt
        recall, and kept otherwise (retraining on every mutation would
        rewrite the store each SET).

        Mechanics: the store's current per-dimension e9-integer means
        (operators/evaluation.dim_means_e9 — exact under any
        aggregation order) are compared against the baseline captured
        when the artifacts were last trained. ``max_drift_e9`` over
        dimensions above ``drift_threshold_e9`` triggers a retrain:
        quantizer/codebook artifacts are dropped, the backfill rewrite
        re-derives them from the CURRENT rows (or from ``centroids``/
        ``codebooks`` when the caller supplies a deterministic
        quantizer — the same hook index creation offers), and the
        baseline is refreshed. On
        first call with no baseline on disk, the current means BECOME
        the baseline (call once after creation to pin the training
        distribution).

        ONE narrow scan of the merged store (posexplode collapsed by
        map-side combine: the exchange carries O(dims x partitions)
        rows) + the rewrite only when retraining. Returns
        ``{"max_drift_e9", "retrained", "baseline_initialized"}``.
        """
        from ahnlich_spark.operators.evaluation import dim_means_e9

        meta = self.catalog.get_store(store, schema)
        if not ({"ivf", "pq"} & set(meta.non_linear)):
            raise errors.NonLinearIndexNotFound(
                f"store {schema}.{store} has no trained-quantizer index "
                "(ivf/pq) to maintain"
            )
        df = read_store(self.spark, self.catalog, meta)
        cur = np.zeros(int(meta.dimension), dtype=np.int64)
        for r in dim_means_e9(df, "key").collect():
            cur[int(r["dim"])] = int(r["mean_e9"])
        bpath = self.catalog.store_aux_path(meta, "drift_baseline.npy")
        if not os.path.exists(bpath):
            np.save(bpath, cur)
            return {"max_drift_e9": 0, "retrained": 0,
                    "baseline_initialized": 1}
        base = np.load(bpath)
        max_drift = int(np.abs(cur - base).max())
        out = {"max_drift_e9": max_drift, "retrained": 0,
               "baseline_initialized": 0}
        if retrain and max_drift > int(drift_threshold_e9):
            for art in ("ivf_centroids.npy", "pq_codebooks.npy"):
                p = self.catalog.store_aux_path(meta, art)
                try:
                    os.remove(p)
                except OSError:
                    pass
            if centroids is not None and "ivf" in meta.non_linear:
                np.save(
                    self.catalog.store_aux_path(meta, "ivf_centroids.npy"),
                    np.asarray(centroids, dtype=np.float64),
                )
            if codebooks is not None and "pq" in meta.non_linear:
                np.save(
                    self.catalog.store_aux_path(meta, "pq_codebooks.npy"),
                    np.asarray(codebooks, dtype=np.float64),
                )
            self._write(meta, df)
            np.save(bpath, cur)
            out["retrained"] = 1
        return out

    # -------------------------------------------------- index-aware I/O --
    def _index_columns(self, meta: StoreMeta, df: DataFrame):
        """Embed the store's index columns into ``df`` (ANN signatures /
        buckets / PQ codes + flat ``_pred_<key>`` copies). Shared by the
        base writer and the delta-segment writer so merged reads stay
        index-aware regardless of which path a row arrived through.
        Returns (df, layout_col, pred_cols)."""
        from ahnlich_spark.operators import ann as A
        from ahnlich_spark.operators.predicates import pred_col_name

        df = drop_internal(df)
        layout = None
        if "hnsw" in meta.non_linear:
            cfg = meta.non_linear_config.get("hnsw", ANN_DEFAULTS["hnsw"])
            n_planes = int(cfg.get("n_planes", 16))
            planes = A.hyperplanes(meta.dimension, n_planes, int(cfg.get("seed", 7)))
            df = df.withColumn("_ann_sig", A.signature_expr(F.col("key"), planes))
            df = df.withColumn("_ann_sigp", A.sig_prefix_expr(F.col("_ann_sig"), n_planes))
            layout = "_ann_sigp"
        if "ivf" in meta.non_linear:
            cents = self._ivf_centroids(meta, df)
            if cents is not None:
                df = A.assign_buckets(df, cents, key_col="key").withColumnRenamed(
                    "bucket", "_ann_bucket"
                )
                layout = "_ann_bucket"
        if "pq" in meta.non_linear:
            books = self._pq_codebooks(meta, df)
            if books is not None:
                from ahnlich_spark.operators.pq import (
                    encode_expr,
                    residual_encode_expr,
                )

                pq_cfg = meta.non_linear_config.get("pq", ANN_DEFAULTS["pq"])
                if pq_cfg.get("residual") and "_ann_bucket" in df.columns:
                    cents = self._ivf_centroids(meta, df)
                    df = df.withColumn(
                        "_ann_pqcode",
                        residual_encode_expr("key", cents, books),
                    )
                else:
                    df = df.withColumn("_ann_pqcode", encode_expr("key", books))
        # indexed predicate keys: flat string copies of meta[k].s — the
        # physical effect of CreatePredIndex (map access gets no parquet
        # pushdown; these columns do, and files are clustered by them)
        pred_cols = []
        for key in meta.predicates:
            c = pred_col_name(key)
            if c:
                df = df.withColumn(c, F.col("meta")[key]["s"])
                pred_cols.append(c)
        return df, layout, pred_cols

    def _write(self, meta: StoreMeta, df: DataFrame) -> StoreMeta:
        """Write the next BASE version with ANN index columns embedded
        and the partition layout keyed by the index (IVF bucket wins over
        LSH sig-prefix when both exist): queries then read the index for
        free and probe filters prune whole partition directories. Resets
        the delta chain (the input is expected to be the merged view)."""
        df, layout, pred_cols = self._index_columns(meta, df)
        meta = write_store(
            df, self.catalog, meta, layout_col=layout, sort_cols=pred_cols or None
        )
        # refresh the bytes statistic from the fresh base (one driver-side
        # directory walk — no Spark job); row count is caller-managed
        # (compaction/backfill rewrites keep it, first SET sets it)
        meta.bytes_cache = _dir_size(self.catalog.store_path(meta))
        self.catalog.put_store(meta)
        return meta

    def _append_delta(
        self,
        meta: StoreMeta,
        upserts: Optional[DataFrame] = None,
        tombstone_ids: Optional[DataFrame] = None,
        len_delta: Optional[int] = None,
    ) -> StoreMeta:
        """O(batch) mutation: append one delta segment (upserts with
        index columns embedded + id tombstones) instead of rewriting the
        base — the reference's SET is an O(batch) map insert
        (ahnlich/db/src/engine/store.rs:1050-1135) and this is its
        disk-backed analog. Auto-compacts once the segment chain passes
        ``AUTO_COMPACT_SEGMENTS`` so merged-read cost stays bounded.

        ``len_delta`` is the caller's exact net change to the live row
        count (+inserted / -deleted); None means the caller can't
        account cheaply, which dirties the cached count — the next info
        call recomputes once (reference dirty-flag, store.rs:72-101)."""
        from ahnlich_spark.sources.store_io import write_delta

        if upserts is not None:
            upserts, _layout, _pred = self._index_columns(meta, upserts)
        meta = write_delta(self.spark, self.catalog, meta, upserts, tombstone_ids)
        if len_delta is None:
            meta.len_cache = -1
        elif meta.len_cache >= 0:
            meta.len_cache += int(len_delta)
        if meta.bytes_cache >= 0:
            # the fresh segment is O(batch) — a driver walk of one tiny dir
            meta.bytes_cache += _dir_size(self.catalog.delta_path(meta, meta.deltas))
        self.catalog.put_store(meta)
        if meta.deltas >= self.AUTO_COMPACT_SEGMENTS:
            self.compact(meta.name, schema=meta.schema)
        return meta

    def compact(self, store: str, schema: str = PUBLIC_SCHEMA) -> int:
        """Fold all delta segments into a fresh base version (merged
        keep-last-by-id view rewritten through the index-aware writer)
        and GC superseded directories. Returns segments folded. The
        Spark analog of LSM/Delta-Lake compaction: mutations stay
        O(batch), reads stay bounded, full rewrites happen only here."""
        meta = self.catalog.get_store(store, schema)
        if meta.deltas == 0:
            return 0
        folded = meta.deltas
        self._write(meta, read_store(self.spark, self.catalog, meta))
        return folded

    def _ivf_centroids(self, meta: StoreMeta, df: Optional[DataFrame] = None):
        """Load the persisted IVF coarse quantizer; train + persist it on
        first use (sample-based, the standard IVF recipe). Returns None
        while the store has no data to train on."""
        path = self.catalog.store_aux_path(meta, "ivf_centroids.npy")
        if os.path.exists(path):
            return np.load(path)
        if df is None or df.limit(1).count() == 0:
            return None
        from ahnlich_spark.operators.ann import train_centroids

        cfg = meta.non_linear_config.get("ivf", ANN_DEFAULTS["ivf"])
        cents = train_centroids(
            df, meta.dimension, int(cfg.get("n_clusters", 64)),
            seed=int(cfg.get("seed", 7)),
        )
        np.save(path, cents)
        return cents

    def _pq_codebooks(self, meta: StoreMeta, df: Optional[DataFrame] = None):
        """Load the persisted PQ codebooks; train + persist on first use
        (bounded sample, deterministic Lloyd — operators/pq.py). Returns
        None while the store is too small to train."""
        path = self.catalog.store_aux_path(meta, "pq_codebooks.npy")
        if os.path.exists(path):
            return np.load(path)
        if df is None:
            return None
        from ahnlich_spark.operators.pq import (
            train_codebooks_df,
            train_codebooks_residual_df,
        )

        cfg = meta.non_linear_config.get("pq", ANN_DEFAULTS["pq"])
        if cfg.get("residual"):
            # FAISS IVFPQ recipe: train on coarse-quantizer residuals —
            # same code budget, tighter quantization (operators/pq.py)
            cents = self._ivf_centroids(meta, df)
            if cents is None:
                return None
            books = train_codebooks_residual_df(
                df,
                cents,
                m=int(cfg.get("m", 8)),
                k=int(cfg.get("k_centroids", 16)),
                sample=int(cfg.get("sample", 4096)),
                iters=int(cfg.get("iters", 10)),
            )
        else:
            books = train_codebooks_df(
                df,
                m=int(cfg.get("m", 8)),
                k=int(cfg.get("k_centroids", 16)),
                sample=int(cfg.get("sample", 4096)),
                iters=int(cfg.get("iters", 10)),
            )
        if books is not None:
            np.save(path, books)
        return books

    def _ann_state(self, meta: StoreMeta, algorithm: str) -> dict:
        """Per-version index statistics for driver-side probe planning:
        {signature|bucket} histograms (bounded by 2^n_planes / n_clusters
        entries) and the row count — ONE narrow column scan, cached."""
        key = (meta.schema, meta.name, meta.version, meta.deltas, algorithm)
        state = self._ann_cache.get(key)
        if state is not None:
            return state
        # evict superseded entries for this (store, algo): histograms
        # are bounded per entry, but a long-lived engine mutating a
        # store would otherwise accrete one per (version, deltas)
        stale = [
            k for k in self._ann_cache
            if k[:2] == (meta.schema, meta.name) and k[4] == algorithm
        ]
        for k in stale:
            del self._ann_cache[k]
        raw = read_store(self.spark, self.catalog, meta, canonical=False)
        if algorithm == "hnsw" and "_ann_sig" in raw.columns:
            cfg = meta.non_linear_config.get("hnsw", ANN_DEFAULTS["hnsw"])
            n_planes = int(cfg.get("n_planes", 16))
            if n_planes <= self.SIG_HISTOGRAM_MAX_PLANES:
                counts = {
                    int(r[0]): int(r[1])
                    for r in raw.groupBy("_ann_sig").count().collect()
                }
                state = {"sig_counts": counts, "count": sum(counts.values())}
            else:
                # wide signatures: the full histogram is O(min(rows,
                # 2^n_planes)) driver memory — unbounded at scale. Plan
                # from a fixed-size hash-ordered signature sample scaled
                # to the store count: radius choice becomes an estimate
                # (the candidate filter stays the exact
                # bit_count(sig^qsig) <= radius), driver memory stays
                # <= SIG_HISTOGRAM_SAMPLE entries whatever the store is.
                total = raw.count()
                samp = (
                    raw.select("id", "_ann_sig")
                    .orderBy(F.xxhash64(F.col("id")))
                    .limit(self.SIG_HISTOGRAM_SAMPLE)
                    .collect()
                )
                hist: Dict[int, int] = {}
                for r in samp:
                    s = int(r["_ann_sig"])
                    hist[s] = hist.get(s, 0) + 1
                scale = total / max(1, len(samp))
                state = {
                    "sig_counts": {s: c * scale for s, c in hist.items()},
                    "count": total,
                    "sampled": True,
                }
        elif algorithm == "ivf" and "_ann_bucket" in raw.columns:
            counts = {
                int(r[0]): int(r[1])
                for r in raw.groupBy("_ann_bucket").count().collect()
            }
            state = {"bucket_counts": counts, "count": sum(counts.values())}
        else:
            state = {"count": raw.count()}
        self._ann_cache[key] = state
        return state

    # ----------------------------------------------------------- reads --
    def store_df(
        self,
        store: str,
        schema: str = PUBLIC_SCHEMA,
        version: Optional[int] = None,
        segments: Optional[int] = None,
    ) -> DataFrame:
        """The store as a DataFrame — current state by default, or a
        retained point-in-time snapshot via ``version``/``segments``
        (time travel over the immutable base+delta layout; see
        ``list_versions`` for what is addressable). The engine analog of
        Delta's VERSION AS OF: historical reads cost the same as current
        ones because nothing is ever rewritten in place."""
        meta = self.catalog.get_store(store, schema)
        return read_store(
            self.spark, self.catalog, meta, version=version, segments=segments
        )

    def list_versions(self, store: str, schema: str = PUBLIC_SCHEMA):
        """Retained (base_version, n_delta_segments) snapshots; every
        (version, segments <= n) is readable through ``store_df``."""
        return self.catalog.list_versions(self.catalog.get_store(store, schema))

    def store_changes(
        self,
        store: str,
        from_version: int,
        from_segments: int = 0,
        to_version: Optional[int] = None,
        to_segments: Optional[int] = None,
        schema: str = PUBLIC_SCHEMA,
    ) -> DataFrame:
        """Change data feed: the NET per-id changes between two retained
        snapshots as (id, key, meta, change_type in insert|update|
        delete) — the base+delta layout's Delta-CDF analog. Incremental
        downstream refresh reads O(changes), never two full snapshots;
        compaction/backfill version bumps contribute zero logical
        changes (sources/store_io.read_changes)."""
        from ahnlich_spark.sources.store_io import read_changes

        return read_changes(
            self.spark, self.catalog, self.catalog.get_store(store, schema),
            from_version, from_segments, to_version, to_segments,
        )

    def store_changes_stream(
        self,
        store: str,
        schema: str = PUBLIC_SCHEMA,
        max_files_per_trigger: Optional[int] = None,
    ) -> DataFrame:
        """LIVE change data feed: a streaming DataFrame tailing the
        store's committed delta segments (raw upsert/delete ops with
        (base_version, segment) commit coordinates) — replays the
        retained backlog, then follows new mutations per micro-batch.
        See streaming/pipeline.store_changes_stream for semantics and
        the retention caveat."""
        from ahnlich_spark.streaming.pipeline import store_changes_stream

        return store_changes_stream(
            self.spark, self.catalog, store, schema=schema,
            max_files_per_trigger=max_files_per_trigger,
        )

    def apply_changes(
        self, store: str, changes: DataFrame, schema: str = PUBLIC_SCHEMA
    ) -> StoreMeta:
        """CDC consumer: apply a batch of change rows — ``op`` in
        {upsert, delete} (``store_changes_stream`` output) or the batch
        feed's change_type vocabulary {insert, update, delete}
        (``store_changes`` output, accepted directly: insert/update are
        both upserts here) plus the canonical (id, key, meta) columns —
        to THIS store. Any other op value raises; silently dropping
        unrecognized rows would let a replica diverge without a trace.
        One O(changes) delta segment lands, exactly like a native
        mutation: upserts re-derive their id from the portable key hash,
        are dimension-validated like ``set`` (whole batch fails before
        any write), and carry the target store's OWN index columns (a
        replica keeps its own indexes current); deletes tombstone by id.

        When the batch carries (base_version, segment) commit
        coordinates it is netted keep-last per id FIRST, so a
        micro-batch spanning several source segments folds to one op
        per id in commit order — the same rule the merged read applies.
        This is the replication primitive: feed + apply_changes in a
        foreachBatch (streaming/pipeline.streaming_apply_changes) keeps
        a second warehouse's store converging to the source, pinned
        row-for-row by tests/test_streaming.py. The cached row count is
        dirtied (exact accounting would need a probe scan; the next
        info call recounts once)."""
        meta = self.catalog.get_store(store, schema)
        # store_changes/read_changes emit the column `change_type`;
        # accept that frame directly by aliasing it to `op` (the
        # docstring's "accepted directly" promise)
        if "op" not in changes.columns and "change_type" in changes.columns:
            changes = changes.withColumnRenamed("change_type", "op")
        cols = set(changes.columns)
        if not {"op", "id", "key", "meta"} <= cols:
            raise ValueError(
                "apply_changes needs (op, id, key, meta) columns "
                "(change_type accepted as op), got "
                f"{sorted(cols)}"
            )
        # normalize the two accepted vocabularies BEFORE netting, so an
        # 'insert' ranks as the upsert it is in the within-segment rule
        changes = changes.withColumn(
            "op",
            F.when(F.col("op").isin("insert", "update"), F.lit("upsert"))
            .otherwise(F.col("op")),
        )
        if {"base_version", "segment"} <= cols:
            w = Window.partitionBy("id").orderBy(
                F.col("base_version").desc(), F.col("segment").desc(),
                # within one segment an upsert beats its own tombstone,
                # mirroring store_io's merged-read tie rule
                (F.col("op") == "upsert").desc(),
            )
            changes = (
                changes.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        ups = changes.filter(F.col("op") == "upsert").select("key", "meta")
        ups = ups.select(
            store_key_id(F.col("key")).alias("id"),
            F.col("key").cast(T.ArrayType(T.FloatType())),
            "meta",
        )
        dels = changes.filter(F.col("op") == "delete").select("id")
        # ONE counting job decides which sides exist AND validates the
        # whole batch — op vocabulary and upsert key dimension — before
        # anything is written (the same fail-first contract as set())
        stats = changes.groupBy("op").agg(
            F.count(F.lit(1)).alias("count"),
            F.count(
                F.when(
                    (F.col("op") == "upsert")
                    # isNull FIRST: under ANSI size(NULL) is NULL and
                    # the != never fires, so a NULL-key upsert would
                    # slip through and land as a garbage row under the
                    # constant xxhash64(NULL) id (same trap
                    # _count_probes_checked guards)
                    & (F.col("key").isNull()
                       | (F.size(F.col("key")) != int(meta.dimension))),
                    1,
                )
            ).alias("bad_dim"),
        ).collect()
        ops = {r["op"]: r["count"] for r in stats}
        unknown = sorted(set(ops) - {"upsert", "delete"})
        if unknown:
            raise ValueError(
                f"apply_changes: unrecognized op values {unknown} — expected "
                "upsert/delete (or insert/update from store_changes)"
            )
        if any(r["bad_dim"] for r in stats):
            raise errors.DimensionMismatch(
                f"store {meta.schema}.{meta.name} expects dimension "
                f"{meta.dimension}; change batch carries other sizes"
            )
        if not ops:
            return meta
        return self._append_delta(
            meta,
            upserts=ups if ops.get("upsert") else None,
            tombstone_ids=dels if ops.get("delete") else None,
            len_delta=None,
        )

    def register_views(self, schema: str = PUBLIC_SCHEMA,
                       prefix: str = "ahnlich_") -> List[str]:
        """Expose every store in ``schema`` to Spark SQL as a temp view
        ``<prefix><store>`` over its CURRENT merged state — the
        Spark-native query door the reference (gRPC-only) cannot offer:
        ``spark.sql("SELECT meta['label'].s, count(*) FROM
        ahnlich_vecs GROUP BY 1")`` composes stores with any other
        table. Views are lazy plans: re-register after mutations to see
        a newer snapshot (a view pins the version it was built from,
        which is exactly snapshot-consistent reads). Returns the view
        names."""
        names = []
        for meta in self.catalog.list_stores(schema):
            name = f"{prefix}{meta.name}"
            read_store(self.spark, self.catalog, meta).createOrReplaceTempView(name)
            names.append(name)
        return names

    # -- managed materialized views (plans/views.py) --------------------
    # The IVM algebra productized as catalog objects: definitions (SQL
    # strings over (key, meta)), fold coordinates, and the current
    # parquet generation all live in the warehouse, so a view SURVIVES
    # engine restarts and refreshes O(changes) from where it stopped.

    def create_materialized_view(self, name: str, store: str, group: str,
                                 measures=None, value=None, extrema=None,
                                 store_b=None, join_on=None,
                                 schema: str = PUBLIC_SCHEMA,
                                 error_if_exists: bool = True) -> dict:
        from ahnlich_spark.plans import views as V

        return V.create_materialized_view(
            self, name, store, group, measures=measures, value=value,
            extrema=extrema, store_b=store_b, join_on=join_on,
            schema=schema, error_if_exists=error_if_exists,
        )

    def refresh_materialized_view(self, name: str,
                                  schema: str = PUBLIC_SCHEMA) -> tuple:
        from ahnlich_spark.plans import views as V

        return V.refresh_materialized_view(self, name, schema=schema)

    def read_materialized_view(self, name: str,
                               schema: str = PUBLIC_SCHEMA,
                               quantile=None) -> DataFrame:
        from ahnlich_spark.plans import views as V

        return V.read_materialized_view(self, name, schema=schema,
                                        quantile=quantile)

    def drop_materialized_view(self, name: str,
                               schema: str = PUBLIC_SCHEMA) -> None:
        from ahnlich_spark.plans import views as V

        V.drop_materialized_view(self, name, schema=schema)

    def list_materialized_views(self, schema: str = PUBLIC_SCHEMA) -> list:
        from ahnlich_spark.plans import views as V

        return V.list_materialized_views(self, schema=schema)

    def register_materialized_views(self, schema: str = PUBLIC_SCHEMA,
                                    prefix: str = "ahnlich_mv_") -> list:
        from ahnlich_spark.plans import views as V

        return V.register_sql_views(self, schema=schema, prefix=prefix)

    def streaming_refresh_materialized_view(self, feed, name: str,
                                            schema: str = PUBLIC_SCHEMA,
                                            checkpoint=None):
        from ahnlich_spark.plans import views as V

        return V.streaming_refresh_materialized_view(
            feed, self, name, schema=schema, checkpoint=checkpoint,
        )

    def get_key(
        self, store: str, keys: Sequence[Sequence[float]], schema: str = PUBLIC_SCHEMA
    ) -> DataFrame:
        """Exact-vector lookups: hash the probes, left-semi join on id.
        At scale: small probe side broadcasts; the store never shuffles."""
        meta = self.catalog.get_store(store, schema)
        self._check_dims(meta, keys)
        probes = self._keys_df(keys).select(store_key_id(F.col("key")).alias("id"))
        df = read_store(self.spark, self.catalog, meta)
        return df.join(F.broadcast(probes), "id", "left_semi")

    def _pred_filtered(self, meta: StoreMeta, condition: Predicate) -> DataFrame:
        """Store rows matching ``condition``, canonical columns. When the
        store carries materialized predicate columns, a pushdown hint
        implied by the condition is conjoined so the parquet scan prunes
        row-groups/files; the full tagged filter keeps exactness."""
        from ahnlich_spark.operators.predicates import pred_col_name, pushdown_hint

        raw = read_store(self.spark, self.catalog, meta, canonical=False)
        cond = compile_predicate(condition)
        # only CURRENTLY indexed keys may hint: a dropped index leaves
        # its stale _pred_ column in the base (null on newer delta rows)
        # until compaction — consulting it would wrongly exclude them
        indexed = {
            c for c in (pred_col_name(k) for k in meta.predicates) if c
        } & set(raw.columns)
        hint = pushdown_hint(condition, indexed)
        if hint is not None:
            cond = hint & cond
        return drop_internal(raw.filter(cond))

    def get_pred(
        self, store: str, condition: Predicate, schema: str = PUBLIC_SCHEMA
    ) -> DataFrame:
        meta = self.catalog.get_store(store, schema)
        return self._pred_filtered(meta, condition)

    def get_sim_n_batch(
        self,
        store: str,
        probes: Union[Sequence[Tuple[int, Sequence[float]]], DataFrame],
        closest_n: int = 1,
        algorithm: str = S.COSINE,
        condition: Optional[Predicate] = None,
        schema: str = PUBLIC_SCHEMA,
        precision: str = "float",
    ) -> DataFrame:
        """Batch GetSimN: top-N per probe for a whole batch of probe
        vectors in ONE plan (engine extension — the reference answers
        one query per request; retrieval/eval pipelines ask thousands).
        ``probes`` is a list of (probe_id, vector) or a DataFrame with
        (qid, qkey) columns. Linear metrics score every store row once
        per probe; ``algorithm='hnsw'|'ivf'`` (condition-free) route
        through the ONE pruned batch path, ``_batch_pruned``, driven by
        the index's per-probe planner (operators/ann.py: LSH balls for
        hnsw, IVF buckets for ivf), and ``'pq'`` through the ADC batch
        path; each costs ONE partition-pruned candidate scan for the
        whole batch. A CONDITION composes with every algorithm the way
        the single-probe dispatch does: the predicate filters through
        the index-aware path first, and conditioned non-linear queries
        answer with the exact filtered top-k (the reference's
        accept-list brute-force semantics, hnsw/index.rs:24 — exact
        trivially satisfies the recall contract); ``kdtree`` is exact
        k-NN by contract either way. Returns store columns + qid +
        rank_n + the score, rank 1 = closest, ties by id ascending."""
        if closest_n < 1:
            raise ValueError("closest_n must be >= 1 (reference NonZeroUsize)")
        meta = self.catalog.get_store(store, schema)
        _check_algorithm(algorithm)
        metric = algorithm
        if algorithm in NON_LINEAR_ALGOS:
            cfg = self._ann_config(meta, algorithm)
            metric = cfg["distance"]
        probes = _ProbeBatch(self.spark, meta, probes)
        if condition is None and algorithm == "pq":
            return self._batch_pq(meta, cfg, probes, closest_n, precision)
        if condition is None and algorithm in ("hnsw", "ivf"):
            return self._batch_pruned(meta, algorithm, metric, probes,
                                      closest_n, precision)
        # linear metrics, kdtree, and conditioned hnsw/ivf/pq: exact
        # (filtered) batch top-k under the index's distance metric
        if condition is not None:
            df = self._pred_filtered(meta, condition)
        else:
            df = read_store(self.spark, self.catalog, meta)
        return self._rank_exact(df, probes, metric, closest_n, precision)

    def _rank_exact(self, df, probes, metric, closest_n, precision) -> DataFrame:
        """Exact batch top-k of ``probes`` over a store frame already
        read, its internal index columns dropped: the linear batch plan
        and the fallback of every pruned batch path."""
        from ahnlich_spark.operators.topk import top_k_batch

        return top_k_batch(
            drop_internal(df), probes.frame(), metric, closest_n,
            precision=precision, rank_col="rank_n",
        )

    def _batch_pruned(self, meta, algorithm, metric, probes, closest_n,
                      precision) -> DataFrame:
        """Batch ANN through a persisted pruned index (hnsw, ivf). The
        index's planner (``_planner``) plans every probe from cached
        statistics — a driver loop up to BATCH_PLAN_THRESHOLD probes, a
        distributed pandas-UDF planner above it (only the bounded union
        of prune keys returns to the driver). That
        union prunes partitions in ONE candidate scan, and a broadcast
        join on the planner's join condition keeps each probe to its
        own candidates, so per-probe answers equal single get_sim_n
        calls and are identical either side of the threshold
        (parity-pinned by test_ann_index). Falls back to the exact batch
        plan below the brute-force threshold, when the index artifact is
        missing, or when any probe's candidate quota starves (matching
        the single-probe contract)."""
        from ahnlich_spark.operators.topk import top_k_batch

        n_probes = probes.count()
        planner = self._planner(meta, algorithm, closest_n)
        raw = read_store(self.spark, self.catalog, meta, canonical=False)
        planned = (
            None if planner is None
            else self._plan_probes(planner, meta, probes, n_probes)
        )
        if planned is None:
            return self._rank_exact(raw, probes, metric, closest_n, precision)
        plan_df, keys = planned
        cands = raw.filter(F.col(planner.prune_col).isin(sorted(keys)))
        return top_k_batch(
            cands, plan_df, metric, closest_n, precision=precision,
            rank_col="rank_n", on=planner.join_cond(),
        ).drop(*planner.plan_cols, *internal_columns(raw))

    def _plan_probes(self, planner, meta, probes, n_probes):
        """(probe frame carrying the plan columns, union of the probes'
        prune keys), or None when a probe's quota starves — then the
        whole batch answers exactly."""
        from ahnlich_spark.operators import ann as A

        if n_probes > self.BATCH_PLAN_THRESHOLD:
            planned = (
                probes.src()
                .select(
                    "qid",
                    F.col("qkey").cast("array<float>").alias("qkey"),
                    A.plan_udf(planner, meta.dimension)(F.col("qkey")).alias("_plan"),
                )
                .select("qid", "qkey", "_plan.*")
                .localCheckpoint(eager=True)  # plan once, reuse twice
            )
            keys = {
                r[0] for r in
                planned.select(F.explode_outer("qkeys")).distinct().collect()
            }
            return None if None in keys else (planned.drop("qkeys"), keys)
        rows, keys = [], set()
        for pid, vec in probes.rows():
            plan = planner.plan(vec)
            if plan is None:
                return None
            rows.append((pid, _f32(vec), *plan[0]))
            keys.update(plan[1])
        return local_rows_df(
            self.spark, rows,
            f"qid long, qkey array<float>, {planner.plan_schema}",
        ), keys

    def _planner(self, meta, algorithm, closest_n, quota=None):
        """The per-probe planner of pruned index ``algorithm``
        (operators/ann.py: ``LshPlanner`` for hnsw, ``IvfPlanner`` for
        ivf), or None when the store does not carry that index (pq
        without ivf), or when the exact scan answers instead: the store
        is at or below the brute-force threshold (the reference's
        accept-list shortcut, hnsw/index.rs:24) or the index artifact
        (histogram, centroids) is missing. ``quota`` is the candidate
        count each probe must reach, by default max(4k, threshold/8)."""
        from ahnlich_spark.operators import ann as A

        if algorithm not in meta.non_linear:
            return None
        cfg = self._ann_config(meta, algorithm)
        state = self._ann_state(meta, algorithm)
        if state["count"] <= self.brute_force_threshold:
            return None
        if quota is None:
            quota = max(4 * closest_n, self.brute_force_threshold // 8)
        if algorithm == "hnsw":
            if "sig_counts" not in state:
                return None
            planes = A.hyperplanes(meta.dimension, int(cfg["n_planes"]),
                                   int(cfg["seed"]))
            # ef_construction keeps its literal HNSW meaning: the size of
            # the candidate list the search must fill before rescoring
            # (floored at the default quota so defaults don't
            # under-collect; raise ef_construction to search wider)
            return A.LshPlanner(planes, state["sig_counts"],
                                max(quota, int(cfg["ef_construction"])),
                                int(cfg["hamming_radius"]))
        cents = self._ivf_centroids(meta)
        if cents is None or "bucket_counts" not in state:
            return None
        return A.IvfPlanner(cents, state["bucket_counts"],
                            int(cfg["n_probe"]), quota)

    def _ann_config(self, meta: StoreMeta, algorithm: str) -> dict:
        """The store's config of non-linear index ``algorithm`` over the
        defaults; NonLinearIndexNotFound when the index was never
        created (reference store.rs:324-326)."""
        if algorithm not in meta.non_linear:
            raise errors.NonLinearIndexNotFound(
                f"non-linear index {algorithm!r} not created for "
                f"{meta.schema}.{meta.name}"
            )
        return dict(ANN_DEFAULTS[algorithm],
                    **meta.non_linear_config.get(algorithm, {}))

    def _batch_pq(self, meta, cfg, probes, closest_n, precision) -> DataFrame:
        """Batch ADC search over the persisted code artifact: the store
        side is scanned once reading 8-byte codes, every probe's lookup
        table rides in as broadcast data, survivors are exact-rescored
        (operators/pq.pq_top_k_batch). ADC LUTs are per-probe driver
        artifacts, so the probes are collected (bounded by chunking
        below)."""
        from ahnlich_spark.operators.pq import pq_top_k_batch

        probe_rows = probes.rows()
        metric = cfg["distance"]
        raw = read_store(self.spark, self.catalog, meta, canonical=False)
        code_col = "_ann_pqcode" if "_ann_pqcode" in raw.columns else None
        books = self._pq_codebooks(meta, raw if code_col is None else None)
        n_cand = max(4 * closest_n, int(cfg["candidates"]))
        if cfg.get("residual"):
            return self._batch_pq_residual(
                meta, probes, closest_n, precision, raw, metric,
                books if code_col else None, n_cand,
            )
        # same small-store shortcut as the single-probe _ann_top_k and
        # the pruned/residual batch faces: below the threshold both
        # faces answer exactly, keeping batch == #probes singles
        # everywhere (the approximate ADC rank would otherwise diverge
        # from single-probe pq exactly on small stores)
        if (books is None or self._ann_state(meta, "pq")["count"]
                <= self.brute_force_threshold):
            return self._rank_exact(raw, probes, metric, closest_n, precision)
        ivf = self._planner(meta, "ivf", closest_n, quota=n_cand)

        def chunk(rows):
            # IVF-PQ composition, batch face: when the store also carries
            # the ivf index, the UNION of every probe's planned bucket set
            # prunes partition directories before the ADC rank. Extra
            # buckets from other probes only WIDEN a probe's candidate
            # pool relative to per-probe IVF pruning (batch recall >=
            # single-probe recall); a true neighbor outside the union is
            # still missed, so recall vs the UNPRUNED ADC scan can be
            # lower — same contract as the single-probe ivf+pq path.
            plans = [] if ivf is None else [ivf.plan(v) for _pid, v in rows]
            scan = raw
            if plans and None not in plans:
                union = {b for _row, keys in plans for b in keys}
                scan = raw.filter(F.col(ivf.prune_col).isin(sorted(union)))
            return pq_top_k_batch(
                scan, rows, books, k=closest_n, candidates=n_cand,
                vec_col="key", id_col="id", code_col=code_col,
                carry_cols=("meta",), metric=metric, precision=precision,
            )

        # Bound driver planning AND the per-probe LUT broadcast
        # (VERDICT r03 #4): above BATCH_PLAN_THRESHOLD the batch is
        # processed in threshold-size chunks — each chunk is one pruned
        # scan with its own bounded LUT set; results union. ADC LUTs are
        # inherently per-probe driver artifacts (m*k doubles each), so
        # chunking is the honest bound here, unlike hnsw/ivf whose
        # planning moves fully executor-side.
        return _union_chunks(probe_rows, self.BATCH_PLAN_THRESHOLD, chunk)

    def _batch_pq_residual(self, meta, probes, closest_n, precision, raw,
                           metric, books, n_cand) -> DataFrame:
        """Batch face of the residual IVF-PQ index: per-probe bucket
        sets planned by the SAME IVF planner as the single-probe path,
        every probe's per-bucket LUT table shipped as broadcast data,
        the scan pruned to the bucket union, and each probe's candidates
        restricted to its OWN picked set by the join condition — so
        per-probe answers are identical to #probes single get_sim_n
        calls at the cost of ONE pruned scan. The LUT payload is
        len(picked) plain-LUT equivalents per probe, so the batch is
        chunked at BATCH_PLAN_THRESHOLD // max_buckets_per_probe to keep
        every broadcast bounded. Falls back to the exact batch scan
        below the brute-force threshold (matching the single-probe
        shortcut, so batch == singles holds on small stores too) and
        when any piece of the composed artifact (codes column,
        codebooks, centroids, bucket histogram) is missing — correct,
        never wrong."""
        from ahnlich_spark.operators.pq import pq_top_k_batch_residual

        ivf = self._planner(meta, "ivf", closest_n, quota=n_cand)
        if books is None or ivf is None:
            return self._rank_exact(raw, probes, metric, closest_n, precision)
        every = list(range(len(ivf.centroids)))
        planned = []
        for pid, vec in probes.rows():
            plan = ivf.plan(vec)
            # quota unfillable from the histogram: this probe scans every
            # bucket (full LUT table), same as the single-probe
            # buckets=None contract
            planned.append((pid, vec, every if plan is None else plan[1]))

        def chunk(part):
            # prune to THIS chunk's bucket union — chunks touching few
            # buckets must not pay for the whole batch's footprint
            union = sorted({b for _p, _v, bs in part for b in bs})
            scan = (
                raw if len(union) >= len(every)
                else raw.filter(F.col(ivf.prune_col).isin(union))
            )
            return pq_top_k_batch_residual(
                scan, part, ivf.centroids, books,
                k=closest_n, candidates=n_cand,
                vec_col="key", id_col="id", carry_cols=("meta",),
                metric=metric, precision=precision,
            )

        per_probe = max((len(bs) for _p, _v, bs in planned), default=1)
        return _union_chunks(
            planned, max(1, self.BATCH_PLAN_THRESHOLD // per_probe), chunk
        )

    def get_sim_n(
        self,
        store: str,
        search_input: Sequence[float],
        closest_n: int = 1,
        algorithm: str = S.COSINE,
        condition: Optional[Predicate] = None,
        schema: str = PUBLIC_SCHEMA,
        precision: str = "float",
    ) -> DataFrame:
        """Top-N similarity (reference store.rs:290-399). 4-way dispatch
        (linear|nonlinear) x (condition|none) collapses into ONE Catalyst
        plan: filter -> score -> bounded top-k. Non-linear algorithms
        require their index to exist (store.rs:324-326) and run the
        approximate path only above the brute-force threshold — exactly
        the reference's <=4096 accept-list shortcut."""
        if closest_n < 1:
            raise ValueError("closest_n must be >= 1 (reference NonZeroUsize)")
        meta = self.catalog.get_store(store, schema)
        self._check_dims(meta, [search_input])
        _check_algorithm(algorithm)
        metric = algorithm
        if algorithm in NON_LINEAR_ALGOS:
            cfg = self._ann_config(meta, algorithm)
            metric = cfg["distance"]
            if algorithm != "kdtree" and condition is None:
                return self._ann_top_k(meta, algorithm, cfg, search_input,
                                       closest_n, precision)
        # Exact: linear metrics; kdtree — the reference KD-tree n_nearest
        # is EXACT k-NN (kdtree.rs:437-529), the exact scan is Spark's
        # natural bounded top-k and needs no artifact; and conditioned
        # approximate queries — small accept-lists brute-force
        # (hnsw/index.rs:24), and exact filtered top-k trivially
        # satisfies the >0.9 recall contract. The condition applies up
        # front through the index-aware path: indexed keys prune the
        # scan before any scoring happens.
        if condition is not None:
            df = self._pred_filtered(meta, condition)
        else:
            df = read_store(self.spark, self.catalog, meta)
        return top_k_similar(df, search_input, metric, closest_n,
                             precision=precision)

    def _ann_top_k(self, meta, algorithm, cfg, search_input, closest_n,
                   precision) -> DataFrame:
        """Approximate top-k through the MATERIALIZED index from ONE
        store read: hnsw/ivf plan the probe with the index's planner
        (``_planner``, the one the batch paths call) from cached
        statistics (zero scans), and ONE partition-pruned candidate read
        is exact-rescored; pq ranks its candidates by ADC first
        (``_pq_candidates``). The exact scan of the same read answers
        instead when the store is small, the index artifact is absent,
        or pruning would starve the candidate quota."""
        raw = read_store(self.spark, self.catalog, meta, canonical=False)
        if algorithm == "pq":
            cands = self._pq_candidates(meta, cfg, raw, search_input, closest_n)
        else:
            planner = self._planner(meta, algorithm, closest_n)
            plan = None if planner is None else planner.plan(search_input)
            cands = None if plan is None else raw.filter(planner.probe_filter(*plan))
        # drop EVERY internal column (_ann_* AND _pred_*) on both sides,
        # so the output schema does not flip across the pruned/exact
        # boundary on predicate-indexed stores
        return top_k_similar(
            drop_internal(raw if cands is None else cands), search_input,
            cfg["distance"], closest_n, precision=precision,
        )

    def _pq_candidates(self, meta, cfg, raw, search_input, closest_n):
        """One probe's pq candidates: ADC rank over the 8-byte code
        column (the raw vectors are never read in this stage), bounded
        top-``candidates``, for the exact rescore; None when the exact
        scan answers (small store, or the code column or codebooks are
        missing).

        IVF-PQ composition: when the store ALSO carries the ivf index,
        its planner prunes whole bucket partitions BEFORE the ADC rank —
        the classic IVF-PQ layout (coarse cells for file pruning, fine
        codes for in-cell ranking). At 100 TB the scan then reads
        n_probe/n_clusters of the files, 8 bytes/row. Residual codes were
        taken against each row's bucket centroid, so they are looked up
        in the query's per-bucket LUT table (ONE literal — only the
        picked buckets' LUTs when the scan is pruned)."""
        from ahnlich_spark.operators.pq import (
            adc_dist_expr,
            adc_lut,
            residual_adc_expr,
        )

        if self._ann_state(meta, "pq")["count"] <= self.brute_force_threshold:
            return None
        books = self._pq_codebooks(meta) if "_ann_pqcode" in raw.columns else None
        if books is None:
            return None
        q = [float(x) for x in search_input]
        n_cand = max(4 * closest_n, int(cfg["candidates"]))
        ivf = self._planner(meta, "ivf", closest_n, quota=n_cand)
        plan = None if ivf is None else ivf.plan(q)
        scan = raw if plan is None else raw.filter(ivf.probe_filter(*plan))
        if cfg.get("residual") and "_ann_bucket" in raw.columns:
            if ivf is None:
                # residual flag set but the ivf artifact is gone (index
                # dropped out from under the flag by an older tree):
                # answers stay correct via the exact scan rather than
                # decoding garbage
                return None
            adc = residual_adc_expr(q, ivf.centroids, books,
                                    buckets=None if plan is None else plan[1])
        else:
            adc = adc_dist_expr(F.col("_ann_pqcode"), adc_lut(q, books))
        return (
            scan.withColumn("_adc", adc)
            .orderBy(F.asc("_adc"), F.asc("id"))
            .limit(n_cand)
            .drop("_adc")
        )

    def list_stores(self, schema: str = PUBLIC_SCHEMA) -> List[StoreInfo]:
        return [self._store_info(m) for m in self.catalog.list_stores(schema)]

    def get_store(self, store: str, schema: str = PUBLIC_SCHEMA) -> StoreInfo:
        return self._store_info(self.catalog.get_store(store, schema))

    def _store_info(self, meta: StoreMeta) -> StoreInfo:
        """Metadata-only when the caches are warm: ListStores/GetStore on
        a populated store launch ZERO Spark jobs (pinned by
        test_engine.test_store_info_is_metadata_only). Counts are
        maintained from the counts mutations already compute; paths that
        can't account exactly (fold-in deletes, key-changing upserts,
        concurrent-writer collisions, snapshot-era metas) leave a dirty
        flag and the next info call recomputes ONCE and re-caches — the
        reference's cached len + dirty flag (store.rs:72-101)."""
        changed = False
        if meta.len_cache < 0:
            meta.len_cache = (
                read_store(self.spark, self.catalog, meta).count()
                if meta.version > 0
                else 0
            )
            changed = True
        if meta.bytes_cache < 0:
            size = _dir_size(self.catalog.store_path(meta)) if meta.version > 0 else 0
            for i in range(1, meta.deltas + 1):
                size += _dir_size(self.catalog.delta_path(meta, i))
            meta.bytes_cache = size
            changed = True
        if changed:
            self.catalog.put_store(meta)
        return StoreInfo(
            name=meta.name,
            schema=meta.schema,
            len=int(meta.len_cache),
            size_in_bytes=int(meta.bytes_cache),
            dimension=meta.dimension,
            predicates=tuple(meta.predicates),
            non_linear=tuple(meta.non_linear),
            non_linear_config={a: dict(c) for a, c in meta.non_linear_config.items()},
        )

    # ---------------------------------------------------------- writes --
    def set(
        self,
        store: str,
        entries: Union[Sequence[Entry], DataFrame],
        schema: str = PUBLIC_SCHEMA,
        remove_condition: Optional[Predicate] = None,
        remove_meta_matches: Optional[Tuple[str, DataFrame]] = None,
    ) -> StoreUpsert:
        """Bulk upsert. The vector IS the primary key (id = hash of its
        f32 bits), so a duplicate vector is an UPDATE; counts mirror the
        reference's StoreUpsert {inserted, updated} (store.rs:1050-1135).

        Within one batch, later occurrences of the same vector win
        (map-insert order in the reference). Counting is one hash-join
        aggregation; the rewrite is existing-anti-join-batch + batch.

        ``remove_condition`` (a Predicate) and ``remove_meta_matches``
        (``(meta_key, one-column DataFrame of MetadataValue structs)``)
        delete matching pre-existing rows INSIDE the same delta segment —
        the AI proxy's DelPred-before-Set pipelines into ONE store write
        instead of two (reference operations.rs:229-268).

        Write cost is O(batch + matches), never O(store): the first SET
        writes the base version; every later SET appends a delta segment
        of upsert rows (+ tombstones for the remove matches). The base
        is read (for counting and remove-match ids) but never rewritten
        — the reference's SET is likewise an O(batch) map insert
        (store.rs:1050-1135)."""
        meta = self.catalog.get_store(store, schema)
        # a Python-list batch is known-small -> broadcast it so the
        # (possibly huge) store side never shuffles; DataFrame batches
        # have unknown size, so leave join-side choice to AQE
        small_batch = not isinstance(entries, DataFrame)
        batch = self._entries_df(meta, entries)
        # keep-last per id within the batch
        w = Window.partitionBy("id").orderBy(F.col("_seq").desc())
        batch_d = (
            batch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("id", "key", "meta")
        )
        if not small_batch and "_seq" not in entries.columns:
            # synthesized _seq (monotonically_increasing_id) is not stable
            # across recomputations — pin the dedup winner ONCE so the
            # counting job and the rewrite job see the same batch
            batch_d = batch_d.localCheckpoint(eager=False)
        existing = read_store(self.spark, self.catalog, meta)
        tombs: List[DataFrame] = []
        if remove_condition is not None:
            cond = F.coalesce(compile_predicate(remove_condition), F.lit(False))
            tombs.append(existing.filter(cond).select("id"))
            existing = existing.filter(~cond)
        if remove_meta_matches is not None:
            rm_key, rm_df = remove_meta_matches
            rm = rm_df.select(F.col(rm_df.columns[0]).alias("_rm_mv")).distinct()
            # no broadcast hint: the match side is batch-sized (unknown,
            # possibly huge raw documents) — AQE picks the join strategy
            match = F.col("meta")[rm_key].eqNullSafe(F.col("_rm_mv"))
            tombs.append(existing.join(rm, match, "left_semi").select("id"))
            existing = existing.join(rm, match, "left_anti")

        # probe the STORE with the batch ids (never the reverse: the
        # store is the 100 TB side, the batch the small side); union the
        # semi-join hits with one marker row per batch id so total and
        # updated come out of ONE job instead of two. (A CollectMetrics/
        # observe formulation would fold counting into the write job
        # itself, but PySpark's Observation.get hits an intermittent
        # toPyRow JVM assertion on this path — measured flaky, reverted.)
        batch_ids = batch_d.select("id")
        if small_batch:
            batch_ids = F.broadcast(batch_ids)
        hits = existing.join(batch_ids, "id", "left_semi").select(
            F.lit(1).alias("m"), F.lit(None).cast("int").alias("sz")
        )
        # dimension validation rides INSIDE the counting aggregation
        # (batch rows carry size(key)) — no separate validation job, and
        # the batch still fails as a whole before anything is written
        counts = (
            hits.unionAll(
                batch_d.select(F.lit(0).alias("m"), F.size("key").alias("sz"))
            )
            .agg(
                F.count(F.when(F.col("m") == 0, 1)).alias("total"),
                F.count(F.when(F.col("m") == 1, 1)).alias("updated"),
                F.count(
                    # sz is NULL for a NULL key (ANSI size(NULL)) —
                    # count it bad rather than letting the row land
                    # under the constant xxhash64(NULL) id
                    F.when(
                        (F.col("m") == 0)
                        & (F.col("sz").isNull()
                           | (F.col("sz") != meta.dimension)),
                        1,
                    )
                ).alias("bad"),
            )
            .first()
        )
        if counts["bad"]:
            raise errors.DimensionMismatch(
                f"batch contains vectors of wrong dimension (expect {meta.dimension})"
            )
        total, updated = counts["total"], counts["updated"]
        inserted = total - updated

        if meta.version == 0:
            meta = self._write(meta, batch_d)
            meta.len_cache = int(total)  # first base: every deduped row lives
            self.catalog.put_store(meta)
        else:
            tomb = None
            if tombs:
                tomb = tombs[0]
                for t in tombs[1:]:
                    tomb = tomb.unionByName(t)
            # fold-in deletes (remove_condition / remove_meta_matches)
            # tombstone rows whose count was never collected -> dirty;
            # the plain path's net change is exactly `inserted`
            self._append_delta(
                meta, upserts=batch_d, tombstone_ids=tomb,
                len_delta=None if tomb is not None else int(inserted),
            )
        return StoreUpsert(inserted=inserted, updated=updated)

    def del_key(
        self, store: str, keys: Sequence[Sequence[float]], schema: str = PUBLIC_SCHEMA
    ) -> DelResult:
        meta = self.catalog.get_store(store, schema)
        self._check_dims(meta, keys)
        probes = self._keys_df(keys).select(store_key_id(F.col("key")).alias("id"))
        df = read_store(self.spark, self.catalog, meta)
        # ONE store scan: pin the matched ids, count the pinned frame,
        # tombstone from it (O(matches) segment — no rewrite, no rescan)
        matched = (
            df.join(F.broadcast(probes), "id", "left_semi")
            .select("id")
            .localCheckpoint(eager=True)
        )
        deleted = matched.count()
        if deleted:
            self._append_delta(meta, tombstone_ids=matched, len_delta=-int(deleted))
        return DelResult(deleted_count=int(deleted))

    def del_pred(
        self, store: str, condition: Predicate, schema: str = PUBLIC_SCHEMA
    ) -> DelResult:
        meta = self.catalog.get_store(store, schema)
        # ONE index-pruned scan pins the matched ids; count and the
        # O(matches) tombstone segment both read the pinned frame —
        # the store is never rewritten or rescanned
        matched = (
            self._pred_filtered(meta, condition)
            .select("id")
            .localCheckpoint(eager=True)
        )
        deleted = matched.count()
        if deleted:
            self._append_delta(meta, tombstone_ids=matched, len_delta=-int(deleted))
        return DelResult(deleted_count=int(deleted))

    def upsert(
        self,
        store: str,
        condition: Predicate,
        new_key: Optional[Sequence[float]] = None,
        new_value: Optional[dict] = None,
        merge_metadata: bool = False,
        schema: str = PUBLIC_SCHEMA,
    ) -> StoreUpsert:
        """Update the SINGLE row matching ``condition`` (reference
        store.rs:443-528): error unless exactly one match; new key and/or
        new value, at least one; merge_metadata merges maps with new
        winning per-key (store.rs:491-505)."""
        if new_key is None and new_value is None:
            raise ValueError("upsert requires new_key and/or new_value")
        meta = self.catalog.get_store(store, schema)
        if new_key is not None:
            self._check_dims(meta, [new_key])
        df = read_store(self.spark, self.catalog, meta)
        cond = F.coalesce(compile_predicate(condition), F.lit(False))
        matches = df.filter(cond).limit(2).collect()
        if len(matches) != 1:
            raise errors.UpsertMatchError(
                f"upsert condition matched {len(matches)} rows; exactly 1 required"
            )
        old = matches[0]

        key = (
            [float(x) for x in np.asarray(list(new_key), dtype=np.float32)]
            if new_key is not None
            else list(old["key"])
        )
        if new_value is not None:
            new_map = meta_map(new_value)
            if merge_metadata:
                merged = dict(old["meta"] or {})
                merged.update({k: tuple(v) for k, v in new_map.items()})
            else:
                merged = {k: tuple(v) for k, v in new_map.items()}
        else:
            merged = {k: tuple(v) for k, v in (old["meta"] or {}).items()}

        replacement = local_rows_df(
            self.spark, [(key, merged, 0)],
            T.StructType(
                [
                    T.StructField("key", T.ArrayType(T.FloatType(), True), False),
                    T.StructField("meta", META_MAP_TYPE, True),
                    T.StructField("_seq", T.LongType(), False),
                ]
            ),
        ).withColumn("id", store_key_id(F.col("key")))
        # tombstone the matched row's id, upsert the replacement — one
        # O(1)-row delta segment. If the replacement keeps the same id
        # the upsert wins within the segment; if the new key collides
        # with ANOTHER existing row's id the merge shadows it, exactly
        # as a plain Set would.
        tomb = local_rows_df(self.spark, [(int(old["id"]),)], "id long")
        # value-only upsert keeps the row's id -> net count change is 0;
        # a key change may shadow another existing id (unknowable without
        # a probe) -> dirty the cached count
        self._append_delta(
            meta,
            upserts=replacement.select("id", "key", "meta"),
            tombstone_ids=tomb,
            len_delta=0 if new_key is None else None,
        )
        return StoreUpsert(inserted=0, updated=1)

    # -------------------------------------------------------- pipeline --
    def pipeline(self, ops: Sequence[Tuple[str, dict]]) -> List[dict]:
        """Execute a list of (method_name, kwargs) sequentially, collecting
        per-op results or errors (reference DbRequestPipeline,
        ahnlich/db/src/server/handler.rs:526-927). Order matters."""
        out: List[dict] = []
        for name, kwargs in ops:
            try:
                result = getattr(self, name)(**kwargs)
                out.append({"op": name, "ok": True, "result": result})
            except Exception as e:  # error inline, keep going (ref :922-926)
                out.append({"op": name, "ok": False, "error": f"{type(e).__name__}: {e}"})
        return out

    def ping(self) -> str:
        return "pong"

    def list_clients(self) -> List[dict]:
        """Connected-clients registry (reference handler.rs:385-401):
        every Engine facade attached to this warehouse in this process,
        with client id / Spark application id / user / connect time."""
        return [dict(e) for e in Engine._clients.get(self._warehouse, [])]

    def info_server(self) -> dict:
        from ahnlich_spark import __version__

        return {"type": "ahnlich_spark", "version": __version__}

    # --------------------------------------------------------- helpers --
    def _keys_df(self, keys: Sequence[Sequence[float]]) -> DataFrame:
        rows = [([float(x) for x in np.asarray(list(k), dtype=np.float32)],) for k in keys]
        # one slice: a driver-side key list is bounded (wire-sized);
        # default-parallelism slices would cost #cores empty tasks per op
        return local_rows_df(
            self.spark, rows,
            T.StructType([T.StructField("key", T.ArrayType(T.FloatType(), True), False)]),
        )

    def _check_dims(self, meta: StoreMeta, keys: Sequence[Sequence[float]]) -> None:
        """Dimension check — any mismatch fails the whole request
        (reference store.rs:822-838, 300-308)."""
        for k in keys:
            if len(k) != meta.dimension:
                raise errors.DimensionMismatch(
                    f"store {meta.schema}.{meta.name} expects dimension "
                    f"{meta.dimension}, got {len(k)}"
                )

    def _entries_df(self, meta: StoreMeta, entries: Union[Sequence[Entry], DataFrame]) -> DataFrame:
        """Normalize entries to (id, key, meta, _seq). DataFrame input must
        have key ARRAY<FLOAT> and meta MAP columns; dimension is validated
        distributedly (one pass, fails the whole batch on any mismatch)."""
        if isinstance(entries, DataFrame):
            df = entries
            if "_seq" not in df.columns:
                df = df.withColumn("_seq", F.monotonically_increasing_id())
            if "meta" not in df.columns:
                df = df.withColumn("meta", F.lit(None).cast(META_MAP_TYPE_RELAXED))
            # dimension validation happens inside set()'s counting job
            # (one scan, whole batch fails before any write)
            df = df.select(
                F.col("key").cast(T.ArrayType(T.FloatType(), True)).alias("key"),
                F.col("meta").cast(META_MAP_TYPE_RELAXED).alias("meta"),
                "_seq",
            )
        else:
            rows = []
            for i, (vec, m) in enumerate(entries):
                if len(vec) != meta.dimension:
                    raise errors.DimensionMismatch(
                        f"store {meta.schema}.{meta.name} expects dimension "
                        f"{meta.dimension}, got {len(vec)}"
                    )
                v32 = [float(x) for x in np.asarray(list(vec), dtype=np.float32)]
                rows.append((v32, meta_map(m or {}), i))
            # ONE slice, not the default-parallelism slices: a
            # Python-list batch is wire-sized by construction, but
            # parallelize() would chop it into #cores slices and every
            # downstream stage (keep-last window, broadcast build,
            # counting probe) would schedule #cores near-empty tasks
            # per Engine op — pure scheduler overhead at any scale
            df = local_rows_df(
                self.spark, rows,
                T.StructType(
                    [
                        T.StructField("key", T.ArrayType(T.FloatType(), True), False),
                        T.StructField("meta", META_MAP_TYPE, True),
                        T.StructField("_seq", T.LongType(), False),
                    ]
                ),
            )
        return df.withColumn("id", store_key_id(F.col("key")))
