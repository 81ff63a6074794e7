"""vector_serving: read-only queries against one clustered store with an
indexed predicate key and ``hnsw`` and ``ivf`` indexes. The scan,
scoring, top-k, ANN pruning and predicate pushdown do the work here,
over a clean base with warm index statistics; no write path runs."""

from __future__ import annotations

import numpy as np

import checks
from harness import FAILED
from inputs import CATEGORIES, DIM, Clustered

SIZE = 5_000  # rows; above the engine's 4096-row brute-force crossover
K = 10
BATCH_PROBES = 4
# the index defaults, spelled out: hnsw ranks by cosine, ivf by euclidean
ANN = {"hnsw": checks.COSINE, "ivf": checks.EUCLIDEAN}
STORE = "vs"


def flat_meta(meta) -> dict:
    return {k: v["s"] for k, v in (meta or {}).items()}


def vector_frame(spark, vectors, metas: dict):
    """A (key, meta) DataFrame: float32 vectors plus string metadata,
    handed to Spark as one Arrow table."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    vectors = np.ascontiguousarray(vectors, dtype=np.float32)
    n, dim = vectors.shape
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    table = {"key": pa.ListArray.from_arrays(offsets, pa.array(vectors.ravel()))}
    table.update({c: pa.array(v, type=pa.string()) for c, v in metas.items()})
    df = spark.createDataFrame(pa.table(table))
    entries = []
    for c in metas:
        entries += [F.lit(c), F.struct(F.lit("raw_string").alias("kind"),
                                       F.col(c).alias("s"),
                                       F.lit(None).cast("binary").alias("bin"))]
    return df.select("key", F.create_map(*entries).alias("meta"))


class Workload:
    simn_kinds = ("simn_exact", "simn_pred", "simn_hnsw", "simn_ivf")

    def __init__(self, spark, warehouse, rng, run, scale):
        from ahnlich_spark import Engine

        self.spark, self.rng, self.run = spark, rng, run
        self.engine = Engine(spark, warehouse)
        self.n = max(int(SIZE * scale), 5 * K)
        self.recall = {a: [] for a in ANN}

    def setup(self) -> None:
        self.data = Clustered(self.rng, self.n)
        self.rows = checks.Rows(self.data.vectors)
        cats = [f"c{c}" for c in self.data.categories]
        self.engine.create_store(
            STORE, dimension=DIM, predicates=["cat"], non_linear_indices=list(ANN),
            non_linear_config={a: {"distance": m} for a, m in ANN.items()},
        )
        self.engine.set(STORE, vector_frame(self.spark, self.data.vectors, {"cat": cats}))
        # untimed warm-up: a GetSimN per linear metric (first plans, JIT)
        # and per ANN index (its statistics)
        for algo in (*checks.LINEAR, *ANN):
            self.engine.get_sim_n(STORE, self.data.probe().tolist(), K, algorithm=algo).collect()

    # -- operations --------------------------------------------------------

    def _simn(self, kind, q, metric, condition=None):
        return self.run.op(kind, lambda: self.engine.get_sim_n(
            STORE, q.tolist(), K, algorithm=metric, condition=condition,
        ).select("key", "similarity").collect())

    def round(self) -> None:
        from ahnlich_spark.operators.predicates import Equals

        run, data, check = self.run, self.data, self.run.check
        for metric in checks.LINEAR:
            q = data.probe()
            got = self._simn("simn_exact", q, metric)
            if got is not FAILED:
                check(checks.top_k(f"simn {metric}", metric, self.rows, q, K,
                                   [r[0] for r in got], [r[1] for r in got]))
            run.time_scan(lambda: self.engine.store_df(STORE))

        q, cat = data.probe(), int(self.rng.integers(0, CATEGORIES))
        got = self._simn("simn_pred", q, checks.COSINE, Equals("cat", f"c{cat}"))
        if got is not FAILED:
            check(checks.top_k("simn pred", checks.COSINE, self.rows, q, K,
                               [r[0] for r in got], [r[1] for r in got],
                               mask=data.categories == cat))

        for algo, metric in ANN.items():
            q = data.probe()
            got = self._simn(f"simn_{algo}", q, algo)
            if got is not FAILED:
                problems, recall = checks.ann(f"simn {algo}", metric, self.rows, q, K,
                                              [r[0] for r in got], [r[1] for r in got])
                check(problems)
                if not run.warming:
                    self.recall[algo].append(recall)

        i = int(self.rng.integers(0, self.n))
        probe = data.vectors[i]

        got = run.op("getkey", lambda: self.engine.get_key(
            STORE, [probe.tolist()]).select("key", "meta").collect())
        if got is not FAILED:
            check(checks.get_key("getkey", probe, {"cat": f"c{data.categories[i]}"},
                                 [(r[0], flat_meta(r[1])) for r in got]))

        probes = [data.probe() for _ in range(BATCH_PROBES)]

        def batch():
            return self.engine.get_sim_n_batch(
                STORE, [(j, p.tolist()) for j, p in enumerate(probes)], K,
                algorithm=checks.COSINE,
            ).select("qid", "key", "similarity").orderBy("qid", "rank_n").collect()

        got = run.op("simn_batch", batch)
        if got is not FAILED:
            for j, p in enumerate(probes):
                mine = [r for r in got if r[0] == j]
                check(checks.top_k(f"batch probe {j}", checks.COSINE, self.rows, p, K,
                                   [r[1] for r in mine], [r[2] for r in mine]))

    def finish(self) -> None:
        pass

    def close(self) -> None:
        self.engine.close()

    # -- reporting ---------------------------------------------------------

    def detail(self) -> dict:
        run = self.run
        recall = self.recall["hnsw"] + self.recall["ivf"]
        out = {
            "simn_exact_s": (run.median("simn_exact"), "s", run.n("simn_exact")),
            "simn_pred_s": (run.median("simn_pred"), "s", run.n("simn_pred")),
            "simn_hnsw_s": (run.median("simn_hnsw"), "s", run.n("simn_hnsw")),
            "simn_ivf_s": (run.median("simn_ivf"), "s", run.n("simn_ivf")),
            "getkey_s": (run.median("getkey"), "s", run.n("getkey")),
            "simn_batch_probes_per_s": (run.rate(BATCH_PROBES * run.n("simn_batch"), "simn_batch"),
                                        "probes/s", run.n("simn_batch")),
            "ann_recall": (float(np.mean(recall)) if recall else float("nan"),
                           "recall@10", len(recall)),
        }
        for algo in ANN:
            r = self.recall[algo]
            out[f"ann_recall_{algo}"] = (float(np.mean(r)) if r else float("nan"),
                                         "recall@10", len(r))
        return out

    def layers(self) -> dict:
        run = self.run
        return {
            "topk.batch_jobs": run.per_op("jobs", "simn_batch"),
            "topk.batch_shuffle_bytes": run.per_op("shuffle_bytes", "simn_batch"),
            "ann.candidates_per_probe": run.per_op("input_rows", "simn_hnsw", "simn_ivf"),
            "predicates.rows_scanned_per_result":
                run.per_op("input_rows", "simn_pred") / K,
        }
