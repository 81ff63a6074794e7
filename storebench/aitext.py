"""The AI-proxy half of the mutate_replicate round, over a generated
text corpus with the make-up of the documents fixture
(``all-minilm-l6-v2`` stub featurizer, 384-dim): bulk-ingest the corpus
DataFrame into a fresh store, run small AI SETs (new originals and
re-sets that replace an original), and issue text GetSimN queries as
DSL text. The executor-side embedding UDF, driver-side embedding, the
DelPred-before-Set replace path and the DSL parser do the work here,
over a store too small for scan cost to matter."""

from __future__ import annotations

import checks
import inputs
from harness import FAILED

DOCS = 5_000
MODEL, DIM = "all-minilm-l6-v2", 384
K = 10
SETS, NEW_PER_SET = 2, 3
QUERIES = 3
WARMUP_DOCS = 200
ORIGINAL = "_ahnlich_input_key"  # the metadata key an AI store keeps each original under


class AiText:
    def __init__(self, spark, warehouse, rng, run, scale):
        from ahnlich_spark import AiEngine, DslExecutor, Engine

        self.spark, self.rng, self.run = spark, rng, run
        self.engine = Engine(spark, warehouse)
        self.ai = AiEngine(self.engine)
        self.dsl = DslExecutor(self.engine, self.ai)
        self.n = max(int(DOCS * scale), 4 * K)
        self.model = checks.AiModel(DIM)
        self.stores = 0
        self.trace_notes = {"ai.bulk_jobs": [], "ai.jobs_per_set": []}
        self.bulk_udf = []

    def setup(self) -> None:
        import pandas as pd

        from ahnlich_spark.types import StoreInput

        self.texts = inputs.texts(self.rng, self.n)
        self.corpus = self.spark.createDataFrame(pd.DataFrame({"text": self.texts}), "text string")
        # untimed warm-up on a small scratch store: the Python workers,
        # first plans and JIT of the ingest, the AI SET and the DSL query
        warm = self.corpus.limit(WARMUP_DOCS)
        self.ai.create_store("warmup", query_model=MODEL, index_model=MODEL)
        self.ai.set("warmup", warm, input_col="text")
        self.ai.set("warmup", [(StoreInput.raw_string(self.texts[0]), {})])
        self.dsl.execute_ai(f"GETSIMN {K} WITH [{self.texts[1]}] USING cosinesimilarity IN warmup")[0].result.collect()
        self.ai.drop_store("warmup")

    # -- operations --------------------------------------------------------

    def _fresh_text(self) -> str:
        """A generated text whose embedding no stored row has."""
        while True:
            (t,) = inputs.texts(self.rng, 1)
            if self.model.embed(t).tobytes() not in self.model.rows:
                return t

    def ingest(self):
        """Bulk SET of the corpus into a fresh store; its name, or None
        when the ingest failed."""
        run = self.run
        if self.stores:
            self.ai.drop_store(f"docs{self.stores}")
        self.stores += 1
        name = f"docs{self.stores}"

        def bulk():
            self.ai.create_store(name, query_model=MODEL, index_model=MODEL)
            return self.ai.set(name, self.corpus, input_col="text")

        got = run.op("ai_ingest", bulk)
        if got is FAILED:
            return None
        run.check(checks.counts("ingest", (got.inserted, got.updated),
                                (self.model.ingest(self.texts), 0)))
        if run.tracer is not None and not run.warming:
            self.trace_notes["ai.bulk_jobs"].append(run.counts["ai_ingest"][-1]["jobs"])
            self._time_bulk_udf()
        return name

    def ai_set(self, store: str) -> None:
        from ahnlich_spark.types import StoreInput

        run = self.run
        originals = self.model.unique_originals()
        texts = [self._fresh_text() for _ in range(NEW_PER_SET)]
        texts.append(originals[int(self.rng.integers(0, len(originals)))])
        got = run.op("ai_set", lambda: self.ai.set(
            store, [(StoreInput.raw_string(t), {}) for t in texts]))
        if got is FAILED:
            self.resync(store)
            return
        run.check(checks.counts("ai set", (got.inserted, got.updated), self.model.set(texts)))
        if run.tracer is not None and not run.warming:
            self.trace_notes["ai.jobs_per_set"].append(run.counts["ai_set"][-1]["jobs"])

    def resync(self, store: str) -> None:
        """After a failed SET, carry on from what the store holds."""
        rows = self.engine.store_df(store).select("meta").collect()
        self.model.ingest([r[0][ORIGINAL]["s"] for r in rows])

    def query(self, store: str) -> None:
        run = self.run
        (text,) = inputs.texts(self.rng, 1)
        stmt = f"GETSIMN {K} WITH [{text}] USING cosinesimilarity IN {store}"

        def simn():
            (res,) = self.dsl.execute_ai(stmt)
            if not res.ok:
                raise RuntimeError(res.error)
            return res.result.select("input", "similarity").collect()

        got = run.op("ai_simn", simn)
        if got is not FAILED:
            originals = [r[0]["s"] for r in got]
            run.check(checks.top_k("text simn", checks.COSINE, self.model.snapshot(),
                                   self.model.embed(text), K,
                                   [self.model.embed(t) for t in originals],
                                   [r[1] for r in got]))

    def round(self) -> None:
        store = self.ingest()
        if store is None:
            return
        for _ in range(SETS):
            self.ai_set(store)
        for _ in range(QUERIES):
            self.query(store)

    def _time_bulk_udf(self) -> None:
        """Traced runs: the embedding projection of the corpus alone."""
        import time

        from ahnlich_spark.ai.embedder import embed_pandas_udf

        udf = embed_pandas_udf(MODEL)
        with self.run.tracer.pause():
            t0 = time.perf_counter()
            self.corpus.select(udf("text")).write.format("noop").mode("overwrite").save()
            self.bulk_udf.append(time.perf_counter() - t0)

    def finish(self) -> None:
        """The last store must hold what the model gives: the originals
        read back map onto the model's embeddings one to one."""
        rows = self.engine.store_df(f"docs{self.stores}").select("meta").collect()
        self.run.check(self.model.check_originals(
            "ai store", [r[0][ORIGINAL]["s"] for r in rows]))

    def close(self) -> None:
        self.engine.close()

    # -- reporting ---------------------------------------------------------

    def detail(self) -> dict:
        run = self.run
        return {
            "ai_ingest_docs_per_s": (run.rate(self.n * run.n("ai_ingest"), "ai_ingest"),
                                     "docs/s", run.n("ai_ingest")),
            "ai_set_s": (run.median("ai_set"), "s", run.n("ai_set")),
            "ai_simn_s": (run.median("ai_simn"), "s", run.n("ai_simn")),
        }

    def layers(self) -> dict:
        return {name: (sum(v) / len(v) if v else 0.0) for name, v in self.trace_notes.items()}

    def layer_detail(self) -> dict:
        b = self.bulk_udf
        return {"ai.bulk_udf_s": (sum(b) / len(b) if b else float("nan"), "s", len(b))}
