"""mutate_replicate: writes beside reads. On a mid-sized vector store
with an indexed ``uid`` key, each write (SET of new vectors plus
re-sets, DelKey, single-row Upsert) is followed by GetSimN reads; a
managed materialized view refreshes once per round, and a change-feed
replica (``store_changes_stream`` into ``streaming_materialized_agg``)
catches up once per round with the writer paused. Then the AI proxy
takes its turn (``aitext.AiText``): a bulk ingest into a fresh store,
AI SETs and DSL text queries. This drives delta-segment writes, merged
reads over a live delta chain, inline compaction, catalog flushes,
incremental view maintenance, streaming triggers and the AI write and
text-query paths, none of which vector_serving touches."""

from __future__ import annotations

import statistics

import numpy as np

import checks
from aitext import AiText
from harness import FAILED
from inputs import DIM, Clustered
from serving import flat_meta, vector_frame

SIZE = 5_000
K = 10
GROUPS = 16
NEW_PER_SET, RESETS_PER_SET = 4, 2
READ_METRICS = (checks.EUCLIDEAN, checks.COSINE)  # the GetSimN after every write
# The engine's auto-compaction threshold, set to the writes per cycle
# (its default, 16, would take several cycles to reach): every cycle
# crosses it once, inside one of its writes.
WRITES_PER_CYCLE = 3
STORE, VIEW, REPLICA = "ms", "mv", "rep"
GROUP_SQL = "meta['grp'].s"
UID_SUM_SQL = "cast(substring(meta['uid'].s, 2) as bigint)"


def uid_number(meta: dict) -> int:
    return int(meta["uid"][1:])


class Workload:
    simn_kinds = ("read_after_write",)
    write_kinds = ("set", "delkey", "upsert")

    def __init__(self, spark, warehouse, rng, run, scale):
        from ahnlich_spark import Engine

        self.spark, self.rng, self.run = spark, rng, run
        self.engine = Engine(spark, warehouse + "/source")
        self.engine.AUTO_COMPACT_SEGMENTS = WRITES_PER_CYCLE
        self.replica = Engine(spark, warehouse + "/replica")
        self.stream_dir = warehouse + "/stream"
        self.n = max(int(SIZE * scale), 5 * K)
        self.triggers = []  # seconds per replica trigger that carried changes
        self.trace_notes = {"views.refresh_jobs": [], "ivm.delta_rows": [],
                            "streaming.jobs_per_trigger": [], "streaming.state_rows": []}
        self.drain = None
        self.text = AiText(spark, warehouse + "/ai", rng, run, scale)

    def setup(self) -> None:
        from pyspark.sql import functions as F

        self.data = Clustered(self.rng, self.n)
        metas = [{"uid": f"u{i}", "grp": f"g{i % GROUPS}"} for i in range(self.n)]
        self.next_uid = self.n
        self.model = checks.StoreModel(self.data.vectors, metas)
        self.engine.create_store(STORE, dimension=DIM, predicates=["uid"])
        self.engine.set(STORE, vector_frame(self.spark, self.data.vectors, {
            "uid": [m["uid"] for m in metas], "grp": [m["grp"] for m in metas]}))
        self.engine.create_materialized_view(VIEW, STORE, GROUP_SQL,
                                             measures={"uid_sum": UID_SUM_SQL})
        m = self.engine.catalog.get_store(STORE)
        self.replica.create_store(REPLICA, dimension=DIM)
        self.replica.set(REPLICA, self.engine.store_df(
            STORE, version=m.version, segments=0).select("key", "meta"))
        self.feed = self.engine.store_changes_stream(STORE)
        self.group_col = F.expr(GROUP_SQL)
        self.measures = {"uid_sum": F.expr(UID_SUM_SQL)}
        # untimed warm-up: a SET and its reads, a refresh, and a first
        # catch-up, which seeds the replica's view
        self.run.warming = True
        self.write_and_read("set")
        self.refresh()
        self.catch_up()
        self.run.warming = False
        self.text.setup()

    # -- operations --------------------------------------------------------

    def _live(self, count: int) -> list:
        keys = list(self.model.rows)
        picks = self.rng.choice(len(keys), size=count, replace=False)
        return [self.model.rows[keys[i]] for i in picks]

    def _new_uid(self) -> str:
        self.next_uid += 1
        return f"u{self.next_uid}"

    def _other_group(self, meta: dict) -> str:
        g = int(meta["grp"][1:])
        return f"g{(g + 1 + int(self.rng.integers(0, GROUPS - 1))) % GROUPS}"

    def write_and_read(self, kind: str) -> None:
        """One write, checked against the model, then a GetSimN under
        each read metric, checked against the model's top-k."""
        from ahnlich_spark.operators.predicates import Equals

        run, eng = self.run, self.engine
        if kind == "set":
            entries = [(v, {"uid": self._new_uid(), "grp": f"g{self.rng.integers(0, GROUPS)}"})
                       for v in self.data.fresh(NEW_PER_SET)]
            entries += [(v, {"uid": m["uid"], "grp": self._other_group(m)})
                        for v, m in self._live(RESETS_PER_SET)]
            got = run.op("set", lambda: eng.set(
                STORE, [(v.tolist(), m) for v, m in entries]))
            if got is not FAILED:
                run.check(checks.counts("set", (got.inserted, got.updated),
                                        self.model.set(entries)))
        elif kind == "delkey":
            (v, _m), = self._live(1)
            absent = self.data.fresh(1)[0]
            got = run.op("delkey", lambda: eng.del_key(STORE, [v.tolist(), absent.tolist()]))
            if got is not FAILED:
                run.check(checks.counts("delkey", (got.deleted_count,),
                                        (self.model.delete([v, absent]),)))
        else:
            (_v, m), = self._live(1)
            new = {"uid": m["uid"], "grp": self._other_group(m)}
            got = run.op("upsert", lambda: eng.upsert(
                STORE, Equals("uid", m["uid"]), new_value=new))
            if got is not FAILED:
                run.check(checks.counts("upsert", (got.inserted, got.updated),
                                        self.model.upsert("uid", m["uid"], new)))
        if got is FAILED:
            self.resync()

        for metric in READ_METRICS:
            q = self.data.probe()
            got = run.op("read_after_write", lambda: eng.get_sim_n(
                STORE, q.tolist(), K, algorithm=metric).select("key", "similarity").collect())
            if got is not FAILED:
                rows, _metas = self.model.snapshot()
                run.check(checks.top_k(f"read after {kind}", metric, rows, q, K,
                                       [r[0] for r in got], [r[1] for r in got]))
            run.time_scan(lambda: eng.store_df(STORE))

    def resync(self) -> None:
        """After a failed write the store may or may not hold it: carry
        on from what the store holds."""
        got = self.engine.store_df(STORE).select("key", "meta").collect()
        self.model = checks.StoreModel(
            np.array([r[0] for r in got], dtype=np.float32), [flat_meta(r[1]) for r in got])

    def refresh(self) -> None:
        run = self.run
        got = run.op("view_refresh", lambda: self.engine.refresh_materialized_view(VIEW))
        if run.tracer is not None and got is not FAILED and not run.warming:
            self.trace_notes["views.refresh_jobs"].append(run.counts["view_refresh"][-1]["jobs"])
            (v0, s0), (v1, s1) = got
            with run.tracer.pause():
                self.trace_notes["ivm.delta_rows"].append(self.engine.store_changes(
                    STORE, v0, s0, to_version=v1, to_segments=s1).count())

    def catch_up(self) -> None:
        """Start the replica's query, let it take in every committed
        segment, stop it. Trigger times come from its progress records."""
        from ahnlich_spark.streaming.pipeline import streaming_materialized_agg

        def rounds():
            query, self.drain = streaming_materialized_agg(
                self.feed, self.replica, REPLICA, self.group_col, self.measures,
                checkpoint=self.stream_dir + "/checkpoint",
                state_dir=self.stream_dir + "/state",
            )
            try:
                query.processAllAvailable()
            finally:
                query.stop()
            return [p for p in query.recentProgress if p["numInputRows"] > 0]

        run = self.run
        got = run.op("replica_catch_up", rounds)
        if got is FAILED or run.warming:
            return
        self.triggers += [p["durationMs"]["triggerExecution"] / 1000.0 for p in got]
        if run.tracer is not None:
            self.trace_notes["streaming.jobs_per_trigger"].append(
                run.counts["replica_catch_up"][-1]["jobs"] / max(1, len(got)))
            with run.tracer.pause():
                self.trace_notes["streaming.state_rows"].append(self.drain().count())

    def round(self) -> None:
        """SET, DelKey and Upsert, each followed by reads, one of them
        compacting; a view refresh and a replica catch-up; then the AI
        proxy's ingest, SETs and text queries."""
        for kind in self.write_kinds:
            self.write_and_read(kind)
        self.refresh()
        self.catch_up()
        self.text.round()

    def finish(self) -> None:
        """The store, the view and the drained replica view must each
        equal what the model gives."""
        run = self.run
        want = self.model.aggregate("grp", uid_number)
        got = self.engine.store_df(STORE).select("key", "meta").collect()
        run.check(checks.same_rows("source store", self.model,
                                   [(r[0], flat_meta(r[1])) for r in got]))
        view = self.engine.read_materialized_view(VIEW).collect()
        run.check(checks.same_groups("view", want, {r["group"]: (r["n"], r["uid_sum"]) for r in view}))
        replica = self.drain().collect()
        run.check(checks.same_groups("replica view", want,
                                     {r["group"]: (r["n"], r["uid_sum"]) for r in replica}))
        got = self.replica.store_df(REPLICA).select("key", "meta").collect()
        run.check(checks.same_rows("replica store", self.model,
                                   [(r[0], flat_meta(r[1])) for r in got]))
        self.text.finish()

    def close(self) -> None:
        self.engine.close()
        self.replica.close()
        self.text.close()

    # -- reporting ---------------------------------------------------------

    def detail(self) -> dict:
        run = self.run
        writes = self.write_kinds
        return {
            "write_s": (run.median(*writes), "s", run.n(*writes)),
            "mutations_per_s": (run.rate(run.n(*writes), *writes), "1/s", run.n(*writes)),
            "read_after_write_s": (run.median("read_after_write"), "s", run.n("read_after_write")),
            "view_refresh_s": (run.median("view_refresh"), "s", run.n("view_refresh")),
            "replica_trigger_s": (statistics.median(self.triggers) if self.triggers else float("nan"),
                                  "s", len(self.triggers)),
            "replica_catch_up_s": (run.median("replica_catch_up"), "s", run.n("replica_catch_up")),
            **self.text.detail(),
        }

    def layers(self) -> dict:
        out = {name: (sum(v) / len(v) if v else 0.0) for name, v in self.trace_notes.items()}
        out.update(self.text.layers())
        return out

    def layer_detail(self) -> dict:
        return self.text.layer_detail()
