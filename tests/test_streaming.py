"""Structured Streaming tests: the streaming faces must produce the
same answers as their batch twins on the driver's events/documents
testdata (availableNow trigger + memory sink)."""

import os
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from ahnlich_spark.streaming import (
    hourly_rollup,
    read_events_stream,
    streaming_exact_dedup,
    streaming_set_ingest,
)


@pytest.fixture(scope="module")
def events_batch(spark, sf_dir):
    # stage a copy with plain microsecond timestamps so batch and
    # file-stream reads agree regardless of the fixture's ts precision
    from ahnlich_spark.entry_queries import _events_us

    staged = (
        _events_us(spark, sf_dir)
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        .drop("ts_us")
    )
    d = tempfile.mkdtemp(prefix="ahnlich_events_")
    staged.coalesce(2).write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_available_now(stream_df, spark, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete" if stream_df.isStreaming else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_hourly_rollup_stream_matches_batch(spark, events_batch):
    stream = read_events_stream(spark, events_batch)
    name = f"rollup_{uuid.uuid4().hex[:8]}"
    got = _run_available_now(hourly_rollup(stream), spark, name).collect()
    want = hourly_rollup(spark.read.parquet(events_batch)).collect()
    key = lambda r: (r["window_start"], r["event_type"])
    got_m = {key(r): (r["n"], round(r["sum_value"], 6)) for r in got}
    want_m = {key(r): (r["n"], round(r["sum_value"], 6)) for r in want}
    assert got_m == want_m and len(got_m) > 0


def test_streaming_exact_dedup_first_occurrence(spark):
    d = tempfile.mkdtemp(prefix="ahnlich_docs_")
    try:
        spark.createDataFrame(
            [(1, "same text"), (2, "same text"), (3, "other text")],
            "doc_id long, text string",
        ).coalesce(1).write.mode("overwrite").parquet(d)
        from ahnlich_spark.streaming.pipeline import DOCS_SCHEMA

        stream = spark.readStream.schema(DOCS_SCHEMA).parquet(d)
        deduped = streaming_exact_dedup(stream)
        name = f"dedup_{uuid.uuid4().hex[:8]}"
        q = (
            deduped.writeStream.format("memory").queryName(name)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        rows = spark.table(name).collect()
        assert len(rows) == 2
        assert {r["text"] for r in rows} == {"same text", "other text"}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_running_user_totals_stateful(spark, events_batch):
    """applyInPandasWithState: running per-user totals across TWO
    micro-batches must equal the batch groupBy over all the data, and
    state must genuinely carry across batches."""
    from ahnlich_spark.streaming import running_user_totals

    src = spark.read.parquet(events_batch)
    d = tempfile.mkdtemp(prefix="ahnlich_state_")
    try:
        src.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(d)
        stream = read_events_stream(spark, d)
        name = f"totals_{uuid.uuid4().hex[:8]}"
        q = (
            running_user_totals(stream)
            .writeStream.format("memory").queryName(name)
            .outputMode("update").start()
        )
        q.processAllAvailable()
        src.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(d)
        q.processAllAvailable()
        q.stop()
        # last emitted row per user = final running totals
        updates = spark.table(name).toPandas()
        final = updates.groupby("user_id").last()
        want = {
            r["user_id"]: (r["n"], round(r["total"], 4))
            for r in src.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
            .collect()
        }
        got = {
            int(uid): (int(row["n_events"]), round(float(row["total_value"]), 4))
            for uid, row in final.iterrows()
        }
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_set_ingest_into_store(spark, engine):
    from ahnlich_spark.types import META_MAP_TYPE

    d = tempfile.mkdtemp(prefix="ahnlich_ingest_")
    cp = tempfile.mkdtemp(prefix="ahnlich_cp_")
    try:
        engine.create_store("live", dimension=3)
        batch = spark.createDataFrame(
            [([1.0, 0.0, 0.0],), ([0.0, 1.0, 0.0],), ([1.0, 0.0, 0.0],)],
            "key array<float>",
        )
        batch.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema("key array<float>").parquet(d)
        q = streaming_set_ingest(stream, engine, "live", checkpoint=cp)
        q.processAllAvailable()
        q.stop()
        # 3 rows, 1 duplicate vector -> 2 distinct ids in the store
        assert engine.get_store("live").len == 2
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(cp, ignore_errors=True)


def test_session_rollup_stream_matches_batch(spark, events_batch):
    """session_window under availableNow must reproduce the batch-face
    sessions (same function, batch source) exactly."""
    from ahnlich_spark.streaming import session_rollup

    stream = read_events_stream(spark, events_batch)
    name = f"sess_{uuid.uuid4().hex[:8]}"
    q = (
        session_rollup(stream)
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.table(name).collect()
    want = session_rollup(spark.read.parquet(events_batch)).collect()
    key = lambda rs: sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"]) for r in rs
    )
    assert key(got) == key(want) and len(got) > 0


def test_interval_join_batch_face_matches_window_count_join(spark, sf_dir):
    """purchase_view_interval_join is one function for both sources: on
    a BATCH frame its per-purchase pair counts must equal the
    RANGE-frame window_count_join formulation (two totally different
    plans — interval join vs union-window — one contract)."""
    from pyspark.sql import functions as F

    from ahnlich_spark.operators.joins import window_count_join
    from ahnlich_spark.streaming.pipeline import purchase_view_interval_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    pairs = purchase_view_interval_join(ev, window="1 hour")
    got = {
        r["event_id"]: r["n"]
        for r in pairs.groupBy("event_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }

    evu = ev.withColumn("ts_us", F.unix_micros("ts"))
    p = evu.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts_us")
    v = evu.filter(F.col("event_type") == "view").select("user_id", "ts_us")
    want = {
        r["event_id"]: r["n_right"]
        for r in window_count_join(p, v, on="user_id", window_us=3_600_000_000).collect()
        if r["n_right"] > 0
    }
    assert got == want


def test_streaming_ingest_appends_deltas_not_rewrites(spark, engine):
    """Each micro-batch after the first must land as an O(batch) delta
    segment (base files untouched) — live ingest at 100 TB cannot
    rewrite the store per trigger."""
    import os

    d = tempfile.mkdtemp(prefix="ahnlich_ingest2_")
    cp = tempfile.mkdtemp(prefix="ahnlich_cp2_")
    try:
        engine.create_store("live2", dimension=2)
        spark.createDataFrame([([1.0, 0.0],), ([0.0, 1.0],)], "key array<float>") \
            .coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema("key array<float>").parquet(d)
        q = streaming_set_ingest(stream, engine, "live2", checkpoint=cp)
        q.processAllAvailable()
        meta = engine.catalog.get_store("live2")
        base_path = engine.catalog.store_path(meta)
        before = {
            os.path.join(r, f): os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(base_path) for f in fs
        }
        # second micro-batch: new file in the source dir
        spark.createDataFrame([([2.0, 2.0],)], "key array<float>") \
            .coalesce(1).write.mode("append").parquet(d)
        q.processAllAvailable()
        q.stop()
        meta = engine.catalog.get_store("live2")
        assert meta.deltas >= 1, "micro-batch should append a delta segment"
        after = {
            os.path.join(r, f): os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(base_path) for f in fs
        }
        assert after == before, "base files must not be rewritten per trigger"
        assert engine.get_store("live2").len == 3
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(cp, ignore_errors=True)


def test_streaming_probe_search_matches_batch(spark, engine):
    """A stream of probe vectors answered per micro-batch through ONE
    get_sim_n_batch plan must reproduce the batch answers exactly."""
    import os

    from ahnlich_spark.streaming.pipeline import streaming_probe_search

    d = tempfile.mkdtemp(prefix="ahnlich_probes_")
    sink = tempfile.mkdtemp(prefix="ahnlich_hits_")
    cp = tempfile.mkdtemp(prefix="ahnlich_cp3_")
    try:
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        engine.create_store("psearch", dimension=64)
        engine.set("psearch", emb.select(emb.embedding.alias("key")))
        probes = emb.filter("vec_id < 6").select(
            emb.vec_id.alias("qid"), emb.embedding.alias("qkey"))
        probes.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema("qid long, qkey array<float>").parquet(d)
        q = streaming_probe_search(stream, engine, "psearch", sink,
                                   closest_n=3, checkpoint=cp)
        q.processAllAvailable()
        q.stop()
        got = {
            (r["qid"], r["rank_n"], r["id"])
            for r in spark.read.parquet(os.path.join(sink, "b*")).collect()
        }
        want = {
            (r["qid"], r["rank_n"], r["id"])
            for r in engine.get_sim_n_batch(
                "psearch", probes, closest_n=3).collect()
        }
        assert got == want and len(got) == 6 * 3
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(sink, ignore_errors=True)
        shutil.rmtree(cp, ignore_errors=True)


def test_store_changes_stream_tails_mutations(spark, engine):
    """The live CDC feed: replay the retained backlog, then follow new
    mutations; folding ops in (base_version, segment) order must
    reproduce the engine's own merged state."""
    from ahnlich_spark.operators.predicates import Equals

    cp = tempfile.mkdtemp(prefix="ahnlich_cdc_cp_")
    try:
        engine.create_store("cdc", dimension=2, predicates=["t"])
        engine.set("cdc", [([1.0, 0.0], {"t": "a"}), ([0.0, 1.0], {"t": "b"}),
                           ([1.0, 1.0], {"t": "b"})])           # base v1
        engine.del_pred("cdc", Equals("t", "a"))                 # d1_1
        feed = engine.store_changes_stream("cdc")
        q = (
            feed.writeStream.format("memory").queryName("cdc_feed")
            .option("checkpointLocation", cp).outputMode("append").start()
        )
        q.processAllAvailable()
        backlog = spark.sql("select * from cdc_feed").collect()
        # backlog = the one committed delta segment (base rows are NOT
        # changes): a single delete tombstone with null payload
        assert [(r["op"], r["base_version"], r["segment"]) for r in backlog] == [
            ("delete", 1, 1)
        ]
        assert backlog[0]["key"] is None and backlog[0]["meta"] is None

        # live mutations AFTER the stream started
        engine.set("cdc", [([0.0, 1.0], {"t": "c"}), ([2.0, 2.0], {"t": "c"})])
        engine.del_key("cdc", [[1.0, 1.0]])
        q.processAllAvailable()
        q.stop()
        rows = spark.sql("select * from cdc_feed").collect()
        ops = sorted((r["base_version"], r["segment"], r["op"]) for r in rows)
        assert ops == [(1, 1, "delete"), (1, 2, "upsert"), (1, 2, "upsert"),
                       (1, 3, "delete")]

        # fold the feed in commit order (deletes carry only the id) ->
        # must equal the engine's own merged read
        folded = {}
        for r in engine.store_df("cdc", version=1, segments=0).collect():
            folded[r["id"]] = (tuple(r["key"]), r["meta"]["t"]["s"])
        for r in sorted(rows, key=lambda r: (r["base_version"], r["segment"])):
            if r["op"] == "delete":
                folded.pop(r["id"], None)
            else:
                folded[r["id"]] = (tuple(r["key"]), r["meta"]["t"]["s"])
        want = {
            r["id"]: (tuple(r["key"]), r["meta"]["t"]["s"])
            for r in engine.store_df("cdc").collect()
        }
        assert folded == want
    finally:
        shutil.rmtree(cp, ignore_errors=True)


def test_streaming_replication_converges(spark, engine):
    """End-to-end replication: source mutations -> live CDC feed ->
    apply_changes into a SECOND warehouse. After draining, the replica's
    merged state equals the source's exactly (ids, keys, metadata) —
    including net deletes folded across segments — and replica
    mutations landed as O(batch) delta segments, not base rewrites."""
    import tempfile as tf

    from ahnlich_spark import Engine
    from ahnlich_spark.operators.predicates import Equals
    from ahnlich_spark.streaming.pipeline import streaming_apply_changes

    cp = tempfile.mkdtemp(prefix="ahnlich_repl_cp_")
    try:
        engine.create_store("src", dimension=2, predicates=["t"])
        engine.set("src", [([1.0, 0.0], {"t": "a"}), ([0.0, 1.0], {"t": "b"}),
                           ([2.0, 2.0], {"t": "b"})])          # base v1
        replica = Engine(spark, tf.mkdtemp(prefix="ahnlich_replica_wh_"))
        replica.create_store("dst", dimension=2, predicates=["t"])
        # seed the replica from the base snapshot (changes feed carries
        # only post-base mutations)
        base = engine.store_df("src", version=1, segments=0)
        replica.set("dst", base.select("key", "meta"))

        engine.del_pred("src", Equals("t", "a"))                # d1_1
        engine.set("src", [([0.0, 1.0], {"t": "c"}), ([5.0, 5.0], {"t": "d"})])
        engine.del_key("src", [[2.0, 2.0]])                     # d1_3

        q = streaming_apply_changes(
            engine.store_changes_stream("src"), replica, "dst", checkpoint=cp
        )
        q.processAllAvailable()
        q.stop()

        def state(eng, name):
            return {
                r["id"]: (tuple(r["key"]), dict((k, v["s"]) for k, v in r["meta"].items()))
                for r in eng.store_df(name).collect()
            }

        assert state(replica, "dst") == state(engine, "src")
        assert replica.catalog.get_store("dst").version == 1  # no rewrites
        assert replica.catalog.get_store("dst").deltas >= 1
        # replica indexes its own pred column for the replicated rows
        got = replica.get_pred("dst", Equals("t", "c")).collect()
        assert len(got) == 1 and list(got[0]["key"]) == [0.0, 1.0]
    finally:
        shutil.rmtree(cp, ignore_errors=True)


def test_store_changes_stream_before_first_set(spark, engine):
    """The feed must open on a store whose BASE hasn't been written yet
    (catalog-only DDL) and pick up the very first post-base mutation."""
    cp = tempfile.mkdtemp(prefix="ahnlich_cdc0_cp_")
    try:
        engine.create_store("cdc0", dimension=2)
        feed = engine.store_changes_stream("cdc0")   # no base version yet
        q = (
            feed.writeStream.format("memory").queryName("cdc0_feed")
            .option("checkpointLocation", cp).outputMode("append").start()
        )
        q.processAllAvailable()
        assert spark.sql("select count(*) from cdc0_feed").first()[0] == 0
        engine.set("cdc0", [([1.0, 2.0], {})])       # base v1 — not a change
        engine.set("cdc0", [([3.0, 4.0], {})])       # d1_1
        q.processAllAvailable()
        q.stop()
        rows = spark.sql("select * from cdc0_feed").collect()
        assert [(r["op"], r["base_version"], r["segment"]) for r in rows] == [
            ("upsert", 1, 1)
        ]
        assert list(rows[0]["key"]) == [3.0, 4.0]
    finally:
        shutil.rmtree(cp, ignore_errors=True)


def test_apply_changes_validates_and_noops(spark, engine):
    import pytest

    engine.create_store("ac", dimension=2)
    engine.set("ac", [([1.0, 1.0], {})])
    with pytest.raises(ValueError, match="apply_changes needs"):
        engine.apply_changes("ac", spark.createDataFrame([("x",)], "op string"))
    before = engine.catalog.get_store("ac").deltas
    empty = spark.createDataFrame(
        [], "op string, id long, key array<float>, meta map<string,"
        "struct<kind:string,s:string,bin:binary>>"
    )
    engine.apply_changes("ac", empty)  # no segment for an empty batch
    assert engine.catalog.get_store("ac").deltas == before


def test_apply_changes_vocabulary_and_dimension_guards(spark, engine):
    """insert/update (store_changes vocabulary) apply as upserts; truly
    unknown ops raise instead of silently dropping; wrong-dimension
    upserts fail the whole batch before any write."""
    import pytest

    from ahnlich_spark import errors

    engine.create_store("acv", dimension=2)
    engine.set("acv", [([1.0, 1.0], {})])
    mk = lambda rows: spark.createDataFrame(
        rows, "op string, id long, key array<float>, meta map<string,"
        "struct<kind:string,s:string,bin:binary>>"
    )
    engine.apply_changes("acv", mk([("insert", 0, [2.0, 2.0], None),
                                    ("update", 0, [1.0, 1.0], None)]))
    assert engine.get_store("acv").len == 2
    before = engine.catalog.get_store("acv").deltas
    with pytest.raises(ValueError, match="unrecognized op"):
        engine.apply_changes("acv", mk([("bogus", 0, [3.0, 3.0], None)]))
    with pytest.raises(errors.DimensionMismatch):
        engine.apply_changes("acv", mk([("upsert", 0, [1.0, 2.0, 3.0], None)]))
    assert engine.catalog.get_store("acv").deltas == before  # nothing written


def test_apply_changes_accepts_change_type_column(spark, engine):
    """store_changes/read_changes emit `change_type`, not `op`; that
    frame is accepted directly (aliased to op when op is absent), so a
    feed can be piped into apply_changes without a rename."""
    engine.create_store("acc", dimension=2)
    engine.set("acc", [([1.0, 1.0], {})])
    feed = spark.createDataFrame(
        [("insert", 0, [5.0, 5.0], None), ("delete", 1, [1.0, 1.0], None)],
        "change_type string, id long, key array<float>, meta map<string,"
        "struct<kind:string,s:string,bin:binary>>",
    )
    # the delete's id must be the real store id of [1.0, 1.0]
    real_id = engine.store_df("acc").select("id").collect()[0]["id"]
    feed = feed.withColumn(
        "id", F.when(F.col("change_type") == "delete", F.lit(real_id))
        .otherwise(F.col("id"))
    )
    engine.apply_changes("acc", feed)
    got = sorted(tuple(r["key"]) for r in
                 engine.store_df("acc").select("key").collect())
    assert got == [(5.0, 5.0)]


# ------------------------------------- streaming incremental dedup --

def test_streaming_incremental_dedup_arrival_order(spark, tmp_path):
    """A doc arriving in batch 2 must match batch-1 docs as CORPUS
    (j_in_corpus=1), its own batch peers as batch (0), and the result
    must equal the closed-form arrival-order algebra."""
    import glob
    import os
    import time

    from pyspark.sql import functions as F

    from ahnlich_spark.operators import dedup as D
    from ahnlich_spark.streaming.pipeline import streaming_incremental_dedup

    base = "the quick brown fox jumps over the lazy dog tonight again"
    corpus = spark.createDataFrame(
        [(101, base), (102, "totally unrelated historical content here")],
        "doc_id long, text string",
    )
    batch_a = [(10, base + " x")]                       # near-dup of 101
    batch_b = [(20, base + " y"), (21, base + " y z")]  # dups of 101/10/each other
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    spark.createDataFrame(batch_a, "doc_id long, text string").coalesce(1).write.parquet(a_dir)
    spark.createDataFrame(batch_b, "doc_id long, text string").coalesce(1).write.parquet(b_dir)
    watch = str(tmp_path / "watch")
    os.makedirs(watch)
    fa = glob.glob(os.path.join(a_dir, "part-*.parquet"))[0]
    fb = glob.glob(os.path.join(b_dir, "part-*.parquet"))[0]
    now = time.time()
    os.utime(fa, (now - 60, now - 60))
    os.utime(fb, (now, now))
    os.symlink(fa, os.path.join(watch, "b0.parquet"))
    os.symlink(fb, os.path.join(watch, "b1.parquet"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(watch)
    )
    q, drain = streaming_incremental_dedup(stream, corpus, threshold=0.5)
    q.processAllAvailable()
    q.stop()
    got = {(i, j): jic for i, j, jic, *_ in drain().collect()}
    # batch A vs historical corpus
    assert got[(10, 101)] == 1
    # batch B vs historical corpus AND vs batch A (both count as corpus
    # at B's arrival), vs each other as batch peers
    assert got[(20, 101)] == 1 and got[(21, 101)] == 1
    assert got[(20, 10)] == 1 and got[(21, 10)] == 1
    assert got[(20, 21)] == 0
    # nothing pairs i from the corpus side, and 102 never matches
    assert all(i in (10, 20, 21) for i, _ in got)
    assert all(j != 102 for _, j in got)


def test_replay_ledger_bounded_window_and_cumulative_guards():
    """Pure-Python ledger semantics: the recent window stays bounded,
    a replayed prefix that OVERSHOOTS the recorded totals raises
    immediately (new rows hiding in a 'replayed' batch beyond the
    window), a replay that ends SHORT raises at seal time (first new
    batch), and an exact replay seals clean."""
    from ahnlich_spark.streaming.pipeline import _ReplayLedger

    led = _ReplayLedger()
    for i in range(20):
        led.record(i, 10, i * 7)
    assert len(led.recent) == led.WINDOW == 16
    assert led.total_rows == 200 and led.complete

    def reload():
        return _ReplayLedger.from_json(
            __import__("json").loads(__import__("json").dumps(led.as_json()))
        )

    # exact replay: 20 batches of 10 rows, fp as recorded
    ok = reload()
    for i in range(20):
        ok.verify(i, 19, 10, i * 7, "t")
    ok.seal_replay("t")  # clean

    # overshoot: batch 2 (outside the window) packs extra NEW rows
    bad = reload()
    bad.verify(0, 19, 10, 0, "t")
    bad.verify(1, 19, 10, 7, "t")
    with pytest.raises(ValueError, match="already carries"):
        bad.verify(2, 19, 200, 14, "t")

    # short replay: re-packed prefix ends early (never reaches 19);
    # the first NEW batch must refuse, not silently continue
    short = reload()
    short.verify(0, 19, 10, 0, "t")
    with pytest.raises(ValueError, match="moved past the replayed"):
        short.seal_replay("t")


def test_replay_ledger_pre_upgrade_pointer_disables_cumulative():
    """A pointer written before the ledger existed (no 'ledger' key)
    must not refuse a legitimate from-scratch restart: cumulative
    checks stay off, seal is a no-op, and new batches record into a
    ledger that stays complete=False (its totals never cover the
    pre-upgrade prefix)."""
    from ahnlich_spark.streaming.pipeline import _ReplayLedger

    led = _ReplayLedger.from_json(None)
    assert not led.complete
    for i in range(5):  # replay of batches it never saw: blind skip
        led.verify(i, 4, 10, i, "t")
    led.seal_replay("t")  # no-op, no refusal
    led.record(5, 10, 5)
    assert not _ReplayLedger.from_json(led.as_json()).complete


def _sincr_fixture(spark):
    """(corpus, 3 near-dup batch frames) with a known pair structure."""
    base = "the quick brown fox jumps over the lazy dog tonight again"
    corpus = spark.createDataFrame(
        [(101, base), (102, "totally unrelated historical content here")],
        "doc_id long, text string",
    )
    frames = [
        spark.createDataFrame(rows, "doc_id long, text string")
        for rows in (
            [(10, base + " x")],
            [(20, base + " y"), (21, base + " y z")],
            [(30, base + " x y"), (31, "still nothing like the corpus")],
        )
    ]
    return corpus, frames


def _sincr_pairs(drain):
    return sorted(tuple(r) for r in drain().collect())


def test_materialized_agg_kill_and_restart_equals_full_recompute(
    spark, engine, tmp_path
):
    """The continuously-maintained view survives a kill-and-restart:
    fold part of the change feed, discard the fold, restart with the
    same state_dir + checkpoint, land MORE source mutations, and the
    drained view equals a full recompute of the replica — replication
    and incremental maintenance stay exactly-once together."""
    import tempfile as tf

    from ahnlich_spark import Engine
    from ahnlich_spark.operators import ivm as IVM
    from ahnlich_spark.operators.predicates import Equals
    from ahnlich_spark.streaming.pipeline import streaming_materialized_agg

    engine.create_store("mvs", dimension=2, predicates=["t"])
    engine.set("mvs", [([1.0, 0.0], {"t": "a"}), ([0.0, 1.0], {"t": "b"}),
                       ([2.0, 2.0], {"t": "b"})])              # base v1
    replica = Engine(spark, tf.mkdtemp(prefix="ahnlich_mv_wh_"))
    replica.create_store("mvd", dimension=2)
    replica.set("mvd", engine.store_df("mvs", version=1, segments=0)
                .select("key", "meta"))
    grp = F.col("meta")["t"]["s"]
    measures = {"k0_e2": (F.element_at("key", 1) * 100).cast("long")}
    state_dir = str(tmp_path / "mv_state")
    ckpt = str(tmp_path / "mv_ckpt")

    def fold():
        return streaming_materialized_agg(
            engine.store_changes_stream("mvs", max_files_per_trigger=1),
            replica, "mvd", grp, measures,
            state_dir=state_dir, checkpoint=ckpt,
        )

    engine.del_pred("mvs", Equals("t", "a"))                    # d1_1
    engine.set("mvs", [([0.0, 1.0], {"t": "c"})])               # d1_2 update
    q1, _ = fold()
    q1.processAllAvailable()
    q1.stop()
    # more mutations land while the fold is down
    engine.set("mvs", [([5.0, 5.0], {"t": "d"})])               # d1_3 insert
    engine.del_key("mvs", [[2.0, 2.0]])                         # d1_4 delete
    q2, drain2 = fold()
    q2.processAllAvailable()
    q2.stop()
    got = sorted(tuple(r) for r in drain2().collect())
    want = sorted(
        tuple(r) for r in
        IVM.full_agg(replica, "mvd", grp, measures).collect()
    )
    assert got == want
    # and the replica itself converged to the source
    src = sorted(tuple(r["key"]) for r in engine.store_df("mvs").collect())
    dst = sorted(tuple(r["key"]) for r in replica.store_df("mvd").collect())
    assert got and src == dst


def test_materialized_agg_crash_between_apply_and_fold(
    spark, engine, tmp_path
):
    """The exactly-once crash window: a trigger that APPLIED its batch
    to the replica but crashed before the fold committed replays the
    batch into a DUPLICATE delta segment — the duplicate's rows must
    net out in the keep-last merged read, and the fold (reading from
    the persisted coordinates) must count every logical change exactly
    once. Simulated by hand-applying a feed batch to the replica (the
    crashed trigger's half-done work) before a fresh fold consumes the
    same feed from scratch, null-group rows included."""
    import tempfile as tf

    from ahnlich_spark import Engine
    from ahnlich_spark.operators import ivm as IVM
    from ahnlich_spark.operators.predicates import Equals
    from ahnlich_spark.streaming.pipeline import streaming_materialized_agg

    engine.create_store("cws", dimension=2, predicates=["t"])
    engine.set("cws", [([1.0, 0.0], {"t": "a"}), ([0.0, 1.0], {"t": "b"}),
                       ([3.0, 0.0], {})])        # base v1; {} -> NULL group
    replica = Engine(spark, tf.mkdtemp(prefix="ahnlich_cw_wh_"))
    replica.create_store("cwd", dimension=2)
    replica.set("cwd", engine.store_df("cws", version=1, segments=0)
                .select("key", "meta"))
    engine.del_pred("cws", Equals("t", "a"))                # d1_1
    engine.set("cws", [([0.0, 1.0], {"t": "c"}), ([4.0, 4.0], {})])  # d1_2
    # simulate the crashed trigger: its batch (BOTH segments here —
    # harsher than any real trigger) reached the replica, the fold did
    # not run, and no pointer was written
    feed_rows = engine.store_changes("cws", from_version=1, from_segments=0)
    replica.apply_changes("cwd", feed_rows)
    # fresh fold over the full feed: the replayed batches re-apply as
    # duplicate segments; the view must still equal the full recompute
    grp = F.col("meta")["t"]["s"]
    measures = {"k0_e2": (F.element_at("key", 1) * 100).cast("long")}
    q, drain = streaming_materialized_agg(
        engine.store_changes_stream("cws", max_files_per_trigger=1),
        replica, "cwd", grp, measures,
        state_dir=str(tmp_path / "cw_state"),
        checkpoint=str(tmp_path / "cw_ckpt"),
    )
    q.processAllAvailable()
    q.stop()

    def rows(df):  # None group sorts first
        return sorted((tuple(r) for r in df.collect()),
                      key=lambda t: (t[0] is not None, t[0] or "", t[1:]))

    got = rows(drain())
    want = rows(IVM.full_agg(replica, "cwd", grp, measures))
    assert got == want and got
    # the NULL group survived the null-safe fold as ONE row
    assert sum(1 for g, *_ in got if g is None) == 1

    # phase 2: the crash window AGAINST a live pointer — a new source
    # mutation's batch reaches the replica (d1_3 applied by the crashed
    # trigger) but the fold pointer still holds the pre-crash coords;
    # the restarted fold re-applies the redelivered batch (second
    # duplicate segment) and must fold the logical change exactly once
    m_before = engine.catalog.get_store("cws")
    engine.set("cws", [([9.0, 9.0], {"t": "d"})])          # d1_3
    replica.apply_changes("cwd", engine.store_changes(
        "cws", from_version=m_before.version,
        from_segments=m_before.deltas,
    ))
    q2, drain2 = streaming_materialized_agg(
        engine.store_changes_stream("cws", max_files_per_trigger=1),
        replica, "cwd", grp, measures,
        state_dir=str(tmp_path / "cw_state"),
        checkpoint=str(tmp_path / "cw_ckpt"),
    )
    q2.processAllAvailable()
    q2.stop()
    got2 = rows(drain2())
    want2 = rows(IVM.full_agg(replica, "cwd", grp, measures))
    assert got2 == want2
    assert ("d", 1, 900) in got2  # folded once, not twice
    src = sorted(tuple(r["key"]) for r in engine.store_df("cws").collect())
    dst = sorted(tuple(r["key"]) for r in replica.store_df("cwd").collect())
    assert src == dst


def test_incremental_dedup_kill_and_restart_equals_uninterrupted(
    spark, tmp_path
):
    """Kill-and-restart with state_dir: fold 2 batches, discard the
    fold, start a FRESH one over the same source (now 3 files — the
    committed prefix replays and must be verified + skipped), and the
    drained pairs equal the uninterrupted 3-batch run. The pairs come
    from the persisted sink, never a driver-side collect."""
    from ahnlich_spark.streaming.pipeline import streaming_incremental_dedup

    corpus, frames = _sincr_fixture(spark)
    state_dir = str(tmp_path / "sincr_ckpt")
    schema = "doc_id long, text string"

    def read_stream(watch):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(watch)
        )

    watch, add_file = _ordered_files(tmp_path, spark, frames[:2], schema)
    q1, drain1 = streaming_incremental_dedup(
        read_stream(watch), corpus, threshold=0.5, state_dir=state_dir
    )
    q1.processAllAvailable()
    q1.stop()
    after_2 = _sincr_pairs(drain1)
    add_file(frames[2])
    q2, drain2 = streaming_incremental_dedup(
        read_stream(watch), corpus, threshold=0.5, state_dir=state_dir
    )
    q2.processAllAvailable()
    q2.stop()
    watch_u, _ = _ordered_files(tmp_path / "u", spark, frames, schema)
    q3, drain3 = streaming_incremental_dedup(
        read_stream(watch_u), corpus, threshold=0.5
    )
    q3.processAllAvailable()
    q3.stop()
    got, want = _sincr_pairs(drain2), _sincr_pairs(drain3)
    assert got == want
    assert got != after_2  # batch 3's pairs really landed
    # doc 30 arrived last: every match is against the standing index
    assert {(i, j) for i, j, *_ in got if i == 30} >= {(30, 101), (30, 10)}


def test_incremental_dedup_compaction_gc_and_restart(
    spark, tmp_path, monkeypatch
):
    """Past _COMPACT_PARTS the persisted delta parts fold into one
    compacted part per family, the pointer swaps to the new list, dead
    part directories are GC'd, and a restart over the compacted state
    still equals the uninterrupted run."""
    import os

    from ahnlich_spark.streaming import pipeline as P

    monkeypatch.setattr(P, "_COMPACT_PARTS", 2)
    corpus, frames = _sincr_fixture(spark)
    frames = frames + [
        spark.createDataFrame(
            [(40 + i, f"filler text number {40 + i} nothing shared")],
            "doc_id long, text string",
        )
        for i in range(2)
    ]
    state_dir = str(tmp_path / "state")
    schema = "doc_id long, text string"

    def read_stream(watch):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(watch)
        )

    watch, add_file = _ordered_files(tmp_path, spark, frames[:4], schema)
    q1, drain1 = P.streaming_incremental_dedup(
        read_stream(watch), corpus, threshold=0.5, state_dir=state_dir
    )
    q1.processAllAvailable()
    q1.stop()
    dirs = {d for d in os.listdir(state_dir) if not d.endswith(".json")}
    # 4 batches with threshold 2: every family compacted at least once,
    # and the pre-compaction per-batch dirs were GC'd
    assert any(d.startswith("sincr_sig_c") for d in dirs), dirs
    assert not any(d == "sincr_sig_b0" for d in dirs), dirs
    # restart over the compacted pointer: replays skip, 5th batch folds
    add_file(frames[4])
    q2, drain2 = P.streaming_incremental_dedup(
        read_stream(watch), corpus, threshold=0.5, state_dir=state_dir
    )
    q2.processAllAvailable()
    q2.stop()
    watch_u, _ = _ordered_files(tmp_path / "u", spark, frames, schema)
    q3, drain3 = P.streaming_incremental_dedup(
        read_stream(watch_u), corpus, threshold=0.5
    )
    q3.processAllAvailable()
    q3.stop()
    assert _sincr_pairs(drain2) == _sincr_pairs(drain3)


def test_incremental_dedup_checkpoint_resume(spark, tmp_path):
    """With state_dir the ``checkpoint`` parameter is accepted and the
    restarted query RESUMES the source (no replay at all): only the new
    batch is delivered, and the drain still carries every earlier
    batch's pairs from the persisted sink. Without state_dir it still
    raises."""
    from ahnlich_spark.streaming.pipeline import streaming_incremental_dedup

    corpus, frames = _sincr_fixture(spark)
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    empty_src = str(tmp_path / "empty_src")
    os.makedirs(empty_src)
    with pytest.raises(ValueError, match="checkpoint-safe"):
        streaming_incremental_dedup(
            spark.readStream.schema(schema).parquet(empty_src),
            corpus, checkpoint=ckpt,
        )

    def read_stream(watch):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(watch)
        )

    watch, add_file = _ordered_files(tmp_path, spark, frames[:2], schema)
    q1, _ = streaming_incremental_dedup(
        read_stream(watch), corpus, threshold=0.5,
        state_dir=state_dir, checkpoint=ckpt,
    )
    q1.processAllAvailable()
    q1.stop()
    add_file(frames[2])
    q2, drain2 = streaming_incremental_dedup(
        read_stream(watch), corpus, threshold=0.5,
        state_dir=state_dir, checkpoint=ckpt,
    )
    q2.processAllAvailable()
    q2.stop()
    watch_u, _ = _ordered_files(tmp_path / "u", spark, frames, schema)
    q3, drain3 = streaming_incremental_dedup(
        read_stream(watch_u), corpus, threshold=0.5
    )
    q3.processAllAvailable()
    q3.stop()
    assert _sincr_pairs(drain2) == _sincr_pairs(drain3)


def test_replay_guard_refuses_same_count_different_content(spark, tmp_path):
    """The replay guard compares CONTENT fingerprints, not just counts:
    a restart whose replayed batch packs the same NUMBER of rows but
    different rows (here: the source file swapped underneath) must
    refuse instead of silently treating never-folded rows as folded."""
    import glob
    import os
    import time

    from pyspark.sql.streaming import StreamingQueryException

    from ahnlich_spark.streaming.pipeline import streaming_kmv_distinct

    rows_a = [("g", f"a-{i}") for i in range(300)]
    rows_b = [("g", f"b-{i}") for i in range(300)]  # same count, new rows
    schema = "g string, v string"
    watch = str(tmp_path / "watch")
    os.makedirs(watch)

    def stage(rows, name):
        d = str(tmp_path / name)
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)
        f = glob.glob(os.path.join(d, "part-*.parquet"))[0]
        os.utime(f, (time.time() - 60,) * 2)
        return f

    link = os.path.join(watch, "b0.parquet")
    os.symlink(stage(rows_a, "a"), link)
    state_dir = str(tmp_path / "ckpt")

    def fold():
        return streaming_kmv_distinct(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(watch),
            ["g"], "v", k=16, state_dir=state_dir,
        )[0]

    q1 = fold()
    q1.processAllAvailable()
    q1.stop()
    os.unlink(link)
    os.symlink(stage(rows_b, "b"), os.path.join(watch, "b0x.parquet"))
    q2 = fold()
    with pytest.raises(StreamingQueryException,
                       match="content fingerprint"):
        q2.processAllAvailable()
    q2.stop()


def test_streaming_kmv_fold_matches_batch(spark, tmp_path):
    """Folding per-batch k-minima into running state (with a warm-start
    seed) must reproduce the one-shot batch sketch over all rows —
    KMV merge is order-free, so the match is exact, not approximate."""
    import os
    import time

    from ahnlich_spark.operators.sketches import (
        kmv_distinct,
        kmv_hash,
        kmv_minima,
    )
    from ahnlich_spark.streaming.pipeline import streaming_kmv_distinct

    rows = [(f"g{i % 3}", f"val-{i % 700}") for i in range(2000)]
    df = spark.createDataFrame(rows, "g string, v string")
    seed_df = df.limit(500)
    first = df.filter(F.abs(F.xxhash64("v")) % 3 == 0)
    second = df.subtract(first)

    seed = kmv_minima(
        seed_df.select("g", kmv_hash(F.col("v")).alias("_h")), ["g"], k=32
    )
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    first.coalesce(1).write.parquet(a_dir)
    second.coalesce(1).write.parquet(b_dir)
    watch = str(tmp_path / "watch")
    os.makedirs(watch)
    import glob

    fa = glob.glob(os.path.join(a_dir, "part-*.parquet"))[0]
    fb = glob.glob(os.path.join(b_dir, "part-*.parquet"))[0]
    now = time.time()
    os.utime(fa, (now - 60, now - 60))
    os.utime(fb, (now, now))
    os.symlink(fa, os.path.join(watch, "a.parquet"))
    os.symlink(fb, os.path.join(watch, "b.parquet"))
    stream = (
        spark.readStream.schema("g string, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(watch)
    )
    q, drain, drain_minima = streaming_kmv_distinct(
        stream, ["g"], "v", k=32, initial_minima=seed
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(map(tuple, drain().collect()))
    want = sorted(
        map(tuple, kmv_distinct(seed_df.unionAll(df), "v", ["g"], k=32).collect())
    )
    assert got == want and len(got) == 3
    assert drain_minima().count() <= 3 * 32


def test_streaming_histogram_fold_matches_batch(spark, tmp_path):
    """Histogram summaries are additive, so the streamed fold (with a
    warm-start seed) must reproduce the one-shot batch sketch exactly."""
    import glob
    import os
    import time

    from ahnlich_spark.operators.sketches import (
        histogram_quantiles,
        histogram_summary,
    )
    from ahnlich_spark.streaming.pipeline import streaming_histogram_quantiles

    rows = [(f"g{i % 2}", (i * 37) % 1000) for i in range(1500)]
    df = spark.createDataFrame(rows, "g string, v long")
    seed_df = df.limit(300)
    seed = histogram_summary(seed_df, "v", ["g"], 50)
    first = df.filter(F.col("v") % 3 == 0)
    second = df.exceptAll(first)
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    first.coalesce(1).write.parquet(a_dir)
    second.coalesce(1).write.parquet(b_dir)
    watch = str(tmp_path / "watch")
    os.makedirs(watch)
    fa = glob.glob(os.path.join(a_dir, "part-*.parquet"))[0]
    fb = glob.glob(os.path.join(b_dir, "part-*.parquet"))[0]
    now = time.time()
    os.utime(fa, (now - 60, now - 60))
    os.utime(fb, (now, now))
    os.symlink(fa, os.path.join(watch, "a.parquet"))
    os.symlink(fb, os.path.join(watch, "b.parquet"))
    stream = (
        spark.readStream.schema("g string, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(watch)
    )
    q, drain, drain_summary = streaming_histogram_quantiles(
        stream, ["g"], "v", 50, [0.25, 0.9], initial_summary=seed
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(map(tuple, drain().collect()))
    want = sorted(
        map(
            tuple,
            histogram_quantiles(
                histogram_summary(seed_df.unionAll(df), "v", ["g"], 50),
                [0.25, 0.9],
                ["g"],
                50,
            ).collect(),
        )
    )
    assert got == want and len(got) == 4
    assert drain_summary().count() <= 2 * (1000 // 50 + 1)


def test_streaming_hll_fold_matches_batch(spark, tmp_path):
    """Folding per-batch HLL registers into running state (with a
    warm-start seed) must reproduce the one-shot batch sketch over all
    rows — register max-merge is order-free, so the match is exact."""
    import glob
    import os
    import time

    from ahnlich_spark.operators.sketches import hll_distinct, hll_registers
    from ahnlich_spark.streaming.pipeline import streaming_hll_distinct

    rows = [(f"g{i % 3}", f"val-{i % 700}") for i in range(2000)]
    df = spark.createDataFrame(rows, "g string, v string")
    seed_df = df.limit(500)
    first = df.filter(F.abs(F.xxhash64("v")) % 3 == 0)
    second = df.subtract(first)

    seed = hll_registers(seed_df, "v", ["g"], m=256)
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    first.coalesce(1).write.parquet(a_dir)
    second.coalesce(1).write.parquet(b_dir)
    watch = str(tmp_path / "watch")
    os.makedirs(watch)
    fa = glob.glob(os.path.join(a_dir, "part-*.parquet"))[0]
    fb = glob.glob(os.path.join(b_dir, "part-*.parquet"))[0]
    now = time.time()
    os.utime(fa, (now - 60, now - 60))
    os.utime(fb, (now, now))
    os.symlink(fa, os.path.join(watch, "a.parquet"))
    os.symlink(fb, os.path.join(watch, "b.parquet"))
    stream = (
        spark.readStream.schema("g string, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(watch)
    )
    q, drain, drain_registers = streaming_hll_distinct(
        stream, ["g"], "v", m=256, initial_registers=seed
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(map(tuple, drain().collect()))
    want = sorted(
        map(tuple, hll_distinct(seed_df.unionAll(df), "v", ["g"], m=256).collect())
    )
    assert got == want and len(got) == 3
    assert drain_registers().count() <= 3 * 256


# --------------------------------------- streaming heavy hitters --

def test_streaming_heavy_hitters_matches_batch(spark, tmp_path):
    """The streamed MG fold's certified top-k equals both the batch
    heavy_hitters answer and the exhaustive groupBy, with genuine
    pruning (capacity << distinct) and order-sensitive fold state."""
    import glob
    import os
    import time

    from ahnlich_spark.operators.sketches import heavy_hitters
    from ahnlich_spark.streaming.pipeline import streaming_heavy_hitters

    rows = (
        [(f"hot_{i}",) for i in range(5) for _ in range(300 - 40 * i)]
        + [(f"tail_{i}",) for i in range(2000)]
    )
    df = spark.createDataFrame(rows, "value string")
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    df.filter(F.length("value") % 2 == 0).coalesce(1).write.parquet(a_dir)
    df.filter(F.length("value") % 2 != 0).coalesce(1).write.parquet(b_dir)
    watch = str(tmp_path / "watch")
    os.makedirs(watch)
    fa = glob.glob(os.path.join(a_dir, "part-*.parquet"))[0]
    fb = glob.glob(os.path.join(b_dir, "part-*.parquet"))[0]
    now = time.time()
    os.utime(fa, (now - 60, now - 60))
    os.utime(fb, (now, now))
    os.symlink(fa, os.path.join(watch, "x.parquet"))
    os.symlink(fb, os.path.join(watch, "y.parquet"))
    stream = (
        spark.readStream.schema("value string")
        .option("maxFilesPerTrigger", 1)
        .parquet(watch)
    )
    q, drain_counter, drain_topk = streaming_heavy_hitters(stream, "value", capacity=32)
    q.processAllAvailable()
    q.stop()
    counter = drain_counter()
    assert 0 < len(counter) <= 32
    assert {f"hot_{i}" for i in range(5)} <= set(counter)  # superset guarantee
    got = [(r["value"], r["cnt"]) for r in drain_topk(df, k=5).collect()]
    want_batch = [(r["value"], r["cnt"])
                  for r in heavy_hitters(df, "value", k=5, capacity=32).collect()]
    want_full = [(r["value"], r["cnt"]) for r in
                 df.groupBy("value").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
                 .orderBy(F.desc("cnt"), F.asc("value")).limit(5).collect()]
    assert got == want_batch == want_full


def test_streaming_heavy_hitters_uncertifiable_raises(spark, tmp_path):
    """Flat stream through a tiny capacity: drain_topk(verify=True)
    must refuse rather than return an unproven head."""
    import glob
    import os

    import pytest as _pytest

    from ahnlich_spark.streaming.pipeline import streaming_heavy_hitters

    df = spark.createDataFrame(
        [(f"v{i}",) for i in range(500) for _ in range(2)], "value string"
    )
    d = str(tmp_path / "flat")
    df.coalesce(1).write.parquet(d)
    watch = str(tmp_path / "w2")
    os.makedirs(watch)
    os.symlink(glob.glob(os.path.join(d, "part-*.parquet"))[0],
               os.path.join(watch, "a.parquet"))
    stream = spark.readStream.schema("value string").parquet(watch)
    q, _c, drain_topk = streaming_heavy_hitters(stream, "value", capacity=8)
    q.processAllAvailable()
    q.stop()
    with _pytest.raises(ValueError, match="capacity >= "):
        drain_topk(df, k=5)
    # unverified drain returns whatever candidates survived — on a
    # perfectly flat stream MG can legitimately cancel to nothing
    assert drain_topk(df, k=5, verify=False).count() <= 5


# ------------------------------------------- checkpoint-safe fold state --

def _ordered_files(tmp_path, spark, frames, schema):
    """Write each frame as one parquet file into a watch dir with
    strictly increasing mtimes so maxFilesPerTrigger=1 delivers them
    as ordered micro-batches. Returns (watch_dir, add_file) where
    add_file(df) appends another, newer, file."""
    import glob
    import os
    import time

    watch = str(tmp_path / "watch_ckpt")
    os.makedirs(watch, exist_ok=True)
    state = {"n": 0}

    def add_file(df):
        d = str(tmp_path / f"src_{state['n']}")
        df.coalesce(1).write.parquet(d)
        f = glob.glob(os.path.join(d, "part-*.parquet"))[0]
        os.utime(f, (time.time() - 600 + 60 * state["n"],) * 2)
        os.symlink(f, os.path.join(watch, f"b{state['n']}.parquet"))
        state["n"] += 1

    for fr in frames:
        add_file(fr)
    return watch, add_file


def test_heavy_hitters_kill_and_restart_equals_uninterrupted(spark, tmp_path):
    """Kill-and-restart with state_dir: fold 2 batches, drop the query
    and the Python state, start a NEW fold over the same source (now 3
    files — the committed prefix REPLAYS with the same batch ids and
    must be skipped), and the drained answer equals the uninterrupted
    3-batch run."""
    from ahnlich_spark.streaming.pipeline import streaming_heavy_hitters

    rows = (
        [(f"hot_{i}",) for i in range(5) for _ in range(200 - 30 * i)]
        + [(f"tail_{i}",) for i in range(800)]
    )
    df = spark.createDataFrame(rows, "value string")
    parts = [
        df.filter(F.abs(F.xxhash64("value")) % 3 == i) for i in range(3)
    ]
    state_dir = str(tmp_path / "mg_ckpt")

    def read_stream(watch):
        return (
            spark.readStream.schema("value string")
            .option("maxFilesPerTrigger", 1)
            .parquet(watch)
        )

    # phase 1: two batches, then "crash" (stop + discard the instance)
    watch, add_file = _ordered_files(tmp_path, spark, parts[:2], "value string")
    q1, drain1, _ = streaming_heavy_hitters(
        read_stream(watch), "value", capacity=32, state_dir=state_dir
    )
    q1.processAllAvailable()
    q1.stop()
    state_after_2 = drain1()
    # phase 2: third file lands; a FRESH fold restarts from state_dir.
    # The new query re-reads the source from scratch: batches 0 and 1
    # replay with their original ids and must be skipped.
    add_file(parts[2])
    q2, drain2, drain_topk2 = streaming_heavy_hitters(
        read_stream(watch), "value", capacity=32, state_dir=state_dir
    )
    q2.processAllAvailable()
    q2.stop()
    # uninterrupted reference: same three ordered batches, no restart
    watch_u, _ = _ordered_files(tmp_path / "u", spark, parts, "value string")
    q3, drain3, drain_topk3 = streaming_heavy_hitters(
        read_stream(watch_u), "value", capacity=32
    )
    q3.processAllAvailable()
    q3.stop()
    assert drain2() == drain3()
    assert drain2() != state_after_2  # batch 3 really folded in
    got = [(r["value"], r["cnt"]) for r in drain_topk2(df, k=5).collect()]
    want = [(r["value"], r["cnt"]) for r in drain_topk3(df, k=5).collect()]
    assert got == want and len(got) == 5


def test_kmv_kill_and_restart_equals_uninterrupted(spark, tmp_path):
    """Same kill-and-restart contract for the KMV fold: the recovered
    minima table is BIT-IDENTICAL to the uninterrupted run (KMV merge
    is order-free), and replayed batches are skipped."""
    from ahnlich_spark.streaming.pipeline import streaming_kmv_distinct

    rows = [(f"g{i % 3}", f"val-{i % 500}") for i in range(1500)]
    df = spark.createDataFrame(rows, "g string, v string")
    parts = [df.filter(F.abs(F.xxhash64("v")) % 3 == i) for i in range(3)]
    state_dir = str(tmp_path / "kmv_ckpt")

    def read_stream(watch):
        return (
            spark.readStream.schema("g string, v string")
            .option("maxFilesPerTrigger", 1)
            .parquet(watch)
        )

    watch, add_file = _ordered_files(tmp_path, spark, parts[:2], "g string, v string")
    q1, _, _ = streaming_kmv_distinct(
        read_stream(watch), ["g"], "v", k=32, state_dir=state_dir
    )
    q1.processAllAvailable()
    q1.stop()
    add_file(parts[2])
    q2, drain2, drain_minima2 = streaming_kmv_distinct(
        read_stream(watch), ["g"], "v", k=32, state_dir=state_dir
    )
    q2.processAllAvailable()
    q2.stop()
    watch_u, _ = _ordered_files(tmp_path / "u", spark, parts, "g string, v string")
    q3, drain3, drain_minima3 = streaming_kmv_distinct(
        read_stream(watch_u), ["g"], "v", k=32
    )
    q3.processAllAvailable()
    q3.stop()
    got = sorted(map(tuple, drain2().collect()))
    want = sorted(map(tuple, drain3().collect()))
    assert got == want and len(got) == 3
    assert sorted(map(tuple, drain_minima2().collect())) == sorted(
        map(tuple, drain_minima3().collect())
    )


def test_hll_and_histogram_kill_and_restart(spark, tmp_path):
    """The HLL and histogram folds share the same checkpoint-safe
    recipe: kill after 2 batches, restart a fresh fold over the source
    with a 3rd file, drained state bit-identical to the uninterrupted
    run (both merges are order-free)."""
    from ahnlich_spark.streaming.pipeline import (
        streaming_histogram_quantiles,
        streaming_hll_distinct,
    )

    rows = [(f"g{i % 2}", f"v-{i % 400}", (i * 13) % 1000) for i in range(1200)]
    df = spark.createDataFrame(rows, "g string, v string, x long")
    parts = [df.filter(F.abs(F.xxhash64("v", "x")) % 3 == i) for i in range(3)]
    schema = "g string, v string, x long"

    def read_stream(watch):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(watch)
        )

    for name, factory, drain_idx in (
        ("hll", lambda st, sd: streaming_hll_distinct(
            st, ["g"], "v", m=128, state_dir=sd), 2),
        ("hist", lambda st, sd: streaming_histogram_quantiles(
            st, ["g"], "x", 50, [0.5, 0.9], state_dir=sd), 2),
    ):
        base = tmp_path / name
        base.mkdir()
        state_dir = str(base / "ckpt")
        watch, add_file = _ordered_files(base, spark, parts[:2], schema)
        q1 = factory(read_stream(watch), state_dir)[0]
        q1.processAllAvailable()
        q1.stop()
        add_file(parts[2])
        q2, drain2, drain_state2 = factory(read_stream(watch), state_dir)
        q2.processAllAvailable()
        q2.stop()
        watch_u, _ = _ordered_files(base / "u", spark, parts, schema)
        q3, drain3, drain_state3 = factory(read_stream(watch_u), None)
        q3.processAllAvailable()
        q3.stop()
        got = sorted(map(tuple, drain_state2().collect()))
        want = sorted(map(tuple, drain_state3().collect()))
        assert got == want and len(got) > 0, name
        assert sorted(map(tuple, drain2().collect())) == sorted(
            map(tuple, drain3().collect())
        ), name


def test_streaming_cms_fold_matches_batch_and_restarts(spark, tmp_path):
    """The CMS fold is bit-identical to the one-shot batch sketch
    (addition is order-free) and checkpoint-safe under kill-and-restart
    like its sibling folds."""
    from ahnlich_spark.operators.sketches import cms_estimate, cms_table
    from ahnlich_spark.streaming.pipeline import streaming_cms_counts

    rows = [(f"t{i % 97}",) for i in range(1500)]
    df = spark.createDataFrame(rows, "v string")
    parts = [df.filter(F.abs(F.xxhash64("v")) % 3 == i) for i in range(3)]
    state_dir = str(tmp_path / "cms_ckpt")

    def read_stream(watch):
        return (
            spark.readStream.schema("v string")
            .option("maxFilesPerTrigger", 1)
            .parquet(watch)
        )

    watch, add_file = _ordered_files(tmp_path, spark, parts[:2], "v string")
    q1 = streaming_cms_counts(read_stream(watch), [], "v", depth=4,
                              width=32, state_dir=state_dir)[0]
    q1.processAllAvailable()
    q1.stop()
    add_file(parts[2])
    q2, est2, table2 = streaming_cms_counts(read_stream(watch), [], "v",
                                            depth=4, width=32,
                                            state_dir=state_dir)
    q2.processAllAvailable()
    q2.stop()
    # batch reference: the one-shot sketch over all rows
    batch_sk = cms_table(df, "v", depth=4, width=32)
    assert sorted(map(tuple, table2().collect())) == sorted(
        map(tuple, batch_sk.collect())
    )
    probes = df.distinct()
    got = sorted(map(tuple, est2(probes).collect()))
    want = sorted(map(tuple,
                      cms_estimate(batch_sk, probes, "v", depth=4,
                                   width=32).collect()))
    assert got == want and len(got) == 97


def test_replay_guard_refuses_divergent_restart(spark, tmp_path):
    """A restart that batches the source DIFFERENTLY (here: dropping
    maxFilesPerTrigger so old+new files merge into replayed batch 0)
    must refuse with a clear error instead of silently skipping the
    never-folded rows."""
    from pyspark.sql.streaming import StreamingQueryException

    from ahnlich_spark.streaming.pipeline import streaming_kmv_distinct

    rows = [(f"g{i % 2}", f"v-{i}") for i in range(600)]
    df = spark.createDataFrame(rows, "g string, v string")
    parts = [df.filter(F.abs(F.xxhash64("v")) % 3 == i) for i in range(3)]
    state_dir = str(tmp_path / "ckpt")
    watch, add_file = _ordered_files(tmp_path, spark, parts[:2],
                                     "g string, v string")
    q1 = streaming_kmv_distinct(
        spark.readStream.schema("g string, v string")
        .option("maxFilesPerTrigger", 1).parquet(watch),
        ["g"], "v", k=16, state_dir=state_dir,
    )[0]
    q1.processAllAvailable()
    q1.stop()
    add_file(parts[2])
    # restart WITHOUT maxFilesPerTrigger: batch 0 now packs all 3 files
    q2 = streaming_kmv_distinct(
        spark.readStream.schema("g string, v string").parquet(watch),
        ["g"], "v", k=16, state_dir=state_dir,
    )[0]
    with pytest.raises(StreamingQueryException,
                       match="batches the source differently"):
        q2.processAllAvailable()
    q2.stop()


def test_mg_state_dir_key_type_round_trip(spark, tmp_path):
    """MG counter keys are STRINGS by design (heavy_hitter_candidates'
    UDF schema casts the value column), and the persisted state
    round-trips them without splitting any count across a restart —
    the counter is persisted as [key, count] PAIRS so a future
    non-string summary schema could not be silently retyped by JSON
    object keys either."""
    from ahnlich_spark.streaming.pipeline import streaming_heavy_hitters

    rows = [(i % 7,) for i in range(300)]
    df = spark.createDataFrame(rows, "value long")
    parts = [df.filter(F.abs(F.xxhash64("value") + F.monotonically_increasing_id()) % 2 == i)
             for i in range(2)]
    # deterministic split without relying on value hashing alone
    parts = [df.limit(150), df.subtract(spark.createDataFrame([], "value long")).exceptAll(df.limit(150))]
    state_dir = str(tmp_path / "mg")
    watch, add_file = _ordered_files(tmp_path, spark, parts[:1], "value long")
    q1, drain1, _ = streaming_heavy_hitters(
        spark.readStream.schema("value long")
        .option("maxFilesPerTrigger", 1).parquet(watch),
        "value", capacity=16, state_dir=state_dir,
    )
    q1.processAllAvailable()
    q1.stop()
    add_file(parts[1])
    q2, drain2, drain_topk2 = streaming_heavy_hitters(
        spark.readStream.schema("value long")
        .option("maxFilesPerTrigger", 1).parquet(watch),
        "value", capacity=16, state_dir=state_dir,
    )
    q2.processAllAvailable()
    q2.stop()
    counter = drain2()
    assert counter and all(isinstance(k, str) for k in counter), counter
    got = [(r["value"], r["cnt"]) for r in drain_topk2(df, k=3).collect()]
    want = [(str(r["value"]), r["cnt"]) for r in
            df.groupBy("value").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("value")).limit(3).collect()]
    assert got == want


def test_streaming_embedding_drift_matches_batch_and_restarts(spark, tmp_path):
    """The drift fold's streamed means are bit-identical to the batch
    dim_means_e9 over the same rows, and the fold is checkpoint-safe:
    kill after one batch, restart with a second, drained drift equals
    the uninterrupted batch comparison."""
    import numpy as np

    from ahnlich_spark.operators.evaluation import dim_means_e9, embedding_drift
    from ahnlich_spark.streaming.pipeline import streaming_embedding_drift

    rng = np.random.RandomState(11)
    vecs = rng.normal(size=(120, 6)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    base_slice = df.filter(F.col("vec_id") % 2 == 0)
    live_slice = df.filter(F.col("vec_id") % 2 == 1)
    baseline = dim_means_e9(base_slice, "embedding").select("dim", "mean_e9")
    parts = [live_slice.filter(F.col("vec_id") % 4 == i).select("embedding")
             for i in (1, 3)]
    state_dir = str(tmp_path / "drift_ckpt")

    def read_stream(watch):
        return (
            spark.readStream.schema("embedding array<float>")
            .option("maxFilesPerTrigger", 1).parquet(watch)
        )

    watch, add_file = _ordered_files(tmp_path, spark, parts[:1],
                                     "embedding array<float>")
    q1 = streaming_embedding_drift(read_stream(watch), baseline,
                                   state_dir=state_dir)[0]
    q1.processAllAvailable()
    q1.stop()
    add_file(parts[1])
    q2, drain2, _ = streaming_embedding_drift(read_stream(watch), baseline,
                                              state_dir=state_dir)
    q2.processAllAvailable()
    q2.stop()
    got = sorted(map(tuple, drain2().collect()))
    want = sorted(map(tuple,
                      embedding_drift(base_slice, live_slice).collect()))
    assert got == want and len(got) == 6


def test_ivm_nullable_measure_matches_full_recompute(spark, engine):
    """An off-contract NULLABLE measure (NULL on every row of some
    group) must not diverge the maintained view from the full
    recompute: both coalesce a NULL measure row to 0 by construction,
    so a group whose measure expression is NULL everywhere reads 0 in
    both — not NULL in one and 0 in the other."""
    from ahnlich_spark.operators import ivm as IVM

    engine.create_store("ivmn", dimension=2, predicates=["t"])
    # group "b" has NO "x" meta key anywhere -> measure NULL on all rows
    engine.set("ivmn", [
        ([1.0, 0.0], {"t": "a", "x": "abc"}),
        ([0.0, 1.0], {"t": "b"}),
        ([2.0, 2.0], {"t": "b"}),
    ])                                                          # base v1
    grp = F.col("meta")["t"]["s"]
    measures = {"xlen": F.length(F.col("meta")["x"]["s"])}
    view = IVM.full_agg(
        engine, "ivmn", grp, measures, version=1, segments=0
    ).localCheckpoint()
    # mutations: grow the all-NULL group, delete from it, touch "a"
    engine.set("ivmn", [([3.0, 3.0], {"t": "b"}),
                        ([1.0, 0.0], {"t": "a", "x": "defgh"})])
    engine.del_key("ivmn", [[2.0, 2.0]])
    delta = IVM.cdf_agg_delta(
        engine, "ivmn", 1, 0, grp, measures
    )
    refreshed = IVM.apply_agg_delta(view, delta, measures)
    got = sorted(tuple(r) for r in refreshed.collect())
    want = sorted(
        tuple(r) for r in
        IVM.full_agg(engine, "ivmn", grp, measures).collect()
    )
    assert got == want
    assert ("b", 2, 0) in got  # all-NULL group reads 0, not NULL


def test_df_state_persist_legacy_rows_pointer_migration(spark, tmp_path):
    """A pre-ledger pointer carries per-batch 'rows' counts but no
    'ledger': loading it must keep at least the count check (seeded as
    fingerprint wildcards) rather than blind-skipping replays, while
    cumulative checks stay off."""
    import json

    from ahnlich_spark.streaming.pipeline import _DfStatePersist

    state_dir = str(tmp_path / "legacy")
    os.makedirs(state_dir)
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    p1 = _DfStatePersist(spark, state_dir, "kmv")
    p1.save(df, 0, (3, 12345))
    p1.save(df, 1, (5, 67890))
    # rewrite the pointer into the legacy shape: rows dict, no ledger
    with open(p1.ptr) as f:
        ptr = json.load(f)
    del ptr["ledger"]
    ptr["rows"] = {"0": 3, "1": 5}
    with open(p1.ptr, "w") as f:
        json.dump(ptr, f)

    p2 = _DfStatePersist(spark, state_dir, "kmv")
    loaded, last = p2.load()
    assert last == 1 and loaded is not None
    assert not p2.ledger.complete  # cumulative checks off
    assert p2.ledger.recent == {"0": [3, None], "1": [5, None]}
    # matching count passes regardless of fingerprint (wildcard)
    batch = spark.createDataFrame([(i, "x") for i in range(5)],
                                  "id long, v string")
    p2.replay_guard(batch, 1, "kmv")
    # diverging count is still refused — the legacy guarantee survives
    short = spark.createDataFrame([(9, "y")], "id long, v string")
    with pytest.raises(ValueError, match="carries 1 rows"):
        p2.replay_guard(short, 1, "kmv")


def test_incremental_dedup_orphan_parts_swept_on_restart(spark, tmp_path):
    """sincr_* part dirs no pointer references (a crash between the
    pointer swap and the GC sweep, or a mid-trigger crash before
    _commit) are deleted when a fold re-seeds from the state_dir, so
    the leak cannot accumulate across crashes."""
    from ahnlich_spark.streaming.pipeline import streaming_incremental_dedup

    corpus, frames = _sincr_fixture(spark)
    state_dir = str(tmp_path / "state")
    schema = "doc_id long, text string"

    def read_stream(watch):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(watch)
        )

    watch, add_file = _ordered_files(tmp_path, spark, frames[:2], schema)
    q1, _ = streaming_incremental_dedup(
        read_stream(watch), corpus, threshold=0.5, state_dir=state_dir
    )
    q1.processAllAvailable()
    q1.stop()
    # plant orphans: an unreferenced part dir and a fake compaction
    # leftover; a plain file must NOT be swept (the pointer itself
    # starts with the same prefix)
    for orphan in ("sincr_pairs_b999", "sincr_sig_c777"):
        os.makedirs(os.path.join(state_dir, orphan))
        with open(os.path.join(state_dir, orphan, "junk"), "w") as f:
            f.write("x")
    add_file(frames[2])
    q2, drain2 = streaming_incremental_dedup(
        read_stream(watch), corpus, threshold=0.5, state_dir=state_dir
    )
    q2.processAllAvailable()
    q2.stop()
    dirs = set(os.listdir(state_dir))
    assert "sincr_pairs_b999" not in dirs and "sincr_sig_c777" not in dirs
    assert "sincr_state.json" in dirs
    # and the fold still equals the uninterrupted run
    watch_u, _ = _ordered_files(tmp_path / "u", spark, frames, schema)
    q3, drain3 = streaming_incremental_dedup(
        read_stream(watch_u), corpus, threshold=0.5
    )
    q3.processAllAvailable()
    q3.stop()
    assert _sincr_pairs(drain2) == _sincr_pairs(drain3)


def test_materialized_agg_missing_coords_pointer_raises(
    spark, engine, tmp_path
):
    """A mview pointer without usable fold coordinates (tampered,
    truncated-then-recreated, or a foreign fold's pointer) must raise
    the standard actionable re-seed error, not a bare KeyError."""
    import json
    import tempfile as tf

    from ahnlich_spark import Engine
    from ahnlich_spark.streaming.pipeline import streaming_materialized_agg

    engine.create_store("mvg", dimension=2, predicates=["t"])
    engine.set("mvg", [([1.0, 0.0], {"t": "a"})])               # base v1
    replica = Engine(spark, tf.mkdtemp(prefix="ahnlich_mvg_wh_"))
    replica.create_store("mvgd", dimension=2)
    replica.set("mvgd", engine.store_df("mvg", version=1, segments=0)
                .select("key", "meta"))
    grp = F.col("meta")["t"]["s"]
    measures = {"k0_e2": (F.element_at("key", 1) * 100).cast("long")}
    state_dir = str(tmp_path / "mv_state")
    engine.set("mvg", [([5.0, 5.0], {"t": "b"})])
    q, _ = streaming_materialized_agg(
        engine.store_changes_stream("mvg", max_files_per_trigger=1),
        replica, "mvgd", grp, measures, state_dir=state_dir,
    )
    q.processAllAvailable()
    q.stop()
    ptr = os.path.join(state_dir, "mview_state.json")
    with open(ptr) as f:
        good = json.load(f)
    for key, match in (("extra", "coords.*delete the state_dir"),
                       ("table", "table.*delete the state_dir"),
                       ("batch_id", "batch_id.*delete the state_dir")):
        p = dict(good)
        del p[key]
        with open(ptr, "w") as f:
            json.dump(p, f)
        with pytest.raises(ValueError, match=match):
            streaming_materialized_agg(
                engine.store_changes_stream("mvg", max_files_per_trigger=1),
                replica, "mvgd", grp, measures, state_dir=state_dir,
            )


# ------------------------------------------------- keyed mview sink --


def _keyed_parts(state_dir, prefix="mviewk_p"):
    return sorted(d for d in os.listdir(state_dir) if d.startswith(prefix))


def _keyed_fixture(spark, engine, name):
    """Source store with a base snapshot + a seeded replica — the
    shared setup of the keyed-sink tests."""
    import tempfile as tf

    from ahnlich_spark import Engine

    engine.create_store(name, dimension=2, predicates=["t"])
    engine.set(name, [([1.0, 0.0], {"t": "a"}), ([0.0, 1.0], {"t": "b"}),
                      ([2.0, 2.0], {"t": "b"}), ([3.0, 1.0], {})])
    replica = Engine(spark, tf.mkdtemp(prefix="ahnlich_kv_wh_"))
    replica.create_store(name + "d", dimension=2)
    replica.set(name + "d", engine.store_df(name, version=1, segments=0)
                .select("key", "meta"))
    grp = F.col("meta")["t"]["s"]
    measures = {"k0_e2": (F.element_at("key", 1) * 100).cast("long")}
    return replica, grp, measures


def _rows_null_first(df):
    return sorted((tuple(r) for r in df.collect()),
                  key=lambda t: (t[0] is not None, t[0] or "", t[1:]))


def test_keyed_mview_restart_parts_are_exactly_touched_groups(
    spark, engine, tmp_path
):
    """sink='keyed': the view survives a kill-and-restart AND every
    per-trigger part holds EXACTLY the groups that trigger's delta
    touched — the per-trigger write is O(touched groups), never
    O(groups). Group 'a' is deleted to a tombstone and later
    re-inserted, pinning that keep-last resurrects through an n==0
    row."""
    from ahnlich_spark.operators import ivm as IVM
    from ahnlich_spark.operators.predicates import Equals
    from ahnlich_spark.streaming.pipeline import streaming_materialized_agg

    replica, grp, measures = _keyed_fixture(spark, engine, "kvs")
    state_dir = str(tmp_path / "kv_state")
    ckpt = str(tmp_path / "kv_ckpt")

    def fold():
        return streaming_materialized_agg(
            engine.store_changes_stream("kvs", max_files_per_trigger=1),
            replica, "kvsd", grp, measures,
            state_dir=state_dir, checkpoint=ckpt, sink="keyed", buckets=8,
        )

    engine.del_pred("kvs", Equals("t", "a"))         # touches a -> tomb
    engine.set("kvs", [([0.0, 1.0], {"t": "c"})])    # update: b, c
    q1, _ = fold()
    q1.processAllAvailable()
    q1.stop()
    # mutations land while the fold is down
    engine.set("kvs", [([5.0, 5.0], {"t": "d"})])    # insert: d
    engine.set("kvs", [([7.0, 0.0], {"t": "a"})])    # resurrect: a
    q2, drain2 = fold()
    q2.processAllAvailable()
    q2.stop()
    got = _rows_null_first(drain2())
    want = _rows_null_first(
        IVM.full_agg(replica, "kvsd", grp, measures)
    )
    assert got == want and got
    assert ("a", 1, 700) in got                      # resurrected
    # per-trigger parts: exactly the touched groups, tombstones included
    per_part = {
        t: sorted((r["group"], r["n"]) for r in spark.read.parquet(
            os.path.join(state_dir, t)).collect())
        for t in _keyed_parts(state_dir)
    }
    assert per_part == {
        "mviewk_p0": [("a", 0)],                     # delete -> tombstone
        "mviewk_p1": [("b", 1), ("c", 1)],           # update pre+post
        "mviewk_p2": [("d", 1)],                     # insert
        "mviewk_p3": [("a", 1)],                     # re-insert
    }
    # the replica converged to the source
    src = sorted(tuple(r["key"]) for r in engine.store_df("kvs").collect())
    dst = sorted(tuple(r["key"]) for r in replica.store_df("kvsd").collect())
    assert src == dst


def test_keyed_mview_crash_between_apply_and_fold(spark, engine, tmp_path):
    """The exactly-once crash window under the keyed sink: a batch that
    reached the replica before the pointer swap replays into a
    duplicate delta segment that nets out — the drained view equals the
    full recompute, NULL group included."""
    from ahnlich_spark.operators import ivm as IVM
    from ahnlich_spark.operators.predicates import Equals
    from ahnlich_spark.streaming.pipeline import streaming_materialized_agg

    replica, grp, measures = _keyed_fixture(spark, engine, "kvc")
    engine.del_pred("kvc", Equals("t", "a"))
    engine.set("kvc", [([0.0, 1.0], {"t": "c"}), ([4.0, 4.0], {})])
    # crashed trigger: batch applied to the replica, no pointer written
    replica.apply_changes("kvcd", engine.store_changes(
        "kvc", from_version=1, from_segments=0))
    q, drain = streaming_materialized_agg(
        engine.store_changes_stream("kvc", max_files_per_trigger=1),
        replica, "kvcd", grp, measures,
        state_dir=str(tmp_path / "kvc_state"),
        checkpoint=str(tmp_path / "kvc_ckpt"),
        sink="keyed", buckets=8,
    )
    q.processAllAvailable()
    q.stop()
    got = _rows_null_first(drain())
    want = _rows_null_first(IVM.full_agg(replica, "kvcd", grp, measures))
    assert got == want and got
    assert sum(1 for g, *_ in got if g is None) == 1


def test_keyed_mview_compaction_and_restart(
    spark, engine, tmp_path, monkeypatch
):
    """Past _COMPACT_PARTS live parts the keyed view compacts to ONE
    part (tombstone debt cleared), old parts are GC'd after the pointer
    swap, and a restart from the compacted state keeps folding
    correctly."""
    from ahnlich_spark.operators import ivm as IVM
    from ahnlich_spark.streaming import pipeline as P

    monkeypatch.setattr(P, "_COMPACT_PARTS", 2)
    replica, grp, measures = _keyed_fixture(spark, engine, "kvk")
    state_dir = str(tmp_path / "kvk_state")
    ckpt = str(tmp_path / "kvk_ckpt")

    def fold():
        return P.streaming_materialized_agg(
            engine.store_changes_stream("kvk", max_files_per_trigger=1),
            replica, "kvkd", grp, measures,
            state_dir=state_dir, checkpoint=ckpt, sink="keyed", buckets=4,
        )

    for i in range(4):                       # 4 triggers > 2 parts
        engine.set("kvk", [([float(i), 9.0], {"t": f"g{i}"})])
    q, drain = fold()
    q.processAllAvailable()
    q.stop()
    live = _keyed_parts(state_dir, prefix="mviewk_")
    assert [t for t in live if t.startswith("mviewk_c")], live
    # on-disk part dirs == EXACTLY the pointer's live tables: the
    # p-part a compaction superseded within its own trigger (never in
    # any pointer) must be GC'd too, not leaked until a restart sweep
    import json as _json

    with open(os.path.join(state_dir, "mviewk_state.json")) as f:
        ptr_tables = set(_json.load(f)["tables"])
    on_disk = {t for t in live if not t.endswith(".json")}
    assert on_disk == ptr_tables, (on_disk, ptr_tables)
    got = _rows_null_first(drain())
    want = _rows_null_first(IVM.full_agg(replica, "kvkd", grp, measures))
    assert got == want
    assert not any(n == 0 for _, n, _ in got)
    # restart from the compacted pointer and fold one more mutation
    engine.set("kvk", [([8.0, 8.0], {"t": "z"})])
    q2, drain2 = fold()
    q2.processAllAvailable()
    q2.stop()
    got2 = _rows_null_first(drain2())
    want2 = _rows_null_first(IVM.full_agg(replica, "kvkd", grp, measures))
    assert got2 == want2 and ("z", 1, 800) in got2


def test_keyed_mview_empty_seed(spark, engine, tmp_path):
    """A fold over a ZERO-ROW replica writes an empty (file-less)
    partitioned seed; the explicit read schema makes that legal and the
    view grows from nothing to the recompute."""
    import tempfile as tf

    from ahnlich_spark import Engine
    from ahnlich_spark.operators import ivm as IVM
    from ahnlich_spark.operators.predicates import Equals
    from ahnlich_spark.streaming.pipeline import streaming_materialized_agg

    engine.create_store("kve", dimension=2, predicates=["t"])
    engine.set("kve", [([9.0, 9.0], {"t": "base"})])   # base, not in feed
    replica = Engine(spark, tf.mkdtemp(prefix="ahnlich_kve_wh_"))
    replica.create_store("kved", dimension=2, predicates=["t"])
    replica.set("kved", [([9.0, 9.0], {"t": "base"})])
    replica.del_pred("kved", Equals("t", "base"))      # zero rows at seed
    grp = F.col("meta")["t"]["s"]
    measures = {"k0_e2": (F.element_at("key", 1) * 100).cast("long")}
    engine.set("kve", [([1.0, 0.0], {"t": "a"}), ([0.0, 2.0], {"t": "b"})])
    q, drain = streaming_materialized_agg(
        engine.store_changes_stream("kve"),
        replica, "kved", grp, measures,
        state_dir=str(tmp_path / "kve_state"),
        checkpoint=str(tmp_path / "kve_ckpt"),
        sink="keyed", buckets=4,
    )
    q.processAllAvailable()
    q.stop()
    got = _rows_null_first(drain())
    want = _rows_null_first(IVM.full_agg(replica, "kved", grp, measures))
    assert got == want and got == [("a", 1, 100), ("b", 1, 0)]


def test_keyed_mview_requires_state_dir(spark, engine):
    """sink='keyed' without a state_dir has nowhere to put the parts."""
    from ahnlich_spark.streaming.pipeline import streaming_materialized_agg

    engine.create_store("kvr", dimension=2)
    with pytest.raises(ValueError, match="keyed.*state_dir"):
        streaming_materialized_agg(
            engine.store_changes_stream("kvr"), engine, "kvr",
            F.col("meta")["t"]["s"], {}, sink="keyed",
        )
    with pytest.raises(ValueError, match="unknown sink"):
        streaming_materialized_agg(
            engine.store_changes_stream("kvr"), engine, "kvr",
            F.col("meta")["t"]["s"], {}, sink="bogus",
        )


# ------------------------------------------------ streaming join view --


def test_streaming_join_view_restart_and_catchup(spark, engine, tmp_path):
    """The doorbell fold: both stores mutate, the union feed triggers
    coordinate-driven catch-up, the fold is killed, MORE mutations land
    on both sides while it is down, and the restarted fold's drained
    view equals re-joining the final snapshots."""
    from ahnlich_spark.operators import ivm as IVM
    from ahnlich_spark.operators.predicates import Equals
    from ahnlich_spark.streaming.pipeline import streaming_materialized_join

    engine.create_store("sja", dimension=2, predicates=["k"])
    engine.create_store("sjb", dimension=2, predicates=["k", "w"])
    engine.set("sja", [([1.0, 0.0], {"k": "p"}), ([0.0, 1.0], {"k": "q"})])
    engine.set("sjb", [([5.0, 0.0], {"k": "p", "w": "2"}),
                       ([6.0, 0.0], {"k": "q", "w": "3"})])
    ja, jb = F.col("a_meta")["k"]["s"], F.col("b_meta")["k"]["s"]
    grp = F.col("b_meta")["w"]["s"]
    meas = {"s_e2": (F.element_at("a_key", 1) * 100).cast("long")}
    state_dir = str(tmp_path / "sj_state")
    ckpt = str(tmp_path / "sj_ckpt")

    def fold():
        feed = engine.store_changes_stream(
            "sja", max_files_per_trigger=1
        ).unionByName(
            engine.store_changes_stream("sjb", max_files_per_trigger=1)
        )
        return streaming_materialized_join(
            feed, engine, "sja", engine, "sjb", ja, jb, grp, meas,
            state_dir=state_dir, checkpoint=ckpt,
            from_a=(1, 0), from_b=(1, 0),
        )

    engine.set("sja", [([0.0, 1.0], {"k": "p"})])   # fact join-key move
    engine.set("sjb", [([5.0, 0.0], {"k": "p", "w": "9"})])  # dim regroup
    q1, _ = fold()
    q1.processAllAvailable()
    q1.stop()
    # both sides mutate while the fold is down
    engine.del_pred("sjb", Equals("k", "q"))        # dim row dies
    engine.set("sja", [([7.0, 7.0], {"k": "p"})])   # new fact
    q2, drain2 = fold()
    q2.processAllAvailable()
    q2.stop()
    got = sorted(tuple(r) for r in drain2().collect())
    want = sorted(tuple(r) for r in IVM.full_join_agg(
        engine, "sja", engine, "sjb", ja, jb, grp, meas,
    ).collect())
    assert got == want == [("9", 3, 800)]


def test_streaming_join_view_guards(spark, engine, tmp_path):
    """checkpoint without state_dir refuses (restart would skip
    batches while the view reset); a tampered pointer without usable
    coordinates raises the standard re-seed error."""
    import json

    from ahnlich_spark.streaming.pipeline import streaming_materialized_join

    engine.create_store("sjg", dimension=2, predicates=["k"])
    engine.create_store("sjh", dimension=2, predicates=["k", "w"])
    engine.set("sjg", [([1.0, 0.0], {"k": "p"})])
    engine.set("sjh", [([5.0, 0.0], {"k": "p", "w": "2"})])
    ja, jb = F.col("a_meta")["k"]["s"], F.col("b_meta")["k"]["s"]
    grp = F.col("b_meta")["w"]["s"]
    with pytest.raises(ValueError, match="state_dir"):
        streaming_materialized_join(
            engine.store_changes_stream("sjg"),
            engine, "sjg", engine, "sjh", ja, jb, grp, {},
            checkpoint=str(tmp_path / "only_ckpt"),
        )
    state_dir = str(tmp_path / "sjg_state")
    engine.set("sjg", [([2.0, 0.0], {"k": "p"})])
    q, _ = streaming_materialized_join(
        engine.store_changes_stream("sjg", max_files_per_trigger=1),
        engine, "sjg", engine, "sjh", ja, jb, grp, {},
        state_dir=state_dir, from_a=(1, 0), from_b=(1, 0),
    )
    q.processAllAvailable()
    q.stop()
    ptr = os.path.join(state_dir, "mjoin_state.json")
    with open(ptr) as f:
        good = json.load(f)
    for key, match in (("coords_b", "coords.*delete the state_dir"),
                       ("table", "table.*delete the state_dir")):
        p = dict(good)
        del p[key]
        with open(ptr, "w") as f:
            json.dump(p, f)
        with pytest.raises(ValueError, match=match):
            streaming_materialized_join(
                engine.store_changes_stream("sjg", max_files_per_trigger=1),
                engine, "sjg", engine, "sjh", ja, jb, grp, {},
                state_dir=state_dir,
            )


def test_streaming_join_view_keyed_restart_and_catchup(
    spark, engine, tmp_path
):
    """The keyed sink composed with the doorbell join fold: per trigger
    the part log receives exactly the bilinear delta's touched groups
    (coordinate-named mjoink_* parts), kill-and-restart with both-side
    mutations while down equals re-joining the final snapshots, and a
    restart with a different bucket count is REFUSED instead of
    silently merging parts under a mismatched _vb mapping."""
    from ahnlich_spark.operators import ivm as IVM
    from ahnlich_spark.operators.predicates import Equals
    from ahnlich_spark.streaming.pipeline import streaming_materialized_join

    engine.create_store("kja", dimension=2, predicates=["k"])
    engine.create_store("kjb", dimension=2, predicates=["k", "w"])
    engine.set("kja", [([1.0, 0.0], {"k": "p"}), ([0.0, 1.0], {"k": "q"})])
    engine.set("kjb", [([5.0, 0.0], {"k": "p", "w": "2"}),
                       ([6.0, 0.0], {"k": "q", "w": "3"})])
    ja, jb = F.col("a_meta")["k"]["s"], F.col("b_meta")["k"]["s"]
    grp = F.col("b_meta")["w"]["s"]
    meas = {"s_e2": (F.element_at("a_key", 1) * 100).cast("long")}
    state_dir = str(tmp_path / "kj_state")
    ckpt = str(tmp_path / "kj_ckpt")

    def fold(buckets=8):
        feed = engine.store_changes_stream(
            "kja", max_files_per_trigger=1
        ).unionByName(
            engine.store_changes_stream("kjb", max_files_per_trigger=1)
        )
        return streaming_materialized_join(
            feed, engine, "kja", engine, "kjb", ja, jb, grp, meas,
            state_dir=state_dir, checkpoint=ckpt,
            from_a=(1, 0), from_b=(1, 0), sink="keyed", buckets=buckets,
        )

    engine.set("kja", [([0.0, 1.0], {"k": "p"})])   # fact join-key move
    engine.set("kjb", [([5.0, 0.0], {"k": "p", "w": "9"})])  # dim regroup
    q1, _ = fold()
    q1.processAllAvailable()
    q1.stop()
    # parts are coordinate-named, never batch-id-named (the pointer
    # mjoink_state.json is a file, not a part)
    parts = [d for d in os.listdir(state_dir)
             if d.startswith("mjoink_")
             and os.path.isdir(os.path.join(state_dir, d))]
    assert "mjoink_seed" in parts
    assert all(d == "mjoink_seed" or d.startswith(("mjoink_p", "mjoink_c"))
               for d in parts)
    # both sides mutate while the fold is down
    engine.del_pred("kjb", Equals("k", "q"))        # dim row dies
    engine.set("kja", [([7.0, 7.0], {"k": "p"})])   # new fact
    q2, drain2 = fold()
    q2.processAllAvailable()
    q2.stop()
    got = sorted(tuple(r) for r in drain2().collect())
    want = sorted(tuple(r) for r in IVM.full_join_agg(
        engine, "kja", engine, "kjb", ja, jb, grp, meas,
    ).collect())
    assert got == want == [("9", 3, 800)]
    # a different bucket count refuses on load
    with pytest.raises(ValueError, match="buckets=8"):
        fold(buckets=16)


def test_streaming_join_distinct_keyed_rollup_and_quantile(
    spark, engine, tmp_path
):
    """DISTINCT/QUANTILE over a live equi-join riding the keyed sink —
    the last cell of the maintained-view matrix: after deletes and a
    group-moving dim upsert on both sides plus a kill-and-restart, the
    rolled-up read and the exact discrete quantile both equal the
    re-joined recompute."""
    from ahnlich_spark.operators import ivm as IVM
    from ahnlich_spark.operators.predicates import Equals
    from ahnlich_spark.streaming.pipeline import (
        streaming_materialized_join_distinct,
    )

    engine.create_store("kda", dimension=2, predicates=["k"])
    engine.create_store("kdb", dimension=2, predicates=["k", "w"])
    engine.set("kda", [
        ([0.01 * i, 0.0], {"k": str(i % 3)}) for i in range(1, 10)
    ])
    engine.set("kdb", [
        ([float(k), 0.0], {"k": str(k), "w": str(k % 2)}) for k in range(3)
    ])
    ja, jb = F.col("a_meta")["k"]["s"], F.col("b_meta")["k"]["s"]
    grp = F.col("b_meta")["w"]["s"]
    val = (F.element_at("a_key", 1) * 100).cast("long")
    state_dir = str(tmp_path / "kd_state")
    ckpt = str(tmp_path / "kd_ckpt")

    def fold():
        feed = engine.store_changes_stream(
            "kda", max_files_per_trigger=1
        ).unionByName(
            engine.store_changes_stream("kdb", max_files_per_trigger=1)
        )
        return streaming_materialized_join_distinct(
            feed, engine, "kda", engine, "kdb", ja, jb, grp, val,
            state_dir=state_dir, checkpoint=ckpt,
            from_a=(1, 0), from_b=(1, 0), sink="keyed", buckets=8,
        )

    engine.del_pred("kda", Equals("k", "1"))
    engine.set("kda", [([0.02, 0.0], {"k": "2"})])   # dup value in group
    q1, _ = fold()
    q1.processAllAvailable()
    q1.stop()
    engine.set("kdb", [([1.0, 0.0], {"k": "1", "w": "5"})])  # regroup
    q2, drain2 = fold()
    q2.processAllAvailable()
    q2.stop()

    def recompute_inner():
        return IVM.full_join_distinct_inner(
            engine, "kda", engine, "kdb", ja, jb, grp, val)

    got = sorted(tuple(r) for r in drain2().collect())
    want = sorted(tuple(r) for r in
                  IVM.distinct_rollup(recompute_inner()).collect())
    assert got == want and got
    gq = sorted(tuple(r) for r in drain2(quantile=(1, 2)).collect())
    wq = sorted(tuple(r) for r in
                IVM.quantile_rollup(recompute_inner(), 1, 2).collect())
    assert gq == wq


def test_keyed_join_sink_compaction_no_leak(
    spark, engine, tmp_path, monkeypatch
):
    """Past _COMPACT_PARTS the keyed JOIN part log compacts to one
    part and leaves NO unreferenced dirs: on-disk mjoink_* dirs equal
    exactly the pointer's live tables after every trigger (the p-part
    a compaction supersedes within its own trigger must be GC'd, not
    leaked until a restart sweep), the drain still equals the re-join
    recompute, and a truncated pointer that lost 'tables' refuses with
    the re-seed guidance instead of a KeyError."""
    import json

    from ahnlich_spark.operators import ivm as IVM
    from ahnlich_spark.streaming import pipeline as P

    monkeypatch.setattr(P, "_COMPACT_PARTS", 2)
    engine.create_store("cja", dimension=2, predicates=["k"])
    engine.create_store("cjb", dimension=2, predicates=["k", "w"])
    engine.set("cja", [([1.0, 0.0], {"k": "p"})])
    engine.set("cjb", [([5.0, 0.0], {"k": "p", "w": "2"})])
    ja, jb = F.col("a_meta")["k"]["s"], F.col("b_meta")["k"]["s"]
    grp = F.col("b_meta")["w"]["s"]
    state_dir = str(tmp_path / "cj_state")
    ckpt = str(tmp_path / "cj_ckpt")

    def fold():
        return P.streaming_materialized_join(
            engine.store_changes_stream("cja", max_files_per_trigger=1),
            engine, "cja", engine, "cjb", ja, jb, grp, {},
            state_dir=state_dir, checkpoint=ckpt,
            from_a=(1, 0), from_b=(1, 0), sink="keyed", buckets=4,
        )

    # the doorbell folds any backlog as ONE catch-up, so parts must
    # accrue across separate fold sessions: mutate -> fold -> stop,
    # four times (each session appends one coordinate-named p-part;
    # session 4 crosses _COMPACT_PARTS=2 and compacts)
    for i in range(4):
        engine.set("cja", [([float(i) + 2.0, 1.0], {"k": "p"})])
        q, drain = fold()
        q.processAllAvailable()
        q.stop()
    with open(os.path.join(state_dir, "mjoink_state.json")) as f:
        ptr = json.load(f)
    assert any(t.startswith("mjoink_c") for t in ptr["tables"])
    on_disk = {d for d in os.listdir(state_dir)
               if d.startswith("mjoink_")
               and os.path.isdir(os.path.join(state_dir, d))}
    assert on_disk == set(ptr["tables"]), (on_disk, ptr["tables"])
    got = sorted(tuple(r) for r in drain().collect())
    want = sorted(tuple(r) for r in IVM.full_join_agg(
        engine, "cja", engine, "cjb", ja, jb, grp, {}).collect())
    assert got == want and got
    # truncated pointer: coords intact, tables lost -> guided refusal
    del ptr["tables"]
    with open(os.path.join(state_dir, "mjoink_state.json"), "w") as f:
        json.dump(ptr, f)
    with pytest.raises(ValueError, match="part list.*delete the state_dir"):
        fold()


@pytest.mark.parametrize("seed", [11, 47])
def test_keyed_join_sink_randomized_sessions(spark, engine, tmp_path, seed):
    """Adversarial randomized chains ACROSS FOLD SESSIONS (seeded, so
    failures replay): 3 cycles of random both-side mutations, each
    folded by a FRESH fold session restarted from the persisted part
    log — after every cycle the drain equals re-joining the current
    snapshots and the on-disk part dirs equal exactly the pointer's
    live tables. Catches restore/fold-composition bugs (a session
    folding against parts a previous session committed) that
    single-session tests cannot."""
    import json
    import random

    from ahnlich_spark.operators import ivm as IVM
    from ahnlich_spark.operators.predicates import Equals
    from ahnlich_spark.streaming.pipeline import streaming_materialized_join

    rng = random.Random(seed)
    sa, sb = f"rka{seed}", f"rkb{seed}"
    keys = [str(k) for k in range(5)]
    engine.create_store(sa, dimension=2, predicates=["k"])
    engine.create_store(sb, dimension=2, predicates=["k", "w"])
    engine.set(sa, [
        ([float(i), float(rng.randint(0, 3))], {"k": rng.choice(keys)})
        for i in range(8)
    ])
    engine.set(sb, [
        ([float(k), 0.0], {"k": str(k), "w": str(k % 2)}) for k in range(4)
    ])
    ja, jb = F.col("a_meta")["k"]["s"], F.col("b_meta")["k"]["s"]
    grp = F.col("b_meta")["w"]["s"]
    meas = {"e2": (F.element_at("a_key", 1) * 100).cast("long")}
    state_dir = str(tmp_path / f"rk_state{seed}")
    ckpt = str(tmp_path / f"rk_ckpt{seed}")

    def fold():
        feed = engine.store_changes_stream(
            sa, max_files_per_trigger=1
        ).unionByName(engine.store_changes_stream(
            sb, max_files_per_trigger=1))
        return streaming_materialized_join(
            feed, engine, sa, engine, sb, ja, jb, grp, meas,
            state_dir=state_dir, checkpoint=ckpt,
            from_a=(1, 0), from_b=(1, 0), sink="keyed", buckets=8,
        )

    for _ in range(3):
        engine.set(sa, [
            ([float(rng.randint(0, 9)), float(rng.randint(0, 3))],
             {"k": rng.choice(keys)})
            for _ in range(rng.randint(1, 3))
        ])
        if rng.random() < 0.5:
            engine.del_pred(sa, Equals("k", rng.choice(keys)))
        if rng.random() < 0.6:
            k = rng.randint(0, 4)
            engine.set(sb, [([float(k), 0.0],
                             {"k": str(k), "w": str(rng.randint(0, 3))})])
        if rng.random() < 0.3:
            engine.del_pred(sb, Equals("k", str(rng.randint(0, 4))))
        q, drain = fold()
        q.processAllAvailable()
        q.stop()
        got = sorted(tuple(r) for r in drain().collect())
        want = sorted(tuple(r) for r in IVM.full_join_agg(
            engine, sa, engine, sb, ja, jb, grp, meas).collect())
        assert got == want
        with open(os.path.join(state_dir, "mjoink_state.json")) as f:
            ptr = json.load(f)
        on_disk = {d for d in os.listdir(state_dir)
                   if d.startswith("mjoink_")
                   and os.path.isdir(os.path.join(state_dir, d))}
        assert on_disk == set(ptr["tables"]), (on_disk, ptr["tables"])


def test_keyed_join_sink_plan_pins(spark, engine, tmp_path):
    """The keyed join sink's two scale guarantees, pinned in the plans:
    the touched-bucket read partition-prunes every part scan on _vb
    (the filter pushes BELOW the union into PartitionFilters), and the
    bilinear delta joins by BROADCAST with no CartesianProduct — the
    shapes that make a trigger O(changes + touched-bucket rows) at any
    view size."""
    import json

    from ahnlich_spark.operators import ivm as IVM
    from ahnlich_spark.streaming.pipeline import (
        _keep_last_merged,
        streaming_materialized_join,
    )
    from tests.test_plans import plan_of

    engine.create_store("pja", dimension=2, predicates=["k"])
    engine.create_store("pjb", dimension=2, predicates=["k", "w"])
    engine.set("pja", [([1.0, 0.0], {"k": "p"}), ([0.0, 1.0], {"k": "q"})])
    engine.set("pjb", [([5.0, 0.0], {"k": "p", "w": "2"}),
                       ([6.0, 0.0], {"k": "q", "w": "3"})])
    ja, jb = F.col("a_meta")["k"]["s"], F.col("b_meta")["k"]["s"]
    grp = F.col("b_meta")["w"]["s"]
    state_dir = str(tmp_path / "pj_state")
    engine.set("pja", [([2.0, 0.0], {"k": "q"})])
    q, _ = streaming_materialized_join(
        engine.store_changes_stream("pja", max_files_per_trigger=1),
        engine, "pja", engine, "pjb", ja, jb, grp, {},
        state_dir=state_dir, from_a=(1, 0), from_b=(1, 0),
        sink="keyed", buckets=8,
    )
    q.processAllAvailable()
    q.stop()
    with open(os.path.join(state_dir, "mjoink_state.json")) as f:
        ptr = json.load(f)
    assert len(ptr["tables"]) >= 2          # seed + at least one p-part
    parts = [spark.read.parquet(os.path.join(state_dir, t))
             for t in ptr["tables"]]
    merged_plan = plan_of(_keep_last_merged(parts, touched=[0, 1, 2]))
    # every part scan is partition-pruned: _vb appears in the scan's
    # PartitionFilters, not as a post-scan Filter
    scans = merged_plan.split("PartitionFilters")[1:]
    assert len(scans) == len(parts), merged_plan
    assert all("_vb" in s.split("\n")[0] for s in scans), merged_plan
    # the bilinear delta: broadcast probes only, never a cartesian
    delta_plan = plan_of(IVM.cdf_join_agg_delta(
        engine, "pja", (1, 0), engine, "pjb", (1, 0), ja, jb, grp, {},
    ))
    assert "BroadcastHashJoin" in delta_plan, delta_plan
    assert "CartesianProduct" not in delta_plan, delta_plan
    assert "SortMergeJoin" not in delta_plan, delta_plan


def test_keyed_mview_restart_from_scratch_replays_and_skips(
    spark, engine, tmp_path
):
    """Restart WITHOUT a Spark checkpoint: the source re-reads from the
    beginning, batch ids restart at 0, and the keyed fold's replay
    ledger must VERIFY the committed prefix (count + fingerprint) and
    skip it — then fold only what landed since. Drain equals the full
    recompute and no duplicate parts appear."""
    from ahnlich_spark.operators import ivm as IVM
    from ahnlich_spark.operators.predicates import Equals
    from ahnlich_spark.streaming.pipeline import streaming_materialized_agg

    replica, grp, measures = _keyed_fixture(spark, engine, "kvz")
    state_dir = str(tmp_path / "kvz_state")

    def fold():
        return streaming_materialized_agg(
            engine.store_changes_stream("kvz", max_files_per_trigger=1),
            replica, "kvzd", grp, measures,
            state_dir=state_dir, sink="keyed", buckets=8,
        )

    engine.del_pred("kvz", Equals("t", "a"))
    engine.set("kvz", [([0.0, 1.0], {"t": "c"})])
    q1, _ = fold()
    q1.processAllAvailable()
    q1.stop()
    parts_before = _keyed_parts(state_dir)
    engine.set("kvz", [([6.0, 6.0], {"t": "e"})])      # lands while down
    q2, drain2 = fold()                                 # from-scratch read
    q2.processAllAvailable()
    q2.stop()
    got = _rows_null_first(drain2())
    want = _rows_null_first(IVM.full_agg(replica, "kvzd", grp, measures))
    assert got == want and ("e", 1, 600) in got
    # the replayed prefix was skipped: its parts were not rewritten
    # under new ids, only the new batch added one
    assert len(_keyed_parts(state_dir)) == len(parts_before) + 1


@pytest.mark.parametrize("sink", ["snapshot", "keyed"])
def test_materialized_distinct_restart_both_sinks(
    spark, engine, tmp_path, sink
):
    """streaming_materialized_distinct maintains the (group, value)
    pair multiset through BOTH sinks across a kill-and-restart, with a
    delete REMOVING a value from the distinct set and shifting the
    exact median — the subtraction sketches cannot do. The drained
    rollup and quantile equal the full recompute of the final state,
    and under the keyed sink each per-trigger part holds exactly the
    touched pairs."""
    from ahnlich_spark.operators import ivm as IVM
    from ahnlich_spark.operators.predicates import Equals
    from ahnlich_spark.streaming.pipeline import (
        streaming_materialized_distinct,
    )

    name = "dv" + sink[0]
    engine.create_store(name, dimension=2, predicates=["t", "v"])
    engine.set(name, [
        ([1.0, 0.0], {"t": "a", "v": "10"}),
        ([2.0, 0.0], {"t": "a", "v": "20"}),
        ([3.0, 0.0], {"t": "a", "v": "20"}),   # dup value
        ([4.0, 0.0], {"t": "b", "v": "5"}),
    ])
    import tempfile as tf

    from ahnlich_spark import Engine

    replica = Engine(spark, tf.mkdtemp(prefix="ahnlich_dv_wh_"))
    replica.create_store(name + "d", dimension=2)
    replica.set(name + "d", engine.store_df(name, version=1, segments=0)
                .select("key", "meta"))
    grp = F.col("meta")["t"]["s"]
    val = F.col("meta")["v"]["s"].cast("long")
    state_dir = str(tmp_path / "dv_state")
    ckpt = str(tmp_path / "dv_ckpt")

    def fold():
        return streaming_materialized_distinct(
            engine.store_changes_stream(name, max_files_per_trigger=1),
            replica, name + "d", grp, val,
            state_dir=state_dir, checkpoint=ckpt, sink=sink, buckets=8,
        )

    engine.del_pred(name, Equals("v", "10"))        # a loses value 10
    engine.set(name, [([9.0, 0.0], {"t": "b", "v": "7"})])
    q1, _ = fold()
    q1.processAllAvailable()
    q1.stop()
    # mutations land while the fold is down
    engine.set(name, [([8.0, 0.0], {"t": "a", "v": "40"})])
    engine.del_pred(name, Equals("v", "20"))        # kills BOTH dups
    q2, drain2 = fold()
    q2.processAllAvailable()
    q2.stop()
    got = _rows_null_first(drain2())
    want = _rows_null_first(
        IVM.full_agg_distinct(replica, name + "d", grp, val))
    assert got == want and got
    assert ("a", 1, 1) in got                        # only v=40 remains
    gq = _rows_null_first(drain2(quantile=(1, 2)))
    wq = _rows_null_first(IVM.quantile_rollup(
        IVM.full_distinct_inner(replica, name + "d", grp, val), 1, 2))
    assert gq == wq
    if sink == "keyed":
        per_part = {
            t: sorted(((r["group"]["g"], r["group"]["v"]), r["n"])
                      for r in spark.read.parquet(
                          os.path.join(state_dir, t)).collect())
            for t in _keyed_parts(state_dir)
        }
        assert per_part == {
            "mviewk_p0": [(("a", 10), 0)],           # delete -> tombstone
            "mviewk_p1": [(("b", 7), 1)],
            "mviewk_p2": [(("a", 40), 1)],
            "mviewk_p3": [(("a", 20), 0)],           # both dups die
        }


def test_keyed_mview_refuses_bucket_count_change(spark, engine, tmp_path):
    """Restarting a keyed fold with a different buckets value is
    REFUSED on load: the persisted parts' _vb partition values were
    computed under the old mapping and merging them under a new one
    silently corrupts the view."""
    from ahnlich_spark.streaming.pipeline import streaming_materialized_agg

    replica, grp, measures = _keyed_fixture(spark, engine, "kvb")
    state_dir = str(tmp_path / "kvb_state")
    q, _ = streaming_materialized_agg(
        engine.store_changes_stream("kvb", max_files_per_trigger=1),
        replica, "kvbd", grp, measures,
        state_dir=state_dir, checkpoint=str(tmp_path / "kvb_ck1"),
        sink="keyed", buckets=8,
    )
    q.processAllAvailable()
    q.stop()
    with pytest.raises(ValueError, match="buckets=8"):
        streaming_materialized_agg(
            engine.store_changes_stream("kvb", max_files_per_trigger=1),
            replica, "kvbd", grp, measures,
            state_dir=state_dir, checkpoint=str(tmp_path / "kvb_ck2"),
            sink="keyed", buckets=4,
        )


def test_mjoin_generations_are_coords_named_and_never_reused(
    spark, engine, tmp_path
):
    """The join view's persisted generation is named by its fold
    coordinates: successive folds write DIFFERENT tables (the live
    pointer's table is never overwritten in place — the crash window a
    batch-id name reopens when a committed batch is redelivered after
    the stores advanced), and a from-scratch checkpoint restart with
    down-time mutations folds into yet another new generation."""
    import json as _json

    from ahnlich_spark.operators import ivm as IVM
    from ahnlich_spark.streaming.pipeline import (
        streaming_materialized_join,
    )

    engine.create_store("mjf", dimension=2, predicates=["k"])
    engine.set("mjf", [([0.1 * k, 0.0], {"k": str(k % 3)})
                       for k in range(1, 7)])
    engine.create_store("mjd", dimension=2, predicates=["k", "r"])
    engine.set("mjd", [([float(k), 0.0], {"k": str(k), "r": str(k % 2)})
                       for k in range(3)])
    ja, jb = F.col("a_meta")["k"]["s"], F.col("b_meta")["k"]["s"]
    grp = F.col("b_meta")["r"]["s"]
    meas = {"c10": (F.element_at("a_key", 1) * 10).cast("long")}
    state_dir = str(tmp_path / "mj_state")
    ptr = os.path.join(state_dir, "mjoin_state.json")

    def run(ck):
        feed = engine.store_changes_stream(
            "mjf", max_files_per_trigger=1
        ).unionByName(engine.store_changes_stream(
            "mjd", max_files_per_trigger=1))
        q, drain = streaming_materialized_join(
            feed, engine, "mjf", engine, "mjd", ja, jb, grp, meas,
            state_dir=state_dir, checkpoint=str(tmp_path / ck),
            from_a=(1, 0), from_b=(1, 0))
        q.processAllAvailable()
        q.stop()
        return drain()

    engine.set("mjf", [([0.9, 0.0], {"k": "0"})])
    run("ck1")
    t1 = _json.load(open(ptr))["table"]
    assert t1.startswith("mjoin_g")
    # mutations land while the fold is down; a FRESH checkpoint
    # redelivers everything from scratch (batch ids restart at 0)
    engine.set("mjd", [([2.0, 0.0], {"k": "2", "r": "7"})])
    got = run("ck2")
    t2 = _json.load(open(ptr))["table"]
    assert t2 != t1 and t2.startswith("mjoin_g")
    assert _rows_null_first(got) == _rows_null_first(
        IVM.full_join_agg(engine, "mjf", engine, "mjd",
                          ja, jb, grp, meas))


def test_keyed_mview_multi_compaction_lifecycle(
    spark, engine, tmp_path, monkeypatch
):
    """Drive the keyed AGG sink through AT LEAST TWO compaction cycles
    across kill-and-restart sessions, asserting after EVERY session
    that (a) on-disk mviewk_* dirs equal exactly the pointer's live
    tables (disk stays bounded — no leak survives any cycle), (b) the
    part-log length stays <= _COMPACT_PARTS + 1, and (c) drain()
    equals the from-scratch recompute. One compaction proving the GC
    once is not the same contract as the cadence holding forever; two
    cycles + per-cycle equality pins the steady state."""
    import json as _json

    from ahnlich_spark.operators import ivm as IVM
    from ahnlich_spark.streaming import pipeline as P

    monkeypatch.setattr(P, "_COMPACT_PARTS", 2)
    replica, grp, measures = _keyed_fixture(spark, engine, "kvm")
    state_dir = str(tmp_path / "kvm_state")

    def fold(ck):
        return P.streaming_materialized_agg(
            engine.store_changes_stream("kvm", max_files_per_trigger=1),
            replica, "kvmd", grp, measures,
            state_dir=state_dir, checkpoint=str(tmp_path / ck),
            sink="keyed", buckets=4,
        )

    c_parts_seen = set()
    for i in range(8):
        engine.set("kvm", [([float(i), 5.0], {"t": f"g{i % 3}"})])
        q, drain = fold("kvm_ckpt")
        q.processAllAvailable()
        q.stop()
        with open(os.path.join(state_dir, "mviewk_state.json")) as f:
            tables = _json.load(f)["tables"]
        on_disk = {d for d in os.listdir(state_dir)
                   if d.startswith("mviewk_")
                   and os.path.isdir(os.path.join(state_dir, d))}
        assert on_disk == set(tables), (i, on_disk, tables)
        assert len(tables) <= P._COMPACT_PARTS + 1, (i, tables)
        c_parts_seen |= {t for t in tables if t.startswith("mviewk_c")}
        got = _rows_null_first(drain())
        want = _rows_null_first(
            IVM.full_agg(replica, "kvmd", grp, measures))
        assert got == want, (i, got, want)
    # each compaction writes a NEW coordinate-named c-part; >= 2
    # distinct c-parts observed across sessions == >= 2 full cycles
    assert len(c_parts_seen) >= 2, c_parts_seen


def test_keyed_join_sink_multi_compaction_lifecycle(
    spark, engine, tmp_path, monkeypatch
):
    """Same two-full-compaction-cycle contract as the AGG-sink test,
    for the keyed JOIN sink (mjoink_): disk == pointer, bounded part
    log, drain == re-join recompute after every fold session."""
    import json as _json

    from ahnlich_spark.operators import ivm as IVM
    from ahnlich_spark.streaming import pipeline as P

    monkeypatch.setattr(P, "_COMPACT_PARTS", 2)
    engine.create_store("mca", dimension=2, predicates=["k"])
    engine.create_store("mcb", dimension=2, predicates=["k", "w"])
    engine.set("mca", [([1.0, 0.0], {"k": "p"})])
    engine.set("mcb", [([5.0, 0.0], {"k": "p", "w": "2"}),
                       ([6.0, 0.0], {"k": "q", "w": "3"})])
    ja, jb = F.col("a_meta")["k"]["s"], F.col("b_meta")["k"]["s"]
    grp = F.col("b_meta")["w"]["s"]
    state_dir = str(tmp_path / "mc_state")
    ckpt = str(tmp_path / "mc_ckpt")

    def fold():
        return P.streaming_materialized_join(
            engine.store_changes_stream("mca", max_files_per_trigger=1),
            engine, "mca", engine, "mcb", ja, jb, grp, {},
            state_dir=state_dir, checkpoint=ckpt,
            from_a=(1, 0), from_b=(1, 0), sink="keyed", buckets=4,
        )

    c_parts_seen = set()
    for i in range(8):
        engine.set("mca", [([float(i) + 2.0, 1.0],
                            {"k": "p" if i % 2 else "q"})])
        q, drain = fold()
        q.processAllAvailable()
        q.stop()
        with open(os.path.join(state_dir, "mjoink_state.json")) as f:
            tables = _json.load(f)["tables"]
        on_disk = {d for d in os.listdir(state_dir)
                   if d.startswith("mjoink_")
                   and os.path.isdir(os.path.join(state_dir, d))}
        assert on_disk == set(tables), (i, on_disk, tables)
        assert len(tables) <= P._COMPACT_PARTS + 1, (i, tables)
        c_parts_seen |= {t for t in tables if t.startswith("mjoink_c")}
        got = sorted(tuple(r) for r in drain().collect())
        want = sorted(tuple(r) for r in IVM.full_join_agg(
            engine, "mca", engine, "mcb", ja, jb, grp, {}).collect())
        assert got == want and got, (i, got, want)
    assert len(c_parts_seen) >= 2, c_parts_seen


def test_keyed_sink_refuses_lost_part_dir(
    spark, engine, tmp_path
):
    """A pointer whose listed part dir was removed by a partial state
    wipe refuses on LOAD with the same delete-and-re-seed guidance as
    the other corruption modes — not an opaque parquet PATH_NOT_FOUND
    deep inside the first scan."""
    import json as _json

    from ahnlich_spark.streaming import pipeline as P

    replica, grp, measures = _keyed_fixture(spark, engine, "kvl")
    state_dir = str(tmp_path / "kvl_state")

    def fold(ck):
        return P.streaming_materialized_agg(
            engine.store_changes_stream("kvl", max_files_per_trigger=1),
            replica, "kvld", grp, measures,
            state_dir=state_dir, checkpoint=str(tmp_path / ck),
            sink="keyed", buckets=4,
        )

    engine.set("kvl", [([4.0, 4.0], {"t": "x"})])
    q, _ = fold("ck1")
    q.processAllAvailable()
    q.stop()
    with open(os.path.join(state_dir, "mviewk_state.json")) as f:
        tables = _json.load(f)["tables"]
    assert tables
    shutil.rmtree(os.path.join(state_dir, tables[0]))
    with pytest.raises(ValueError, match="no longer exist.*re-seed"):
        fold("ck2")


def test_rebucket_keyed_mview(spark, engine, tmp_path):
    """The offline bucket-migration door of the keyed AGG sink: fold at
    buckets=4, stop, rebucket to 8 — the restart that was REFUSED under
    the mismatch guard now loads, keeps folding, and drains equal to
    the recompute; the old parts are GC'd (disk == pointer) and a
    restart under the OLD count is now the one refused."""
    import json as _json

    from ahnlich_spark.operators import ivm as IVM
    from ahnlich_spark.streaming import pipeline as P

    replica, grp, measures = _keyed_fixture(spark, engine, "kvb")
    state_dir = str(tmp_path / "kvb_state")

    def fold(ck, buckets):
        return P.streaming_materialized_agg(
            engine.store_changes_stream("kvb", max_files_per_trigger=1),
            replica, "kvbd", grp, measures,
            state_dir=state_dir, checkpoint=str(tmp_path / ck),
            sink="keyed", buckets=buckets,
        )

    engine.set("kvb", [([4.0, 4.0], {"t": "x"})])
    q, _ = fold("ck1", 4)
    q.processAllAvailable()
    q.stop()
    with pytest.raises(ValueError, match="buckets=4.*buckets=8"):
        fold("ck2", 8)
    info = P.rebucket_keyed_state(spark, state_dir, 8)
    assert info == {"prefix": "mviewk_", "old_buckets": 4,
                    "new_buckets": 8, "table": "mviewk_rb4to8"}
    with open(os.path.join(state_dir, "mviewk_state.json")) as f:
        p = _json.load(f)
    assert p["tables"] == ["mviewk_rb4to8"]
    assert p["extra"]["buckets"] == 8 and p["extra"]["coords"]
    on_disk = {d for d in os.listdir(state_dir)
               if d.startswith("mviewk_")
               and os.path.isdir(os.path.join(state_dir, d))}
    assert on_disk == {"mviewk_rb4to8"}
    # every _vb on disk obeys the NEW mapping (pmod(xxhash64, 8))
    part = spark.read.parquet(os.path.join(state_dir, "mviewk_rb4to8"))
    bad = part.filter(
        F.col("_vb") != F.pmod(F.xxhash64("group"), F.lit(8)).cast("int")
    ).count()
    assert bad == 0
    # the restarted fold resumes from the carried coordinates
    engine.set("kvb", [([5.0, 5.0], {"t": "y"})])
    q2, drain2 = fold("ck3", 8)
    q2.processAllAvailable()
    q2.stop()
    got = _rows_null_first(drain2())
    want = _rows_null_first(IVM.full_agg(replica, "kvbd", grp, measures))
    assert got == want and ("y", 1, 500) in got
    with pytest.raises(ValueError, match="buckets=8.*buckets=4"):
        fold("ck4", 4)


def test_rebucket_keyed_join_sink(spark, engine, tmp_path):
    """Same migration contract for the keyed JOIN sink (mjoink_):
    pointer coords_a/coords_b ride through the rebucket untouched, the
    restarted doorbell fold catches up from them, and drain equals the
    re-join recompute."""
    import json as _json

    from ahnlich_spark.operators import ivm as IVM
    from ahnlich_spark.streaming import pipeline as P

    engine.create_store("rba", dimension=2, predicates=["k"])
    engine.create_store("rbb", dimension=2, predicates=["k", "w"])
    engine.set("rba", [([1.0, 0.0], {"k": "p"})])
    engine.set("rbb", [([5.0, 0.0], {"k": "p", "w": "2"}),
                       ([6.0, 0.0], {"k": "q", "w": "3"})])
    ja, jb = F.col("a_meta")["k"]["s"], F.col("b_meta")["k"]["s"]
    grp = F.col("b_meta")["w"]["s"]
    state_dir = str(tmp_path / "rb_state")

    def fold(ck, buckets):
        # from_a/from_b seed the fold only when no pointer exists yet;
        # restarts resume from the pointer's carried coordinates
        return P.streaming_materialized_join(
            engine.store_changes_stream("rba", max_files_per_trigger=1),
            engine, "rba", engine, "rbb", ja, jb, grp, {},
            state_dir=state_dir, checkpoint=str(tmp_path / ck),
            from_a=(1, 0), from_b=(1, 0), sink="keyed", buckets=buckets,
        )

    engine.set("rba", [([2.0, 1.0], {"k": "q"})])
    q, _ = fold("ck1", 4)
    q.processAllAvailable()
    q.stop()
    with pytest.raises(ValueError, match="buckets=4.*buckets=8"):
        fold("ck2", 8)
    with open(os.path.join(state_dir, "mjoink_state.json")) as f:
        before = _json.load(f)
    info = P.rebucket_keyed_state(spark, state_dir, 8)
    assert info["table"] == "mjoink_rb4to8"
    with open(os.path.join(state_dir, "mjoink_state.json")) as f:
        p = _json.load(f)
    assert p["buckets"] == 8 and p["tables"] == ["mjoink_rb4to8"]
    assert p["coords_a"] == before["coords_a"]
    assert p["coords_b"] == before["coords_b"]
    # dim-side mutation while stopped; the restarted fold catches up
    engine.set("rbb", [([7.0, 0.0], {"k": "q", "w": "9"})])
    q2, drain2 = fold("ck3", 8)
    q2.processAllAvailable()
    q2.stop()
    got = sorted(tuple(r) for r in drain2().collect())
    want = sorted(tuple(r) for r in IVM.full_join_agg(
        engine, "rba", engine, "rbb", ja, jb, grp, {}).collect())
    assert got == want and got


def test_rebucket_noop_and_errors(spark, engine, tmp_path):
    """Rebucket edge doors: same-count is a pointer-untouched no-op,
    bad counts and a dir with no keyed pointer refuse loudly, and an
    all-empty (zero-row) state refuses toward re-seed (cheaper than a
    migration that cannot even infer a schema)."""
    import json as _json

    from ahnlich_spark.streaming import pipeline as P

    with pytest.raises(ValueError, match="positive int"):
        P.rebucket_keyed_state(spark, str(tmp_path), 0)
    empty = tmp_path / "not_a_state"
    empty.mkdir()
    with pytest.raises(ValueError, match="exactly one keyed sink"):
        P.rebucket_keyed_state(spark, str(empty), 8)

    replica, grp, measures = _keyed_fixture(spark, engine, "kvn")
    state_dir = str(tmp_path / "kvn_state")
    engine.set("kvn", [([4.0, 4.0], {"t": "x"})])
    q, _ = P.streaming_materialized_agg(
        engine.store_changes_stream("kvn", max_files_per_trigger=1),
        replica, "kvnd", grp, measures,
        state_dir=state_dir, checkpoint=str(tmp_path / "kvn_ckpt"),
        sink="keyed", buckets=4,
    )
    q.processAllAvailable()
    q.stop()
    with open(os.path.join(state_dir, "mviewk_state.json")) as f:
        before = f.read()
    info = P.rebucket_keyed_state(spark, state_dir, 4)
    assert info["table"] is None
    with open(os.path.join(state_dir, "mviewk_state.json")) as f:
        assert f.read() == before


def test_rebucket_struct_group_pair_state(spark, engine, tmp_path):
    """Rebucket over a STRUCT-group part log (the distinct/quantile
    pair-multiset sinks bucket pmod(xxhash64(struct(g, v)), buckets)):
    the migration's recomputed _vb must reproduce the sinks' own
    struct-hash mapping, and the restarted fold's distinct AND quantile
    rollups must equal the recompute."""
    from ahnlich_spark.operators import ivm as IVM
    from ahnlich_spark.streaming import pipeline as P

    engine.create_store("rbs", dimension=2, predicates=["t", "v"])
    engine.set("rbs", [
        ([1.0, 0.0], {"t": "a", "v": "10"}),
        ([2.0, 0.0], {"t": "a", "v": "20"}),
        ([3.0, 0.0], {"t": "b", "v": "5"}),
    ])
    import tempfile as tf

    from ahnlich_spark import Engine

    replica = Engine(spark, tf.mkdtemp(prefix="ahnlich_rbs_wh_"))
    replica.create_store("rbsd", dimension=2)
    replica.set("rbsd", engine.store_df("rbs", version=1, segments=0)
                .select("key", "meta"))
    grp = F.col("meta")["t"]["s"]
    val = F.col("meta")["v"]["s"].cast("long")
    state_dir = str(tmp_path / "rbs_state")

    def fold(ck, buckets):
        return P.streaming_materialized_distinct(
            engine.store_changes_stream("rbs", max_files_per_trigger=1),
            replica, "rbsd", grp, val,
            state_dir=state_dir, checkpoint=str(tmp_path / ck),
            sink="keyed", buckets=buckets,
        )

    engine.set("rbs", [([4.0, 0.0], {"t": "b", "v": "7"})])
    q, _ = fold("ck1", 4)
    q.processAllAvailable()
    q.stop()
    info = P.rebucket_keyed_state(spark, state_dir, 8)
    assert info["table"] == "mviewk_rb4to8"
    part = spark.read.parquet(os.path.join(state_dir, "mviewk_rb4to8"))
    bad = part.filter(
        F.col("_vb") != F.pmod(F.xxhash64("group"), F.lit(8)).cast("int")
    ).count()
    assert bad == 0 and part.count() > 0
    engine.set("rbs", [([5.0, 0.0], {"t": "a", "v": "30"})])
    q2, drain2 = fold("ck2", 8)
    q2.processAllAvailable()
    q2.stop()
    got = _rows_null_first(drain2())
    want = _rows_null_first(
        IVM.full_agg_distinct(replica, "rbsd", grp, val))
    assert got == want and got
    gq = _rows_null_first(drain2(quantile=(1, 2)))
    wq = _rows_null_first(IVM.quantile_rollup(
        IVM.full_distinct_inner(replica, "rbsd", grp, val), 1, 2))
    assert gq == wq


def test_rebucket_refuses_concurrent_fold(
    spark, engine, tmp_path, monkeypatch
):
    """The stopped-fold guard: a pointer that advances while rebucket
    is merging (a fold still running against the state_dir) refuses
    BEFORE the swap — swapping a stale pointer over the live fold's
    commit would GC parts its in-memory state still lists and brick
    the state at the next restart."""
    import json as _json

    from ahnlich_spark.streaming import pipeline as P

    replica, grp, measures = _keyed_fixture(spark, engine, "kvz")
    state_dir = str(tmp_path / "kvz_state")
    engine.set("kvz", [([4.0, 4.0], {"t": "x"})])
    q, _ = P.streaming_materialized_agg(
        engine.store_changes_stream("kvz", max_files_per_trigger=1),
        replica, "kvzd", grp, measures,
        state_dir=state_dir, checkpoint=str(tmp_path / "kvz_ckpt"),
        sink="keyed", buckets=4,
    )
    q.processAllAvailable()
    q.stop()
    ptr_path = os.path.join(state_dir, "mviewk_state.json")

    real_writer = P._keyed_part_writer

    def racing_writer(sp, sd, schema):
        write = real_writer(sp, sd, schema)

        def wrapped(df, table):
            out = write(df, table)
            # simulate a live fold committing mid-merge
            with open(ptr_path) as f:
                ptr = _json.load(f)
            ptr["batch_id"] = int(ptr["batch_id"]) + 1
            P._atomic_write_json(ptr_path, ptr)
            return out

        return wrapped

    monkeypatch.setattr(P, "_keyed_part_writer", racing_writer)
    with pytest.raises(ValueError, match="advanced while rebucket"):
        P.rebucket_keyed_state(spark, state_dir, 8)
    monkeypatch.undo()
    # the aborted migration left the advanced pointer untouched and its
    # rb part as an orphan the next load sweeps; a retry (fold stopped
    # for real now) succeeds
    with open(ptr_path) as f:
        assert _json.load(f)["extra"]["buckets"] == 4
    info = P.rebucket_keyed_state(spark, state_dir, 8)
    assert info["table"] == "mviewk_rb4to8"


# ------------------------------------------- per-trigger job-count pins --
#
# Spark jobs each trigger of a persisted fold runs, over a 3-file source
# delivered one file per trigger (maxFilesPerTrigger=1, state_dir set).
# Job counts do not drift with the host the way wall time does, so these
# pins show that a change to the fold code left each trigger's plans
# as they were.

_FOLD_JOBS_PER_TRIGGER = {
    "kmv": [4, 7, 7],
    "hll": [2, 3, 3],
    "hist": [2, 3, 3],
    "cms": [2, 3, 3],
    "drift": [2, 3, 3],
    "mview_snapshot": [16, 19, 19],
    "mview_keyed": [17, 22, 22],
    "mjoin_keyed": [17, 20, 19],
}


def _jobs_per_trigger(spark, q, steps):
    """Run each step (it lands exactly one source file, so it wakes
    exactly one trigger), drain the query, and count the new Spark jobs
    in the query's job group — foreachBatch jobs run under the query's
    runId group. The status store is filled from the listener bus
    asynchronously, so the bus is drained before every read."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = str(q.runId)
    seen = set(tracker.getJobIdsForGroup(group))
    counts = []
    for step in steps:
        step()
        q.processAllAvailable()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids = set(tracker.getJobIdsForGroup(group))
        counts.append(len(ids - seen))
        seen |= ids
    return counts


def _sketch_fold_query(spark, tmp_path, fold):
    from ahnlich_spark.streaming import pipeline as P

    state_dir = str(tmp_path / "state")
    if fold == "drift":
        schema = "embedding array<float>"
        df = spark.createDataFrame(
            [([float(i % 7), float(i % 5), -float(i % 3)],)
             for i in range(90)], schema,
        )
        parts = [df.filter(F.abs(F.xxhash64("embedding")) % 3 == i)
                 for i in range(3)]
        baseline = spark.createDataFrame(
            [(d, 0) for d in range(3)], "dim long, mean_e9 long")
    else:
        schema = "g string, v string, x long"
        df = spark.createDataFrame(
            [(f"g{i % 2}", f"v-{i % 400}", (i * 13) % 1000)
             for i in range(1200)], schema,
        )
        parts = [df.filter(F.abs(F.xxhash64("v", "x")) % 3 == i)
                 for i in range(3)]
    watch, add_file = _ordered_files(tmp_path, spark, [], schema)
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(watch))
    start = {
        "kmv": lambda: P.streaming_kmv_distinct(
            stream, ["g"], "v", k=32, state_dir=state_dir),
        "hll": lambda: P.streaming_hll_distinct(
            stream, ["g"], "v", m=128, state_dir=state_dir),
        "hist": lambda: P.streaming_histogram_quantiles(
            stream, ["g"], "x", 50, [0.5, 0.9], state_dir=state_dir),
        "cms": lambda: P.streaming_cms_counts(
            stream, [], "v", depth=4, width=32, state_dir=state_dir),
        "drift": lambda: P.streaming_embedding_drift(
            stream, baseline, state_dir=state_dir),
    }[fold]
    steps = [lambda p=p: add_file(p) for p in parts]
    return start()[0], steps


def _view_fold_query(spark, engine, tmp_path, fold):
    from ahnlich_spark.operators.predicates import Equals
    from ahnlich_spark.streaming import pipeline as P

    state_dir = str(tmp_path / "state")
    if fold == "mjoin_keyed":
        engine.create_store("jpa", dimension=2, predicates=["k"])
        engine.create_store("jpb", dimension=2, predicates=["k", "w"])
        engine.set("jpa", [([1.0, 0.0], {"k": "p"}),
                           ([0.0, 1.0], {"k": "q"})])
        engine.set("jpb", [([5.0, 0.0], {"k": "p", "w": "2"}),
                           ([6.0, 0.0], {"k": "q", "w": "3"})])
        feed = engine.store_changes_stream(
            "jpa", max_files_per_trigger=1
        ).unionByName(
            engine.store_changes_stream("jpb", max_files_per_trigger=1))
        q, _ = P.streaming_materialized_join(
            feed, engine, "jpa", engine, "jpb",
            F.col("a_meta")["k"]["s"], F.col("b_meta")["k"]["s"],
            F.col("b_meta")["w"]["s"],
            {"s_e2": (F.element_at("a_key", 1) * 100).cast("long")},
            state_dir=state_dir, sink="keyed", buckets=8,
        )
        steps = [
            lambda: engine.set("jpa", [([0.0, 1.0], {"k": "p"})]),
            lambda: engine.set("jpb", [([5.0, 0.0], {"k": "p", "w": "9"})]),
            lambda: engine.del_pred("jpb", Equals("k", "q")),
        ]
        return q, steps
    name = "jp" + fold.split("_")[1][0]
    replica, grp, measures = _keyed_fixture(spark, engine, name)
    q, _ = P.streaming_materialized_agg(
        engine.store_changes_stream(name, max_files_per_trigger=1),
        replica, name + "d", grp, measures, state_dir=state_dir,
        sink=fold.split("_")[1], buckets=8,
    )
    steps = [
        lambda: engine.set(name, [([5.0, 5.0], {"t": "d"})]),
        lambda: engine.set(name, [([0.0, 1.0], {"t": "c"})]),
        lambda: engine.del_pred(name, Equals("t", "a")),
    ]
    return q, steps


@pytest.mark.parametrize("fold", sorted(_FOLD_JOBS_PER_TRIGGER))
def test_fold_jobs_per_trigger_pinned(spark, engine, tmp_path, fold):
    """Per-trigger Spark job counts of every persisted sketch fold and
    view sink are pinned: the fold skeletons are shared code, and a
    change to them that adds a pass (or moves the observed replay
    stats off the fold's own job) shows here as a count change."""
    if fold in ("kmv", "hll", "hist", "cms", "drift"):
        q, steps = _sketch_fold_query(spark, tmp_path, fold)
    else:
        q, steps = _view_fold_query(spark, engine, tmp_path, fold)
    try:
        counts = _jobs_per_trigger(spark, q, steps)
    finally:
        q.stop()
    assert counts == _FOLD_JOBS_PER_TRIGGER[fold], counts
