"""Streaming faces of the batch pipeline operators.

Every transformation here is a plain DataFrame->DataFrame function that
works on BOTH a batch frame and a streaming frame — the batch entry
queries and the streaming tests call the same code. That is the core
design rule for the 100 TB pipeline: one declarative plan, two sources.

- ``hourly_rollup``    — tumbling-window count/sum per event_type with a
                         watermark for late data (the streaming face of
                         entry_queries.events_hourly_rollup).
- ``streaming_exact_dedup`` — watermarked dropDuplicates on the content
                         fingerprint: exactly-once emission of first
                         occurrences, state bounded by the watermark.
- ``streaming_set_ingest``  — foreachBatch bridge: micro-batches of
                         (key, meta) rows upserted into an engine store
                         via Engine.set, giving the vector store a live
                         ingest path the reference serves over gRPC.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile as _tempfile
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ahnlich_spark.functions import local_rows_df, nullable_schema
from ahnlich_spark.functions import text as X


# ------------------------------------------------ fold-state persistence --
#
# The folds below keep running state across micro-batches — a
# DataFrame for the sketch folds and view sinks, a Python counter for
# heavy hitters — that a driver restart would lose. ``state_dir`` makes
# them checkpoint-safe with the standard foreachBatch transactional
# recipe: after folding batch N the state is written ATOMICALLY keyed
# by batch_id, and a re-delivered batch with id <= the last persisted
# id is SKIPPED (its rows are already in the state) — fold+persist is
# the transaction, replay is idempotent, so the recovered answer equals
# the uninterrupted run whether the stream restarts from a Spark
# checkpoint (ids continue, last uncommitted batch replays) or re-reads
# an ordered file source from scratch (ids restart at 0 and the
# committed prefix replays).
#
# Two skeletons carry the recipe, so each fold states only what
# differs: ``_persisted_fold`` runs the DataFrame sketch folds (KMV,
# HLL, histogram, CMS, embedding drift) over a ``_DfStatePersist``, and
# ``_KeyedPartLog`` is the keyed view sinks' part log. The two
# observe-metric hazards are handled in ``_persisted_fold``: it builds
# the union with the batch frame as receiver itself, and it hands the
# observed ledger stats only to ``_DfStatePersist.save``, which reads
# them after its write has fully materialized the fold.


def _atomic_write_json(path: str, obj: dict) -> None:
    # flush + fsync BEFORE the rename: os.replace is atomic against
    # concurrent readers, but without the fsync an OS crash can leave
    # the renamed file empty/truncated and brick recovery
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    fd, tmp = _tempfile.mkstemp(dir=d, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        dfd = os.open(d, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def _read_json(path: str) -> Optional[dict]:
    if not os.path.exists(path):
        return None
    with open(path) as f:
        try:
            return json.load(f)
        except json.JSONDecodeError as e:
            raise ValueError(
                f"fold state pointer {path} is corrupt ({e}); delete the "
                f"state_dir and re-seed the fold (re-run from the source, "
                f"or warm-start from a drained state) instead of reusing it"
            ) from e


def _unusable_pointer(label: str, state_dir: str, what: str) -> ValueError:
    """The error every fold raises for a pointer that parsed but cannot
    be trusted: folding on from state of unknown provenance would
    corrupt the answer silently, so the only recovery is a re-seed."""
    return ValueError(
        f"{label} fold state in {state_dir} has {what} — tampered, "
        f"truncated, or written by a different fold; delete the "
        f"state_dir and re-seed the fold instead of reusing it"
    )


def _require_pointer_keys(p: dict, keys, label: str, state_dir: str) -> None:
    """Refuse a pointer that lost a field its load reads, with the
    re-seed error instead of a bare KeyError."""
    missing = [k for k in keys if k not in p]
    if missing:
        raise _unusable_pointer(label, state_dir,
                                f"a pointer without {missing}")


def _pointer_coords(label: str, state_dir: str, what: str, *pairs):
    """The (version, segments) fold coordinates a view pointer records,
    as int pairs; ``what`` names the pointer keys for the error."""
    if not all(isinstance(c, (list, tuple)) and len(c) == 2 for c in pairs):
        raise _unusable_pointer(
            label, state_dir,
            f"no usable fold coordinates (pointer {what} missing or "
            f"malformed)",
        )
    return [(int(c[0]), int(c[1])) for c in pairs]


def _store_coords(engine, store: str, schema: str):
    """A store's committed (base version, delta segment count) — the
    coordinates a view fold catches up to."""
    m = engine.catalog.get_store(store, schema)
    return (m.version, m.deltas)


def _stats_exprs(df: DataFrame):
    """The replay ledger's (row count, order-insensitive content
    fingerprint) as aggregate expressions: sum of xxhash64 over all
    columns (sorted by name so the value is independent of projection
    order; MAP columns are canonicalized to key-sorted entry arrays
    first — Spark refuses to hash maps because their internal entry
    order is not stable). Two batches with equal (count, fingerprint)
    carry the same multiset of rows up to hash collision — the replay
    guard compares both."""
    cols = [
        F.array_sort(F.map_entries(F.col(c)))
        if isinstance(df.schema[c].dataType, T.MapType) else F.col(c)
        for c in sorted(df.columns)
    ]
    return [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("fp"),
    ]


def _batch_stats(df: DataFrame):
    """(row count, content fingerprint) of a batch in ONE narrow
    aggregate job — the REPLAY-path form, where the batch is about to
    be skipped and no fold job will scan it. New batches ride
    ``_observed_stats`` instead so the fold's own job computes the
    same numbers for free."""
    row = df.select(*_stats_exprs(df)).collect()[0]
    return int(row["n"]), int(row["fp"])


def _observed_stats(df: DataFrame):
    """Attach the replay-ledger stats to ``df`` as observe metrics
    (CollectMetrics): the trigger's OWN fold/apply/write job computes
    them as a side effect, deleting the separate ``_batch_stats``
    aggregation job every persisted fold used to pay per trigger
    (guide §1.2: fewer passes). Returns ``(observed_df, getter)``;
    call the getter only AFTER an action has fully materialized a plan
    containing ``observed_df`` (every row must have flowed through the
    node — never after a limit/isEmpty-style partial action)."""
    from pyspark.sql import Observation

    obs = Observation()
    observed = df.observe(obs, *_stats_exprs(df))

    def got():
        row = obs.get
        return int(row["n"]), int(row["fp"])

    return observed, got


def _bucket_col(col, buckets: int):
    """The keyed sinks' partition column: pmod(xxhash64(group), buckets)
    — deterministic, NULL-safe (xxhash64(NULL) is a constant), and the
    same mapping on write and read so partition pruning is exact."""
    return F.pmod(F.xxhash64(col), F.lit(buckets)).cast("int")


def _keep_last_merged(parts, touched=None) -> DataFrame:
    """Keep-last per group over an ORDERED part log (later part wins) —
    the read side every keyed sink shares. The bucket filter lands
    BELOW the union so each part's parquet scan is partition-pruned to
    the touched buckets."""
    from functools import reduce

    from pyspark.sql.window import Window

    ordered = [
        df.withColumn("_ord", F.lit(i)) for i, df in enumerate(parts)
    ]
    u = reduce(lambda x, y: x.unionByName(y), ordered)
    if touched is not None:
        u = u.filter(F.col("_vb").isin(touched))
    w = Window.partitionBy("group").orderBy(F.desc("_ord"))
    return (
        u.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1).drop("_rn", "_ord")
    )


def _keyed_part_writer(spark, state_dir: str, view_schema):
    """Overwrite-mode bucketed part write + schema-pinned read-back,
    shared by the keyed sinks (an EMPTY partitioned part is legal —
    e.g. an empty replica's seed — and has no files to infer a schema
    from, so reads carry the schema explicitly)."""
    view_schema = nullable_schema(view_schema)

    def write(df: DataFrame, table: str) -> DataFrame:
        path = os.path.join(state_dir, table)
        df.write.mode("overwrite").partitionBy("_vb").parquet(path)
        return spark.read.schema(view_schema).parquet(path)
    return write


def _load_keyed_part_log(spark, state_dir: str, ptr: dict, prefix: str,
                         view_schema, buckets: int, saved_buckets,
                         label: str):
    """Shared pointer-restore path of the keyed sinks: refuse a
    bucket-count change, validate the live part list (a truncated
    pointer that kept its coordinates but lost 'tables' must give the
    same re-seed guidance as bad coordinates, not a bare KeyError),
    load the parts schema-pinned, and sweep orphaned ``<prefix>*`` part
    dirs — parts written by a trigger that crashed before its pointer
    swap, or dropped by compaction right before a crash: unreferenced,
    safe to drop, rewritten on replay. Returns (tables, parts)."""
    if saved_buckets is not None and int(saved_buckets) != buckets:
        raise ValueError(
            f"keyed {label} state in {state_dir} was written with "
            f"buckets={saved_buckets} but this fold was started "
            f"with buckets={buckets} — the persisted parts' _vb "
            f"partition values would mismatch the new bucket "
            f"mapping and silently corrupt the view; restart with "
            f"buckets={saved_buckets} or delete the state_dir and "
            f"re-seed"
        )
    tables = ptr.get("tables")
    if not (isinstance(tables, list)
            and all(isinstance(t, str) for t in tables)):
        raise _unusable_pointer(
            f"keyed {label}", state_dir,
            "no usable part list (pointer 'tables' missing or malformed)",
        )
    tables = list(tables)
    lost = [t for t in tables
            if not os.path.isdir(os.path.join(state_dir, t))]
    if lost:
        # a pointer that references part dirs a partial state wipe
        # removed must fail here with the same re-seed guidance as the
        # other corruption modes, not as an opaque parquet
        # PATH_NOT_FOUND at first scan
        raise ValueError(
            f"keyed {label} state in {state_dir} references part dirs "
            f"that no longer exist ({sorted(lost)}) — the state dir "
            f"was partially wiped out from under its pointer; delete "
            f"the state_dir and re-seed the view instead of reusing it"
        )
    view_schema = nullable_schema(view_schema)
    parts = [
        spark.read.schema(view_schema).parquet(os.path.join(state_dir, t))
        for t in tables
    ]
    live = set(tables)
    for d in os.listdir(state_dir):
        path = os.path.join(state_dir, d)
        if d.startswith(prefix) and d not in live and os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
    return tables, parts


def _commit_keyed_pointer(ptr_path: str, state_dir: str, payload: dict,
                          extra_dead=()) -> None:
    """Atomic pointer swap, then GC every part dir no longer
    referenced: parts dropped by compaction (old pointer's tables minus
    the new list) AND same-trigger parts superseded before they ever
    reached a pointer (``extra_dead`` — the p-part a compaction
    replaced within its own trigger, invisible to the old-minus-new
    diff, which would otherwise leak one dir per compaction for the
    life of the process)."""
    old = _read_json(ptr_path)
    _atomic_write_json(ptr_path, payload)
    dead = set(extra_dead)
    if old is not None:
        dead |= set(old.get("tables", []))
    dead -= set(payload["tables"])
    for t in dead:
        shutil.rmtree(os.path.join(state_dir, t), ignore_errors=True)


class _KeyedPartLog:
    """The view store both keyed sinks share: a LOG of
    bucket-partitioned parquet delta parts under ``state_dir``, merged
    keep-last per group on read — the same base+delta shape the engine
    itself uses for store segments:

    - ``<prefix>seed``: the one-time full aggregate at fold start (the
      only O(groups) write the fold ever performs);
    - ``<prefix>p<tag>``: per trigger, EXACTLY the groups that
      trigger's delta touched, at their new folded values — a group
      whose count reaches zero is written as an n==0 tombstone that
      keep-last resolves and ``drain`` filters;
    - ``<prefix>c<tag>``: compaction — past ``_COMPACT_PARTS`` live
      parts the merged view is rewritten as one part (amortized
      O(groups / _COMPACT_PARTS) per trigger) so the union plan and the
      tombstone debt stay bounded.

    Every part is written ``partitionBy("_vb")`` where ``_vb =
    pmod(xxhash64(group), buckets)``, so the per-trigger read of
    current group values is PRUNED to the touched buckets (partition
    pruning pushes through the union) and then cut to exactly the
    delta's groups by a broadcast null-safe semi-join — per-trigger
    cost is O(changes + touched-bucket rows), independent of the
    view's total group count.

    Crash safety: parts are written with overwrite under a tag the
    sink picks so that a replayed crashed trigger rewrites only its own
    orphan; the pointer ``<prefix>state.json`` (live part list + the
    sink's own fields) swaps atomically after the part lands; orphaned
    ``<prefix>*`` dirs are swept on load; parts dropped by compaction
    are GC'd only after the new pointer is live; a bucket-count change
    is REFUSED on load.

    ``view`` is the unbucketed (group, n, measures...) seed plan; only
    its schema is analysed (no job runs). Parts are read with it
    explicitly because an empty partitioned part (legal: an empty
    replica's seed) has no files to infer a schema from."""

    def __init__(self, spark, state_dir: str, prefix: str, label: str,
                 view: DataFrame, buckets: int, names):
        self.spark = spark
        self.dir = state_dir
        self.prefix = prefix
        self.label = label
        self.buckets = buckets
        self.names = list(names)
        self.ptr = os.path.join(state_dir, f"{prefix}state.json")
        self.view_schema = self._bucketed(view).schema
        self._write = _keyed_part_writer(spark, state_dir, self.view_schema)
        self.parts: list = []
        self.tables: list = []

    def _bucketed(self, df: DataFrame) -> DataFrame:
        return df.withColumn("_vb", _bucket_col(F.col("group"), self.buckets))

    def _append(self, df: DataFrame, table: str) -> None:
        self.parts.append(self._write(self._bucketed(df), table))
        self.tables.append(table)

    def load(self, ptr: dict, saved_buckets) -> None:
        self.tables, self.parts = _load_keyed_part_log(
            self.spark, self.dir, ptr, self.prefix, self.view_schema,
            self.buckets, saved_buckets, self.label,
        )

    def seed(self, seed: DataFrame, fields: dict) -> None:
        self._append(seed, f"{self.prefix}seed")
        # a pointer referencing the seed makes the seed scan a one-time
        # cost even across a crash before the first trigger commits
        self.commit(-1, fields)

    def fold(self, delta: DataFrame, tag: str) -> None:
        from pyspark.sql import Observation

        from ahnlich_spark.operators import ivm as IVM

        # the localCheckpoint that pins the delta for its three
        # consumers ALSO collects the touched buckets (observe metrics
        # fire on the checkpoint job) — no separate distinct-collect
        # job (guide §1.2)
        obs = Observation()
        delta = self._bucketed(delta).observe(
            obs, F.collect_set(F.col("_vb")).alias("vbs")
        ).localCheckpoint()
        touched = list(obs.get["vbs"])
        if not touched:
            return
        cur = (
            _keep_last_merged(self.parts, touched=touched).alias("c")
            .join(
                F.broadcast(delta.select("group").alias("k")),
                F.col("c.group").eqNullSafe(F.col("k.group")),
                "left_semi",
            )
            .drop("_vb")
        )
        self._append(IVM.apply_agg_delta(
            cur, delta.drop("_vb"), self.names, keep_zero=True
        ), f"{self.prefix}p{tag}")

    def compact(self, tag: str):
        """Compact past ``_COMPACT_PARTS`` live parts; returns the
        superseded tables for ``commit``'s ``extra_dead`` — the p-part
        appended THIS trigger has never been in a pointer, so the
        commit's old-minus-new diff alone would leak its dir forever."""
        if len(self.parts) <= _COMPACT_PARTS:
            return ()
        pre = set(self.tables)
        table = f"{self.prefix}c{tag}"
        compacted = _keep_last_merged(self.parts).filter(F.col("n") > 0)
        self.parts = [self._write(compacted, table)]
        self.tables = [table]
        return pre - {table}

    def commit(self, batch_id: int, fields: dict, extra_dead=()) -> None:
        _commit_keyed_pointer(self.ptr, self.dir, {
            "batch_id": batch_id, "tables": list(self.tables), **fields,
        }, extra_dead=extra_dead)

    def drain(self) -> DataFrame:
        return (_keep_last_merged(self.parts)
                .filter(F.col("n") > 0).drop("_vb"))


def rebucket_keyed_state(spark, state_dir: str, new_buckets: int) -> dict:
    """Offline bucket-count migration for a keyed part-log sink
    (``mviewk_`` / ``mjoink_``) — the door out of the load-time
    bucket-mismatch refusal without re-seeding from scratch.

    A keyed view that outgrows its bucket count (too few buckets →
    partition pruning stops cutting the per-trigger read) could
    previously only be rebuilt from a full re-seed, because the
    persisted parts' ``_vb`` values are bound to the old
    ``pmod(xxhash64(group), buckets)`` mapping and a restart with a
    different count is refused on load. This utility is ONE
    compaction-shaped job run while the fold is STOPPED: read the part
    log keep-last-merged (dropping n==0 tombstone debt, exactly like a
    compaction), recompute ``_vb`` under ``new_buckets``, write one new
    part, and swap the pointer with only ``tables`` and the bucket
    count changed — fold coordinates, batch id, and the replay ledger
    ride through untouched, so the restarted fold resumes from the
    exact state it stopped at. Crash windows match the sinks' own: a
    crash after the part write but before the pointer swap leaves an
    orphan ``<prefix>*`` dir the next load sweeps; the old parts are
    GC'd only after the new pointer is live.

    Returns ``{"prefix", "old_buckets", "new_buckets", "table"}``;
    a no-op (same count) returns with ``table=None`` and writes
    nothing."""
    if not (isinstance(new_buckets, int) and new_buckets > 0):
        raise ValueError(f"new_buckets must be a positive int, "
                         f"got {new_buckets!r}")
    found = [
        (n, pref, lbl) for n, pref, lbl in (
            ("mviewk_state.json", "mviewk_", "mview"),
            ("mjoink_state.json", "mjoink_", "mjoin"),
        ) if os.path.isfile(os.path.join(state_dir, n))
    ]
    if len(found) != 1:
        raise ValueError(
            f"{state_dir} does not hold exactly one keyed sink state "
            f"(found pointers: {[n for n, _, _ in found]}) — rebucket "
            f"operates on a single stopped keyed fold's state_dir"
        )
    ptr_name, prefix, label = found[0]
    ptr_path = os.path.join(state_dir, ptr_name)
    p = _read_json(ptr_path)
    if p is None:
        # isfile() just held, so None means the pointer vanished
        # between the check and the read — something else is mutating
        # this state_dir right now
        raise ValueError(
            f"keyed {label} pointer in {state_dir} disappeared while "
            f"rebucket was reading it — a fold or wipe is acting on "
            f"this state_dir concurrently; stop it and retry"
        )
    old = (p.get("extra") or {}).get("buckets") \
        if prefix == "mviewk_" else p.get("buckets")
    if old is None:
        raise ValueError(
            f"keyed {label} pointer in {state_dir} records no bucket "
            f"count (written by a different fold?); delete the "
            f"state_dir and re-seed the view"
        )
    old = int(old)
    if old == new_buckets:
        return {"prefix": prefix, "old_buckets": old,
                "new_buckets": new_buckets, "table": None}
    # the live parts carry the schema (partition column _vb lands
    # last, matching the sinks' own explicit read schema); a state
    # whose parts hold ZERO files holds zero rows — re-seeding it
    # under the new count costs the same as rebucketing it would
    view_schema = None
    for t in (p.get("tables") or []):
        # one part per read: each part dir is its own partitioned
        # parquet root (a multi-path read trips Spark's conflicting-
        # directory-structures guard); a file-less part (legal: an
        # empty seed) cannot infer and the next part is tried
        try:
            view_schema = spark.read.parquet(
                os.path.join(state_dir, t)).schema
            break
        except Exception:
            continue
    if view_schema is None:
        raise ValueError(
            f"keyed {label} state in {state_dir} has no readable "
            f"parquet data to infer the part schema from (empty view, "
            f"or corrupted parts); delete the state_dir and re-seed "
            f"the view under buckets={new_buckets}"
        )
    # shared validation path: tables-list shape, lost part dirs,
    # orphan sweep (saved == old passes the bucket refusal trivially)
    tables, parts = _load_keyed_part_log(
        spark, state_dir, p, prefix, view_schema, old, old, label,
    )
    merged = (
        _keep_last_merged(parts)
        .filter(F.col("n") > 0)
        .drop("_vb")
        .withColumn("_vb", _bucket_col(F.col("group"), new_buckets))
    )
    # overwrite-mode write named by the migration itself: a re-run of
    # a crashed rebucket rewrites only its own orphan, and repeated
    # A->B->A migrations overwrite dirs the prior swap already GC'd
    table = f"{prefix}rb{old}to{new_buckets}"
    _keyed_part_writer(spark, state_dir, view_schema)(merged, table)
    # stopped-fold guard: the merge job above is the slow window — if a
    # live fold committed during it, swapping our stale pointer over
    # its commit (and GC'ing parts its in-memory state still lists)
    # would brick the state at the NEXT restart. Refuse instead; the
    # just-written rb part becomes an orphan the next load sweeps.
    # (Residual race: a commit landing between this re-read and the
    # swap below is undetectable without sink-side locking — rebucket
    # is documented as an offline, fold-stopped operation.)
    if _read_json(ptr_path) != p:
        raise ValueError(
            f"keyed {label} pointer in {state_dir} advanced while "
            f"rebucket was merging — a fold is still running against "
            f"this state_dir; stop it and re-run rebucket"
        )
    payload = dict(p)
    payload["tables"] = [table]
    if prefix == "mviewk_":
        payload["extra"] = dict(p.get("extra") or {})
        payload["extra"]["buckets"] = new_buckets
    else:
        payload["buckets"] = new_buckets
    _commit_keyed_pointer(ptr_path, state_dir, payload)
    return {"prefix": prefix, "old_buckets": old,
            "new_buckets": new_buckets, "table": table}


_LEDGER_REFUSE = (
    "the restarted stream batches the source differently (changed "
    "maxFilesPerTrigger / new files merged into a replayed batch). "
    "Re-seed from the drained state instead of reusing this state_dir."
)


class _ReplayLedger:
    """Replay-verification bookkeeping shared by the fold persisters.

    The replay-skip rule (``batch_id <= last persisted id``) assumes a
    restarted stream batches the source exactly as the original run
    did. The ledger lets the guard VERIFY that without unbounded
    pointer metadata:

    - per-batch: (row count, content fingerprint) for the last
      ``WINDOW`` folded batches — a Spark-checkpoint restart only ever
      replays the final uncommitted batch, always inside the window;
    - cumulative: totals over ALL folded batches, armed when a
      from-scratch re-read replays the prefix (first replayed id is 0)
      and the ledger is ``complete`` (it has recorded every batch since
      stream batch 0). Replayed batches accumulate; the accumulation
      must never EXCEED the totals (new rows hiding inside a "replayed"
      batch raise immediately, even if the re-packed stream never
      reaches ``last_id``), must EQUAL them when batch ``last_id``
      replays, and ``seal_replay`` — called when the first NEW batch
      arrives — refuses a replay that ended early or short. Residual
      undetectable case: a re-packed replay that both drops old rows
      and adds new ones in equal measure AND the stream idles before
      any new batch; everything it could corrupt is re-verified the
      moment the stream moves again.

    A pointer written before the ledger existed (or a ledger created
    mid-stream) loads with ``complete=False``: per-batch window checks
    still apply to what it has seen, but cumulative checks stay off —
    its totals do not cover the pre-upgrade prefix, and comparing
    against them would refuse legitimate restarts."""

    WINDOW = 16

    def __init__(self, total_rows: int = 0, total_fp: int = 0,
                 recent: Optional[dict] = None, complete: bool = True):
        self.total_rows = int(total_rows)
        self.total_fp = int(total_fp)
        # a recent entry's fingerprint may be None — a wildcard seeded
        # from a pre-ledger pointer's rows-only counts, where only the
        # count check is possible
        self.recent = {
            str(k): [int(v[0]), None if v[1] is None else int(v[1])]
            for k, v in (recent or {}).items()
        }
        self.complete = bool(complete)
        self._acc_rows = 0
        self._acc_fp = 0
        self._cumulative: Optional[bool] = None
        self._replay_verified = False

    def as_json(self) -> dict:
        return {"total_rows": self.total_rows, "total_fp": self.total_fp,
                "recent": self.recent, "complete": self.complete}

    @classmethod
    def from_json(cls, p: Optional[dict]) -> "_ReplayLedger":
        if not p:
            # pre-upgrade pointer: no ledger was recorded, so totals
            # would be wrong — window and cumulative checks both stay
            # off for what it never saw
            return cls(complete=False)
        return cls(p.get("total_rows", 0), p.get("total_fp", 0),
                   p.get("recent", {}), p.get("complete", False))

    def record(self, batch_id: int, rows: int, fp: int) -> None:
        self.recent[str(batch_id)] = [int(rows), int(fp)]
        self.total_rows += int(rows)
        self.total_fp += int(fp)
        while len(self.recent) > self.WINDOW:
            del self.recent[min(self.recent, key=int)]

    def verify(self, batch_id: int, last_id: int, rows: int, fp: int,
               name: str) -> None:
        if self._cumulative is None:
            # a full from-scratch re-read replays the prefix starting at
            # batch 0; a Spark-checkpoint restart starts mid-stream
            self._cumulative = (
                self.complete and batch_id == 0 and last_id >= 0
            )
        expected = self.recent.get(str(batch_id))
        if expected is not None and (
            rows != expected[0]
            or (expected[1] is not None and fp != expected[1])
        ):
            raise ValueError(
                f"{name} fold restart: replayed batch {batch_id} carries "
                f"{rows} rows (content fingerprint {fp}) but "
                f"{expected[0]} rows (fingerprint "
                f"{'<pre-upgrade, count-only>' if expected[1] is None else expected[1]}) "
                f"were folded originally — {_LEDGER_REFUSE}"
            )
        if self._cumulative and not self._replay_verified:
            self._acc_rows += rows
            self._acc_fp += fp
            if self._acc_rows > self.total_rows:
                raise ValueError(
                    f"{name} fold restart: the replayed prefix already "
                    f"carries {self._acc_rows} rows but only "
                    f"{self.total_rows} were folded in total — "
                    f"{_LEDGER_REFUSE}"
                )
            if batch_id == last_id:
                self._require_totals(
                    name, "the replayed prefix carries"
                )

    def seal_replay(self, name: str) -> None:
        """Called when the first NEW batch arrives after a restart: a
        from-scratch replay must have accounted for every folded row by
        now — a re-packed prefix that ended early (never delivering
        ``last_id``) is refused here instead of silently dropping the
        rows its missing batches carried."""
        if self._cumulative and not self._replay_verified:
            self._require_totals(
                name, "the stream moved past the replayed prefix after "
                "accounting for only"
            )

    def _require_totals(self, name: str, how: str) -> None:
        if (self._acc_rows != self.total_rows
                or self._acc_fp != self.total_fp):
            raise ValueError(
                f"{name} fold restart: {how} {self._acc_rows} of the "
                f"{self.total_rows} rows folded originally — "
                f"{_LEDGER_REFUSE}"
            )
        self._replay_verified = True


class _DfStatePersist:
    """Parquet-keyed-by-batch-id persistence for DataFrame fold state —
    the state store of ``_persisted_fold`` (the KMV / HLL / histogram /
    CMS / drift folds) and of the snapshot mview sink: state for batch
    N is written with overwrite (idempotent on a crashed write), then a
    pointer file is atomically replaced; only the current and previous
    versions are retained. A pointer that lost ``batch_id`` or
    ``table`` is refused on load with the re-seed error.

    The pointer also carries a ``_ReplayLedger``: per-batch (row count,
    content fingerprint) for a bounded recent window plus cumulative
    totals, so ``replay_guard`` refuses a restart that batches the
    source differently — by count, by content (same-sized batches with
    displaced rows), or across the whole replayed prefix. Ledger stats
    ride the trigger's own apply/fold/write job as observe metrics
    (``_observed_stats``) — no separate aggregation job; ``save``
    resolves them only after its write has materialized every row.
    Only a replayed (skipped) batch pays one explicit ``_batch_stats``
    job to verify.

    Drain contract (two-commit TTL): frames returned by ``load``/
    ``save`` are LAZY read-backs of the state table; GC retains the
    current and previous tables, so such a frame stays readable until
    TWO more saves land. A consumer holding a drained frame across a
    still-committing stream must materialize it (collect / write /
    localCheckpoint) within that window — the same discipline as
    reading a compacting store snapshot."""

    def __init__(self, spark: SparkSession, state_dir: str, name: str):
        self.spark = spark
        self.dir = state_dir
        self.name = name
        self.ptr = os.path.join(state_dir, f"{name}_state.json")
        self.prefix = f"{name}_v"
        self.ledger = _ReplayLedger()
        self._loaded_last = -1
        self._table: Optional[str] = None
        self.extra: dict = {}

    def _reload(self, table: str, schema_json: Optional[str]):
        """Lazy read-back of a state table — schema-pinned when the
        pointer recorded it (no inference job), safe to keep lazy
        because GC always retains the current AND previous tables, so
        the frame stays readable until two saves from now (by which
        time the caller's state points at a newer read-back)."""
        reader = self.spark.read
        if schema_json:
            reader = reader.schema(T.StructType.fromJson(json.loads(schema_json)))
        return reader.parquet(os.path.join(self.dir, table))

    def load(self):
        """(state_df | None, last persisted batch id). Fold-specific
        scalars saved via ``save(..., extra=...)`` are exposed on
        ``self.extra`` after a successful load."""
        p = _read_json(self.ptr)
        if p is None:
            return None, -1
        _require_pointer_keys(p, ("batch_id", "table"), self.name, self.dir)
        self.ledger = _ReplayLedger.from_json(p.get("ledger"))
        if p.get("ledger") is None and isinstance(p.get("rows"), dict):
            # pre-ledger pointer: keep the per-batch count checks its
            # rows dict enforced (fingerprints unknown -> wildcard);
            # cumulative checks stay off (complete=False from_json)
            self.ledger.recent = {
                str(k): [int(v), None] for k, v in p["rows"].items()
            }
        self._loaded_last = int(p["batch_id"])
        self._table = p["table"]
        self.extra = dict(p.get("extra", {}))
        return self._reload(p["table"], p.get("schema")), self._loaded_last

    def replay_guard(self, batch_df: DataFrame, batch_id: int,
                     name: str) -> None:
        """Called when a batch is about to be skipped as a replay:
        verify it carries exactly the rows that were folded under this
        id, or refuse with a clear recovery instruction."""
        rows, fp = _batch_stats(batch_df)
        self.ledger.verify(batch_id, self._loaded_last, rows, fp, name)

    def save(self, df: DataFrame, batch_id: int, stats,
             extra: Optional[dict] = None) -> DataFrame:
        """Persist the fold state for ``batch_id`` and return a LAZY
        schema-pinned read-back of what was written. The write is the
        trigger's ONE materialization of the fold — callers use the
        returned frame as their new state instead of paying a separate
        localCheckpoint job for the same rows. ``stats`` may be an
        ``_observed_stats`` getter: it is resolved AFTER the write, so
        the write job itself computes the ledger numbers."""
        # the first NEW batch marks the end of any from-scratch replay:
        # refuse a prefix that never accounted for every folded row
        self.ledger.seal_replay(self.name)
        table = f"{self.prefix}{batch_id}"
        # nullable-normalized: a pinned read schema is trusted as-is by
        # the file source, so write-plan non-nullability must not ride
        # into it (ADVICE r11) — plan analysis only, no job
        schema_json = nullable_schema(df.schema).json()
        df.write.mode("overwrite").parquet(os.path.join(self.dir, table))
        if callable(stats):
            stats = stats()
        prev = _read_json(self.ptr)
        self.ledger.record(batch_id, *stats)
        if extra is not None:
            self.extra = dict(extra)
        _atomic_write_json(self.ptr, {
            "batch_id": batch_id, "table": table,
            "schema": schema_json,
            "ledger": self.ledger.as_json(),
            "extra": self.extra,
        })
        self._table = table
        if prev is not None and prev["table"] != table:
            for d in os.listdir(self.dir):
                if (d.startswith(self.prefix) and d != table
                        and d != prev["table"]):
                    shutil.rmtree(os.path.join(self.dir, d),
                                  ignore_errors=True)
        return self._reload(table, schema_json)

    def save_pointer(self, batch_id: int, stats,
                     extra: Optional[dict] = None) -> bool:
        """Pointer-only commit for a trigger that changed NOTHING in
        the fold state (a doorbell batch whose coordinates already
        matched): records the batch in the ledger without rewriting the
        unchanged state table. Returns False (caller must full-save)
        when no table exists yet."""
        p = _read_json(self.ptr)
        if p is None or self._table is None:
            return False
        if callable(stats):
            # the caller's apply/validate job has already run (the
            # no-change decision needed the store coordinates), so the
            # observed metrics are available
            stats = stats()
        self.ledger.seal_replay(self.name)
        self.ledger.record(batch_id, *stats)
        if extra is not None:
            self.extra = dict(extra)
        p["batch_id"] = batch_id
        p["ledger"] = self.ledger.as_json()
        p["extra"] = self.extra
        _atomic_write_json(self.ptr, p)
        return True


def _start_foreach_batch(stream: DataFrame, sink, checkpoint: Optional[str],
                         mode: str = "update"):
    """Start ``stream`` into the foreachBatch ``sink``, resuming from
    ``checkpoint`` when one is given."""
    writer = stream.writeStream.foreachBatch(sink).outputMode(mode)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def _persisted_fold(stream: DataFrame, name: str, summarize, merge,
                    state_dir: Optional[str], initial: Optional[DataFrame],
                    empty_msg: str):
    """The one skeleton of the DataFrame sketch folds (KMV, HLL,
    histogram, CMS, embedding drift): each trigger folds
    ``merge(summarize(batch).unionByName(state))`` into the running
    state, where ``summarize`` turns a micro-batch into a state-shaped
    frame and ``merge`` re-aggregates a union of such frames. Merges
    must be order-free, so the result never depends on which side of
    the union the state sits.

    With ``state_dir`` the state is a ``_DfStatePersist`` named
    ``name``: a restart reloads it (persisted state wins over
    ``initial``), a replayed batch is verified against the ledger and
    skipped, and each new batch is persisted keyed by its id. Without
    it the state is localCheckpointed per trigger. ``initial`` seeds a
    warm start. Returns ``(query, drain_state)``; ``drain_state()``
    raises ``ValueError(empty_msg)`` while there is no state yet."""
    state = {"df": None, "last_id": -1}
    persist = (
        _DfStatePersist(stream.sparkSession, state_dir, name)
        if state_dir else None
    )
    if persist:
        loaded, last = persist.load()
        if loaded is not None:
            state["df"], state["last_id"] = loaded, last
    if state["df"] is None and initial is not None:
        # materialize the warm start ONLY when the pointer missed —
        # persisted state wins, and eagerly checkpointing a seed that
        # is about to be discarded costs an O(state) job every restart
        state["df"] = initial.localCheckpoint()

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if persist and batch_id <= state["last_id"]:
            # replayed batch: already folded into persisted state —
            # verify it is byte-for-byte the batch we folded
            persist.replay_guard(batch_df, batch_id, name)
            return
        stats = None
        if persist:
            # ledger stats ride the fold's own persisting write job as
            # observe metrics instead of a separate aggregation job;
            # ``persist.save`` reads them only AFTER that write has
            # fully materialized the plan (an earlier or partial action
            # would not have seen every row)
            batch_df, stats = _observed_stats(batch_df)
        folded = summarize(batch_df)
        if state["df"] is not None:
            # the BATCH-derived frame is the union receiver on purpose:
            # inside foreachBatch the batch belongs to the streaming
            # query's CLONED session, and the observed ledger metrics
            # only deliver when the fold's action executes under that
            # session — a state-receiver union would re-root the plan
            # on the main session and obs.get would wait forever. The
            # merge is order-free, so the receiver cannot change the
            # folded state.
            folded = merge(folded.unionByName(state["df"]))
        state["last_id"] = batch_id
        if persist:
            # the persisting write is the trigger's one materialization;
            # the returned lazy read-back replaces a localCheckpoint job
            state["df"] = persist.save(folded, batch_id, stats)
        else:
            state["df"] = folded.localCheckpoint()

    def drain_state() -> DataFrame:
        if state["df"] is None:
            raise ValueError(empty_msg)
        return state["df"]

    return _start_foreach_batch(stream, _sink, None), drain_state


# streaming_incremental_dedup: compact the lazily-unioned state parts
# once the list (and thus the union plan) grows past this many pieces
_COMPACT_PARTS = 64

# the three delta-part families the incremental-dedup fold persists:
# (state/pointer key, part-name suffix) — the single naming authority
# for writes, appends, compaction, and GC
_SINCR_PARTS = (
    ("corpus_parts", "corpus"),
    ("sig_parts", "sig"),
    ("pairs_parts", "pairs"),
)

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession, path: str, schema: T.StructType = EVENTS_SCHEMA,
    fmt: str = "parquet", max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """File-source stream over an events directory. New files appearing
    under ``path`` become micro-batches; ``maxFilesPerTrigger`` bounds
    per-batch work (backpressure at scale)."""
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger is not None:
        # `is not None`, not truthiness: an (invalid) explicit 0 should
        # reach Spark and fail loudly, not silently run unthrottled
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def hourly_rollup(
    events: DataFrame, watermark: str = "2 hours", window: str = "1 hour"
) -> DataFrame:
    """Tumbling-window rollup: (window_start, event_type, n, sum_value).

    On a streaming frame the watermark bounds state and admits late rows
    up to ``watermark``; on a batch frame withWatermark is a no-op and
    the result equals the GROUP BY date_trunc rollup."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def session_rollup(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Session-window rollup: one row per (user, session) with the
    session bounds and event count — the STREAM-NATIVE face of the
    batch lag/running-sum sessionization (entry_queries.
    events_sessionization): ``session_window`` merges events whose gap
    is under ``gap`` inside the state store, so an unbounded stream
    sessionizes with bounded state, no window-function shuffle.

    ``session_window.end`` is last-event-ts + gap (exclusive), so
    ``end - start - gap`` equals the batch face's max(ts) - min(ts)."""
    df = events
    if df.isStreaming:
        df = df.withWatermark("ts", watermark)
    return (
        df.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_exact_dedup(
    docs: DataFrame, ts_col: Optional[str] = None, watermark: str = "1 hour"
) -> DataFrame:
    """First-occurrence pass-through by content fingerprint.

    State is the set of fingerprints seen; with a timestamp column the
    watermark expires state (bounded memory on an unbounded stream —
    dedup-within-horizon, the standard trade-off). Batch frames get
    plain dropDuplicates."""
    with_fp = docs.withColumn("fp", X.fingerprint_md5(F.col("text")))
    if ts_col and with_fp.isStreaming:
        return with_fp.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(["fp"])
    return with_fp.dropDuplicates(["fp"])


def purchase_view_interval_join(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream time-interval self-join: every purchase paired with
    the same user's views from the strictly-preceding ``window``. This
    is Structured Streaming's interval-join state operator — each side
    buffers rows only until the other side's watermark passes the join
    range, so state is bounded by ``window + watermark`` regardless of
    stream length.

    INNER join on purpose: inner matches are emitted the moment both
    rows have arrived (the watermark only EVICTS state), so under
    Trigger.AvailableNow the emitted pairs are exactly the batch range
    join's — bit-exact parity. (An outer join's null-padded rows are
    emitted only when the watermark proves no match can come, which a
    finite availableNow run never proves for the tail — the classic
    streaming-tail gap; count the zero-view purchases batch-side.)

    Works identically on a batch frame (withWatermark no-op'd)."""
    p = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("p_ts")
    )
    v = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
        "value",
    )
    if p.isStreaming:
        p = p.withWatermark("p_ts", watermark)
        v = v.withWatermark("v_ts", watermark)
    cond = (
        (F.col("user_id") == F.col("v_user"))
        & (F.col("v_ts") >= F.expr(f"p_ts - INTERVAL {window}"))
        & (F.col("v_ts") < F.col("p_ts"))
    )
    return p.join(v, cond, "inner").select(
        "event_id", "user_id", "p_ts", "v_ts", "value"
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (event count, value sum) maintained across micro-batches —
    the arbitrary-state API for operators that windowed aggregation
    can't express (per-key accumulators, custom eviction, model state).

    State is one tiny tuple per user; each update emits the user's new
    running totals. On a batch frame use a plain groupBy — this function
    requires a streaming frame."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            n, total = state.get
        else:
            n, total = 0, 0.0
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def streaming_set_ingest(stream: DataFrame, engine, store: str, schema: str = "public",
                         checkpoint: Optional[str] = None):
    """Live ingest into a vector store: each micro-batch of
    (key ARRAY<FLOAT>, meta MAP) rows runs through Engine.set — the same
    upsert-by-vector-id path as the batch API, so streaming writes get
    identical insert/update semantics. Returns the StreamingQuery."""

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        engine.set(store, batch_df, schema=schema)

    return _start_foreach_batch(stream, _sink, checkpoint)


def streaming_probe_search(
    stream: DataFrame,
    engine,
    store: str,
    sink_path: str,
    closest_n: int = 5,
    algorithm: str = "cosine_similarity",
    schema: str = "public",
    checkpoint: Optional[str] = None,
    precision: str = "float",
):
    """Online retrieval: a STREAM of probe vectors answered continuously
    against an engine store — the streaming face of the reference's
    query loop (one gRPC GetSimN per request) with Spark's batching
    economics: every micro-batch of probes becomes ONE
    ``Engine.get_sim_n_batch`` plan (broadcast probes x one store scan,
    or the pruned hnsw/ivf/pq batch paths when those indexes exist), so
    a burst of thousands of queries costs one pruned read, not
    thousands of scans.

    ``stream`` needs (qid LONG, qkey ARRAY<FLOAT>) columns; results
    land under ``sink_path`` as one batch-id-named parquet dir per
    micro-batch (read them back with ``sink_path + "/b*"``), carrying
    qid + rank_n + the store row + score. Batch-keyed OVERWRITE makes
    the sink idempotent under replay: a redelivered probe batch (crash
    after the write, before the offset-log commit) rewrites its own
    directory instead of appending duplicate answers. Returns the
    StreamingQuery."""

    def _answer(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out = engine.get_sim_n_batch(
            store, batch_df.select("qid", "qkey"), closest_n=closest_n,
            algorithm=algorithm, schema=schema, precision=precision,
        )
        out.drop("qkey").write.mode("overwrite").parquet(
            os.path.join(sink_path, f"b{batch_id}")
        )

    return _start_foreach_batch(stream, _answer, checkpoint)


def store_changes_stream(
    spark: SparkSession,
    catalog,
    store: str,
    schema: str = "public",
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """Change data feed as a LIVE stream: tail the store's immutable
    delta segments as mutations commit them — the streaming face of
    ``Engine.store_changes`` and the piece a continuously-maintained
    downstream table needs at 100 TB (a derived index, a replica, a
    feature store) without polling snapshots.

    Built on the file source over the base+delta layout
    (``sources/store_io.py``): every mutation appends one O(batch)
    segment directory ``d<version>_<n>``, so a ``readStream`` glob over
    ``d*_*`` discovers exactly the committed mutations, oldest first,
    including the backlog that predates the stream (a consumer starting
    late replays retained history, then tails). Emitted rows are the
    raw CDC ops in canonical store schema:

    - ``op``          'upsert' (post-image in key/meta) or 'delete'
                      (id only; payload columns are null — pre-images
                      need the batch ``store_changes`` against a
                      retained snapshot)
    - ``base_version``/``segment``  the commit coordinates parsed from
                      the segment path: a downstream merge orders ops
                      exactly like the engine's own keep-last-by-id
                      merged read, across micro-batch boundaries.

    Classification into insert-vs-update is deliberately NOT done here:
    it requires probing a consistent FROM snapshot, which is a batch
    concern (``Engine.store_changes``) — a stream consumer folding ops
    in (base_version, segment) order reaches the same net state, pinned
    by tests/test_streaming.py.

    Retention caveat: segment dirs are GC'd with their base version
    (``KEEP_VERSIONS``); a consumer must keep up within the retention
    window or restart from a snapshot + fresh feed, exactly like Delta
    Lake's CDF.
    """
    import os

    from ahnlich_spark.sources.store_io import DELTA_OP_COL, store_schema

    meta = catalog.get_store(store, schema)
    base = os.path.dirname(catalog.store_path(meta))
    # segment files mirror the base schema (canonical columns + any
    # index columns) plus the op column (store_io.write_delta); only
    # the canonical subset is selected here, and parquet reads ignore
    # file columns absent from the supplied schema — so the CANONICAL
    # schema works for every store, including one whose base version
    # hasn't been written yet (stream opened before the first SET)
    file_schema = T.StructType(
        list(store_schema().fields)
        + [T.StructField(DELTA_OP_COL, T.ByteType())]
    )
    reader = spark.readStream.schema(file_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    raw = reader.parquet(os.path.join(base, "d*_*"))
    seg_re = r"/d(\d+)_(\d+)/[^/]+$"
    fname = F.input_file_name()
    return raw.select(
        "id",
        "key",
        "meta",
        F.when(F.col(DELTA_OP_COL) == 0, F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        F.regexp_extract(fname, seg_re, 1).cast("int").alias("base_version"),
        F.regexp_extract(fname, seg_re, 2).cast("int").alias("segment"),
    )


def streaming_apply_changes(
    feed: DataFrame,
    engine,
    store: str,
    schema: str = "public",
    checkpoint: Optional[str] = None,
):
    """Replication sink: each micro-batch of a ``store_changes_stream``
    feed applied to a (usually different-warehouse) replica store via
    ``Engine.apply_changes`` — one O(batch) delta segment per trigger,
    netted keep-last per id in source commit order, index columns
    recomputed for the REPLICA's own index set. Feed + this sink is
    continuous store replication: the replica's merged state converges
    to the source's after every drained trigger (pinned row-for-row in
    tests/test_streaming.py). Returns the StreamingQuery."""

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        engine.apply_changes(store, batch_df, schema=schema)

    return _start_foreach_batch(feed, _sink, checkpoint, "append")


def _keyed_view_sink(fn: str, sink: str, state_dir: Optional[str],
                     checkpoint: Optional[str]) -> bool:
    """Validate a view fold's sink options; True selects the keyed
    sink."""
    if sink not in ("snapshot", "keyed"):
        raise ValueError(f"unknown sink {sink!r}: snapshot | keyed")
    if sink == "keyed" and not state_dir:
        raise ValueError(
            "sink='keyed' stores the view as parquet delta parts "
            "and needs state_dir to put them somewhere durable"
        )
    if checkpoint and not state_dir:
        raise ValueError(
            f"{fn} without state_dir keeps the view and its fold "
            f"coordinates in driver memory; a checkpointLocation would "
            f"skip committed batches on restart while both reset. Pass "
            f"state_dir to make the fold checkpoint-safe."
        )
    return sink == "keyed"


def streaming_materialized_agg(
    feed: DataFrame,
    engine,
    store: str,
    group_expr,
    measures: dict,
    schema: str = "public",
    checkpoint: Optional[str] = None,
    state_dir: Optional[str] = None,
    sink: str = "snapshot",
    buckets: int = 64,
):
    """Continuously-maintained MATERIALIZED VIEW: each micro-batch of a
    ``store_changes_stream`` feed is applied to the replica store
    (O(batch) delta segment — ``Engine.apply_changes``), then the
    maintained (group, n, <measures>...) aggregate refreshes from the
    replica's OWN change feed between the last folded coordinates and
    the post-apply coordinates (``operators/ivm.cdf_agg_delta`` +
    ``apply_agg_delta`` — O(batch changes) plus one broadcast-probed
    FROM-snapshot scan for update pre-images). The view is seeded by a
    one-time full aggregate of the replica's state at fold start and
    never fully recomputed again.

    EXACTLY-ONCE under restarts, without requiring an idempotent sink:
    the fold coordinates ride the persisted pointer, so a crash between
    apply and fold replays the batch into a DUPLICATE delta segment
    whose rows net out in the keep-last merged read — the next fold
    still reads from the persisted coordinates and every logical change
    folds exactly once. Replays of batches the ledger has folded are
    verified (count + content fingerprint) and skipped; with
    ``state_dir`` the ``checkpoint`` option resumes the source exactly
    where it stopped. Kill-and-restart equals the uninterrupted run
    (pytest-pinned).

    ``group_expr``/``measures`` are Column expressions over canonical
    (key, meta) store rows; measures must be ADDITIVE integers (see
    operators/ivm.py). Returns ``(query, drain)`` — ``drain()`` is the
    current view, O(groups) rows. With ``state_dir`` the drained frame
    is a LAZY read-back of the persisted state table with a TWO-COMMIT
    TTL: it stays readable until two more triggers commit (GC keeps
    current + previous tables). Materialize it (collect / write /
    localCheckpoint) before letting a still-running stream advance
    twice past it.

    ``sink`` picks the view's storage strategy:

    - ``"snapshot"`` (default): the whole (group, n, measures) table is
      localCheckpointed/persisted per trigger — O(groups) per trigger.
      Right for bounded-cardinality views.
    - ``"keyed"``: the view lives as bucket-partitioned parquet delta
      parts under ``state_dir`` (required) and each trigger MERGEs only
      the groups its delta touched — per-trigger write == touched
      groups exactly, reads pruned to the touched ``buckets``
      (pmod(xxhash64(group), buckets) partition column). The
      high-cardinality path: a trigger that changes 1k of 10^9 groups
      writes 1k rows, never the view."""
    from ahnlich_spark.operators import ivm as IVM

    if _keyed_view_sink("streaming_materialized_agg", sink, state_dir,
                        checkpoint):
        return _keyed_materialized_agg(
            feed, engine, store, group_expr, measures,
            schema, checkpoint, state_dir, buckets,
        )
    persist = (
        _DfStatePersist(engine.spark, state_dir, "mview")
        if state_dir else None
    )
    state = {"agg": None, "coords": _store_coords(engine, store, schema),
             "last_id": -1}
    if persist:
        loaded, last = persist.load()
        if loaded is not None:
            state["coords"] = _pointer_coords(
                "mview", state_dir, "'extra.coords'",
                persist.extra.get("coords"),
            )[0]
            state["agg"], state["last_id"] = loaded, last
    if state["agg"] is None:
        # seed pinned to the SAME coordinates recorded for the first
        # fold — a writer committing between _store_coords() and the first
        # materialization would otherwise land in the seed AND in the
        # first cdf delta (double-counted forever); the keyed sink
        # pins identically. With a persister the seed stays LAZY: the
        # first trigger's persisting write materializes it (version-
        # pinned read, same KEEP_VERSIONS retention window the cdf fold
        # itself relies on), deleting the seed localCheckpoint job.
        seed = IVM.full_agg(
            engine, store, group_expr, measures,
            version=state["coords"][0], segments=state["coords"][1],
            schema=schema,
        )
        state["agg"] = seed if persist else seed.localCheckpoint()

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if persist and batch_id <= state["last_id"]:
            persist.replay_guard(batch_df, batch_id, "mview")
            return
        stats = None
        if persist:
            batch_df, stats = _observed_stats(batch_df)
        # apply_changes validates-and-counts the whole batch in ONE
        # full-scan job and no-ops an empty one, so the observed stats
        # ride that job — the separate _batch_stats aggregation and the
        # isEmpty probe are both gone (guide §1.2: fewer passes)
        engine.apply_changes(store, batch_df, schema=schema)
        v0, s0 = state["coords"]
        v1, s1 = _store_coords(engine, store, schema)
        changed = (v1, s1) != (v0, s0)
        if changed:
            delta = IVM.cdf_agg_delta(
                engine, store, v0, s0, group_expr, measures,
                to_version=v1, to_segments=s1, schema=schema,
            )
            new_agg = IVM.apply_agg_delta(state["agg"], delta, measures)
            if persist:
                # the persisting WRITE is the trigger's one
                # materialization of the fold; the returned lazy
                # read-back replaces a second localCheckpoint job over
                # the same rows (guide §1.2: fewer passes)
                state["agg"] = persist.save(
                    new_agg, batch_id, stats, extra={"coords": [v1, s1]}
                )
            else:
                state["agg"] = new_agg.localCheckpoint()
        elif persist and not persist.save_pointer(
            batch_id, stats, extra={"coords": [v1, s1]}
        ):
            # nothing folded but no table exists yet (first trigger on
            # a never-persisted fold): full-save the seed
            state["agg"] = persist.save(
                state["agg"], batch_id, stats, extra={"coords": [v1, s1]}
            )
        state["coords"] = (v1, s1)
        state["last_id"] = batch_id

    def drain() -> DataFrame:
        return state["agg"]

    return _start_foreach_batch(feed, _sink, checkpoint), drain


def _distinct_drain(drain_pairs):
    """The drain of a (group, value) pair-multiset view: ``drain()`` is
    the (group, n, n_distinct) rollup, ``drain(quantile=(num, den))``
    the exact discrete quantile (group, n, q)."""
    from ahnlich_spark.operators import ivm as IVM

    def drain(quantile: Optional[tuple] = None) -> DataFrame:
        inner = drain_pairs()
        if quantile is not None:
            return IVM.quantile_rollup(inner, *quantile)
        return IVM.distinct_rollup(inner)

    return drain


def streaming_materialized_distinct(
    feed: DataFrame,
    engine,
    store: str,
    group_expr,
    value_expr,
    schema: str = "public",
    checkpoint: Optional[str] = None,
    state_dir: Optional[str] = None,
    sink: str = "snapshot",
    buckets: int = 64,
):
    """Continuously-maintained DISTINCT/QUANTILE view: the same
    replicate-then-fold pipeline as ``streaming_materialized_agg``, but
    the maintained state is the (group, value) pair MULTISET — shaped
    as an agg view whose group is struct(g, v) with no measures, so
    the generic additive fold (and BOTH sinks, replay ledger and
    kill-and-restart semantics included) maintain it unchanged.
    COUNT(DISTINCT) and exact discrete quantiles are not additive;
    the pair multiset is — and it is exactly what sketches (HLL / KMV /
    t-digest) cannot give you: subtractable deletes and exactness.

    The pair space is the view's cardinality: for a high-cardinality
    (group × value) domain pass ``sink="keyed"`` and the per-trigger
    write is EXACTLY the pairs the trigger's delta touched (bucketed by
    pmod(xxhash64(struct(g, v)), buckets), reads partition-pruned to
    touched buckets) — per trigger O(changes + touched-bucket rows),
    independent of how many pairs the view holds. This is the
    composition SCALING.md promises: the big inner state rides the
    keyed sink, the rollup stays a read-time aggregation.

    Returns ``(query, drain)``; ``drain()`` is the rolled-up
    (group, n, n_distinct) view, ``drain(quantile=(num, den))`` the
    exact discrete quantile (group, n, q) — one O(live pairs)
    aggregation over the maintained state, never a store rescan."""
    pair = F.struct(group_expr.alias("g"), value_expr.alias("v"))
    q, drain_pairs = streaming_materialized_agg(
        feed, engine, store, pair, {}, schema=schema,
        checkpoint=checkpoint, state_dir=state_dir,
        sink=sink, buckets=buckets,
    )

    return q, _distinct_drain(drain_pairs)


def streaming_materialized_join(
    feed: DataFrame,
    eng_a,
    store_a: str,
    eng_b,
    store_b: str,
    join_a,
    join_b,
    group_expr,
    measures: dict,
    schema: str = "public",
    checkpoint: Optional[str] = None,
    state_dir: Optional[str] = None,
    from_a=None,
    from_b=None,
    sink: str = "snapshot",
    buckets: int = 64,
):
    """Continuously-maintained JOIN view over TWO live stores: each
    trigger folds ``operators/ivm.cdf_join_agg_delta`` (the bilinear
    identity dA><B0 + A1><dB — each term ONE base-relation scan probed
    by a broadcast of the other side's delta) between the view's last
    fold coordinates and both stores' current coordinates.

    The feed is a pure DOORBELL: the fold consumes NO batch rows — it
    reads both stores' committed coordinate pairs and catches up on
    whatever landed, on either side, since the last fold. That makes
    exactly-once TRIVIAL rather than engineered: a replayed or
    re-batched trigger folds from the persisted coordinates and lands
    the same (or a further) catch-up; there is no replay ledger because
    there is nothing a replay could double-count. Union both stores'
    change streams as the feed so mutations on either side wake the
    fold; a one-sided feed is also sound — the quiet side's changes
    fold on the next trigger.

    ``from_a``/``from_b`` optionally seed the view at retained
    historical coordinates (warm start): the seed aggregate is computed
    there and the FIRST trigger folds everything since. With
    ``state_dir`` the view + coordinates persist (atomic pointer,
    overwrite-by-batch-id table, previous generation GC'd); restart
    equals the uninterrupted run. Returns ``(query, drain)``.

    ``sink`` picks the view's storage strategy, exactly like
    ``streaming_materialized_agg``:

    - ``"snapshot"`` (default): the whole (group, n, measures) table
      per trigger — right for bounded group cardinality.
    - ``"keyed"``: bucket-partitioned parquet delta parts under
      ``state_dir`` (required), per trigger EXACTLY the groups the
      bilinear delta touched — O(changes on both sides +
      touched-bucket rows), independent of the view's group count.
      Parts are named by FOLD COORDINATES (not batch id): the doorbell
      makes exactly-once trivial, and coordinate naming keeps a batch
      redelivered after a pointer swap from overwriting committed live
      parts — it folds to NEW coordinates and writes a NEW part."""
    from ahnlich_spark.operators import ivm as IVM

    if _keyed_view_sink("streaming_materialized_join", sink, state_dir,
                        checkpoint):
        return _keyed_materialized_join(
            feed, eng_a, store_a, eng_b, store_b, join_a, join_b,
            group_expr, measures, schema, checkpoint, state_dir,
            buckets, from_a, from_b,
        )
    spark = eng_a.spark
    names = list(measures)
    ca = (tuple(from_a) if from_a is not None
          else _store_coords(eng_a, store_a, schema))
    cb = (tuple(from_b) if from_b is not None
          else _store_coords(eng_b, store_b, schema))
    state = {"agg": None, "ca": ca, "cb": cb}
    ptr_path = os.path.join(state_dir, "mjoin_state.json") if state_dir else None
    if ptr_path:
        p = _read_json(ptr_path)
        if p is not None:
            state["ca"], state["cb"] = _pointer_coords(
                "mjoin", state_dir, "coords_a/coords_b",
                p.get("coords_a"), p.get("coords_b"),
            )
            _require_pointer_keys(p, ("table",), "mjoin", state_dir)
            # lazy, schema-pinned when recorded: GC retains the current
            # and previous tables, so the frame stays readable until
            # two commits from now (state points elsewhere by then)
            reader = spark.read
            if p.get("schema"):
                reader = reader.schema(
                    T.StructType.fromJson(json.loads(p["schema"])))
            state["agg"] = reader.parquet(
                os.path.join(state_dir, p["table"]))
    if state["agg"] is None:
        # persisted folds keep the seed LAZY: the first committing
        # write materializes it (version-pinned reads, covered by the
        # same KEEP_VERSIONS retention the bilinear fold relies on) —
        # one seed localCheckpoint job deleted per fold start
        seed = IVM.full_join_agg(
            eng_a, store_a, eng_b, store_b, join_a, join_b,
            group_expr, measures,
            version_a=state["ca"][0], segments_a=state["ca"][1],
            version_b=state["cb"][0], segments_b=state["cb"][1],
            schema=schema,
        )
        state["agg"] = seed if ptr_path else seed.localCheckpoint()

    def _commit(batch_id: int) -> None:
        # the generation is named by its FOLD COORDINATES, not the
        # batch id: coordinates advance monotonically, so a fold can
        # never reuse the live pointer's table name — a batch
        # redelivered after the pointer swapped (crash before the
        # offset-log commit, stores advanced while down) folds to NEW
        # coordinates and writes a NEW table, while a re-run of a
        # crashed fold rewrites only its own orphan. Batch-id naming
        # here would overwrite committed live data in place.
        ca, cb = state["ca"], state["cb"]
        table = f"mjoin_g{ca[0]}_{ca[1]}_{cb[0]}_{cb[1]}"
        # nullable-normalized pin (ADVICE r11) — plan analysis, no job
        schema_json = nullable_schema(state["agg"].schema).json()
        # the persisting write IS the trigger's one materialization of
        # the (lazy) fold; the schema-pinned lazy read-back below
        # replaces a second localCheckpoint job over the same rows
        state["agg"].write.mode("overwrite").parquet(
            os.path.join(state_dir, table)
        )
        prev = _read_json(ptr_path)
        _atomic_write_json(ptr_path, {
            "batch_id": batch_id, "table": table,
            "schema": schema_json,
            "coords_a": list(ca), "coords_b": list(cb),
        })
        if prev is not None and prev["table"] != table:
            for d in os.listdir(state_dir):
                if ((d.startswith("mjoin_g") or d.startswith("mjoin_v"))
                        and d != table and d != prev["table"]):
                    shutil.rmtree(os.path.join(state_dir, d),
                                  ignore_errors=True)
        state["agg"] = spark.read.schema(
            T.StructType.fromJson(json.loads(schema_json))
        ).parquet(os.path.join(state_dir, table))

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        ta = _store_coords(eng_a, store_a, schema)
        tb = _store_coords(eng_b, store_b, schema)
        if (ta, tb) != (state["ca"], state["cb"]):
            delta = IVM.cdf_join_agg_delta(
                eng_a, store_a, state["ca"], eng_b, store_b, state["cb"],
                join_a, join_b, group_expr, measures,
                to_a=ta, to_b=tb, schema=schema,
            )
            state["agg"] = IVM.apply_agg_delta(state["agg"], delta, names)
            state["ca"], state["cb"] = ta, tb
            if ptr_path:
                _commit(batch_id)
            else:
                state["agg"] = state["agg"].localCheckpoint()

    def drain() -> DataFrame:
        return state["agg"]

    return _start_foreach_batch(feed, _sink, checkpoint), drain


def _keyed_materialized_agg(
    feed: DataFrame,
    engine,
    store: str,
    group_expr,
    measures: dict,
    schema: str,
    checkpoint: Optional[str],
    state_dir: str,
    buckets: int,
):
    """The high-cardinality sink behind
    ``streaming_materialized_agg(sink="keyed")``: the view is a
    ``_KeyedPartLog`` of ``mviewk_*`` parts, each trigger's delta folded
    into exactly the groups it touched.

    Parts are named by batch id: a replayed crashed trigger rewrites
    its own orphan, and the replay ledger (riding the pointer with the
    fold coords) skips batches already folded. Kill-and-restart equals
    the uninterrupted run (pytest-pinned alongside the snapshot
    sink)."""
    from ahnlich_spark.operators import ivm as IVM

    log = _KeyedPartLog(
        engine.spark, state_dir, "mviewk_", "mview",
        IVM.full_agg(engine, store, group_expr, measures, schema=schema),
        buckets, measures,
    )
    state = {"coords": None, "last_id": -1}
    ledger = _ReplayLedger()
    loaded_last = -1

    def _fields() -> dict:
        return {
            "ledger": ledger.as_json(),
            # buckets rides the pointer so a restart with a different
            # bucket count is REFUSED on load instead of silently
            # merging parts under a mismatched _vb mapping
            "extra": {"coords": list(state["coords"]), "buckets": buckets},
        }

    p = _read_json(log.ptr)
    if p is not None:
        state["coords"] = _pointer_coords(
            "keyed mview", state_dir, "'extra.coords'",
            (p.get("extra") or {}).get("coords"),
        )[0]
        _require_pointer_keys(p, ("batch_id",), "keyed mview", state_dir)
        log.load(p, (p.get("extra") or {}).get("buckets"))
        state["last_id"] = loaded_last = int(p["batch_id"])
        ledger = _ReplayLedger.from_json(p.get("ledger"))
    else:
        v0, s0 = state["coords"] = _store_coords(engine, store, schema)
        log.seed(IVM.full_agg(
            engine, store, group_expr, measures,
            version=v0, segments=s0, schema=schema,
        ), _fields())

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= state["last_id"]:
            ledger.verify(batch_id, loaded_last, *_batch_stats(batch_df),
                          "mviewk")
            return
        ledger.seal_replay("mviewk")
        batch_df, stats = _observed_stats(batch_df)
        # apply_changes validates-and-counts the batch in ONE full-scan
        # job and no-ops an empty one — the observed ledger stats ride
        # that job instead of a separate _batch_stats pass (§1.2)
        engine.apply_changes(store, batch_df, schema=schema)
        v0, s0 = state["coords"]
        v1, s1 = _store_coords(engine, store, schema)
        if (v1, s1) != (v0, s0):
            log.fold(IVM.cdf_agg_delta(
                engine, store, v0, s0, group_expr, measures,
                to_version=v1, to_segments=s1, schema=schema,
            ), str(batch_id))
        state["coords"] = (v1, s1)
        dropped = log.compact(str(batch_id))
        state["last_id"] = batch_id
        # the apply/validate job has run, so the observed stats are in
        ledger.record(batch_id, *stats())
        log.commit(batch_id, _fields(), extra_dead=dropped)

    return _start_foreach_batch(feed, _sink, checkpoint), log.drain


def _keyed_materialized_join(
    feed: DataFrame,
    eng_a,
    store_a: str,
    eng_b,
    store_b: str,
    join_a,
    join_b,
    group_expr,
    measures: dict,
    schema: str,
    checkpoint: Optional[str],
    state_dir: str,
    buckets: int,
    from_a,
    from_b,
):
    """The high-cardinality sink behind
    ``streaming_materialized_join(sink="keyed")`` — the
    ``_KeyedPartLog`` of ``_keyed_materialized_agg`` (``mjoink_*``
    parts) composed with the doorbell join fold. Per trigger: ONE
    bilinear delta (each term a broadcast-probed base scan), the
    merge/write touching EXACTLY the delta's groups — O(changes on both
    sides + touched-bucket rows), independent of the view's total group
    count.

    Two deliberate departures from the single-store keyed sink:

    - NO replay ledger: the feed is a pure doorbell (the fold consumes
      no batch rows), so a replayed trigger folds from the persisted
      PAIRED coordinates and lands the same or a further catch-up —
      there is nothing a replay could double-count, identical to the
      snapshot join sink's argument.
    - Parts are named by FOLD COORDINATES, not batch id
      (``mjoink_p<va>_<sa>_<vb>_<sb>``): coordinates advance
      monotonically, so a batch redelivered AFTER the pointer swapped
      folds to new coordinates and writes a NEW part, while a re-run
      of a crashed fold overwrites only its own orphan. Batch-id
      naming would overwrite committed live parts in place (the same
      hazard the snapshot join sink's _commit documents)."""
    from ahnlich_spark.operators import ivm as IVM

    log = _KeyedPartLog(
        eng_a.spark, state_dir, "mjoink_", "mjoin",
        IVM.full_join_agg(
            eng_a, store_a, eng_b, store_b, join_a, join_b,
            group_expr, measures, schema=schema,
        ),
        buckets, measures,
    )
    state = {"ca": None, "cb": None}

    def _fields() -> dict:
        return {"coords_a": list(state["ca"]), "coords_b": list(state["cb"]),
                "buckets": buckets}

    p = _read_json(log.ptr)
    if p is not None:
        state["ca"], state["cb"] = _pointer_coords(
            "keyed mjoin", state_dir, "coords_a/coords_b",
            p.get("coords_a"), p.get("coords_b"),
        )
        log.load(p, p.get("buckets"))
    else:
        ca = state["ca"] = (tuple(from_a) if from_a is not None
                            else _store_coords(eng_a, store_a, schema))
        cb = state["cb"] = (tuple(from_b) if from_b is not None
                            else _store_coords(eng_b, store_b, schema))
        log.seed(IVM.full_join_agg(
            eng_a, store_a, eng_b, store_b, join_a, join_b,
            group_expr, measures,
            version_a=ca[0], segments_a=ca[1],
            version_b=cb[0], segments_b=cb[1], schema=schema,
        ), _fields())

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        ta = _store_coords(eng_a, store_a, schema)
        tb = _store_coords(eng_b, store_b, schema)
        if (ta, tb) == (state["ca"], state["cb"]):
            return  # coordinate no-op: zero jobs, zero writes
        tag = f"{ta[0]}_{ta[1]}_{tb[0]}_{tb[1]}"
        log.fold(IVM.cdf_join_agg_delta(
            eng_a, store_a, state["ca"], eng_b, store_b, state["cb"],
            join_a, join_b, group_expr, measures,
            to_a=ta, to_b=tb, schema=schema,
        ), tag)
        state["ca"], state["cb"] = ta, tb
        log.commit(batch_id, _fields(), extra_dead=log.compact(tag))

    return _start_foreach_batch(feed, _sink, checkpoint), log.drain


def streaming_materialized_join_distinct(
    feed: DataFrame,
    eng_a,
    store_a: str,
    eng_b,
    store_b: str,
    join_a,
    join_b,
    group_expr,
    value_expr,
    schema: str = "public",
    checkpoint: Optional[str] = None,
    state_dir: Optional[str] = None,
    from_a=None,
    from_b=None,
    sink: str = "snapshot",
    buckets: int = 64,
):
    """Continuously-maintained DISTINCT/QUANTILE view over the
    equi-join of TWO live stores — the last cell of the maintained-view
    matrix: (agg | distinct) x (single store | join) x (snapshot |
    keyed). The joined (group, value) pair MULTISET is additive, so the
    doorbell join fold maintains it with a struct(g, v) group and zero
    measures, riding EITHER sink unchanged; exact COUNT(DISTINCT) and
    exact discrete quantiles stay read-time rollups over live pairs,
    subtractable under deletes on either side — what no sketch and no
    re-join-per-trigger scheme offers. For a huge (group x value)
    domain pass ``sink="keyed"``: per trigger the part log receives
    exactly the pairs the bilinear delta touched.

    Returns ``(query, drain)``; ``drain()`` is (group, n, n_distinct),
    ``drain(quantile=(num, den))`` the exact discrete quantile."""
    pair = F.struct(group_expr.alias("g"), value_expr.alias("v"))
    q, drain_pairs = streaming_materialized_join(
        feed, eng_a, store_a, eng_b, store_b, join_a, join_b,
        pair, {}, schema=schema, checkpoint=checkpoint,
        state_dir=state_dir, from_a=from_a, from_b=from_b,
        sink=sink, buckets=buckets,
    )

    return q, _distinct_drain(drain_pairs)


def streaming_incremental_dedup(
    doc_stream: DataFrame,
    corpus_df: DataFrame,
    corpus_sig: Optional[DataFrame] = None,
    threshold: float = 0.5,
    n_hashes: int = 16,
    n_bands: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint: Optional[str] = None,
    state_dir: Optional[str] = None,
):
    """Live ingest dedup: each micro-batch of incoming documents is
    near-dup-checked against the corpus AS OF ITS ARRIVAL (historical
    corpus + every earlier micro-batch) and against itself, then folded
    into the maintained signature index — the streaming face of
    ``operators/dedup.minhash_lsh_incremental_pairs`` and exactly what a
    production crawler pipeline runs: dedup on arrival, index grows,
    the corpus is never rescanned.

    State maintained across batches: the signature/size table (the
    persisted KMV-style artifact — O(n_docs) skinny rows, not text) and
    the corpus id+text table (only ever read through a candidate-id
    semi-join, so each batch's text scan is O(collisions)). Each
    trigger materializes ONLY its own batch's pieces and keeps them in
    a parts list unioned lazily — the accumulated index is never
    re-materialized per trigger (that would be quadratic over the
    stream's life); past ``_COMPACT_PARTS`` parts the list is compacted
    into one piece so the union plan stays bounded (amortized O(1)
    rewrites per batch).

    ``state_dir`` makes the fold CHECKPOINT-SAFE with a delta-log
    variant of the other folds' transactional recipe — per-batch state
    is a GROWING index, so instead of rewriting it each trigger the
    sink appends three parquet DELTA parts per batch (this batch's
    pairs, signatures, and id+text rows — O(batch) write cost, written
    idempotently under batch-keyed names so a crashed trigger's replay
    overwrites its own orphans), then atomically swaps a pointer
    listing the live parts. A restarted fold re-seeds its parts lists
    from the pointer (the historical corpus still comes from the
    ``corpus_df``/``corpus_sig`` arguments — pass the same persisted
    tables), replays of committed batches are skipped under the
    ``_ReplayLedger`` count+content guard, and ``checkpoint`` may then
    be passed so Spark resumes the source exactly where it stopped —
    kill-and-restart equals the uninterrupted run (pytest-pinned).
    Without ``state_dir`` a ``checkpoint`` still raises: the source
    would skip committed batches whose signatures the fresh state never
    saw, silently admitting their near-duplicates.

    Returns ``(query, drain)``: a StreamingQuery and a zero-arg callable
    producing the accumulated pair rows as a DataFrame of
    (i, j, j_in_corpus, inter, ni, nj) — never collected at the driver;
    with ``state_dir`` the drain reads the persisted pairs sink.
    ``j_in_corpus`` = 1 when the matched doc was already in the index
    when ``i`` arrived (historical corpus or an earlier batch), 0 for a
    same-batch peer."""
    from functools import reduce

    from ahnlich_spark.operators import dedup as D

    if checkpoint and not state_dir:
        raise ValueError(
            "streaming_incremental_dedup without state_dir keeps its dedup "
            "state in driver memory; a checkpointLocation would skip "
            "committed batches on restart while the state resets, silently "
            "admitting their near-duplicates. Pass state_dir (persisted "
            "signature/corpus/pairs parts + replay guard) to make the fold "
            "checkpoint-safe."
        )
    spark = corpus_df.sparkSession
    kw = dict(
        threshold=threshold,
        n_hashes=n_hashes,
        n_bands=n_bands,
        rows_per_band=rows_per_band,
        shingle_n=shingle_n,
        text_col=text_col,
        id_col=id_col,
    )
    if corpus_sig is None:
        corpus_sig = D.minhash_signature_table(
            corpus_df, n_hashes, shingle_n, text_col, id_col
        )
    elif len(corpus_sig.columns) != n_hashes + 2:
        # a persisted artifact built with a different n_hashes would
        # union with per-batch signature parts of another width and
        # corrupt candidates silently — refuse up front
        raise ValueError(
            f"corpus_sig has {len(corpus_sig.columns)} columns but "
            f"n_hashes={n_hashes} needs did, nsh, h0..h{n_hashes - 1} — "
            f"rebuild the signature artifact with matching parameters"
        )
    pairs_schema = (
        "i long, j long, j_in_corpus long, inter long, ni long, nj long"
    )
    # LAZY checkpoints: the first trigger's pair-search job materializes
    # each seed once and every later trigger reuses the stored rows —
    # the materialize-once contract without two eager full-scan jobs at
    # fold start (the caller often passes an already-persisted artifact,
    # which an eager checkpoint would pointlessly re-copy)
    seed_corpus = corpus_df.select(id_col, text_col).localCheckpoint(eager=False)
    seed_sig = corpus_sig.localCheckpoint(eager=False)
    # delta parts accumulated from the stream; the seed stays a separate
    # head entry so persisted parts never duplicate the caller's corpus
    state = {
        "corpus_parts": [],
        "sig_parts": [],
        "pairs_parts": [],
        "last_id": -1,
    }
    ptr_path = os.path.join(state_dir, "sincr_state.json") if state_dir else None
    ledger = _ReplayLedger()
    loaded_last = -1
    ptr_tables = {"corpus_parts": [], "sig_parts": [], "pairs_parts": []}
    if ptr_path:
        os.makedirs(state_dir, exist_ok=True)
        p = _read_json(ptr_path)
        if p is not None:
            _require_pointer_keys(p, ("batch_id",), "sincr", state_dir)
            for k in ptr_tables:
                ptr_tables[k] = list(p.get(k, []))
                state[k] = [
                    spark.read.parquet(os.path.join(state_dir, t))
                    for t in ptr_tables[k]
                ]
            state["last_id"] = loaded_last = int(p["batch_id"])
            ledger = _ReplayLedger.from_json(p.get("ledger"))
        # sweep orphans: a crash between the atomic pointer swap and the
        # post-commit GC (or mid-trigger before _commit) leaves sincr_*
        # part dirs no pointer references; without this they accumulate
        # across crashes forever. Uncommitted batch parts are safe to
        # drop — the replayed trigger rewrites them under the same name.
        live = {t for k in ptr_tables for t in ptr_tables[k]}
        for d in os.listdir(state_dir):
            path = os.path.join(state_dir, d)
            if (d.startswith("sincr_") and d not in live
                    and os.path.isdir(path)):
                shutil.rmtree(path, ignore_errors=True)

    def _union(parts):
        return reduce(lambda x, y: x.unionByName(y), parts)

    def _write_part(df: DataFrame, table: str) -> DataFrame:
        # batch-keyed name: a replayed crashed trigger overwrites its
        # own orphan instead of duplicating it
        path = os.path.join(state_dir, table)
        sch = nullable_schema(df.schema)  # plan analysis only, no job
        df.write.mode("overwrite").parquet(path)
        # schema-pinned read-back: no inference job per part
        return spark.read.schema(sch).parquet(path)

    def _commit(batch_id: int, stats) -> None:
        # observed getter: the batch's part writes have run by now
        if callable(stats):
            stats = stats()
        ledger.record(batch_id, *stats)
        old = _read_json(ptr_path)
        _atomic_write_json(ptr_path, {
            "batch_id": batch_id,
            "ledger": ledger.as_json(),
            **{k: list(v) for k, v in ptr_tables.items()},
        })
        # GC parts dropped by compaction, once the new pointer is live
        if old is not None:
            live = {t for k in ptr_tables for t in ptr_tables[k]}
            dead = {
                t for k, _ in _SINCR_PARTS for t in old.get(k, [])
            } - live
            for t in dead:
                shutil.rmtree(os.path.join(state_dir, t), ignore_errors=True)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if ptr_path and batch_id <= state["last_id"]:
            # replayed committed batch: its pairs/signatures/corpus rows
            # are already in the persisted parts — verify and skip
            ledger.verify(batch_id, loaded_last, *_batch_stats(batch_df),
                          "sincr")
            return
        stats = None
        if ptr_path:
            ledger.seal_replay("sincr")
            # ledger stats ride the batch's corpus-part write job
            # (observe metrics) instead of a separate aggregation (§1.2)
            batch_df, stats = _observed_stats(batch_df)
        # materialize ONLY this batch's pieces; prior parts are already
        # materialized, so the lazy union's lineage stays flat and the
        # per-trigger write cost is O(batch), not O(accumulated index)
        b = batch_df.select(id_col, text_col)
        b = (
            _write_part(b, f"sincr_corpus_b{batch_id}")
            if ptr_path else b.localCheckpoint()
        )
        # the batch's signature table is both a state part AND the band
        # input of the pair search — materialize it ONCE (write or
        # localCheckpoint) and reuse it via new_sig, instead of
        # re-deriving the shingle+minhash aggregation inside the pair
        # plan (one fewer batch-wide aggregation per trigger)
        sig_b = D.minhash_signature_table(
            b, n_hashes, shingle_n, text_col, id_col
        )
        sig_b = (
            _write_part(sig_b, f"sincr_sig_b{batch_id}")
            if ptr_path else sig_b.localCheckpoint()
        )
        pairs = D.minhash_lsh_incremental_pairs(
            b,
            _union([seed_corpus] + state["corpus_parts"]),
            corpus_sig=_union([seed_sig] + state["sig_parts"]),
            new_sig=sig_b,
            **kw,
        ).select(*(F.col(c).cast("long") for c in
                   ("i", "j", "j_in_corpus", "inter", "ni", "nj")))
        if ptr_path:
            pairs = _write_part(pairs, f"sincr_pairs_b{batch_id}")
            for k, suffix in _SINCR_PARTS:
                ptr_tables[k].append(f"sincr_{suffix}_b{batch_id}")
        else:
            pairs = pairs.localCheckpoint()
        state["pairs_parts"].append(pairs)
        state["sig_parts"].append(sig_b)
        state["corpus_parts"].append(b)
        for key, suffix in _SINCR_PARTS:
            if len(state[key]) > _COMPACT_PARTS:
                merged = _union(state[key])
                if ptr_path:
                    table = f"sincr_{suffix}_c{batch_id}"
                    state[key] = [_write_part(merged, table)]
                    ptr_tables[key] = [table]
                else:
                    state[key] = [merged.localCheckpoint()]
        state["last_id"] = batch_id
        if ptr_path:
            _commit(batch_id, stats)

    def drain() -> DataFrame:
        if not state["pairs_parts"]:
            return spark.createDataFrame([], pairs_schema)
        return _union(state["pairs_parts"])

    return _start_foreach_batch(doc_stream, _sink, checkpoint), drain


def streaming_kmv_distinct(
    value_stream: DataFrame,
    group_cols,
    value_col: str,
    k: int = 64,
    n_salts: int = 64,
    initial_minima: Optional[DataFrame] = None,
    state_dir: Optional[str] = None,
):
    """Live per-group distinct-cardinality monitoring: each micro-batch
    hashes its values, takes its own k-minima, and FOLDS them into the
    running minima state (union + re-take k) — the sketch-merge
    property of ``operators/sketches.kmv_minima`` doing exactly what it
    exists for. Because merge order never changes a KMV sketch, the
    state after any prefix of batches is bit-identical to the batch
    sketch over the same rows — pinned by the
    ``streaming_kmv_distinct`` gate, whose oracle replays the
    whole-data sketch in SQL.

    State is O(k x groups) rows, re-materialized per trigger — bounded
    by the sketch, not the stream, so no compaction machinery is
    needed (unlike ``streaming_incremental_dedup``'s growing index).
    ``initial_minima`` seeds the fold from a persisted sketch (the
    warm-start a monitoring pipeline resumes from). ``state_dir``
    makes the fold CHECKPOINT-SAFE without manual re-seeding: after
    every batch the minima table is written as parquet keyed by
    batch_id (overwrite — idempotent on a crashed write) and a
    pointer file is atomically replaced; a restarted fold auto-reseeds
    from the pointer (persisted state wins over ``initial_minima``)
    and a re-delivered batch with id <= the persisted id is skipped —
    kill-and-restart equals the uninterrupted run (pytest-pinned;
    exact, because KMV merge is order-free). Only the current and
    previous versions are retained.

    Returns ``(query, drain, drain_minima)``: ``drain()`` gives the
    current (group..., n_sketch, kth_min, est_distinct) estimates,
    ``drain_minima()`` the raw minima STATE to persist for the next
    session.
    """
    from ahnlich_spark.operators import sketches as SK

    group_cols = list(group_cols)

    def summarize(batch_df: DataFrame) -> DataFrame:
        bh = batch_df.filter(F.col(value_col).isNotNull()).select(
            *group_cols, SK.kmv_hash(F.col(value_col)).alias("_h")
        )
        return SK.kmv_minima(bh, group_cols, k, n_salts)

    q, drain_minima = _persisted_fold(
        value_stream, "kmv", summarize,
        lambda u: SK.kmv_minima(u, group_cols, k, n_salts),
        state_dir, initial_minima,
        "no batch processed and no initial_minima seeded",
    )

    def drain() -> DataFrame:
        return SK.kmv_estimate(drain_minima(), group_cols, k)

    return q, drain, drain_minima


def streaming_hll_distinct(
    value_stream: DataFrame,
    group_cols,
    value_col: str,
    m: int = 256,
    initial_registers: Optional[DataFrame] = None,
    state_dir: Optional[str] = None,
):
    """Live per-group distinct-cardinality monitoring on FIXED-size
    state: each micro-batch builds its own HLL register table and FOLDS
    it into the running one by union + per-(group, bucket) max — the
    simplest possible sketch merge, and order-free, so the state after
    any prefix of batches is bit-identical to the batch sketch over the
    same rows (pinned by the ``streaming_hll_distinct`` gate, whose
    oracle replays the whole-data register math in SQL).

    vs ``streaming_kmv_distinct``: registers are at most m rows per
    group FOREVER (KMV state is also O(k) but merges through a window;
    HLL merges through a plain max-aggregation), the trade being KMV's
    exact-below-k property. ``initial_registers`` seeds a warm start;
    ``state_dir`` makes the fold CHECKPOINT-SAFE (per-batch persisted
    registers keyed by batch_id, auto-reseed, replayed batches
    skipped — the same transactional recipe as the KMV/MG folds,
    pytest-pinned kill-and-restart).

    Returns ``(query, drain, drain_registers)``.
    """
    from ahnlich_spark.operators import sketches as SK

    group_cols = list(group_cols)
    q, drain_registers = _persisted_fold(
        value_stream, "hll",
        lambda b: SK.hll_registers(b, value_col, group_cols, m),
        lambda u: u.groupBy(*group_cols, "bucket")
        .agg(F.max("r").alias("r")),
        state_dir, initial_registers,
        "no batch processed and no initial_registers seeded",
    )

    def drain() -> DataFrame:
        return SK.hll_estimate(drain_registers(), group_cols, m)

    return q, drain, drain_registers


def streaming_histogram_quantiles(
    value_stream: DataFrame,
    group_cols,
    value_col: str,
    bin_width: int,
    qs,
    initial_summary: Optional[DataFrame] = None,
    state_dir: Optional[str] = None,
):
    """Live quantile monitoring: each micro-batch's fixed-grid histogram
    summary FOLDS into the running one (union + re-sum — histogram
    counts are additive, the same merge the batch operator
    ``sketches.histogram_summary`` documents). Because addition is
    order-free, the folded state is bit-identical to the batch summary
    over the same rows at every prefix; the ``streaming_histogram``
    gate pins the final quantiles against the whole-data SQL replay.

    State is O(grid x groups) rows re-materialized per trigger —
    bounded by the grid, not the stream. ``initial_summary`` seeds a
    warm start from a persisted summary. ``state_dir`` makes the fold
    CHECKPOINT-SAFE (per-batch persisted summary keyed by batch_id,
    auto-reseed, replayed batches skipped — the same transactional
    recipe as the KMV/MG folds, pytest-pinned kill-and-restart).

    Returns ``(query, drain, drain_summary)``: ``drain()`` gives the
    current quantile table (see ``sketches.histogram_quantiles``),
    ``drain_summary()`` the raw summary STATE."""
    from ahnlich_spark.operators import sketches as SK

    group_cols = list(group_cols)
    q, drain_summary = _persisted_fold(
        value_stream, "hist",
        lambda b: SK.histogram_summary(b, value_col, group_cols, bin_width),
        lambda u: u.groupBy(*group_cols, "bin")
        .agg(F.sum("cnt").cast("long").alias("cnt")),
        state_dir, initial_summary,
        "no batch processed and no initial_summary seeded",
    )

    def drain() -> DataFrame:
        return SK.histogram_quantiles(drain_summary(), qs, group_cols, bin_width)

    return q, drain, drain_summary


def streaming_heavy_hitters(
    value_stream: DataFrame,
    value_col: str,
    capacity: int = 4096,
    initial_counter: Optional[dict] = None,
    state_dir: Optional[str] = None,
):
    """Live frequency-head monitoring: each micro-batch's per-partition
    Misra-Gries summaries (bounded collect: <= capacity x batch
    partitions rows) FOLD into a driver-side MG counter of at most
    ``capacity`` entries — the mergeable-summaries property, so after
    any prefix of batches every value with global count >
    N/(capacity+1) is guaranteed present in the counter (superset, like
    the batch pass 1).

    MG *estimates* are fold-order-dependent, so the counter itself is
    monitoring signal, not an answer. ``drain_topk(corpus_df, k)`` is
    the answer path: exact counts of the candidate set over the
    accumulated corpus plus the N/(capacity+1) certificate — the
    deployment where a stream maintains candidates continuously and a
    periodic batch job certifies the exact head
    (operators/sketches.certified_topk; N and the pruned flag come from
    the stream's own accounting, so the certificate is against the
    streamed row count).

    State is O(capacity) Python entries — driver-bounded by design.
    ``state_dir`` makes the fold CHECKPOINT-SAFE: after every batch
    the (counter, n, pruned) state is written atomically keyed by
    batch_id, a restarted fold auto-reseeds from it (persisted state
    wins over ``initial_counter``), and a re-delivered batch with
    id <= the persisted id is skipped — kill-and-restart equals the
    uninterrupted run (pytest-pinned). Without ``state_dir`` the old
    manual recipe stands: persist ``drain_counter()`` and re-seed
    ``initial_counter``.

    Returns ``(query, drain_counter, drain_topk)``.
    """
    from ahnlich_spark.operators import sketches as SK

    state = {
        "counter": dict(initial_counter) if initial_counter else {},
        "n": 0,
        "pruned": False,
        "last_id": -1,
    }
    state_path = os.path.join(state_dir, "mg_state.json") if state_dir else None
    ledger = _ReplayLedger()
    loaded_last = -1
    if state_path:
        persisted = _read_json(state_path)
        if persisted is not None:
            _require_pointer_keys(
                persisted, ("counter_items", "n", "pruned", "batch_id"),
                "mg", state_dir,
            )
            # counter persisted as [key, count] PAIRS: JSON object keys
            # are always strings, which would silently retype int/float
            # values and split their counts after a restart
            state["counter"] = {k: int(v) for k, v in persisted["counter_items"]}
            state["n"] = int(persisted["n"])
            state["pruned"] = bool(persisted["pruned"])
            state["last_id"] = int(persisted["batch_id"])
            loaded_last = state["last_id"]
            ledger = _ReplayLedger.from_json(persisted.get("ledger"))

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        # the ledger tracks the NON-NULL value multiset (the fold
        # consumes nothing but value_col and drops nulls either way) —
        # record and verify use the same projection
        proj = batch_df.filter(F.col(value_col).isNotNull()).select(value_col)
        if state_path and batch_id <= state["last_id"]:
            # replayed batch: verify it is the batch we folded (a
            # restart that batches the source differently must refuse,
            # not silently drop never-folded rows)
            ledger.verify(batch_id, loaded_last, *_batch_stats(proj), "mg")
            return
        stats = None
        if state_path:
            ledger.seal_replay("mg")
            # ledger stats ride the fold's own candidate-collect job
            # (observe metrics): heavy_hitter_candidates dropna's
            # value_col internally, so feeding it the pre-filtered
            # projection is row-for-row identical — and the separate
            # single-column _batch_stats job is gone (§1.2)
            proj, stats = _observed_stats(proj)
        summ = SK.heavy_hitter_candidates(
            proj if state_path else batch_df, value_col, capacity
        ).collect()
        n_batch = sum(r["part_rows"] for r in summ)
        state["n"] += n_batch
        state["pruned"] = state["pruned"] or any(r["pruned"] for r in summ)
        live = [(r["value"], r["mg_est"]) for r in summ if r["value"] is not None]
        before = len(set(state["counter"]).union(v for v, _ in live))
        state["counter"] = SK.mg_summary_merge(state["counter"], live, capacity)
        state["pruned"] = state["pruned"] or len(state["counter"]) < before
        state["last_id"] = batch_id
        if state_path:
            # the candidate collect above ran the observed projection
            ledger.record(batch_id, *stats())
            _atomic_write_json(state_path, {
                "batch_id": batch_id,
                "counter_items": [[k, v] for k, v in state["counter"].items()],
                "n": state["n"],
                "pruned": state["pruned"],
                "ledger": ledger.as_json(),
            })

    def drain_counter() -> dict:
        return dict(state["counter"])

    def drain_topk(corpus_df: DataFrame, k: int, verify: bool = True) -> DataFrame:
        spark = corpus_df.sparkSession
        # MG counter is capacity-bounded: one slice, not #cores
        cand = local_rows_df(
            spark, [(v,) for v in state["counter"]], "value string"
        )
        return SK.certified_topk(
            corpus_df.select(F.col(value_col).cast("string").alias("value")),
            "value", cand, k, capacity, state["n"], state["pruned"], verify,
        )

    q = _start_foreach_batch(value_stream, _sink, None)
    return q, drain_counter, drain_topk


def streaming_cms_counts(
    value_stream: DataFrame,
    group_cols,
    value_col: str,
    depth: int = 4,
    width: int = 1024,
    initial_table: Optional[DataFrame] = None,
    state_dir: Optional[str] = None,
):
    """Live point-frequency monitoring on bounded state: each
    micro-batch's Count-Min sketch FOLDS into the running one (union +
    re-sum per (group, row, bucket) — counts are additive, the merge
    rule ``sketches.cms_table`` documents). Addition is order-free, so
    the folded state is bit-identical to the batch sketch over the same
    rows at every prefix; estimates never underestimate regardless of
    where a batch boundary fell.

    State is O(depth x width x groups) rows re-materialized per
    trigger — bounded by the grid, never by the vocabulary or the
    stream. ``initial_table`` seeds a warm start; ``state_dir`` makes
    the fold CHECKPOINT-SAFE (per-batch persisted table keyed by
    batch_id, auto-reseed, replayed batches skipped — the same
    transactional recipe as the other folds, pytest-pinned
    kill-and-restart).

    Returns ``(query, estimate, drain_table)``: ``estimate(keys_df)``
    gives never-underestimating counts for the probed keys,
    ``drain_table()`` the raw sketch STATE."""
    from ahnlich_spark.operators import sketches as SK

    group_cols = list(group_cols)
    q, drain_table = _persisted_fold(
        value_stream, "cms",
        lambda b: SK.cms_table(b, value_col, group_cols, depth, width),
        lambda u: u.groupBy(*group_cols, "row", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt")),
        state_dir, initial_table,
        "no batch processed and no initial_table seeded",
    )

    def estimate(keys_df: DataFrame) -> DataFrame:
        return SK.cms_estimate(drain_table(), keys_df, value_col,
                               group_cols, depth, width)

    return q, estimate, drain_table


def streaming_embedding_drift(
    vec_stream: DataFrame,
    baseline_means: DataFrame,
    vec_col: str = "embedding",
    state_dir: Optional[str] = None,
):
    """Live embedding-distribution drift monitoring — the streaming
    face of the ``Engine.maintain_index`` decision input: each
    micro-batch's per-dimension (e9-component sum, count) FOLDS into
    running state by plain addition (order-free, so the streamed means
    are bit-identical to ``operators/evaluation.dim_means_e9`` over the
    same rows at every prefix), and ``drain()`` compares them against
    ``baseline_means`` (a persisted (dim, mean_e9) table — the
    training-time distribution) exactly like the batch
    ``embedding_drift``.

    The deployment: a monitoring stream watches the ingest feed and
    pages (or calls ``maintain_index``) when ``max(drift_e9)`` crosses
    the retrain threshold — without ever rescanning the store. State is
    O(dims) rows; ``state_dir`` makes the fold CHECKPOINT-SAFE (same
    transactional recipe as the sketch folds).

    Returns ``(query, drain, drain_sums)``: ``drain()`` gives
    (dim, mean_a_e9 = baseline, mean_b_e9 = streamed, drift_e9),
    ``drain_sums()`` the raw (dim, n, sum_e9) STATE."""
    comp_e9 = F.round(F.col("comp").cast("double") * 1_000_000_000).cast("long")

    def summarize(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.filter(F.col(vec_col).isNotNull())
            .select(F.posexplode(F.col(vec_col)).alias("dim", "comp"))
            .select("dim", comp_e9.alias("c"))
            .groupBy("dim")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("c").cast("long").alias("sum_e9"),
            )
        )

    q, drain_sums = _persisted_fold(
        vec_stream, "drift", summarize,
        lambda u: u.groupBy("dim").agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("sum_e9").cast("long").alias("sum_e9"),
        ),
        state_dir, None, "no batch processed yet",
    )

    def drain() -> DataFrame:
        cur = drain_sums().select(
            "dim", F.expr("sum_e9 div n").cast("long").alias("mean_b_e9")
        )
        base = baseline_means.select(
            F.col("dim").cast("long").alias("dim"),
            F.col("mean_e9").alias("mean_a_e9"),
        )
        return base.join(cur, "dim").select(
            "dim", "mean_a_e9", "mean_b_e9",
            F.abs(F.col("mean_a_e9") - F.col("mean_b_e9")).cast("long")
            .alias("drift_e9"),
        )

    return q, drain, drain_sums
