"""Parquet-backed store tables with a base+delta incremental layout.

The reference holds each store as a concurrent hashmap in RAM where a
SET is an O(batch) map insert (ahnlich/db/src/engine/store.rs:1050-1135)
with whole-DB JSON snapshots (ahnlich/utils/src/persistence.rs:109-180).
Spark-first replacement:

- The BASE of a store is an immutable parquet directory ``v<N>``,
  hash-distributed by ``id`` (or directory-partitioned by an ANN layout
  key) so lookups and probe filters prune without shuffling.
- MUTATIONS append small immutable DELTA segments ``d<N>_<i>`` — upsert
  rows plus id tombstones — so a 10-row SET into a 100 TB store writes
  ~10 rows, never the store. This is the same O(batch) contract as the
  reference's map insert, at directory granularity.
- READS merge base+deltas keep-last-by-id: the delta side (small by
  construction — compaction bounds it) resolves its per-id winner with
  one tiny shuffle, then the base is anti-joined against the BROADCAST
  delta-id set. The 100 TB base never shuffles, and pushed-down filters
  on layout/predicate columns still prune base files through the union.
- ``Engine.compact()`` folds deltas into a fresh base version; writers
  auto-compact past a segment-count threshold, bounding merge cost.

Version/segment directories are immutable once written; the catalog
pointer flips last (same tempfile+rename idea the reference uses), and
superseded versions + their deltas are GC'd after a retention window.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from functools import reduce
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ahnlich_spark.catalog import Catalog, StoreMeta
from ahnlich_spark.types import store_schema

# Fallback partition count when the optimizer has no size estimate.
DEFAULT_BUCKETS = 8
# Versions kept per store after a write: current + previous. The
# previous version keeps already-handed-out lazy DataFrames readable
# across one mutation (the DSL pipeline contract); Engine.vacuum()
# reclaims it. Same idea as Delta's VACUUM retention window.
KEEP_VERSIONS = 2
# Hard cap on derived bucket counts (1000-executor scale still keeps
# task counts sane; AQE coalesces further at runtime).
MAX_BUCKETS = 65536


# Internal index columns embedded in the store files (computed at
# write time so queries never re-project or join them):
#   _ann_sig     BIGINT  LSH random-projection signature   (hnsw analog)
#   _ann_sigp    INT     signature prefix = partition-layout key
#   _ann_bucket  INT     IVF nearest-centroid id = partition-layout key
#   _pred_<key>  STRING  flat copy of meta[<key>].s for an indexed
#                        predicate key — map access gets no parquet
#                        pushdown, a flat column does
ANN_COLUMNS = ("_ann_sig", "_ann_sigp", "_ann_bucket", "_ann_pqcode")
INTERNAL_PREFIXES = ("_ann_", "_pred_")

# Delta-segment bookkeeping columns (never visible outside this module):
#   _dop    TINYINT  1 = upsert row, 0 = id tombstone. Within a segment
#                    an upsert beats a tombstone for the same id (a SET
#                    that deletes-then-inserts the same vector keeps it).
#   _segno  INT      segment ordinal, added at READ time — later
#                    segments win keep-last-by-id.
DELTA_OP_COL = "_dop"
DELTA_SEG_COL = "_segno"

# merged reads force-broadcast the delta-id anti-join side only while
# the delta chain's on-disk bytes stay under this cap (see _merged_view)
BROADCAST_DELTA_MAX_BYTES = 256 * 1024 * 1024


def internal_columns(df: DataFrame):
    return [c for c in df.columns if c.startswith(INTERNAL_PREFIXES)]


def drop_internal(df: DataFrame) -> DataFrame:
    """``df`` without its internal index columns: what
    ``read_store(canonical=True)`` returns, derived from a frame already
    read with ``canonical=False``."""
    extra = internal_columns(df)
    return df.drop(*extra) if extra else df


def _base_schema(meta: StoreMeta) -> Optional[T.StructType]:
    """The catalog-pinned read schema of the CURRENT base version, or
    None (pre-pin catalogs / historical versions → infer)."""
    if not meta.file_schema:
        return None
    import json as _json

    return T.StructType.fromJson(_json.loads(meta.file_schema))


def _delta_schema(meta: StoreMeta) -> Optional[T.StructType]:
    """Delta segments mirror the base read schema plus the _dop marker
    (write_delta's contract), so the pinned base schema pins them too."""
    base = _base_schema(meta)
    if base is None:
        return None
    return T.StructType(
        list(base.fields) + [T.StructField(DELTA_OP_COL, T.ByteType())]
    )


def _read_pinned(spark: SparkSession, schema: Optional[T.StructType],
                 path: str) -> DataFrame:
    """Parquet read that skips schema inference when a pinned schema is
    available — inference is a file listing + footer read (a one-task
    Spark job locally, a metadata storm at 100 TB) on EVERY read."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def _merged_view(
    spark: SparkSession, catalog: Catalog, meta: StoreMeta, base: DataFrame
) -> DataFrame:
    """Base+delta merge, shaped for a 100 TB base: the per-id winner is
    resolved among the (small) delta segments only — ONE bounded shuffle
    — then the base drops superseded/tombstoned ids via a left-anti join
    whose build side is the broadcast delta-id set. The base side never
    shuffles, and filters above push through the union into the pruned
    base scan."""
    dschema = _delta_schema(meta)
    segs = [
        _read_pinned(spark, dschema, catalog.delta_path(meta, i)).withColumn(
            DELTA_SEG_COL, F.lit(i)
        )
        for i in range(1, meta.deltas + 1)
    ]
    deltas = reduce(lambda a, b: a.unionByName(b), segs)
    w = Window.partitionBy("id").orderBy(
        F.col(DELTA_SEG_COL).desc(), F.col(DELTA_OP_COL).desc()
    )
    latest = (
        deltas.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    )
    live = latest.filter(F.col(DELTA_OP_COL) == 1).drop(
        "_rn", DELTA_SEG_COL, DELTA_OP_COL
    )
    shadowed = latest.select("id")
    # broadcast only while the delta chain is genuinely small: the
    # chain is bounded in SEGMENT count by compaction, not in rows —
    # one huge SET makes a huge segment, and a forced broadcast of its
    # id set would pin gigabytes on every executor (the hint disables
    # AQE's fallback). On-disk segment bytes are a cheap, accurate
    # proxy; past the cap the planner decides (a shuffled anti-join of
    # a big delta against a big base is the right plan anyway).
    delta_bytes = 0
    for i in range(1, meta.deltas + 1):
        d = catalog.delta_path(meta, i)
        if os.path.isdir(d):
            for root, _dirs, files in os.walk(d):
                delta_bytes += sum(
                    os.path.getsize(os.path.join(root, f)) for f in files
                )
    if delta_bytes <= BROADCAST_DELTA_MAX_BYTES:
        shadowed = F.broadcast(shadowed)
    kept = base.join(shadowed, "id", "left_anti")
    return kept.unionByName(live.select(*kept.columns))


def read_store(
    spark: SparkSession,
    catalog: Catalog,
    meta: StoreMeta,
    canonical: bool = True,
    version: Optional[int] = None,
    segments: Optional[int] = None,
) -> DataFrame:
    """Snapshot of a store as a DataFrame (empty stores give an empty
    frame with the canonical schema), merging any delta segments over
    the base version. ``canonical=True`` hides the internal index
    columns; index-aware query paths read with ``canonical=False`` to
    use them.

    TIME TRAVEL: ``version``/``segments`` read a RETAINED historical
    snapshot — base ``version`` with its first ``segments`` delta
    segments (both default to the current state). Version/segment dirs
    are immutable once written, so a historical read is exactly as
    consistent (and as cheap) as a current one; retention is governed
    by KEEP_VERSIONS + vacuum."""
    v = meta.version if version is None else int(version)
    if v == 0:
        return spark.createDataFrame([], store_schema())
    if version is not None and version != meta.version:
        from dataclasses import replace as _replace

        retained = dict(catalog.list_versions(meta))
        if v not in retained:
            raise ValueError(
                f"version {v} of {meta.schema}.{meta.name} is not retained; "
                f"available: {sorted(retained)}"
            )
        s = retained[v] if segments is None else int(segments)
        if not 0 <= s <= retained[v]:
            raise ValueError(
                f"segments must be in [0, {retained[v]}] for version {v}, got {segments}"
            )
        # the pinned schema describes the CURRENT version only — a
        # historical version may predate an index backfill; infer there
        meta = _replace(meta, version=v, deltas=s, file_schema=None)
    elif segments is not None:
        from dataclasses import replace as _replace

        if not 0 <= int(segments) <= meta.deltas:
            raise ValueError(
                f"segments must be in [0, {meta.deltas}], got {segments}"
            )
        meta = _replace(meta, deltas=int(segments))
    df = _read_pinned(spark, _base_schema(meta), catalog.store_path(meta))
    if meta.deltas:
        df = _merged_view(spark, catalog, meta, df)
    return drop_internal(df) if canonical else df


def read_changes(
    spark: SparkSession,
    catalog: Catalog,
    meta: StoreMeta,
    from_version: int,
    from_segments: int = 0,
    to_version: Optional[int] = None,
    to_segments: Optional[int] = None,
) -> DataFrame:
    """Change data feed between two retained snapshots — the base+delta
    layout's analog of Delta Lake's CDF, and the piece an incremental
    downstream pipeline needs at 100 TB: refreshing a derived table
    after a day of mutations costs O(changes), never a diff of two full
    snapshots.

    Returns the NET change per id in (from_version, from_segments] ..
    (to_version, to_segments] as canonical rows plus ``change_type`` in
    {insert, update, delete}: the delta segments in the range (each
    O(batch), immutable) union with keep-last-by-id exactly like the
    merged read, and one broadcast-probed scan of the FROM snapshot
    classifies insert-vs-update, drops no-op tombstones, and supplies
    the PRE-IMAGE payload for delete rows. The big
    side never shuffles. Version bumps (compaction / index backfill)
    fold-but-preserve content, so a range spanning them chains the old
    version's remaining retained segments with the new version's —
    zero logical changes from the rewrite itself."""
    if to_version is None:
        to_version = meta.version
    retained = dict(catalog.list_versions(meta))
    if to_version == meta.version:
        retained[meta.version] = meta.deltas
    if to_segments is None:
        # historical targets default to the version's full committed
        # segment count, exactly like read_store's time travel
        to_segments = (meta.deltas if to_version == meta.version
                       else retained.get(to_version))
    out_schema = T.StructType(
        list(store_schema().fields)
        + [T.StructField("change_type", T.StringType(), False)]
    )
    if from_version == 0:
        # changes since the EMPTY snapshot: version 0 never exists on
        # disk (the first SET writes the v1 base, not a delta), so the
        # CDF from (0, 0) is BY DEFINITION the TO snapshot as inserts —
        # this is what lets a derived view created on an empty store
        # refresh after its first data lands
        if from_segments != 0:
            raise ValueError(
                f"version 0 has no segments, got from_segments={from_segments}"
            )
        if to_version == 0:
            return spark.createDataFrame([], out_schema)
        snap = read_store(
            spark, catalog, meta,
            version=None if to_version == meta.version else to_version,
            segments=to_segments,
        )
        return snap.select(
            "id", "key", "meta", F.lit("insert").alias("change_type")
        )
    for v, s in ((from_version, from_segments), (to_version, to_segments)):
        if v not in retained:
            raise ValueError(
                f"version {v} of {meta.schema}.{meta.name} is not retained; "
                f"available: {sorted(retained)}"
            )
        if s is None or not 0 <= s <= retained[v]:
            raise ValueError(
                f"segments must be in [0, {retained[v]}] for version {v}, got {s}"
            )
    if (from_version, from_segments) > (to_version, to_segments):
        raise ValueError("change range must run forward in time")
    for v in range(from_version + 1, to_version):
        if v not in retained:
            raise ValueError(
                f"intermediate version {v} is not retained — vacuumed ranges "
                "cannot be replayed (widen KEEP_VERSIONS or feed from a "
                "fresher snapshot)"
            )

    seg_paths = []
    for v in range(from_version, to_version + 1):
        lo = from_segments if v == from_version else 0
        hi = to_segments if v == to_version else retained[v]
        seg_paths += [(v, catalog.delta_path(meta, i, version=v))
                      for i in range(lo + 1, hi + 1)]
    if not seg_paths:
        return spark.createDataFrame([], out_schema)

    # segments of the CURRENT version read with the catalog-pinned
    # schema (no inference job); older versions may predate an index
    # rewrite, so they infer
    dschema = _delta_schema(meta)
    segs = [
        _read_pinned(
            spark, dschema if v == meta.version else None, p
        ).withColumn(DELTA_SEG_COL, F.lit(n))
        for n, (v, p) in enumerate(seg_paths, start=1)
    ]
    deltas = reduce(lambda a, b: a.unionByName(b), segs)
    w = Window.partitionBy("id").orderBy(
        F.col(DELTA_SEG_COL).desc(), F.col(DELTA_OP_COL).desc()
    )
    net = (
        deltas.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("id", "key", "meta", DELTA_OP_COL)
    )
    # classify against the FROM snapshot: scan it ONCE, probe with the
    # broadcast net-change id set (small by construction), broadcast
    # the tiny matched slice back — the snapshot never shuffles. The
    # matched slice doubles as the PRE-IMAGE: delete rows carry the
    # deleted row's last content, not null tombstone payloads.
    base_a = read_store(
        spark, catalog, meta, version=from_version, segments=from_segments
    )
    pre = base_a.join(F.broadcast(net.select("id")), "id", "inner").select(
        "id",
        F.col("key").alias("_pre_key"),
        F.col("meta").alias("_pre_meta"),
        F.lit(True).alias("_in_from"),
    )
    marked = net.join(F.broadcast(pre), "id", "left")
    change = (
        F.when((F.col(DELTA_OP_COL) == 1) & F.col("_in_from").isNotNull(),
               F.lit("update"))
        .when(F.col(DELTA_OP_COL) == 1, F.lit("insert"))
        .when(F.col("_in_from").isNotNull(), F.lit("delete"))
    )  # op=0 on an id absent from the FROM snapshot: no-op tombstone
    is_del = F.col(DELTA_OP_COL) == 0
    return (
        marked.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            "id",
            F.when(is_del, F.col("_pre_key")).otherwise(F.col("key")).alias("key"),
            F.when(is_del, F.col("_pre_meta")).otherwise(F.col("meta")).alias("meta"),
            "change_type",
        )
    )


def _parse_byte_size(raw: str, default: int = 134217728) -> int:
    """Spark byte-size strings with unit suffixes ('128m', '1g',
    '134217728b') — stripping non-digits would read '128m' as 128
    BYTES and explode small stores into MAX_BUCKETS tiny files."""
    import re as _re

    m = _re.match(r"^\s*(\d+)\s*([kmgtp]?)i?b?\s*$", str(raw).lower())
    if not m:
        return default
    mult = {"": 1, "k": 1024, "m": 1024 ** 2, "g": 1024 ** 3,
            "t": 1024 ** 4, "p": 1024 ** 5}[m.group(2)]
    return int(m.group(1)) * mult


def derive_buckets(df: DataFrame) -> int:
    """Partition count for a store write, derived from Catalyst's size
    estimate over ``spark.sql.files.maxPartitionBytes`` — small stores
    write one file, 100 TB stores write ~one-scan-split-sized files.
    Catalyst over-estimates post-join plans (row-count products), which
    errs toward MORE buckets; the cap and AQE coalescing bound that."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return DEFAULT_BUCKETS
    spark = df.sparkSession
    raw = str(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    target = _parse_byte_size(raw)
    if size <= 0 or size >= (1 << 62):  # unknown / Long.MaxValue sentinel
        return DEFAULT_BUCKETS
    return max(1, min(MAX_BUCKETS, math.ceil(size / target)))


def write_store(
    df: DataFrame,
    catalog: Catalog,
    meta: StoreMeta,
    n_buckets: Optional[int] = None,
    layout_col: Optional[str] = None,
    sort_cols: Optional[list] = None,
) -> StoreMeta:
    """Write ``df`` as the next version of the store and flip the catalog
    pointer. Without a ``layout_col`` data is hash-distributed by id so
    future id-joins read co-located files; with one (an ANN index key:
    IVF bucket or LSH sig-prefix) the version is directory-partitioned
    by it so probe filters prune whole files. ``sort_cols`` (indexed
    predicate columns) cluster rows inside each file so row-group
    min/max + dictionary stats prune scans. Version dirs older than
    the KEEP_VERSIONS retention window are GC'd after the flip."""
    if n_buckets is None:
        n_buckets = derive_buckets(df)
    new_version = meta.version + 1
    path = catalog.store_path(meta, new_version)
    if layout_col is not None and layout_col in df.columns:
        # hash-distribute on the layout key so each partition dir is
        # written by one task (one file per dir, not tasks x dirs)
        out = df.repartition(n_buckets, layout_col)
        if sort_cols:
            out = out.sortWithinPartitions(layout_col, *sort_cols)
        out.write.mode("overwrite").partitionBy(layout_col).parquet(path)
    else:
        out = df.repartition(n_buckets, "id")
        if sort_cols:
            out = out.sortWithinPartitions(*sort_cols)
        out.write.mode("overwrite").parquet(path)
    # pin the version's READ schema in the catalog: ONE inference here
    # (the write just planned this very frame, the footer is hot) buys
    # inference-free scans for every subsequent read of this base and
    # its delta segments — per-read inference is a file listing +
    # footer job that repeats at every query, ruinous at 100 TB
    file_schema = df.sparkSession.read.parquet(path).schema.json()
    with catalog._lock:
        # the rewrite folded the snapshot read at (version, deltas) as
        # passed in `meta` — if another facade committed a delta or a
        # version since, flipping the pointer would silently DISCARD
        # that committed data (its rows are not in the fold). Refuse
        # loudly; the caller re-reads and retries.
        catalog.reload()
        try:
            fresh = catalog.get_store(meta.name, meta.schema)
        except Exception:
            fresh = None
        if fresh is not None and (fresh.version, fresh.deltas) != (
            meta.version, meta.deltas
        ):
            shutil.rmtree(path, ignore_errors=True)  # orphan fold
            raise RuntimeError(
                f"write_store: {meta.schema}.{meta.name} moved from "
                f"({meta.version}, {meta.deltas}) to "
                f"({fresh.version}, {fresh.deltas}) while the rewrite "
                f"ran — committing would drop the concurrent writer's "
                f"data; re-read and retry"
            )
        meta.version = new_version
        meta.deltas = 0  # a fresh base folds/obsoletes all prior segments
        meta.file_schema = file_schema
        catalog.put_store(meta)
    catalog.gc_versions(meta, keep=KEEP_VERSIONS)
    return meta


def write_delta(
    spark: SparkSession,
    catalog: Catalog,
    meta: StoreMeta,
    upserts: Optional[DataFrame] = None,
    tombstone_ids: Optional[DataFrame] = None,
) -> StoreMeta:
    """Append ONE immutable delta segment — upsert rows (``_dop=1``) and
    id tombstones (``_dop=0``) in a uniform schema — then bump the
    catalog's segment count. Cost is O(batch): the base is not read or
    written. ``upserts`` must already carry the store's index columns
    (Engine._index_columns) so merged reads stay index-aware; tombstones
    carry nulls for every non-id column (they never survive the merge).
    """
    if upserts is None and tombstone_ids is None:
        return meta
    # mirror the BASE file schema exactly: a dropped index can leave
    # stale index columns in the base that fresh upserts no longer
    # compute — those ride as nulls so merged reads union cleanly (the
    # stale columns are dead weight until the next base rewrite clears
    # them; queries never consult a dropped index). The catalog-pinned
    # schema IS that file schema (recorded at base write), so the
    # per-append footer read only happens on pre-pin catalogs.
    base_schema = _base_schema(meta)
    if base_schema is None:
        base_schema = spark.read.parquet(catalog.store_path(meta)).schema
    if upserts is not None:
        have = set(upserts.columns)
        missing_core = {"id", "key", "meta"} - have
        if missing_core:
            raise ValueError(f"delta upserts missing columns {sorted(missing_core)}")
        upserts = upserts.select(
            *[
                F.col(f.name) if f.name in have
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in base_schema.fields
            ]
        )
    parts = []
    if tombstone_ids is not None:
        null_cols = [
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in base_schema.fields
            if f.name != "id"
        ]
        parts.append(
            tombstone_ids.select("id").distinct().select(
                "id", *null_cols, F.lit(0).cast("tinyint").alias(DELTA_OP_COL)
            )
        )
    if upserts is not None:
        parts.append(
            upserts.select(
                "id", *[f.name for f in base_schema.fields if f.name != "id"],
                F.lit(1).cast("tinyint").alias(DELTA_OP_COL),
            )
        )
    seg = reduce(lambda a, b: a.unionByName(b), parts)
    # Segment paths are immutable once written: commit with
    # errorifexists so two Engine facades on the same warehouse (the
    # MAX_CLIENTS registry explicitly supports this) can never clobber
    # each other's committed segment. On collision, re-read the catalog
    # pointer (the other writer bumped ``deltas``) and claim the next
    # free number — the losing writer's rows land in a later segment,
    # not on the floor.
    stalls = 0
    for _attempt in range(64):
        try:
            seg.write.mode("errorifexists").parquet(
                catalog.delta_path(meta, meta.deltas + 1)
            )
            break
        except Exception as exc:  # AnalysisException: path already exists
            if "already exists" not in str(exc):
                raise
            catalog.reload()
            fresh = catalog.get_store(meta.name, meta.schema)
            if fresh.deltas <= meta.deltas and fresh.version == meta.version:
                # path exists but no committed pointer covers it. TWO
                # causes look identical from here: a writer that
                # CRASHED mid-write (partial segment, pointer never
                # coming), and a live writer IN FLIGHT between its
                # multi-second segment write and its pointer commit.
                # Wait-and-recheck before declaring a crash — raising
                # immediately would drop this batch on the floor for
                # the entire in-flight window of a healthy concurrent
                # writer.
                stalls += 1
                if stalls >= 12:  # ~8s of pointer silence: a real crash
                    raise
                time.sleep(0.1 * stalls)
                continue
            stalls = 0
            meta = fresh
            # our caller's accounting was computed against a view that
            # missed the other writer's commit — dirty BOTH caches so
            # the next info call recomputes them exactly
            meta.len_cache = -1
            meta.bytes_cache = -1
    else:
        raise RuntimeError(
            f"write_delta: could not claim a delta segment for {meta.name} "
            "after 64 attempts (concurrent writer storm)"
        )
    claimed = meta.deltas + 1
    with catalog._lock:
        # MAX-merge the pointer: a concurrent facade may have committed
        # a higher segment between our claim and this bump — regressing
        # the count would orphan its committed segment and wedge the
        # next claim. (Cross-process facades narrow, not close, this
        # window: the reload below adopts any pointer committed first.)
        catalog.reload()
        try:
            fresh = catalog.get_store(meta.name, meta.schema)
        except Exception:
            fresh = None
        if fresh is not None and fresh.version == meta.version                 and fresh.deltas >= claimed:
            meta.deltas = fresh.deltas
            meta.len_cache = -1
            meta.bytes_cache = -1
        else:
            meta.deltas = claimed
        catalog.put_store(meta)
    return meta
