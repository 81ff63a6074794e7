"""Per-layer tracing from outside the program: wall-time spans around
calls into each module's public functions, and Spark job, stage, task,
shuffle and input-row counts per operation read from the application
status store. Used only by ``--trace 1`` runs."""

from __future__ import annotations

import contextlib
import functools
import sys
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

COUNTS = ("jobs", "stages", "tasks", "shuffle_bytes", "input_rows")


class SparkCounters:
    """Counts for the jobs launched since a mark. Job ids are assigned
    in submission order, so with one client the jobs of an operation
    are exactly those after the mark taken before it."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._last = -1

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def _advance(self) -> list:
        new = []
        while True:
            try:
                job = self._store.job(self._last + 1)
            except Py4JJavaError:  # NoSuchElementException: no such job yet
                return new
            self._last += 1
            new.append(job)

    def mark(self) -> None:
        self._drain()
        self._advance()

    def since_mark(self) -> dict:
        self._drain()
        out = dict.fromkeys(COUNTS, 0)
        for job in self._advance():
            out["jobs"] += 1
            it = job.stageIds().iterator()
            while it.hasNext():
                stage = self._store.lastStageAttempt(it.next())
                if str(stage.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += stage.numTasks()
                out["shuffle_bytes"] += stage.shuffleReadBytes() + stage.shuffleWriteBytes()
                out["input_rows"] += stage.inputRecords()
        return out


class Tracer:
    """Wraps layer functions for the life of a run; ``spans`` maps a
    layer name to [calls, seconds] and ``notes`` to recorded values."""

    def __init__(self, spark):
        self.counters = SparkCounters(spark)
        self.spans = defaultdict(lambda: [0, 0.0])
        self.notes = defaultdict(list)
        self._lock = threading.Lock()
        self._undo = []
        self.paused = False  # set around work only traced runs do

    @contextlib.contextmanager
    def pause(self):
        self.paused = True
        try:
            yield
        finally:
            self.paused = False

    def record(self, name: str, seconds: float) -> None:
        with self._lock:
            span = self.spans[name]
            span[0] += 1
            span[1] += seconds

    def note(self, name: str, value) -> None:
        with self._lock:
            self.notes[name].append(value)

    def _timed(self, name, fn, on_call=None, on_result=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if self.paused:
                return fn(*args, **kwargs)
            if on_call is not None:
                on_call(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                self.record(name, time.perf_counter() - t0)
            if on_result is not None:
                on_result(out)
            return out

        return wrapper

    def method(self, cls, attr: str, name: str, **hooks) -> None:
        """Time ``cls.attr`` under ``name``."""
        original = cls.__dict__[attr]
        setattr(cls, attr, self._timed(name, original, **hooks))
        self._undo.append((cls, attr, original))

    def function(self, module, attr: str, name: str, **hooks) -> None:
        """Time ``module.attr`` under ``name`` everywhere the package
        refers to it, including names imported into other modules."""
        original = getattr(module, attr)
        wrapped = self._timed(name, original, **hooks)
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("ahnlich_spark"):
                continue
            for key, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, key, wrapped)
                    self._undo.append((mod, key, original))

    def restore(self) -> None:
        for owner, attr, original in reversed(self._undo):
            setattr(owner, attr, original)
        self._undo.clear()

    def per_call(self, name: str) -> float:
        calls, seconds = self.spans.get(name, (0, 0.0))
        return seconds / calls if calls else 0.0


def install_layers(tracer: Tracer) -> None:
    """The layer boundaries every workload is traced at."""
    import ahnlich_spark.ai.embedder as embedder
    import ahnlich_spark.catalog as catalog
    import ahnlich_spark.dsl.parser as parser
    import ahnlich_spark.sources.store_io as store_io
    from ahnlich_spark.plans.engine import Engine

    def segments_read(_spark, _catalog, meta, *_args, segments=None, **_kw):
        tracer.note("store_io.delta_segments_at_read",
                    meta.deltas if segments is None else segments)

    tracer.function(store_io, "read_store", "store_io.read_store", on_call=segments_read)
    tracer.function(store_io, "write_store", "store_io.write_store")
    tracer.function(store_io, "write_delta", "store_io.write_delta")
    tracer.method(catalog.Catalog, "put_store", "catalog.put_store")
    tracer.method(
        Engine, "compact", "engine.compact",
        on_result=lambda folded: tracer.note("engine.compactions", int(folded > 0)),
    )
    tracer.function(embedder, "stub_embed", "ai.embed_driver")
    tracer.function(parser, "parse_ai_query", "dsl.parse")
