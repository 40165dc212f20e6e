"""Spans around calls into the package's layers, recorded from outside.

``Tracer.install`` replaces public functions of the package's modules
(and methods of its classes) with wrappers that record one span per
call.  This works because the package calls across layers through
module attributes (``TL.txn_append``, ``ds_ops.downsample_raw``,
``DLT.publish_delta``), so a patched attribute is what the callers see.
Spans are kept in memory; ``uninstall`` restores every original.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import time
from dataclasses import dataclass

# (module, attribute path, span name).  An attribute path with a dot
# names a method on a class of that module.
TARGETS: tuple[tuple[str, str, str], ...] = (
    ("django_datastream_spark.api", "Datastream.append_multiple", "api.append_multiple"),
    ("django_datastream_spark.api", "Datastream.downsample_streams", "api.downsample_streams"),
    ("django_datastream_spark.api", "Datastream.get_data", "api.get_data"),
    ("django_datastream_spark.api", "Datastream.find_streams", "api.find_streams"),
    ("django_datastream_spark.api", "Datastream.ensure_stream", "api.ensure_stream"),
    ("django_datastream_spark.api", "Datapoints.__iter__", "api.fetch"),
    ("django_datastream_spark.http_api", "stream_datapoints", "http_api.stream_datapoints"),
    ("django_datastream_spark.http_api", "list_streams", "http_api.list_streams"),
    ("django_datastream_spark.storage", "Tables.append_points_raw", "storage.append_points_raw"),
    ("django_datastream_spark.storage", "Tables.upsert_points_agg", "storage.upsert_points_agg"),
    ("django_datastream_spark.storage", "Tables.read_streams", "storage.read_streams"),
    ("django_datastream_spark.storage", "Tables.upsert_streams", "storage.upsert_streams"),
    ("django_datastream_spark.storage", "Tables.compact_points_raw", "storage.compact_points_raw"),
    ("django_datastream_spark.txnlog", "txn_append", "txnlog.txn_append"),
    ("django_datastream_spark.txnlog", "commit", "txnlog.commit"),
    ("django_datastream_spark.txnlog", "txn_read", "txnlog.txn_read"),
    ("django_datastream_spark.txnlog", "collect_file_stats", "txnlog.collect_file_stats"),
    ("django_datastream_spark.txnlog", "txn_optimize", "txnlog.txn_optimize"),
    ("django_datastream_spark.operators.downsample", "downsample_raw", "operators.downsample_raw"),
    ("django_datastream_spark.operators.downsample", "rollup_agg", "operators.rollup_agg"),
    ("django_datastream_spark.operators.derive", "build_derive_plan", "operators.build_derive_plan"),
    ("django_datastream_spark.sources.delta", "read_delta", "sources.read_delta"),
    ("django_datastream_spark.sources.delta", "publish_delta", "sources.publish_delta"),
    ("django_datastream_spark.sources.delta", "adopt_delta", "sources.adopt_delta"),
    ("django_datastream_spark.sources.delta", "delta_changes", "sources.delta_changes"),
    ("django_datastream_spark.sources.iceberg", "read_iceberg", "sources.read_iceberg"),
    ("django_datastream_spark.sources.iceberg", "publish_iceberg", "sources.publish_iceberg"),
    ("django_datastream_spark.sources.iceberg", "adopt_iceberg", "sources.adopt_iceberg"),
    ("django_datastream_spark.sources.iceberg", "iceberg_changes", "sources.iceberg_changes"),
    ("django_datastream_spark.sources.convert", "convert_delta_to_iceberg", "sources.convert_delta_to_iceberg"),
    ("django_datastream_spark.sources.convert", "convert_iceberg_to_delta", "sources.convert_iceberg_to_delta"),
    ("django_datastream_spark.sources.fileio", "io_for", "sources.io_for"),
    ("django_datastream_spark.streaming.ingest", "StreamingIngest.ingest_dataframe", "streaming.ingest_batch"),
    ("django_datastream_spark.txnlog", "streaming_sink", "streaming.txn_sink"),
    # the body of that sink: one call per micro-batch, on Spark's
    # foreachBatch callback thread while the caller waits on the query
    ("django_datastream_spark.txnlog", "txn_append_batch", "streaming.txn_append_batch"),
    ("django_datastream_spark.sources.delta", "delta_streaming_sink", "streaming.delta_sink"),
    ("django_datastream_spark.sources.iceberg", "iceberg_streaming_sink", "streaming.iceberg_sink"),
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    op_id: int | None
    group: str | None


class Tracer:
    """In-memory span recorder.  ``begin_op`` names the op (and its
    Spark job group) that later spans belong to."""

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self.enabled = True
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []
        self._targets: tuple = ()
        self.op_id: int | None = None
        self.group: str | None = None

    def begin_op(self, op_id: int, group: str) -> None:
        self.op_id, self.group = op_id, group

    def span(self, name: str) -> "_SpanCtx":
        return _SpanCtx(self, name)

    def _open(self, name: str) -> int | None:
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            Span(name, self.clock(), 0.0, parent, self.op_id, self.group)
        )
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def _close(self, idx: int | None) -> None:
        if idx is None:
            return
        self.spans[idx].end = self.clock()
        popped = self._stack.pop()
        if popped != idx:
            raise RuntimeError(f"span stack out of order: {popped} != {idx}")

    def wrap(self, owner, attr: str, name: str) -> None:
        original = owner.__dict__[attr]
        if not callable(original):
            raise TypeError(f"{owner!r}.{attr} is not a function")
        tracer = self

        if inspect.isgeneratorfunction(original):
            # one span per resume: only the time spent inside the
            # generator counts, not the caller's work between items
            @functools.wraps(original)
            def traced(*args, **kwargs):
                inner = original(*args, **kwargs)
                try:
                    while True:
                        idx = tracer._open(name)
                        try:
                            item = next(inner)
                        except StopIteration:
                            return
                        finally:
                            tracer._close(idx)
                        yield item
                finally:
                    inner.close()
        else:
            @functools.wraps(original)
            def traced(*args, **kwargs):
                idx = tracer._open(name)
                try:
                    return original(*args, **kwargs)
                finally:
                    tracer._close(idx)

        setattr(owner, attr, traced)
        self._restore.append((owner, attr, original))

    def install(self, targets=TARGETS) -> list[str]:
        """Wrap every target; return the span names installed."""
        self._targets = tuple(targets)
        names = []
        for mod_name, path, name in targets:
            owner = importlib.import_module(mod_name)
            *cls_path, attr = path.split(".")
            for part in cls_path:
                owner = getattr(owner, part)
            self.wrap(owner, attr, name)
            names.append(name)
        return names

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, original = self._restore.pop()
            setattr(owner, attr, original)

    @contextlib.contextmanager
    def bare(self):
        """Run with every original function restored, then wrap the
        installed targets again: an untraced op pays no wrapper cost."""
        targets = self._targets
        self.uninstall()
        try:
            yield
        finally:
            self.install(targets)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name, self.idx = tracer, name, None

    def __enter__(self):
        self.idx = self.tracer._open(self.name)
        return self

    def __exit__(self, *exc):
        self.tracer._close(self.idx)
        return False


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append((sp.start, sp.end))
    out = []
    for i, sp in enumerate(spans):
        kids = [
            (max(s, sp.start), min(e, sp.end))
            for s, e in children.get(i, ())
            if min(e, sp.end) > max(s, sp.start)
        ]
        out.append((sp.end - sp.start) - _union_length(kids))
    return out


def layer_self_seconds(spans: list[Span]) -> dict[str, float]:
    """Self time summed per layer (the span name's first component)."""
    out: dict[str, float] = {}
    for sp, st in zip(spans, self_times(spans)):
        layer = sp.name.split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + st
    return out


def calls_and_seconds(spans: list[Span]) -> dict[str, tuple[int, float]]:
    """Call count and inclusive seconds per span name."""
    out: dict[str, tuple[int, float]] = {}
    for sp in spans:
        n, s = out.get(sp.name, (0, 0.0))
        out[sp.name] = (n + 1, s + sp.end - sp.start)
    return out
