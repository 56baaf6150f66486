"""Span recorder for the traced benchmark run.

A span has a name, start, end, the span that caused it and the run's trace
id. Entering a span sets the Spark job group to ``<trace id>/<span id>``,
so every job, stage and task in the event log maps back to the innermost
span that was open when it ran. Spans stay in memory until the run ends.

``install`` wraps the public entry points of the catalog, manifest, tier
engine and pipeline layers with spans. Operators that only build a lazy
plan (spine, window, lags, codec, dedup, similarity, sessionize) get their
spans in the workloads, around the action that runs them.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
import uuid


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.trace_id = uuid.uuid4().hex[:8]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def group_of(self, span_id: int) -> str:
        return f"{self.trace_id}/{span_id}"

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Yield the span's attribute dict, for counts recorded inside it."""
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "trace": self.trace_id, "start": time.time(), "end": None,
               "attrs": dict(attrs)}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setJobGroup(self.group_of(rec["id"]), name)
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(self.group_of(parent), self.spans[parent]["name"])


def _wrap(cls, method: str, span_name: str, tracer: Tracer, after=None,
          before=None) -> tuple:
    """Replace ``cls.method`` by a version that runs inside a span.

    ``before(self, args, kwargs)`` returns state handed to
    ``after(self, result, attrs, state)``, which records counts on the span.
    """
    orig = getattr(cls, method)

    @functools.wraps(orig)
    def traced(self, *args, **kwargs):
        with tracer.span(span_name) as attrs:
            state = before(self, args, kwargs) if before else None
            out = orig(self, *args, **kwargs)
            if after:
                after(self, out, attrs, state)
            return out

    setattr(cls, method, traced)
    return cls, method, orig


def live_files(table) -> list[str]:
    """Relative paths of the data files the table's snapshot log references."""
    return [f for s in table.snapshots() for f in s.files]


def partition_map(table) -> dict[str, list[str]]:
    """The table's file -> partition values sidecar (empty for input tables)."""
    path = os.path.join(table.root, "_partitions.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def _files_for(table, snapshot_id) -> list[str]:
    return [f for s in table.snapshots()
            if snapshot_id is None or s.id <= snapshot_id for f in s.files]


def _record_new_files(table, _out, attrs, _state) -> None:
    new = table.snapshots()[-1].files
    attrs["files_written"] = len(new)
    attrs["bytes_written"] = sum(
        os.path.getsize(os.path.join(table.root, f)) for f in new)


def _before_read(table, args, kwargs):
    snap = args[1] if len(args) > 1 else kwargs.get("snapshot_id")
    files = _files_for(table, snap)
    pmap = partition_map(table)
    return files, {f: pmap.get(f, []) for f in files}


def _after_read(_table, _out, attrs, state) -> None:
    files, parts = state
    attrs["files_scanned"] = len(files)
    attrs["file_partitions"] = parts


def install(tracer: Tracer):
    """Wrap the layer entry points; returns a function that restores them."""
    from etna_spark.plans.manifest import Manifest
    from etna_spark.plans.pipeline import Pipeline
    from etna_spark.plans.tiers import TierEngine
    from etna_spark.sources.catalog import ParquetSnapshotTable as T

    saved = [
        _wrap(T, "append", "catalog.append", tracer, after=_record_new_files),
        _wrap(T, "overwrite_partitions", "catalog.overwrite_partitions", tracer,
              after=_record_new_files),
        _wrap(T, "read_delta", "catalog.read_delta", tracer),
        _wrap(T, "read", "catalog.read", tracer, before=_before_read,
              after=_after_read),
        _wrap(T, "drop_partitions", "catalog.drop_partitions", tracer),
        _wrap(Manifest, "records", "manifest.read", tracer),
        _wrap(TierEngine, "refresh", "tiers.refresh", tracer),
        _wrap(TierEngine, "expire", "tiers.expire", tracer),
        _wrap(Pipeline, "fit", "pipeline.fit", tracer),
        _wrap(Pipeline, "forecast", "pipeline.forecast", tracer),
        _wrap(Pipeline, "backtest", "pipeline.backtest_build", tracer),
    ]

    def restore() -> None:
        for cls, method, orig in reversed(saved):
            setattr(cls, method, orig)

    return restore
