"""Tracing helpers for ``run.py --trace 1``.

Everything here lives in the benchmark directory and wraps the public API
from the outside: an in-memory span recorder, the self-time arithmetic, a
``SnapshotStorage`` subclass that records a span around every storage call,
and a Spark job/stage/task counter read from ``statusTracker``.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager

from spiders_for_all_spark.storage import SnapshotStorage

from common import dir_footprint


class SpanRecorder:
    """Spans kept in memory: (id, name, start, end, parent, round, counts).

    ``current`` is the span that storage calls made from any thread attach
    to — the engine submits its stage jobs from a thread pool, so a
    thread-local parent would lose them.  Rounds run one at a time, which
    makes one shared slot exact.
    """

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.current: dict | None = None
        self.enabled = True  # False: spans are timed but not kept
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, round_id, parent: dict | None = None):
        parent = parent if parent is not None else self.current
        rec = {
            "id": next(self._ids),
            "name": name,
            "round": round_id if round_id is not None else (parent or {}).get("round"),
            "parent": parent["id"] if parent else None,
            "start": time.monotonic(),
            "end": None,
            "counts": {},
        }
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            if self.enabled:
                with self._lock:
                    self.spans.append(rec)

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it that its children cover."""
    lo, hi = span["start"], span["end"]
    clipped = [
        (max(c["start"], lo), min(c["end"], hi))
        for c in children
        if c["end"] > lo and c["start"] < hi
    ]
    return (hi - lo) - union_length(clipped)


class TracedStorage(SnapshotStorage):
    """``SnapshotStorage`` that records a span around each call the engine
    and the freeze make.  Stage spans carry the bytes and files they wrote;
    read spans carry the number of MoR delta dirs the manifest resolves."""

    def __init__(self, spark, warehouse: str, recorder: SpanRecorder):
        super().__init__(spark, warehouse)
        self.recorder = recorder

    def _staged(self, name: str, table: str, call):
        with self.recorder.span(f"storage.{name}", None) as sp:
            staged = call()
            if self.recorder.enabled:
                n_bytes, n_files = dir_footprint(self._data_dir(table, staged.snap))
                sp["counts"].update(table=table, bytes_written=n_bytes, files_written=n_files)
        return staged

    def stage_overwrite(self, table, df, partition_by=None):
        return self._staged(
            "stage_overwrite", table,
            lambda: super(TracedStorage, self).stage_overwrite(table, df, partition_by),
        )

    def stage_append(self, table, df):
        return self._staged(
            "stage_append", table,
            lambda: super(TracedStorage, self).stage_append(table, df),
        )

    def stage_merge(self, table, source, key, *args, **kwargs):
        return self._staged(
            "stage_merge", table,
            lambda: super(TracedStorage, self).stage_merge(table, source, key, *args, **kwargs),
        )

    def commit_multi(self, staged):
        with self.recorder.span("storage.commit_multi", None):
            return super().commit_multi(staged)

    def expire_snapshots(self, table, keep_last=2):
        with self.recorder.span("storage.expire", None):
            return super().expire_snapshots(table, keep_last)

    def compact(self, table, partition_by=None):
        with self.recorder.span("storage.compact", None):
            return super().compact(table, partition_by)

    def read(self, table, snapshot=None):
        with self.recorder.span("storage.read", None) as sp:
            snap = self.latest_snapshot(table) if snapshot is None else snapshot
            if snap is not None:
                manifest = self._load_manifest(table, snap)
                sp["counts"]["delta_dirs"] = len(manifest.get("deltas", []))
            return super().read(table, snapshot)


class JobCounter:
    """Jobs, stages and tasks that ran since the previous ``take()``.

    Jobs submitted from the engine's stage threads carry no job group, so
    the window is cut by job id instead: the benchmark is the only client
    of its Spark context and runs one round at a time.
    """

    def __init__(self, sc) -> None:
        self.tracker = sc.statusTracker()
        self.last = self._max_id()

    def _job_ids(self) -> set[int]:
        ids = set(self.tracker.getJobIdsForGroup(None))
        for group in ("bench-round", "bench-replica"):
            ids.update(self.tracker.getJobIdsForGroup(group))
        return ids

    def _max_id(self) -> int:
        return max(self._job_ids(), default=-1)

    def take(self) -> dict:
        jobs = sorted(j for j in self._job_ids() if j > self.last)
        self.last = max(jobs, default=self.last)
        stages = tasks = failed = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped stage: its shuffle output was reused
                stages += 1
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "tasks_failed": failed}

