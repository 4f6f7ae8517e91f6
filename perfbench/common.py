"""Pieces the workloads share: the result record, the closed-loop timer
and the materialize step the staged replicas use."""

from __future__ import annotations

import os
import statistics
import sys
import time
from dataclasses import dataclass, field

_T0 = time.monotonic()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"[perfbench {time.monotonic() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    samples: list = field(default_factory=list)  # timed round/freeze seconds
    metrics: dict = field(default_factory=dict)  # name -> value
    diagnostic: dict = field(default_factory=dict)  # printed beside the result

    def report(self, units: dict[str, str]) -> dict:
        """``{name: {"value", "unit"}}`` for exactly the metrics in
        ``units``, which must all have been measured."""
        if set(self.metrics) != set(units):
            raise KeyError(
                f"measured {sorted(self.metrics)} but the catalogue has {sorted(units)}"
            )
        return {k: {"value": float(self.metrics[k]), "unit": u} for k, u in units.items()}


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def timed(fn, *args, **kwargs):
    t0 = time.monotonic()
    out = fn(*args, **kwargs)
    return out, time.monotonic() - t0


def closed_loop(step, seconds: float, min_steps: int = 1) -> None:
    """Call ``step(i)`` back to back until ``seconds`` have passed since
    the first call started and at least ``min_steps`` calls ran; the call
    running at the deadline finishes."""
    deadline = time.monotonic() + seconds
    i = 0
    while True:
        step(i)
        i += 1
        if i >= min_steps and time.monotonic() >= deadline:
            return


def materialize(spark, df, path: str):
    """Write ``df`` to parquet at ``path`` and read it back."""
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def dir_footprint(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's ``.crc`` and ``_SUCCESS``
    marker files and the warehouse catalog are skipped."""
    n_bytes = n_files = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n_bytes += os.path.getsize(os.path.join(root, f))
            n_files += 1
    return n_bytes, n_files
