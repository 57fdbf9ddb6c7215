"""Throughput instrumentation (SURVEY §2A R19).

The reference prints per-batch conversion/write ms and rows/sec with a
median/avg/peak summary (`ingest_parquet_to_mongo_bulk.py:36-42,183-209`
— whose summary actually crashes on missing imports, `_bulk.py:204-209`;
and `generate_big_parquet.py:88-98`). Here the same shape comes from the
engine itself: ``measure()`` wraps any action with wall-clock +
rows/sec, and :class:`RunMetrics` summarizes per-batch seconds.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from statistics import mean, median  # the import _bulk.py:204 forgot


@dataclass
class RunMetrics:
    """Mirrors the reference's Metrics NamedTuple (`_bulk.py:36-42`)."""

    label: str
    rows: int = 0
    wall_sec: float = 0.0
    batch_secs: list[float] = field(default_factory=list)

    @property
    def rows_per_sec(self) -> float:
        return self.rows / self.wall_sec if self.wall_sec > 0 else 0.0

    def summary(self) -> dict:
        """median/avg/peak batch seconds — the `_bulk.py:197-209` shape."""
        out = {
            "label": self.label,
            "rows": self.rows,
            "wall_sec": round(self.wall_sec, 3),
            "rows_per_sec": round(self.rows_per_sec, 1),
        }
        if self.batch_secs:
            out.update(
                batch_median_sec=round(median(self.batch_secs), 4),
                batch_avg_sec=round(mean(self.batch_secs), 4),
                batch_peak_sec=round(max(self.batch_secs), 4),
            )
        return out


@contextmanager
def measure(label: str, count_rows=None):
    """Wall-clock a block; optionally attach a row count afterwards.

    >>> with measure("scan", lambda: df.count()) as m: df.write...
    >>> m.summary()
    """
    m = RunMetrics(label=label)
    t0 = time.perf_counter()
    try:
        yield m
    finally:
        m.wall_sec = time.perf_counter() - t0
        if count_rows is not None:
            m.rows = count_rows() if callable(count_rows) else int(count_rows)
