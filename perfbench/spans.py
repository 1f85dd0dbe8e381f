"""In-memory spans for the traced run, written to a file when the run ends.

A span wraps one call into a layer's public function and records its name,
start, end, parent and workload, plus the ids of the Spark jobs the call
ran (each span runs under a Spark job group of its own). The untraced run uses NO_SPANS, which has
the same interface and records nothing, so both runs execute the same code.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


class Spans:
    def __init__(self, workload: str):
        self.workload = workload
        self.records: list[dict] = []
        self._stack: list[tuple[str, str]] = []  # (name, job group)

    @contextmanager
    def span(self, name: str):
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        parent = self._stack[-1] if self._stack else None
        group = f"span-{len(self.records)}-{len(self._stack)}-{name}"
        sc.setJobGroup(group, name)
        self._stack.append((name, group))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            sc = SparkContext._active_spark_context
            jobs = sorted(sc.statusTracker().getJobIdsForGroup(group))
            if parent:
                sc.setJobGroup(parent[1], parent[0])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.records.append(
                {"name": name, "start": start, "end": end,
                 "parent": parent[0] if parent else None,
                 "workload": self.workload, "jobs": jobs}
            )

    def durations(self, name: str) -> list[float]:
        return [r["end"] - r["start"] for r in self.records if r["name"] == name]

    def jobs(self, name: str) -> list[list[int]]:
        return [r["jobs"] for r in self.records if r["name"] == name]

    def median(self, name: str) -> float:
        return statistics.median(self.durations(name))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.records, f)


class _NoSpans:
    workload = None

    @contextmanager
    def span(self, name: str):
        yield


NO_SPANS = _NoSpans()
