"""The two workloads. Each has a set-up (inputs materialised, session
warmed), a unit operation run in a closed loop by one client for the
measuring window, and an output check outside the window.

Hygiene rules every workload keeps:
- every repetition builds a FRESH plan (re-collecting one DataFrame reuses
  its shuffle outputs);
- the parse UDF is always forced through an aggregate that consumes its
  output (count() would prune it away).
"""

from __future__ import annotations

import os
import random
import statistics
import time

from blogparser_spark import job
from blogparser_spark.operators import checkpoint, tablelog
from blogparser_spark.operators.aggregate import sink_counts
from blogparser_spark.operators.enrich import enrich
from blogparser_spark.operators.parse import parse_stage
from blogparser_spark.sources.synthetic import gen_transcripts

from perfbench import checks, inputs

# input sizes: gen_transcripts gives ~convs × 10 turns, plus ~20% more in
# its two hot conversations
BULK_CONVS = 5000  # ~60k turns
WARM_CONVS = 300  # ~3.6k turns: starts the UDF workers, compiles the plan
WARM_PLANS = 3  # the JIT keeps speeding up planning over the first plans
JOB_CONVS = 700  # ~8.4k turns
JOB_SLICES = 4
WARM_LOOKUPS = 20  # the JIT halves lookup latency over the first ~20 lookups


def chain(spark, path: str):
    """scan → parse_stage → enrich → sink_counts, as a fresh plan."""
    return sink_counts(enrich(parse_stage(spark.read.parquet(path))))


class Ctx:
    """One run: session, work directory, seed, and the check tally."""

    def __init__(self, spark, work: str, seed: int, spans):
        self.spark, self.work, self.seed, self.spans = spark, work, seed, spans
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def verdict(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)


def closed_loop(op, seconds: float, min_ops: int, ctx: Ctx) -> list[float]:
    """Run op(i) back to back until `seconds` have passed and at least
    min_ops have run; returns each op's wall time. An op that raises counts
    as attempted and failed."""
    times: list[float] = []
    t_end = time.perf_counter() + seconds
    while len(times) < min_ops or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        try:
            op(len(times))
        except Exception as ex:  # noqa: BLE001 - recorded, then the loop goes on
            ctx.verdict(False, f"op {len(times)} raised {ex!r}"[:300])
        times.append(time.perf_counter() - t0)
    return times


def warm_pipeline(ctx: Ctx) -> None:
    """Start the Python UDF workers and compile the chain's plan on a small
    input of its own, once per session."""
    path = ctx.path("warm")
    if not os.path.isdir(path):
        rows = gen_transcripts(n_convs=WARM_CONVS, seed=ctx.seed + 7919)
        inputs.write_transcripts(rows, path, n_files=4)
        for _ in range(WARM_PLANS):
            chain(ctx.spark, path).collect()


# ---------------------------------------------------------------------------


class PipelineBulk:
    """Per-row parse-UDF work dominates: one large input, a fresh plan per
    repetition."""

    min_ops = 3  # a plan takes seconds: a median of at least three

    def setup(self, ctx: Ctx) -> None:
        self.rows = gen_transcripts(n_convs=BULK_CONVS, seed=ctx.seed)
        self.path = inputs.write_transcripts(self.rows, ctx.path("bulk"), n_files=8)
        warm_pipeline(ctx)
        self.results = []

    def op(self, ctx: Ctx, i: int) -> None:
        with ctx.spans.span("pipeline.chain"):
            self.results.append(chain(ctx.spark, self.path).collect())

    def check(self, ctx: Ctx) -> None:
        want = checks.expected_sink_counts(self.rows)
        for got in self.results:
            ctx.verdict(checks.sink_counts_of(got) == want, "bulk sink_counts")

    def metrics(self, times: list[float]) -> dict:
        op_s = statistics.median(times)
        return {"op_s": op_s, "rows_per_s": len(self.rows) / op_s}


class JobTablelog:
    """The sliced job writes the snapshot-log table (job.py's path); point
    lookups then read it back through manifest pruning."""

    min_ops = 10

    def setup(self, ctx: Ctx) -> None:
        self.rows = gen_transcripts(n_convs=JOB_CONVS, seed=ctx.seed)
        raw = inputs.write_transcripts(self.rows, ctx.path("job_raw"), n_files=4)
        self.input = ctx.path("job_in")
        checkpoint.write_sliced_input(ctx.spark.read.parquet(raw), self.input, JOB_SLICES)
        warm_pipeline(ctx)
        self.out = ctx.path("job_out")
        self.table = os.path.join(self.out, "table")
        turns: dict[str, set] = {}
        for r in self.rows:
            turns.setdefault(r[0], set()).add(r[1])
        self.turns = turns
        rng = random.Random(ctx.seed)
        self.lookup_ids = rng.sample(sorted(turns), min(64, len(turns)))
        self.results = []

    def run_job(self, ctx: Ctx) -> None:
        """Run the job, then warm the read path up (untimed, unchecked)."""
        t0 = time.perf_counter()
        with ctx.spans.span("checkpoint.run_sliced"):
            self.manifests = checkpoint.run_sliced(
                ctx.spark, self.input, self.out, job.make_transform(),
                n_slices=JOB_SLICES, table_format="tablelog",
            )
        self.job_s = time.perf_counter() - t0
        for cid in self.lookup_ids[:WARM_LOOKUPS]:
            self.lookup(ctx, cid)

    def lookup(self, ctx: Ctx, conv_id: str):
        with ctx.spans.span("tablelog.scan_where"):
            return tablelog.scan_where(
                ctx.spark, self.table, {"conv_id": ("=", conv_id)}
            ).select("turn_idx").collect()

    def op(self, ctx: Ctx, i: int) -> None:
        cid = self.lookup_ids[i % len(self.lookup_ids)]
        self.results.append((cid, self.lookup(ctx, cid)))

    def check(self, ctx: Ctx) -> None:
        snap = tablelog.read_snapshot(ctx.spark, self.table)
        ctx.verdict(snap.count() == len(self.rows), "job read_snapshot row count")
        ctx.verdict(
            checks.sink_counts_of(sink_counts(snap).collect())
            == checks.expected_sink_counts(self.rows),
            "job table sink_counts",
        )
        for cid, got in self.results:
            ids = [r["turn_idx"] for r in got]
            ctx.verdict(len(ids) == len(set(ids)) and set(ids) == self.turns[cid],
                        f"lookup {cid}")

    def metrics(self, times: list[float]) -> dict:
        committed = sum(m.rows_in for m in self.manifests)
        return {"op_s": statistics.median(times), "rows_per_s": committed / self.job_s}


WORKLOADS = {
    "pipeline_bulk": PipelineBulk,
    "job_tablelog": JobTablelog,
}
