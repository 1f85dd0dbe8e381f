"""The traced run: per-layer metrics, read off spans that each wrap a call
into one layer's public function (operators/parse, enrich, aggregate,
route, checkpoint, tablelog, the queries registry, the Spark session).

Every traced run measures every layer, whatever workload it is named for;
the workload only decides what trace.overhead_ratio compares (its unit
operation with spans against the same operation without). Spans open a
Spark job group of their own, so each span also knows the Spark jobs it
ran. The headline registry queries are measured here only: they are a
layer, not a workload.
"""

from __future__ import annotations

import glob
import os
import pstats
import statistics
import time

from pyspark.sql import functions as F

import __spark_entry__
from blogparser_spark import job
from blogparser_spark.functions import patterns as P
from blogparser_spark.operators import tablelog
from blogparser_spark.operators.aggregate import sink_counts
from blogparser_spark.operators.enrich import enrich
from blogparser_spark.operators.parse import extract_udf, parse_stage
from blogparser_spark.sources.synthetic import gen_transcripts

from perfbench import checks, host, inputs
from perfbench.spans import NO_SPANS
from perfbench.workloads import JobTablelog, PipelineBulk, chain

REPS = 2  # fresh-plan repetitions per measured layer (medians reported)
LAYER_FILES = 2  # of the 8 bulk files the plan prefixes read: a traced run
# measures every layer and must end well inside the 180 s a run may take
OVERHEAD_S = 8.0  # seconds of interleaved pairs for trace.overhead_ratio (one at least)
LOOKUPS = 16  # conversations planned per lookup metric
SF = dict(n_docs=500, n_vecs=500, n_events=10_000, n_lineitems=60_000)
HEADLINE_QUERIES = ("quality_scores", "bm25_top2", "minhash_lsh_buckets", "ann_cosine_topk",
                    "pq_adc_topk", "conv_window_stats", "events_sessionize", "pricing_rollup")

# the literal gates of operators/parse.extract_udf, per list-valued field;
# the date and image needles mirror its inline has_date / has_img lists
GATES = {
    "categories": P.CATEGORY_GATE_NEEDLES,
    "tags": P.TAG_GATE_NEEDLES,
    "dates": ("date", "<time", "published_time"),
    "images": ("og:image", "twitter:image", "<img"),
}
GATE_FIELDS = {"categories": "categories", "tags": "tags", "dates": "date_candidates",
               "images": "images"}

# parse.py.* groups: functions of operators/parse.py (and the pyref
# extractors its list comprehensions call), cumulative Python time
PROFILE_GROUPS = {
    "parse.python_s": ("extract_udf",),
    "parse.py.title_s": ("_extract_title_vec", "_clean_title_vec"),
    "parse.py.content_s": ("_extract_content_vec",),
    "parse.py.clean_s": ("_clean_content_vec",),
    "parse.py.lists_s": ("extract_categories", "extract_tags", "_date_candidates",
                         "_images_rows"),
}

PREFIXES = ("scan", "parse.udf", "parse.columns", "enrich", "aggregate")


def force(df, cols) -> list:
    """Run a prefix as a fresh plan through an aggregate that consumes the
    given columns (a bare count() would let Catalyst prune the UDF)."""
    return df.agg(F.sum(F.xxhash64(*cols)).alias("h")).collect()


# ---------------------------------------------------------------------------
# trace.overhead_ratio
# ---------------------------------------------------------------------------


def overhead_ratio(ctx, wl) -> float:
    """The workload's unit operation with spans over the same operation
    (same input) without, interleaved, for about OVERHEAD_S seconds."""
    spans, plain, traced = ctx.spans, [], []
    t_end = time.perf_counter() + OVERHEAD_S
    i = 0
    while i == 0 or time.perf_counter() < t_end:
        for on, out in ((False, plain), (True, traced)):
            ctx.spans = spans if on else NO_SPANS
            t0 = time.perf_counter()
            wl.op(ctx, i)
            out.append(time.perf_counter() - t0)
        i += 1
    ctx.spans = spans
    return statistics.median(traced) / statistics.median(plain)


# ---------------------------------------------------------------------------
# pipeline layers: cumulative prefixes, UDF profile, plan metrics, gates
# ---------------------------------------------------------------------------


def _prefix_frames(spark, paths: list[str]):
    """(layer, frame, columns the chain consumes from it). The columns are
    exactly what the full chain reads from each prefix, so the prefixes
    add up to the chain; the last prefix IS the chain (sink_counts)."""
    src = spark.read.parquet(*paths)
    parsed = parse_stage(src)
    enriched = enrich(parsed)
    return [
        ("scan", src, ("role", "tool", "text")),
        ("parse.udf", src.withColumn("_ex", extract_udf(F.col("text"))), ("role", "tool", "_ex")),
        ("parse.columns", parsed, ("role", "tool", "parse_status")),
        ("enrich", enriched, ("channel", "tool_category", "parse_status")),
        ("aggregate", sink_counts(enriched), None),
    ]


def _plan_nodes(node):
    """Every physical node under `node`, through AQE wrappers."""
    out, todo = [], [node]
    while todo:
        n = todo.pop()
        out.append(n)
        name = n.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            todo.append(n.executedPlan())
        elif name.endswith("QueryStageExec"):
            todo.append(n.plan())
        ch = n.children()
        todo.extend(ch.apply(i) for i in range(ch.size()))
    return out


def _plan_metric(nodes, node_name: str, metric: str) -> int:
    total = 0
    for n in nodes:
        if n.getClass().getSimpleName() == node_name:
            ms = n.metrics()
            if ms.contains(metric):
                total += ms.apply(metric).value()
    return total


def pipeline_layers(ctx, bulk: PipelineBulk) -> dict:
    spark, m = ctx.spark, {}
    paths = sorted(glob.glob(os.path.join(bulk.path, "*.parquet")))[:LAYER_FILES]
    for _ in range(REPS):
        for name, df, cols in _prefix_frames(spark, paths):
            with ctx.spans.span(name):
                if cols is None:
                    df.collect()
                    last = df
                else:
                    force(df, cols)
    prev = 0.0
    for name in PREFIXES:
        cum = ctx.spans.median(name)
        key = {"scan": "scan.s", "enrich": "enrich.s", "aggregate": "aggregate.s"}.get(
            name, name + "_s")
        m[key] = cum - prev
        prev = cum

    nodes = _plan_nodes(last._jdf.queryExecution().executedPlan())
    m["parse.rows_to_python"] = _plan_metric(nodes, "ArrowEvalPythonExec", "pythonNumRowsReceived")
    m["parse.bytes_to_python"] = _plan_metric(nodes, "ArrowEvalPythonExec", "pythonDataSent")
    m["parse.bytes_from_python"] = _plan_metric(nodes, "ArrowEvalPythonExec", "pythonDataReceived")
    m["aggregate.shuffle_bytes"] = _plan_metric(nodes, "ShuffleExchangeExec", "shuffleBytesWritten")

    # Python profile of the UDF (perf profiler on for this one plan only)
    prof_dir = ctx.path("profile")
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    try:
        with ctx.spans.span("parse.udf.profiled"):
            name, df, cols = _prefix_frames(spark, paths)[1]
            force(df, cols)
        spark.profile.dump(prof_dir, type="perf")
    finally:
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
        spark.profile.clear()
    cum: dict[str, float] = {}
    for f in glob.glob(os.path.join(prof_dir, "*.pstats")):
        for (_file, _line, fn), (_cc, _nc, _tt, ct, _callers) in pstats.Stats(f).stats.items():
            cum[fn] = cum.get(fn, 0.0) + ct
    for key, fns in PROFILE_GROUPS.items():
        m[key] = sum(cum.get(fn, 0.0) for fn in fns)

    # useful work behind each literal gate, gates computed outside the UDF
    lower = F.lower(F.col("text"))
    ex = extract_udf(F.col("text"))
    aggs = []
    for g, needles in GATES.items():
        gate = F.lit(False)
        for n in needles:
            gate = gate | (F.instr(lower, n) > 0)
        hit = F.size(ex[GATE_FIELDS[g]]) > 0
        aggs += [F.sum(gate.cast("long")).alias(f"{g}_gate"),
                 F.sum((gate & hit).cast("long")).alias(f"{g}_hit")]
    with ctx.spans.span("parse.gates"):
        row = spark.read.parquet(*paths).agg(*aggs).collect()[0]
    for g in GATES:
        m[f"parse.gate_useful.{g}"] = row[f"{g}_hit"] / max(1, row[f"{g}_gate"])
    return m


def fixed_cost(ctx) -> dict:
    """Fixed per-plan cost: the whole chain on a 100-row file."""
    spark = ctx.spark
    path = inputs.write_transcripts(
        gen_transcripts(n_convs=10, seed=ctx.seed + 104729)[:100], ctx.path("fixed")
    )
    for _ in range(REPS + 1):
        with ctx.spans.span("session.plan_fixed"):
            chain(spark, path).collect()
        df = chain(spark, path)
        with ctx.spans.span("session.planning"):
            df._jdf.queryExecution().executedPlan()
    jobs = [r for r in ctx.spans.records if r["name"] == "session.plan_fixed"][-1]["jobs"]
    tracker = spark.sparkContext.statusTracker()
    stages = [tracker.getStageInfo(s) for j in jobs for s in tracker.getJobInfo(j).stageIds]
    ran = [s for s in stages if s is not None and s.numCompletedTasks > 0]
    return {
        "session.plan_fixed_s": ctx.spans.median("session.plan_fixed"),
        "session.planning_s": ctx.spans.median("session.planning"),
        "session.spark_jobs": len(jobs),
        "session.spark_stages": len(ran),
        "session.tasks": sum(s.numCompletedTasks for s in ran),
    }


# ---------------------------------------------------------------------------
# job and table
# ---------------------------------------------------------------------------


def job_and_table(ctx, jw: JobTablelog) -> dict:
    spark, m = ctx.spark, {}
    if not hasattr(jw, "manifests"):
        jw.run_job(ctx)
    slice_s = statistics.median([mf.wall_seconds for mf in jw.manifests])
    for _ in range(REPS):
        with ctx.spans.span("checkpoint.slice_compute"):
            src = spark.read.parquet(jw.input).filter(F.col("slice_bucket") == 0)
            out = job.make_transform()(src)
            force(out, out.columns)
    m["checkpoint.slice_s_p50"] = slice_s
    m["checkpoint.slice_compute_s"] = ctx.spans.median("checkpoint.slice_compute")
    m["checkpoint.slice_commit_s"] = slice_s - m["checkpoint.slice_compute_s"]
    commits = [c for c in tablelog.snapshot_lineage(jw.table) if c["files_added"]]
    m["route.files_per_commit"] = statistics.median([c["files_added"] for c in commits])

    table, lookup_ids = jw.table, jw.lookup_ids[:LOOKUPS]
    read, skipped, plan_s = [], [], []
    for cid in lookup_ids:
        t0 = time.perf_counter()
        with ctx.spans.span("tablelog.plan_scan"):
            plan = tablelog.plan_scan(table, {"conv_id": ("=", cid)})
        plan_s.append(time.perf_counter() - t0)
        read.append(len(plan["paths"]))
        skipped.append(plan["n_files_skipped"])
    holding = 0
    for cid in lookup_ids[: LOOKUPS // 4]:
        with ctx.spans.span("tablelog.scan_where"):
            got = tablelog.scan_where(spark, table, {"conv_id": ("=", cid)}).select(
                "turn_idx", F.input_file_name().alias("file")).collect()
        holding += len({r["file"] for r in got})
        ids = [r["turn_idx"] for r in got]
        ctx.verdict(len(ids) == len(set(ids)) and set(ids) == jw.turns[cid], f"lookup {cid}")
    m["tablelog.plan_ms"] = 1000 * statistics.median(plan_s)
    m["tablelog.lookup_files_read"] = statistics.median(read)
    m["tablelog.lookup_files_skipped"] = statistics.median(skipped)
    m["tablelog.lookup_useful_ratio"] = holding / max(1, sum(read[: LOOKUPS // 4]))
    m["tablelog.versions"] = len(tablelog.list_versions(table))
    with ctx.spans.span("tablelog.table_files"):
        m["tablelog.data_files"] = (
            tablelog.table_files(spark, table).filter("kind = 'data'").count()
        )
    m["tablelog.log_bytes"] = sum(
        os.path.getsize(f) for f in glob.glob(os.path.join(table, "log", "*"))
    )

    with ctx.spans.span("tablelog.compact"):
        tablelog.compact(spark, table)
    with ctx.spans.span("tablelog.expire_snapshots"):
        expired = tablelog.expire_snapshots(table, keep_last=1)
    with ctx.spans.span("tablelog.remove_orphans"):
        orphans = tablelog.remove_orphans(table)
    m["tablelog.compact_s"] = ctx.spans.median("tablelog.compact")
    m["tablelog.expire_s"] = ctx.spans.median("tablelog.expire_snapshots")
    m["tablelog.orphans_s"] = ctx.spans.median("tablelog.remove_orphans")
    m["tablelog.maintenance_s"] = m["tablelog.compact_s"] + m["tablelog.expire_s"] + m[
        "tablelog.orphans_s"]
    m["tablelog.files_removed"] = expired["files_removed"] + orphans
    return m


def queries(ctx) -> dict:
    """Each headline registry query on seeded tables: an untimed warm-up,
    then a timed fresh plan; the results are checked against DuckDB."""
    sf = ctx.path("sf")
    tables = inputs.query_tables(ctx.seed, sf, **SF)
    fns, frames, m = __spark_entry__.queries(), {}, {}
    for q in HEADLINE_QUERIES:
        fns[q](ctx.spark, sf).toPandas()
        with ctx.spans.span(f"queries.{q}"):
            frames[q] = fns[q](ctx.spark, sf).toPandas()
        m[f"queries.{q}_s"] = ctx.spans.median(f"queries.{q}")
        m[f"queries.{q}_jobs"] = len(ctx.spans.jobs(f"queries.{q}")[-1])
    bad = checks.query_mismatches(frames, sf, sorted(tables))
    for q in frames:
        ctx.verdict(q not in bad, f"query {q}: {bad.get(q)}")
    return m


def scaling(ctx, bulk: PipelineBulk) -> dict:
    """One core against all of them, on the same quarter of the bulk rows:
    the stand-in for an N→4N check a 4-core host cannot run. One core is a
    single-file input (one scan partition, so one task runs the chain);
    all cores is the same rows split into nproc files."""
    rows = bulk.rows[: len(bulk.rows) // 4]
    one = inputs.write_transcripts(rows, ctx.path("scale_1"))
    many = inputs.write_transcripts(rows, ctx.path("scale_n"), n_files=host.nproc())
    for tag, path in (("scaling.local_1", one), ("scaling.local_n", many)):
        with ctx.spans.span(tag):
            chain(ctx.spark, path).collect()
    t_1, t_n = ctx.spans.median("scaling.local_1"), ctx.spans.median("scaling.local_n")
    return {
        "scaling.local1_turns_per_s": len(rows) / t_1,
        "scaling.efficiency": (t_1 / t_n) / host.nproc(),
    }


# ---------------------------------------------------------------------------


def traced_run(ctx, wl, facts: dict):
    """All layers, then every output check (the job's table is checked
    after its maintenance); returns the metrics."""

    def own(cls):
        if isinstance(wl, cls):
            return wl
        inst = cls()
        inst.setup(ctx)
        return inst

    if isinstance(wl, JobTablelog):
        wl.run_job(ctx)
    m = {"host.memcpy_gbps": facts["memcpy_gbps"], "trace.overhead_ratio": overhead_ratio(ctx, wl)}
    bulk = own(PipelineBulk)
    with ctx.spans.span("layers.pipeline"):
        m.update(pipeline_layers(ctx, bulk))
    with ctx.spans.span("layers.fixed_cost"):
        m.update(fixed_cost(ctx))
    jw = own(JobTablelog)
    with ctx.spans.span("layers.job_and_table"):
        m.update(job_and_table(ctx, jw))
    with ctx.spans.span("layers.queries"):
        m.update(queries(ctx))
    with ctx.spans.span("layers.scaling"):
        m.update(scaling(ctx, bulk))
    for inst in {id(x): x for x in (bulk, jw)}.values():
        inst.check(ctx)
    return m
