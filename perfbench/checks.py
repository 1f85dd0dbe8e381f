"""Output checks, run outside every timed window.

Sink counts are checked against the pure-Python reference parser
(oracle.pyref.parse_record) over the generated rows, joined in Python with
the enrich dims (enrich.TOOL_CATEGORY, ROLE_CHANNEL) and the 'unknown'
bucket. Registry queries are checked against their DuckDB oracle_sql()
twin with the normalisation of tools/check_oracle.py.
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
from collections import Counter

from blogparser_spark.operators.enrich import ROLE_CHANNEL, TOOL_CATEGORY
from blogparser_spark.oracle.pyref import parse_record

from perfbench import host

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_TOOL = dict(TOOL_CATEGORY)
_ROLE = dict(ROLE_CHANNEL)

# one worker of the check pool: JSON list of texts on stdin → statuses on stdout
_WORKER = (
    "import json, sys\n"
    "from blogparser_spark.oracle.pyref import parse_record\n"
    "json.dump([parse_record(t).parse_status for t in json.load(sys.stdin)], sys.stdout)\n"
)


def _statuses(texts: list[str]) -> list[str]:
    return [parse_record(t).parse_status for t in texts]


def _pool_statuses(chunks: list[list[str]]) -> list[str]:
    """Parse each chunk in a Python process of its own, all at once; every
    process is waited for (or killed and waited for) before this returns."""
    path = os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH"))))
    env = dict(os.environ, PYTHONPATH=path)
    procs = []
    try:
        for chunk in chunks:
            p = subprocess.Popen([sys.executable, "-c", _WORKER], cwd=ROOT, env=env,
                                 stdin=subprocess.PIPE, stdout=subprocess.PIPE)
            procs.append(p)
            p.stdin.write(json.dumps(chunk).encode())
            p.stdin.close()
        out = []
        for p in procs:
            part = p.stdout.read()
            if p.wait() != 0:
                raise RuntimeError(f"check worker exited with {p.returncode}")
            out += json.loads(part)
        return out
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
                p.wait()


def expected_sink_counts(rows: list[tuple]) -> Counter:
    """(channel, tool_category, parse_status) → count for transcript rows
    (conv_id, turn_idx, role, text, tool, ts); large inputs are parsed by a
    pool of one worker process per core."""
    texts = [r[3] for r in rows]
    procs = host.nproc()
    if procs > 1 and len(texts) > 2000:
        step = -(-len(texts) // procs)
        statuses = _pool_statuses([texts[i : i + step] for i in range(0, len(texts), step)])
    else:
        statuses = _statuses(texts)
    return Counter(
        (_ROLE.get(r[2], "unknown"), _TOOL.get(r[4], "unknown"), s)
        for r, s in zip(rows, statuses)
    )


def sink_counts_of(spark_rows) -> Counter:
    """Collected sink_counts rows → the same Counter shape."""
    return Counter(
        {(r["channel"], r["tool_category"], r["parse_status"]): r["n"] for r in spark_rows}
    )


def _check_oracle_module():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def query_mismatches(results: dict, sf_dir: str, tables: list[str]) -> dict[str, str]:
    """results: query name → pandas frame from Spark. Returns name → reason
    for every query whose result differs from its DuckDB oracle."""
    import duckdb
    import pandas as pd

    from blogparser_spark.queries import ORACLE_SQL

    normalize = _check_oracle_module().normalize
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad = {}
    for name, sdf in results.items():
        s, d = normalize(sdf), normalize(con.execute(ORACLE_SQL[name]).fetchdf())
        if len(s) != len(d) or list(s.columns) != list(d.columns):
            bad[name] = f"shape {s.shape} {list(s.columns)} vs {d.shape} {list(d.columns)}"
            continue
        try:
            pd.testing.assert_frame_equal(s, d, check_dtype=False, atol=1e-8)
        except AssertionError as ex:
            bad[name] = str(ex).splitlines()[-1][:200]
    con.close()
    return bad
