"""Seeded input materialisation. Everything here runs before any timed
window, and the same seed always writes the same rows.

Transcripts come from the package's own generator
(sources.synthetic.gen_transcripts: all 28 markup variants, hot
conversations, ~520 B per turn). They are written with pyarrow rather than
the package's Spark writer (sources.synthetic.write_transcripts_parquet):
input writing then stays out of the Spark session under test, so a change
to the program cannot change how its inputs are made, and each file holds
an exact, seed-fixed slice of the rows, which the one-file scaling input
relies on. The headline-query tables (documents, embeddings,
events, lineitem) follow the schemas and value ranges of the repo's sf
test data; they are generated here because a run may read nothing outside
its checkout.
"""

from __future__ import annotations

import os
import random
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from blogparser_spark.sources.synthetic import TRANSCRIPTS_COLUMNS

# the arrow types of sources.synthetic.transcripts_df's schema
TRANSCRIPT_SCHEMA = pa.schema(
    list(zip(TRANSCRIPTS_COLUMNS, (pa.string(), pa.int32(), pa.string(), pa.string(),
                                   pa.string(), pa.timestamp("us", tz="UTC"))))
)
DIM = 64  # embedding width of the headline-query tables


def write_transcripts(rows: list[tuple], path: str, n_files: int = 1) -> str:
    """Write rows as n_files parquet files under directory `path`, one file
    at a time so this process's memory peak stays small."""
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // n_files)
    for i in range(n_files):
        cols = list(zip(*rows[i * step : (i + 1) * step]))
        table = pa.table(
            [pa.array(c, type=f.type) for c, f in zip(cols, TRANSCRIPT_SCHEMA)],
            schema=TRANSCRIPT_SCHEMA,
        )
        pq.write_table(table, os.path.join(path, f"part-{i:03d}.parquet"))
    return path


# ---------------------------------------------------------------------------
# headline-query tables
# ---------------------------------------------------------------------------

_WORDS = (
    "small join filter order key stream line query value big window table spark a "
    "data customer scan vector slow fast group column row the hash merge sort batch "
    "agg part"
).split()
_LANGS = ["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["de"] * 14
_EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]


def _write(path: str, columns: dict) -> None:
    pq.write_table(pa.table(columns), path)


def query_tables(seed: int, path: str, n_docs: int, n_vecs: int, n_events: int,
                 n_lineitems: int) -> dict[str, int]:
    """Write documents/embeddings/events/lineitem parquet files under
    `path`; returns the row count of each table."""
    os.makedirs(path, exist_ok=True)
    rng = random.Random(seed)
    gen = np.random.default_rng(seed)

    texts = []
    for i in range(n_docs):
        if texts and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(rng.choice(texts) + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS) for _ in range(rng.randint(10, 99))))
    _write(f"{path}/documents.parquet", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in range(n_docs)],
        "source": [f"src{rng.randrange(20)}" for _ in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    labels = gen.integers(0, 10, n_vecs)
    centers = gen.normal(size=(10, DIM))
    vecs = centers[labels] + gen.normal(scale=1.5, size=(n_vecs, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(f"{path}/embeddings.parquet", {
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })

    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    gaps = gen.exponential(30 * 86400e6 / n_events, n_events).astype(np.int64)
    _write(f"{path}/events.parquet", {
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(t0 + np.cumsum(gaps)),
        "user_id": pa.array(gen.integers(0, max(2, n_events // 66), n_events), pa.int64()),
        "event_type": [_EVENT_TYPES[k] for k in gen.integers(0, 5, n_events)],
        "value": np.round(gen.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in gen.integers(0, 100, n_events)],
    })

    n = n_lineitems
    days = gen.integers(0, (datetime(2001, 11, 4) - datetime(1995, 1, 2)).days + 1, n)
    _write(f"{path}/lineitem.parquet", {
        "l_orderkey": pa.array(gen.integers(0, max(1, n // 4), n), pa.int64()),
        "l_partkey": pa.array(gen.integers(0, max(1, n // 30), n), pa.int64()),
        "l_suppkey": pa.array(gen.integers(0, max(1, n // 600), n), pa.int64()),
        "l_linenumber": pa.array(gen.integers(1, 8, n), pa.int32()),
        "l_quantity": gen.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(gen.uniform(900.0, 105000.0, n), 2),
        "l_discount": gen.integers(0, 11, n) / 100.0,
        "l_tax": gen.integers(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[k] for k in gen.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[k] for k in gen.integers(0, 2, n)],
        "l_shipdate": pa.array(
            np.datetime64("1995-01-02", "us") + days.astype("timedelta64[D]")
        ),
    })
    return {"documents": n_docs, "embeddings": n_vecs, "events": n_events, "lineitem": n}

