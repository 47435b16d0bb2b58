"""Seeded input generators for the three workloads.

Every input is a pure function of (seed, size) and is written once per seed
under the work directory; runs with the same seed reuse the files. Nothing
here imports Spark.
"""

from __future__ import annotations

import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from covsar_spark.datagen import _to_arrow, gen_tokens, stable_ts_offset, write_tokens
from covsar_spark.schemas import HORIZON_S

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "de", "fr"]
# the driver test tables' document vocabulary ("dup" marks planted copies)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENTS_EPOCH_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
EVENTS_SPAN_US = 30 * 86400 * 1_000_000


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _mark_done(path: str, meta: dict) -> None:
    with open(os.path.join(path, "_DONE"), "w") as f:
        json.dump(meta, f)


def tiers_tokens(root: str, seed: int, n_rows: int, n_sources: int) -> str:
    """Zipf-skewed tokens table for `run_tiers` (payload-free: the tier
    pipeline never scans the tokens column)."""
    path = os.path.join(root, f"tiers-tokens-{seed}-{n_rows}-{n_sources}")
    if not _done(path):
        write_tokens(path, n_rows, seed=seed, n_sources=n_sources, payload_tokens=False)
        _mark_done(path, {"rows": n_rows})
    return path


def query_tables(root: str, seed: int, n_events: int, n_docs: int) -> str:
    """`events`, `documents` and `region` parquet tables in the shape of the
    driver test tables (one row group each), at the given row counts."""
    path = os.path.join(root, f"query-tables-{seed}-{n_events}-{n_docs}")
    if _done(path):
        return path
    os.makedirs(path, exist_ok=True)
    rng = np.random.default_rng(seed)
    ts = np.sort(rng.integers(0, EVENTS_SPAN_US, n_events)) + EVENTS_EPOCH_US
    value = np.maximum(np.round(rng.exponential(50.0, n_events), 2), 0.01)
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(n_events // 66, 15), n_events)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)]),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )
    pq.write_table(events, os.path.join(path, "events.parquet"))

    vocab = np.array([w for w in WORDS if w != "dup"])
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))]) for _ in range(n_docs)]
    # plant near-duplicates so the similarity entries have pairs to find
    for i in rng.choice(n_docs, size=max(1, n_docs // 25), replace=False):
        j = int(rng.integers(0, n_docs))
        if i != j:
            texts[i] = texts[j] + " dup"
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.integers(0, 5, n_docs)]),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    pq.write_table(docs, os.path.join(path, "documents.parquet"))
    region = pa.table(
        {
            "r_regionkey": pa.array(np.arange(len(REGIONS), dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }
    )
    pq.write_table(region, os.path.join(path, "region.parquet"))
    _mark_done(path, {"events": n_events, "documents": n_docs})
    return path


FLUSH_SOURCE = "zz_flush"


def _flush_doc_id(min_offset_s: int) -> str:
    """A doc id whose derived event time lands at or after ``min_offset_s``
    into the horizon: streamed last, it pushes the watermark past every data
    window so they all finalize; its own window never does."""
    i = 0
    while zlib.crc32(f"flush-{i}".encode()) % HORIZON_S < min_offset_s:
        i += 1
    return f"flush-{i}"


def ingest_tokens(root: str, seed: int, n_rows: int, n_sources: int, data_horizon_s: int, n_files: int) -> dict:
    """Multi-file tokens stream plus a late batch.

    Data rows are kept to the first ``data_horizon_s`` of the event-time
    horizon, so a watermark delay of ``data_horizon_s`` drops no row however
    the files are ordered into micro-batches. Every 25th row is held back as
    the late batch that the refresh step repairs. The last file (latest
    mtime, so the stream reads it last) holds one flush row."""
    path = os.path.join(root, f"ingest-tokens-{seed}-{n_rows}-{n_sources}-{data_horizon_s}-{n_files}")
    paths = {"stream": os.path.join(path, "stream"), "late": os.path.join(path, "late")}
    if _done(path):
        return paths
    cols = gen_tokens(n_rows, seed=seed, n_sources=n_sources, payload_tokens=False)
    tbl = _to_arrow(cols)
    in_horizon = stable_ts_offset(cols["doc_id"]) < data_horizon_s
    idx = np.nonzero(in_horizon)[0]
    late_idx, on_time_idx = idx[idx % 25 == 0], idx[idx % 25 != 0]
    os.makedirs(paths["stream"], exist_ok=True)
    os.makedirs(paths["late"], exist_ok=True)
    mtime0 = 1_700_000_000
    for f, part in enumerate(np.array_split(on_time_idx, n_files)):
        p = os.path.join(paths["stream"], f"part-{f:04d}.parquet")
        pq.write_table(tbl.take(part), p)
        os.utime(p, (mtime0 + f, mtime0 + f))
    flush = pa.table(
        {
            "doc_id": pa.array([_flush_doc_id(2 * data_horizon_s + 120)]),
            "tokens": pa.array([[1]], type=pa.large_list(pa.int32())),
            "n_tok": pa.array([1], type=pa.int32()),
            "source": pa.array([FLUSH_SOURCE]),
        }
    )
    p = os.path.join(paths["stream"], f"part-{n_files:04d}.parquet")
    pq.write_table(flush, p)
    os.utime(p, (mtime0 + n_files + 60, mtime0 + n_files + 60))
    pq.write_table(tbl.take(late_idx), os.path.join(paths["late"], "part-0000.parquet"))
    _mark_done(path, {"on_time": int(len(on_time_idx)), "late": int(len(late_idx))})
    return paths
