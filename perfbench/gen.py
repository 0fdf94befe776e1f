"""Seeded generator for the benchmark's input tables.

Writes the four tables the workloads read -- `events`, `documents`,
`embeddings` and `lineitem` -- as one `<table>.parquet` file each, the
layout and schemas the graft readers and registered queries expect. The
same seed always gives the same inputs.

Shapes follow the reference scale dirs: uniform users and event types
over whole UTC days, exponential event values, `{"k": n}` props;
documents drawn from a 30-word vocabulary with 5% exact-copy
near-duplicates (base text + " dup"); unit-norm 64-d embeddings with a
10-way label; TPC-H-style lineitem rows.
"""

import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
DAY0 = dt.datetime(2024, 1, 1)


def events(rng, n, users, days):
    start_us = int(DAY0.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    span_us = days * 86_400_000_000
    ts = np.sort(start_us + rng.integers(0, span_us, n, dtype=np.int64))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents(rng, n):
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(None)  # filled below from an earlier-drawn base
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(VOCAB, k)))
    bases = [t for t in texts if t is not None]
    texts = [t if t is not None else bases[int(rng.integers(len(bases)))]
             + " dup" for t in texts]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })


def embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def lineitem(rng, n):
    d0 = np.datetime64("1995-01-02", "us")
    ship = d0 + rng.integers(0, 2498, n).astype("timedelta64[D]")
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(1, n // 4 + 2, n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(1, 20_001, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(1, 1_001, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(
            np.round(qty * rng.uniform(900.0, 2100.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["R", "A", "N"], n)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n)),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })


def generate(out_dir, seed, n_events, n_users, n_days, n_docs, n_vecs,
             n_lineitems):
    """Writes the tables under `out_dir`; returns their row counts."""
    rng = np.random.default_rng(seed)
    tables = {
        "events": events(rng, n_events, n_users, n_days),
        "documents": documents(rng, n_docs),
        "embeddings": embeddings(rng, n_vecs),
        "lineitem": lineitem(rng, n_lineitems),
    }
    for name, t in tables.items():
        pq.write_table(t, f"{out_dir}/{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}
