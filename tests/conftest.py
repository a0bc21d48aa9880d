"""Shared SparkSession for the test suite (session-scoped, local[4]) and a
small deterministic corpus (documents and events) written once as
parquet for the operator and plan-shape tests."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyanomalydetector2_spark.session import get_spark

VOCAB = (
    "the a fast slow big small key order sort table scan merge part window"
    " hash join batch stream spark group query row data filter customer"
    " line value agg column vector"
).split()
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cpus=4, app_name="pyad2-tests", shuffle_partitions=8)
    yield s
    s.stop()


def _documents(rng: np.random.Generator, n: int = 500) -> pa.Table:
    """Random texts over a 30-word vocabulary; every 17th document is a
    near copy of the one 13 ids earlier (one token swapped, ``dup``
    appended), so near-dup pairs exist among low ids, among high ids, and
    across the id cuts the incremental tests split on (100 and 400)."""
    texts = []
    for i in range(n):
        if i % 17 == 16:
            toks = texts[i - 13].split()
            toks[rng.integers(len(toks))] = VOCAB[rng.integers(len(VOCAB))]
            toks.append("dup")
        else:
            toks = list(rng.choice(VOCAB, rng.integers(20, 90)))
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [["en", "fr", "es", "zh", "de"][i % 5] for i in range(n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _events(rng: np.random.Generator, n: int = 1000) -> pa.Table:
    """January 2024 events: 15 users, 5 event types, skewed values."""
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(t0 + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 15, n), pa.int64()),
        "event_type": list(rng.choice(EVENT_TYPES, n)),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


@pytest.fixture(scope="session")
def corpus_dir(tmp_path_factory) -> str:
    """Directory holding the ``documents`` and ``events`` parquet tables;
    read them with ``spark.read.parquet(f"{dir}/{name}.parquet")``."""
    d = tmp_path_factory.mktemp("corpus")
    rng = np.random.default_rng(42)
    for name, table in (
        ("documents", _documents(rng)),
        ("events", _events(rng)),
    ):
        pq.write_table(table, d / f"{name}.parquet")
    return str(d)
