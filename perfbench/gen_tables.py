"""Seeded generator of the tables the fold-layer queries read.

Writes `documents.parquet` and `events.parquet` with the schemas of the
repository's test tables (FIXTURES.md), at the size of its sf0.01 set:
500 documents (a quarter of them near-duplicates of earlier ones) and
10,000 events over 30 days. The same seed gives byte-identical tables.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the data row column table key value part hash sort merge join scan filter "
         "group agg order line batch stream window query spark vector small big fast "
         "slow customer").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]

N_DOCS = 500
N_EVENTS = 10_000


def documents(rng):
    texts = []
    for i in range(N_DOCS):
        if i >= 20 and rng.random() < 0.25:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[int(j)] for j in rng.integers(0, len(WORDS), int(rng.integers(12, 80)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[int(j)] for j in rng.integers(0, len(LANGS), N_DOCS)]),
        "source": pa.array([f"src{int(j)}" for j in rng.integers(0, 20, N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def events(rng):
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, N_EVENTS))
    return pa.table({
        "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
        "ts": pa.array(start + offsets, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, N_EVENTS).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[int(j)] for j in rng.integers(0, 5, N_EVENTS)]),
        "value": pa.array(np.round(rng.uniform(0, 50, N_EVENTS), 2)),
        "props": pa.array([f'{{"k": {int(j)}}}' for j in rng.integers(0, 100, N_EVENTS)]),
    })


def generate(out_dir, seed):
    """Write the tables under `out_dir` (which must exist)."""
    rng = np.random.default_rng(seed)
    for name, make in (("documents", documents), ("events", events)):
        pq.write_table(make(rng), f"{out_dir}/{name}.parquet")
