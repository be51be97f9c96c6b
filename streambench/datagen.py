"""Seeded input generators for the benchmark workloads.

Everything here is plain numpy + pyarrow so that input generation never
touches the engine under test: the same ``seed`` always yields the same
files, and the engine only ever sees the generated parquet.

- :func:`etl_tick` — one tick of the reference topology's two source
  topics (a purchase file and a donation file) plus the raw ``events``
  rows they were projected from, which the batch reference re-derives
  through the engine's own ``ref_topology_large_transactions``.
- :func:`documents` / :func:`embeddings` / :func:`arriving_file` — a
  documents table and its embeddings drawn from the distributions
  measured on the sf0.1 tables (see the section comment below), and the
  replayed arriving stream: re-keyed replicas of its arriving slice.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa

#: user ids encode their tick and topic: ``tick * USER_STRIDE + u`` with
#: purchases in ``[0, USER_STRIDE/2)`` and donations above, so every sink
#: row maps back to the one file that produced it.
USER_STRIDE = 10_000
_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
PURCHASE_SCHEMA = pa.schema(
    [("purchase_id", pa.int64()), ("user_id", pa.int64()), ("amount", pa.int64())]
)
DONATION_SCHEMA = pa.schema(
    [
        ("user_id", pa.int64()),
        ("donation_amount_cents", pa.int64()),
        ("donation_date", pa.string()),
    ]
)
PURCHASE_DDL = "purchase_id long, user_id long, amount long"
DONATION_DDL = "user_id long, donation_amount_cents long, donation_date string"


def _values(rng: np.random.Generator, n: int) -> np.ndarray:
    # exponential amounts around 50 like the shipped events table; the
    # first row is always large so every file yields at least one sink row
    v = np.round(rng.exponential(50.0, n), 2)
    v[0] = np.round(100.0 + rng.uniform(0, 300), 2)
    return v


def etl_tick(seed: int, tick: int, rows_per_file: int) -> dict[str, pa.Table]:
    """Return ``{"events", "purchases", "donations"}`` for one tick."""
    rng = np.random.default_rng([seed, tick])
    n = rows_per_file
    base = tick * USER_STRIDE
    half = USER_STRIDE // 2
    p_val, d_val = _values(rng, n), _values(rng, n)
    p_user = base + rng.integers(0, half, n)
    d_user = base + half + rng.integers(0, half, n)
    event_id = tick * 2 * n + np.arange(2 * n, dtype=np.int64)
    secs = tick * 60 + np.sort(rng.uniform(0, 60, 2 * n))
    ts = [_EPOCH + dt.timedelta(seconds=float(s)) for s in secs]
    events = pa.table(
        {
            "event_id": event_id,
            "ts": pa.array([t.replace(tzinfo=None) for t in ts], pa.timestamp("us")),
            "user_id": np.concatenate([p_user, d_user]),
            "event_type": ["purchase"] * n + ["view"] * n,
            "value": np.concatenate([p_val, d_val]),
            "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, 2 * n)],
        },
        schema=EVENTS_SCHEMA,
    )
    purchases = pa.table(
        {
            "purchase_id": event_id[:n],
            "user_id": p_user,
            "amount": np.floor(p_val).astype(np.int64),
        },
        schema=PURCHASE_SCHEMA,
    )
    donations = pa.table(
        {
            "user_id": d_user,
            "donation_amount_cents": np.floor(d_val * 100).astype(np.int64),
            "donation_date": [t.strftime("%Y-%m-%d") for t in ts[n:]],
        },
        schema=DONATION_SCHEMA,
    )
    return {"events": events, "purchases": purchases, "donations": donations}


# --------------------------------------------------------------------------
# curation documents
#
# Calibrated to the sf0.1 ``documents`` / ``embeddings`` tables the
# engine's registry and its streaming ingest bench serve (measured with
# ``calibrate.py``): 5,000 docs; text drawn uniformly from a 30-word
# vocabulary, 10-99 words per doc; about 4.9 % of docs (244 / 5,000) are
# one-edit copies of another doc (50 % append the word "dup", 46 % drop
# the last word, 3 % byte-identical, the rest drop the last two words); ``source`` is
# ``src{doc_id % 20}``; 2,000 independent unit 64-d embeddings with
# labels 0-9. The arriving slice is ``doc_id % 10 == 0`` (500 docs, half
# of them ``src0``, the held-out "benchmark" source), the corpus the
# rest.

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
#: measured language shares of the sf0.1 documents table
LANG_SHARES = {"en": 0.412, "zh": 0.151, "es": 0.149, "fr": 0.148, "de": 0.140}
#: share of docs that copy another doc, and the measured edit mix
COPY_SHARE = 244 / 5000
EDIT_SHARES = {"insert": 122 / 244, "delete": 113 / 244, "exact": 8 / 244, "delete2": 1 / 244}
N_DOCS = 5000
N_VECS = 2000
ARRIVING_MOD = 10
BENCH_SOURCE = "src0"
DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
DOC_DDL = "doc_id long, text string, lang string, source string, n_chars long"
EMB_DIM = 64
#: re-keyed arriving doc ids: file ``f`` holds ``ARRIVING_BASE + f *
#: FILE_STRIDE + original id``, above every embedding id (as in the
#: sf0.1 replay, replicas have no vectors, so the semantic gate keeps
#: them all)
ARRIVING_BASE = 1_000_000
FILE_STRIDE = 10_000


def _edit(rng: np.random.Generator, words: list[str]) -> list[str]:
    kind = rng.choice(list(EDIT_SHARES), p=list(EDIT_SHARES.values()))
    if kind == "insert":
        return words + ["dup"]
    if kind == "delete":
        return words[:-1]
    if kind == "delete2":
        return words[:-2]
    return list(words)


def documents(seed: int, n_docs: int = N_DOCS) -> pa.Table:
    """The whole documents table: corpus plus arriving slice."""
    rng = np.random.default_rng([seed, 7])
    words = [
        [VOCAB[i] for i in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
        for _ in range(n_docs)
    ]
    copies = rng.random(n_docs) < COPY_SHARE
    originals = np.flatnonzero(~copies)
    for i in np.flatnonzero(copies):
        words[i] = _edit(rng, words[int(rng.choice(originals))])
    texts = [" ".join(w) for w in words]
    langs = rng.choice(list(LANG_SHARES), n_docs, p=list(LANG_SHARES.values()))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": langs.tolist(),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
        schema=DOC_SCHEMA,
    )


def embeddings(seed: int, n_vecs: int = N_VECS) -> pa.Table:
    rng = np.random.default_rng([seed, 9])
    x = rng.standard_normal((n_vecs, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
        }
    )


def arriving_file(docs: pa.Table, seed: int, f: int, rows: int) -> pa.Table:
    """File ``f`` of the replayed arriving stream: the arriving slice is
    replicated, each replica shuffled by the seed and cut into
    ``rows``-row files, ids re-keyed to ``ARRIVING_BASE + f * FILE_STRIDE
    + id`` (off the corpus ids, off each other, off the embeddings)."""
    ids = docs.column("doc_id").to_numpy()
    slice_idx = np.flatnonzero(ids % ARRIVING_MOD == 0)
    per = len(slice_idx) // rows
    order = np.random.default_rng([seed, 13, f // per]).permutation(slice_idx)
    part = docs.take(np.sort(order[(f % per) * rows : (f % per + 1) * rows]))
    return part.set_column(
        0, "doc_id",
        pa.array(ARRIVING_BASE + f * FILE_STRIDE + part.column("doc_id").to_numpy(), pa.int64()),
    )


def canary_table(seed: int, rows: int = 200_000) -> pa.Table:
    """Fixed-size table for the frozen Spark host-speed canary."""
    rng = np.random.default_rng([seed, 3])
    return pa.table({"k": rng.integers(0, 1 << 40, rows), "v": rng.random(rows)})
