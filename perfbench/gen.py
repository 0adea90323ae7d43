"""Seeded input generator for the benchmark.

Writes a directory shaped like the engine's ``sf`` testdata:

* ``customer.parquet`` -- lint entities. The engine derives every OSM doc
  from ``c_custkey`` (``synth.docs_df``), so the seed only moves the key
  range; the modular derivation keeps every planted lint case.
* ``documents.parquet`` -- ``(doc_id, text, ...)`` word soup with the
  planted duplicate structure of ``synth.texts_range_df`` (every 5th doc
  repeats its predecessor, every 7th appends a mutation token), seeded
  through the word offsets and the doc_id base.
* ``embeddings.parquet`` -- unit-norm 64-dim float vectors around ten
  seeded label centres (``vec_id`` 0..n-1, so ``vec_id < 20`` stays the
  ANN query set).

The directory basename encodes seed and sizes: the engine's cache keys
are built from the basename (``docs_<basename>_<SYNTH_VERSION>``), so a
reused name would silently serve a stale table.

The incremental near-dup step also gets an arrival input: one file of
new texts, ``arrivals/texts.parquet``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EMB_DIM = 64
WORDS_PER_DOC = 24
BIG_MOD = 1_000_000_007
PRIME_LAT, PRIME_LON = 7919, 104729
#: text doc ids stay below the engine's copy offsets (10^6 / 2*10^6 in
#: ``dedup.with_near_dups_df``) so copies never collide with originals
DOC_ID_LIMIT = 1_000_000
#: arrival text ids live above every seed-corpus id and copy id
ARRIVAL_ID_BASE = 5_000_000
#: the arrival file, relative to the generated directory
ARRIVALS = os.path.join("arrivals", "texts.parquet")
LANGS = ("en", "es", "de", "fr", "sr")


def dir_name(seed: int, n_cust: int, n_texts: int, n_vecs: int) -> str:
    return f"pb_s{seed}_c{n_cust}_t{n_texts}_e{n_vecs}"


def cust_base(seed: int) -> int:
    """First ``c_custkey`` minus one: the seed moves the key range."""
    return (seed % 1_000_000) * 1_000_000


def text_id_base(seed: int, n_texts: int) -> int:
    return (seed * PRIME_LAT) % (DOC_ID_LIMIT - n_texts - 1)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def customer_table(keys: np.ndarray) -> pa.Table:
    keys = keys.astype(np.int64)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD"])
    return pa.table(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k}" for k in keys],
            "c_nationkey": (keys % 25).astype(np.int32),
            "c_acctbal": (keys * 7919 % 1_000_000) / 100.0,
            "c_mktsegment": segs[keys % 5],
        }
    )


def soup_texts(keys: np.ndarray) -> list[str]:
    """``synth.texts_range_df``'s derivation over arbitrary keys: every
    5th key repeats its predecessor's words, every 7th gets a mutation."""
    keys = keys.astype(np.int64)
    base = np.where(keys % 5 == 0, keys - 1, keys) % BIG_MOD
    offset = (base * base % BIG_MOD) * PRIME_LAT % BIG_MOD
    steps = np.arange(1, WORDS_PER_DOC + 1, dtype=np.int64) * PRIME_LON
    words = (offset[:, None] + steps[None, :]) % BIG_MOD
    out = []
    for k, row in zip(keys.tolist(), words.tolist()):
        text = " ".join(f"w{w}" for w in row)
        if k % 7 == 0:
            text += f" zz{k % 3}"
        out.append(text)
    return out


def documents_table(doc_ids: np.ndarray, texts: list[str]) -> pa.Table:
    doc_ids = doc_ids.astype(np.int64)
    return pa.table(
        {
            "doc_id": doc_ids,
            "text": texts,
            "lang": np.array(LANGS)[doc_ids % len(LANGS)],
            "source": [f"src{d % 20}" for d in doc_ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings_table(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    centres = rng.normal(size=(10, EMB_DIM))
    labels = np.arange(n) % 10
    v = centres[labels] + 1.5 * rng.normal(size=(n, EMB_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel())
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32)), flat
            ),
            "label": labels.astype(np.int32),
        }
    )


def make_sf(root: str, seed: int, n_cust: int, n_texts: int = 0, n_vecs: int = 0) -> str:
    """Write the seed corpus; returns its directory. Tables of size 0 are
    not written. Re-running with the same arguments rewrites identical
    content."""
    out = os.path.join(root, dir_name(seed, n_cust, n_texts, n_vecs))
    os.makedirs(out, exist_ok=True)
    if n_cust:
        keys = cust_base(seed) + np.arange(1, n_cust + 1, dtype=np.int64)
        _write(customer_table(keys), os.path.join(out, "customer.parquet"))
    if n_texts:
        ids = text_id_base(seed, n_texts) + np.arange(1, n_texts + 1, dtype=np.int64)
        # the word-offset keys sit in a seed-specific range far from ids
        texts = soup_texts(ids + seed * 10_000_019)
        _write(documents_table(ids, texts), os.path.join(out, "documents.parquet"))
    if n_vecs:
        _write(embeddings_table(seed, n_vecs), os.path.join(out, "embeddings.parquet"))
    return out


def make_arrival_texts(sf_dir: str, seed: int, n: int) -> None:
    """``arrivals/texts.parquet``: ``n`` new ``(doc_id, text)`` rows, ids
    above every seed-corpus and copy id. They keep the planted duplicate
    structure among themselves, and every 11th one copies a seed-corpus
    text, so the step finds pairs both within the arrivals and against
    the stored signatures."""
    os.makedirs(os.path.join(sf_dir, "arrivals"), exist_ok=True)
    seed_texts = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["text"])
    seed_texts = seed_texts.column("text").to_pylist()
    rng = np.random.default_rng([seed, 3])
    ids = ARRIVAL_ID_BASE + np.arange(n, dtype=np.int64)
    texts = soup_texts(ids + seed * 10_000_019 + 7_000_003)
    for i in range(0, n, 11):
        texts[i] = seed_texts[int(rng.integers(len(seed_texts)))]
    _write(pa.table({"doc_id": ids, "text": texts}), os.path.join(sf_dir, ARRIVALS))
