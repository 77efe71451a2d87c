"""Seeded inputs for the benchmark.

The engine's queries read an ``sf`` directory of parquet tables. The
benchmark writes its own such directory during set-up, so a run never
reads anything outside its checkout: the same ``--seed`` gives the same
tables byte for byte.

``documents`` is fitted to the statistics of the engine's sf0.1 driver
test data, measured and listed in ``baseline/README.md``: texts of 10-99
words drawn uniformly from the same 30-word vocabulary, 5%
near-duplicates (another document's text plus `` dup``), 20 round-robin
sources and the same five-language mix. At sf0.1's 5,000 documents it
gives the same match status mix on the pages IR, within a few pages per
status. The seed draws the texts and a doc_id
permutation, so the page pairing (odd voucher doc ``d`` against
reference doc ``d - 1``) and the content-keyed checkpoint parts change
with it. ``embeddings`` are random unit vectors with labels 0-9.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
N_SOURCES = 20
DUP_FRAC = 0.05
EMB_DIM = 64
N_LABELS = 10


def documents(n_docs: int, seed: int) -> pa.Table:
    """``(doc_id, text, lang, source, n_chars)`` for ``n_docs`` docs."""
    rng = np.random.default_rng(seed)
    n_words = rng.integers(10, 100, n_docs)
    words = np.asarray(VOCAB)[rng.integers(0, len(VOCAB), int(n_words.sum()))]
    bounds = np.concatenate([[0], np.cumsum(n_words)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n_docs)]
    n_dup = int(n_docs * DUP_FRAC)
    dups = rng.choice(n_docs, size=2 * n_dup, replace=False)
    for d, src in zip(dups[:n_dup], dups[n_dup:]):
        texts[d] = texts[src] + " dup"
    doc_ids = rng.permutation(n_docs).astype(np.int64)
    order = np.argsort(doc_ids)
    texts = [texts[i] for i in order]
    ids = np.arange(n_docs, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, size=n_docs, p=LANG_P).tolist(),
        "source": [f"src{i % N_SOURCES}" for i in ids],
        "n_chars": np.fromiter((len(t) for t in texts), np.int64, n_docs),
    })


def embeddings(n_vecs: int, seed: int) -> pa.Table:
    """``(vec_id, embedding: list<float>, label)`` unit vectors."""
    rng = np.random.default_rng(seed + 1)
    x = rng.standard_normal((n_vecs, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), EMB_DIM)
    return pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": rng.integers(0, N_LABELS, n_vecs).astype(np.int32),
    })


def replicate(docs: pa.Table, rep: int, seed: int) -> pa.Table:
    """``docs`` repeated ``rep`` times. Replica ``k`` of doc ``d`` gets
    id ``d * rep + (k + shift_d) % rep`` with a seeded per-doc shift, so
    ids stay unique and the content-keyed checkpoint parts change with
    the seed."""
    shift = np.random.default_rng(seed + 2).integers(0, rep, docs.num_rows)
    base = docs.column("doc_id").to_numpy()
    copies = []
    for k in range(rep):
        ids = base * rep + (k + shift) % rep
        copies.append(docs.set_column(0, "doc_id", pa.array(ids, pa.int64())))
    return pa.concat_tables(copies)


def write_sf_dir(
    sf_dir: str, seed: int, n_docs: int, n_vecs: int = 0,
    rep: int = 1, n_files: int = 1,
) -> int:
    """Write ``documents`` (replicated ``rep`` times, split into
    ``n_files`` files) and, when ``n_vecs``, ``embeddings``. Returns the
    number of documents written."""
    os.makedirs(sf_dir, exist_ok=True)
    docs = documents(n_docs, seed)
    if rep > 1:
        docs = replicate(docs, rep, seed)
    path = f"{sf_dir}/documents.parquet"
    if n_files == 1:
        pq.write_table(docs, path)
    else:
        os.makedirs(path)
        step = -(-docs.num_rows // n_files)
        for i in range(n_files):
            pq.write_table(docs.slice(i * step, step), f"{path}/part-{i:05d}.parquet")
    if n_vecs:
        pq.write_table(embeddings(n_vecs, seed), f"{sf_dir}/embeddings.parquet")
    return docs.num_rows
