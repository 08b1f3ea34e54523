"""Seeded inputs for the benchmark: the curation corpus.

``documents`` and ``embeddings`` follow the project's test corpus
(``documents.parquet`` and ``embeddings.parquet`` of its sf0.001 and sf0.01
data, which are the same size), as measured there:

* 500 documents.  Each is 10–99 words drawn uniformly from the same
  30-word vocabulary, the length uniform too (median 54–56 words).
* 5% of the documents (25 of 500) are near-duplicates.  Each is another
  document's text plus the word ``dup``; that document can lie anywhere in
  the corpus, itself a near-duplicate too.  Exact duplicates are not
  planted; they arise only when two near-duplicates copy the same text
  (none at 500 documents in the test corpus, 8 of 5 000 at sf0.1).
* ``lang`` is ``en`` for about 41% of the documents and ``de``, ``es``,
  ``fr`` or ``zh`` for about 15% each; ``source`` is ``src<doc_id % 20>``.
* 500 embeddings: 64-d float32 unit vectors in random directions, with a
  label 0–9 drawn independently of the vector (same-label and
  different-label pairs both have mean cosine 0 in the test data).

Every value comes from ``numpy.random.default_rng(seed)``, so one seed always
gives byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOCUMENTS = 500
EMBEDDINGS = 500
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
NEAR_DUP_SHARE = 0.05
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.145, 0.15, 0.145, 0.15]
EMB_DIM = 64
LABELS = 10


def _documents(rng, n):
    texts = [
        " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 100))))
        for _ in range(n)
    ]
    for i in rng.choice(n, int(n * NEAR_DUP_SHARE), replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n):
    raw = rng.normal(0.0, 1.0, (n, EMB_DIM))
    vecs = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, LABELS, n), pa.int32()),
        }
    )


def tables(seed: int) -> dict[str, pa.Table]:
    """The input tables for one seed."""
    rng = np.random.default_rng(seed)
    return {
        "documents": _documents(rng, DOCUMENTS),
        "embeddings": _embeddings(rng, EMBEDDINGS),
    }


def write(out_dir: str, seed: int) -> str:
    """Write every table as ``<out_dir>/<name>.parquet`` (skipped when a
    complete set for this seed is already there)."""
    marker = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(marker, "w") as fh:
        fh.write(f"seed={seed}\n")
    return out_dir
