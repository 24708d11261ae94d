"""Seeded input generators for the benchmark.

Two families:

* ``write_corpus``: the ``documents`` and ``embeddings`` tables that the
  ``llm_dedup`` queries read, with the schemas of the engine's catalog.
  Row counts follow the scale factor (500 documents and 200 vectors at
  sf0.01, 50 of each at sf0.001). About 5% of the documents are planted
  near-duplicates of an earlier one, so the MinHash/LSH dedup paths have
  real pairs to find. The corpus is generated from a fixed seed: the
  expected output digests in ``expected.json`` are computed on it.
* ``stream_log``: a two-sided versioned upsert log for the streaming
  join, generated from the run's seed. Each id keeps one key across its
  versions, every record has a distinct version timestamp, and records
  are dealt to micro-batches in shuffled order, so versions of one id
  arrive out of order.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: seed of the batch corpus; changing it invalidates ``expected.json``
CORPUS_SEED = 42

VOCAB = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.42, 0.15, 0.15, 0.14, 0.14)
N_SOURCES = 20
DUP_FRAC = 0.05
EMBED_DIM = 64


def corpus_sizes(sf: float) -> tuple[int, int]:
    """(documents, embeddings) row counts at scale factor ``sf``."""
    return max(50, round(50_000 * sf)), max(50, round(20_000 * sf))


def make_documents(n: int, rng: np.random.Generator) -> pd.DataFrame:
    lengths = rng.integers(10, 100, size=n)
    texts: list[list[str]] = []
    for i in range(n):
        if i > 0 and rng.random() < DUP_FRAC:
            # near-duplicate: an earlier document with one marker token
            words = list(texts[int(rng.integers(0, i))])
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), size=lengths[i])]
        texts.append(words)
    text = [" ".join(w) for w in texts]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": text,
            "lang": [LANGS[j] for j in rng.choice(len(LANGS), size=n, p=LANG_P)],
            "source": [f"src{i % N_SOURCES}" for i in range(n)],
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        }
    )


def make_embeddings(n: int, rng: np.random.Generator) -> pa.Table:
    m = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(m.ravel()), EMBED_DIM
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, size=n).astype(np.int32)),
        }
    )


def write_corpus(sf_dir: str, sf: float) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet`` for ``sf``."""
    os.makedirs(sf_dir, exist_ok=True)
    rng = np.random.default_rng(CORPUS_SEED)
    n_docs, n_vecs = corpus_sizes(sf)
    pq.write_table(
        pa.Table.from_pandas(make_documents(n_docs, rng), preserve_index=False),
        os.path.join(sf_dir, "documents.parquet"),
    )
    pq.write_table(make_embeddings(n_vecs, rng), os.path.join(sf_dir, "embeddings.parquet"))


def stream_log(
    seed: int,
    n_batches: int,
    n_keys: int = 2000,
    records_per_batch: int = 3200,
) -> dict[int, pd.DataFrame]:
    """Two-sided upsert log: ``{side: frame(id, k, ts, v, batch)}``.

    Per side, each key gets 1-3 ids (2 on average) and the side's
    ``records_per_batch / 2 * n_batches`` records are spread over its
    ids, every id getting at least one version. ``ts`` is a permutation
    over both sides, so version timestamps never tie. ``batch`` deals
    the shuffled records evenly into ``n_batches`` micro-batches.
    """
    rng = np.random.default_rng(seed)
    per_side = records_per_batch // 2 * n_batches
    ts = rng.permutation(2 * per_side).astype(np.int64) * 1000 + 1_000_000
    out: dict[int, pd.DataFrame] = {}
    next_id = 0
    for side in (0, 1):
        ids_per_key = rng.integers(1, 4, size=n_keys)
        keys = np.repeat(np.arange(n_keys, dtype=np.int64), ids_per_key)
        ids = np.arange(next_id, next_id + len(keys), dtype=np.int64)
        next_id += len(keys)
        if per_side < len(ids):
            raise ValueError("fewer records than ids: raise n_batches")
        extra = rng.integers(0, len(ids), size=per_side - len(ids))
        rec = np.concatenate([np.arange(len(ids)), extra])
        rng.shuffle(rec)
        out[side] = pd.DataFrame(
            {
                "id": ids[rec],
                "k": keys[rec],
                "ts": ts[side * per_side : (side + 1) * per_side],
                "v": rng.integers(0, 1_000_000, size=per_side),
                "batch": np.arange(per_side) % n_batches,
            }
        )
    return out


def write_stream_log(log: dict[int, pd.DataFrame], root: str) -> dict[int, str]:
    """One parquet file per side per micro-batch, named so the file
    source's lexicographic listing replays them in batch order."""
    dirs = {}
    for side, pdf in log.items():
        d = os.path.join(root, f"side{side}")
        os.makedirs(d, exist_ok=True)
        for b, chunk in pdf.groupby("batch", sort=True):
            pq.write_table(
                pa.Table.from_pandas(chunk.drop(columns="batch"), preserve_index=False),
                os.path.join(d, f"part-{b:05d}.parquet"),
            )
        dirs[side] = d
    return dirs
