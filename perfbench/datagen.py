"""Seeded input generators and the input cache.

A generator is a pure function of its seed and size: the same (seed,
size) always writes byte-identical tables, so expected results can be
cached by input directory. The ``documents``/``embeddings`` schemas
mirror the engine's catalog (``sm_etl_cloud_run_spark.tables``).
Generation runs before any timer starts.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window column order data join small big query stream "
    "customer filter group vector"
).split()


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int, dim: int = 64) -> None:
    """``documents`` (bag-of-words text, a tenth near-duplicates of an
    earlier document) and ``embeddings`` (unit vectors around 10
    labelled centroids)."""
    rng = np.random.default_rng(seed)
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.1:
            src = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(src)))
            src[j] = str(words[rng.integers(0, len(words))])
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 90)))]))
    _write(out_dir, "documents", pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    }))
    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    centroids = rng.normal(size=(10, dim))
    vecs = centroids[labels] + rng.normal(scale=1.5, size=(n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels,
    }))


def cached(cache_root: str, key: str, build) -> str:
    """Directory ``cache_root/key``, built once by ``build(tmp_dir)``
    and published by rename so a crashed build is never reused."""
    out = os.path.join(cache_root, key)
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, out)
    return out

