"""Seeded ``embeddings`` table for the ``operator_batch`` workload.

Unit-norm 64-dim float embeddings with ten labels, with the schema and value
shape of the repository's test tables.  The same seed writes the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def write(out: str, seed: int, vectors: int) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    emb = rng.standard_normal((vectors, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(vectors), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, vectors), pa.int32()),
    }), os.path.join(out, "embeddings.parquet"))
