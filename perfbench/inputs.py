"""Input files for the benchmark workloads.

Scenes and probe points come straight from ``mosaic_engine.datagen``
(``gen_scenes_bulk``, ``gen_knn_queries``) with the run's seed; caption
docs come from ``gen_docs_batch`` in ``scripts/bench_incremental_dedup.py``.
The same seed always gives the same inputs.
"""

from __future__ import annotations

import os

import pyarrow as pa

from mosaic_engine import datagen

# gen_docs_batch takes no seed; its vocabulary size is the one input it
# exposes that changes every generated word, so the seed selects it
DOC_VOCAB_BASE = 4000
DOC_VOCAB_SPAN = 2000


def write_files(table: pa.Table, out_dir: str, n_files: int, prefix: str) -> None:
    """Write ``table`` as ``n_files`` parquet files of near-equal size."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        datagen.write_parquet(table.slice(i * step, step),
                              os.path.join(out_dir, f"{prefix}-{i:03d}.parquet"))


def docs(batch: int, n: int, seed: int) -> pa.Table:
    """Caption docs of arrival ``batch``: ids [batch*n, batch*n + n),
    ~10% near-duplicates of earlier docs, no boilerplate."""
    from bench_incremental_dedup import gen_docs_batch

    vocab = DOC_VOCAB_BASE + seed % DOC_VOCAB_SPAN
    return gen_docs_batch(batch, n, boiler_frac=0.0, vocab=vocab)
