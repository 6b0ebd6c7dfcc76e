"""mosaic_engine — a from-scratch PySpark-native mosaicJSON + spatial-join engine.

Reimplements the query/data-processing capabilities of the public
`kylebarron/landsat-cogeo-mosaic` CLI (see /root/repo/SURVEY.md; the
reference dir was empty at build time, so SURVEY.md §0's citation
convention `[ref: path#symbol]` names symbols in the public GitHub repo)
as an idiomatic Spark engine:

- pure-numpy tile-math / geometry kernels (tilemath.py, geometry.py)
  replacing mercantile + supermercado + shapely.prepared
- Arrow-batched UDF bindings (udfs.py) — zero per-row Python
- DataFrame-level plan builders (ops.py): fused footprint→quadkey
  explode, window ranking, optimized-selection dedupe, one-exchange
  selection aggregation, anti-join missing-quadkeys, cell-banded kNN
- canonical mosaicJSON assembly (mosaic.py)
- image payload lane (imageops.py): raw/ppm/png codecs, PSNR, phash
- checkpoint/resume manifests (checkpoint.py)
- training-data text lane (textops.py): exact/MinHash-LSH/SimHash
  dedup with mega-bucket-guarded pair generation, star-contraction
  near-dup clustering, language ID / quality / token stats / winnowing
- embedding ANN lane (annops.py): brute cosine, hyperplane-LSH with
  multi-probe, deterministic-integer IVF, banded near-dup pairs
- incremental streaming maintenance (streaming.py): foreachBatch tiles
  log with manifest-committed compaction, watermarked windows,
  stateful sessionization
"""

__version__ = "0.1.0"
