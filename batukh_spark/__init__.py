"""batukh_spark — a PySpark-native main-content extraction engine.

A from-scratch reimplementation of the capabilities of the reference
document-recognition toolkit (wizmal/batukh) transposed to the
transcript-text domain, per SURVEY.md:

- page/region segmentation        -> HTML boilerplate strip (block scoring)
- layout extraction (n classes)   -> block-type classification
- image (non-text) region detect  -> tool-output/artifact block detection
- baseline (text-line) detection  -> PDF-layout XY-cut line segmentation
- contours -> ranked crops        -> spans -> scored, ordered extracted text
- OCR decode / map2string         -> span assembly into normalized text
- train loop/checkpoints/metrics  -> partitioned batch job + per-partition
                                     checkpoint manifests + metrics table

Package layout:
  oracle/     frozen pure-Python reference extractor (no Spark imports)
  kernels.py  Arrow-vectorized Spark wrappers around the oracle
  schema.py   all StructTypes (transcripts, blocks, spans, manifest)
  corpus.py   deterministic synthetic transcript corpus generator
  pipeline.py full extraction job: salting, manifests, resume
  operators/  training-data-pipeline operators (dedup, ANN, text stats, ...)
  mix.py      composed training-mix pipeline (dedup -> gate -> sample -> chunk)
  sources/    IO abstraction (Iceberg-or-parquet)
  cli.py      spark-submit entry point
"""

__version__ = "0.1.0"

from batukh_spark import worker as _worker

if _worker.on_worker():
    _worker.prepare_worker()
