"""ocr_spark — a PySpark-native extraction engine.

A from-scratch re-creation of the capabilities of the reference OCR
extraction service (MiguelCortes1231/ocr, a Flask + PaddleOCR single-node
app) as a distributed batch pipeline over tables of interleaved text+media
documents.

Layout
------
- ``ocr_spark.extraction``  pinned-behavior pure-Python extraction semantics
  (shared by the Arrow-batched pandas UDFs and the test oracle).
- ``ocr_spark.native``      the same operators expressed as native Catalyst
  ``Column`` expressions (no Python in the hot path).
- ``ocr_spark.udfs``        vectorized pandas UDFs / mapInPandas stages.
- ``ocr_spark.pipeline``    end-to-end span pipeline: scan → explode → text
  path ∥ media path → splice → sink, with skew salting + lineage.
- ``ocr_spark.recognizer``  pluggable OCR backend seam (deterministic fake
  backend for sandbox tests; Paddle backend gated behind import).
- ``ocr_spark.tableio``     snapshot-append table seam (parquet+manifest in
  the sandbox; Iceberg catalog config in production).
- ``ocr_spark.dedup``       exact / MinHash-LSH / SimHash / n-gram-Jaccard /
  duplicated-passage dedup, connected components, and their cross-run
  incremental twins.
- ``ocr_spark.similarity``  embeddings (feature hashing), brute/LSH/IVF ANN,
  SemDeDup, rank fusion, incremental ANN stores.
- ``ocr_spark.textstats``   language-ID, quality scoring, LM surprisal,
  tf·idf / BM25, repetition stats, PII scrub, fingerprints.
- ``ocr_spark.classifier``  trained quality probe (exact-integer GD).
- ``ocr_spark.bpe``         BPE tokenizer training / vocab / encode.
- ``ocr_spark.assembly``    sampling, mixing, perplexity buckets, sequence
  packing, verified training-shard export.
- ``ocr_spark.membership``  distributed Bloom membership + cross-run registry.
- ``ocr_spark.decontam``    eval-set n-gram decontamination.
- ``ocr_spark.streaming`` / ``ocr_spark.ingest``  structured-streaming
  operators and exactly-once dedup/extraction ingest.
- ``ocr_spark.pyworker``    keeps Python workers from re-reading zip
  archives on every task; installed here, because unpickling any of the
  package's worker-side functions imports the package.
"""

from ocr_spark import pyworker as _pyworker

_pyworker.install()

__version__ = "0.1.0"
