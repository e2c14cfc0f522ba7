"""ocr_spark — a from-scratch PySpark-native transcript extraction engine.

Re-expresses the query / data-processing capabilities of the reference
repo ``chry-santhemum/ocr`` (an out-of-context-reasoning research
codebase whose reusable compute surface is a transcript-processing
pipeline) as an idiomatic Spark DataFrame engine:

- ``ocr_spark.kernels`` — pure-Python, zero-Spark-dependency extraction
  kernels (chat-template render, marker split, answer extraction,
  import parsing, span location, completion-block classification,
  deterministic tokenizer).  These define the per-turn text-equality
  contract and are unit-tested against golden fixtures.
- ``ocr_spark.pipeline`` — the end-to-end extraction DataFrame job
  (vectorized pandas/Arrow UDFs, salted repartitioning, lineage).
- ``ocr_spark.synth`` — deterministic, key-derived synthetic transcript
  generator (pure function of (seed, conv_id, turn_idx); identical at
  any partition count).
- ``ocr_spark.queries`` — relational operator catalog mirrored by
  DuckDB oracle SQL (driver correctness gate).
- ``ocr_spark.lineage`` — partition-batch checkpoint/resume with
  per-partition lineage metrics.
"""

__version__ = "0.1.0"

from ocr_spark import _worker

_worker.install()
