"""smartreader_spark — a PySpark-native main-content extraction engine.

A from-scratch reimplementation of the extraction semantics of
Strumenta/SmartReader (itself a port of Mozilla Readability) designed for
Spark's execution model: a pure-Python per-document kernel (no Spark
dependency, pytest-testable) wrapped in vectorized Arrow ``mapInPandas``
batches, with one scan spreader (``layout.spread``), one resumable run
over a done-ledger (``pipeline.checkpoint.run_resumable``) and
per-partition lineage + metrics.

Layout:
  kernel/     pure-Python extraction kernel (DOM parse -> article spans + metadata)
  pipeline/   Spark DataFrame tier (scan, spread, mapInPandas, ledger, metrics)
  functions/  corpus-level ops (dedup, similarity, text QA, events) on plain tables
  streaming/  Structured Streaming operators on one bounded-replay path (replay.py)
  sources/    the generated PDF corpus
  memo.py     session memo for shared intermediate results
  layout.py   the scan spreader
  localrel.py driver-side rows as Arrow-backed local relations
  sqltext.py  SQL literals built from Python values
  observed.py bounded wait on Observation metrics
"""

__version__ = "0.1.0"
