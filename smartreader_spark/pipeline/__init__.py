"""Spark DataFrame tier: scan → spread → mapInPandas(kernel) → write.

Design notes for 100 TB / 10^12-document scale:

* The kernel is a pure function; all state lives in the DataFrame plan.
* One Arrow batch of span-arrays at a time streams through the Python
  worker (iterator→iterator mapInPandas) — a partition is never
  materialized in Python memory.
* Skew is handled *before* the UDF: the documents are spread
  round-robin over the requested partition count (`layout.spread`), so
  consecutive 10 MB pages land on different tasks and every task gets
  the same number of documents; with many documents per partition the
  byte totals even out.
* Resumability: the output table is the done-ledger keyed by doc_id;
  restart = left-anti join input against the ledger (broadcast when
  small) and append under the run's own run_id= partition. One runner,
  `checkpoint.run_resumable`, does this for the HTML and PDF legs.
* Arrow batches are bounded by bytes (session.ARROW_MAX_BYTES, with a
  high record cap, session.ARROW_MAX_RECORDS): a worker's input batch
  is at most the byte cap plus one document whatever the documents'
  sizes, and a task of tiny documents crosses in one or a few batches.
"""

from .extract import (  # noqa: F401
    EXTRACT_SCHEMA,
    INPUT_SCHEMA,
    SPAN_TYPE,
    extract_articles,
)
