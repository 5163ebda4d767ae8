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
* Resumability: a done-ledger table keyed by doc_id; restart = left-anti
  join input against the ledger (broadcast when small) and append.
* Arrow batch size is bounded by records only (session.ARROW_MAX_RECORDS):
  a batch's bytes are at most the record cap × the largest document, as
  nothing upstream groups documents of similar size.
"""

from .extract import (  # noqa: F401
    EXTRACT_SCHEMA,
    INPUT_SCHEMA,
    SPAN_TYPE,
    extract_articles,
)
