"""PDF ingestion operator: (doc_id, pdf binary) → the interleaved span
table (BASELINE.json input_hint shape).

This is the "PDF/layout parse" leg of the north rule: kernel/pdfkit.py
parses each blob into the SAME ``spans array<struct<kind,text,media_ref,
offset>>`` rows the HTML corpus uses, so PDF documents flow into one
Iceberg/parquet table and every downstream operator — extraction
metrics, dedup, textqa, similarity — runs on them unchanged.

Execution shape mirrors pipeline/extract.py: prune → round-robin
spread (PDFs skew like HTML pages; see smartreader_spark/layout.py) →
mapInPandas with Arrow-batched binary columns. Per-document
failures land in the `error` column instead of failing the task; a
resume through `checkpoint.run_resumable` with `pdf_done_predicate`
retries only the retryable ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from smartreader_spark.layout import spread

from .extract import SPAN_TYPE

PDF_SPANS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("spans", SPAN_TYPE),
        T.StructField("n_pdf_bytes", T.LongType()),
        T.StructField("error", T.StringType()),
    ]
)


#: error-class taxonomy for the `error` column — lets the resume ledger
#: distinguish rows a retry can heal from rows it cannot:
#:   PdfParseError: container-level failure, no spans — PERMANENT
#:   PdfDegraded:   spans produced but ≥1 page's content undecodable —
#:                  PERMANENT partial data loss (blob is what it is)
#:   PdfCrash:      unexpected exception — retryable (may be transient
#:                  or an engine bug worth a diagnosable row)
PERMANENT_ERROR_PREFIXES = ("PdfParseError:", "PdfDegraded:")


def is_permanent_error():
    """Boolean Column: rows whose error a resume loop should NOT retry.
    The pdf leg's ledger predicate is then
    ``error IS NULL OR is_permanent_error()`` (checkpoint.load_ledger's
    plain error-IS-NULL policy would retry degraded blobs forever)."""
    from pyspark.sql import functions as F

    c = F.col("error")
    cond = F.lit(False)
    for p in PERMANENT_ERROR_PREFIXES:
        cond = cond | c.startswith(F.lit(p))
    return c.isNotNull() & cond


def pdf_done_predicate():
    """Ledger predicate for the PDF leg: done = extracted cleanly OR
    failed permanently (retrying a PdfParseError/PdfDegraded blob cannot
    change the outcome — the blob is what it is). Pass it as
    ``checkpoint.run_resumable(..., pdf_to_span_table,
    done_predicate=pdf_done_predicate())``; only PdfCrash rows stay
    retryable."""
    from pyspark.sql import functions as F

    return F.col("error").isNull() | is_permanent_error()


def _pdf_batch(batches):
    import pandas as pd

    from smartreader_spark.kernel.pdfkit import PdfParseError, pdf_to_spans

    for pdf in batches:
        recs = []
        for doc_id, blob in zip(pdf["doc_id"], pdf["pdf"]):
            raw = bytes(blob)
            diags: list[str] = []
            try:
                spans = pdf_to_spans(raw, diagnostics=diags)
                err = "PdfDegraded: " + "; ".join(diags) if diags else None
                recs.append((doc_id, spans, len(raw), err))
            except PdfParseError as e:
                recs.append((doc_id, [], len(raw), f"PdfParseError: {e}"))
            except Exception as e:  # noqa: BLE001 — at 100 TB one
                # pathological blob must cost one error row, not the task
                recs.append((doc_id, [], len(raw), f"PdfCrash: {e!r:.200}"))
        yield pd.DataFrame(recs, columns=["doc_id", "spans", "n_pdf_bytes", "error"])


def pdf_to_span_table(df: DataFrame, *, num_partitions: int | None = None) -> DataFrame:
    """(doc_id, pdf) → (doc_id, spans, n_pdf_bytes, error) rows in the
    interleaved-span input shape. `df` needs columns doc_id:long and
    pdf:binary; everything else is pruned before the shuffle."""
    pruned = df.select("doc_id", "pdf")
    if num_partitions:
        pruned = spread(pruned, num_partitions)
    return pruned.mapInPandas(_pdf_batch, PDF_SPANS_SCHEMA)
