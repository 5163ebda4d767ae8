"""PII detection and redaction over the `documents` table — the scrub
step a training-data pipeline runs between extraction and tokenization
(emails, IPv4 addresses, international-format phone numbers).

Everything is built-in `regexp_count` / `regexp_replace` expressions:
JVM-side, codegen, zero shuffle — per-doc work only, so at 100 TB this
is a pure map stage that rides whatever partitioning the scan already
has. The patterns are deliberately RE2-compatible (no backreferences,
no lookaround) so the DuckDB oracle states them verbatim and both
engines produce byte-identical redactions.

The synthetic corpus contains no organic PII, so the driver query
appends a deterministic doc_id-derived contact line (email + IP +
phone) to every document before scrubbing — the same injection is
restated in the oracle, making every row exercise all three detectors
and the full redaction chain. Unit tests cover organic-looking PII via
a temp-parquet corpus.

The reference engine (SmartReader) has no PII analog — this extends
the extraction engine toward the training-data pipeline per the build
brief; the pattern family follows the public CC-pipeline scrubbers
(e.g. BigScience PII / Dolma's regex pass) restated minimally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .textqa import load_documents

# RE2-safe (and Java-regex-identical) detector patterns. Order of the
# redaction chain is part of the contract: EMAIL first (it contains
# characters the other classes could partially claim), then IPV4, then
# PHONE (requires a leading '+', so it can never re-match an already
# redacted IP or the digits inside one).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\+\d[\d()\- ]{6,14}\d"

EMAIL_TOKEN = "[EMAIL]"
IPV4_TOKEN = "[IPV4]"
PHONE_TOKEN = "[PHONE]"


def injected_text_col():
    """Deterministic doc_id-derived contact line appended to `text` so
    the synthetic corpus exercises all three detectors (mirrored
    verbatim in the DuckDB oracle)."""
    did = F.col("doc_id")
    return F.concat_ws(
        " ",
        F.col("text"),
        F.lit("contact"),
        F.concat(F.lit("user"), did.cast("string"), F.lit("@example.com")),
        F.lit("ip"),
        F.concat(F.lit("10."), (did % 256).cast("string"), F.lit(".0.1")),
        F.lit("tel"),
        F.concat(
            F.lit("+1 555-"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
        ),
    )


def scrub_cols(text_col):
    """(n_emails, n_ipv4, n_phones, redacted) expression bundle over an
    arbitrary string column — the reusable core of the scrubber."""
    n_emails = F.regexp_count(text_col, F.lit(EMAIL_RE)).cast("bigint")
    n_ipv4 = F.regexp_count(text_col, F.lit(IPV4_RE)).cast("bigint")
    n_phones = F.regexp_count(text_col, F.lit(PHONE_RE)).cast("bigint")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text_col, EMAIL_RE, EMAIL_TOKEN),
            IPV4_RE,
            IPV4_TOKEN,
        ),
        PHONE_RE,
        PHONE_TOKEN,
    )
    return n_emails, n_ipv4, n_phones, redacted


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII counts and the digest/length of the redacted
    text (digest instead of the full redaction keeps the result narrow;
    the digest still value-proves every replaced byte)."""
    docs = load_documents(spark, sf_dir)
    n_emails, n_ipv4, n_phones, redacted = scrub_cols(injected_text_col())
    return docs.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_ipv4.alias("n_ipv4"),
        n_phones.alias("n_phones"),
        F.length(redacted).alias("redacted_len"),
        F.md5(redacted).alias("redacted_digest"),
    ).orderBy("doc_id")
