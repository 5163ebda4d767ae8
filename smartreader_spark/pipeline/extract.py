"""The extraction operator: DataFrame[(doc_id, spans)] → DataFrame[article].

The relational shell around the kernel (SURVEY.md §2.12). Everything
outside the kernel call is built-in Spark expressions so Catalyst can
push/prune/plan it; the kernel runs inside an Arrow-batched
``mapInPandas`` (vectorized dispatch, one Python call per batch — the
north-star's "no per-row Python": per-row work happens in the C HTML
tokenizer and compiled regexes, amortized over ~batch-size documents).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from smartreader_spark.layout import spread

SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("kind", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("media_ref", T.StringType()),
            T.StructField("offset", T.IntegerType()),
        ]
    )
)

INPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", SPAN_TYPE),
    ]
)

METRICS_TYPE = T.StructType(
    [
        T.StructField("candidates_scored", T.IntegerType()),
        T.StructField("nodes_stripped", T.IntegerType()),
        T.StructField("chars_retained", T.IntegerType()),
    ]
)

# Output row: mirrors the reference's Article (Article.cs:18-103) in
# Spark-native types (SURVEY.md §1.2).
EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", SPAN_TYPE),
        T.StructField("title", T.StringType()),
        T.StructField("byline", T.StringType()),
        T.StructField("dir", T.StringType()),
        T.StructField("language", T.StringType()),
        T.StructField("excerpt", T.StringType()),
        T.StructField("site_name", T.StringType()),
        T.StructField("author", T.StringType()),
        T.StructField("published_at", T.TimestampType()),
        T.StructField("featured_image", T.StringType()),
        T.StructField(
            "alternative_language_uris", T.MapType(T.StringType(), T.StringType())
        ),
        T.StructField("reading_time_sec", T.IntegerType()),
        T.StructField("is_readable", T.BooleanType()),
        T.StructField("metrics", METRICS_TYPE),
        T.StructField("error", T.StringType()),
    ]
)

_OUT_COLS = [f.name for f in EXTRACT_SCHEMA.fields]


def reassemble_html_expr():
    """Ordered-concat reassembly of interleaved spans — pure built-in
    expressions (JVM-side, codegen). Sorting by offset then concatenating
    text is the lossless inverse of the input codec (FIXTURES.md §1), so
    only ONE flat string column crosses the JVM→Python Arrow boundary
    (measured ~2× cheaper than shipping array<struct> rows)."""
    return F.concat_ws(
        "",
        F.transform(
            F.array_sort(
                F.transform(
                    "spans",
                    lambda s: F.struct(s["offset"].alias("o"), s["text"].alias("t")),
                )
            ),
            lambda s: s["t"],
        ),
    )


def _make_extract_batch(options_kwargs: dict | None, base_uri: str):
    """Build the mapInPandas function. The closure carries only plain
    Python values (broadcast-friendly, no SparkContext capture)."""

    def extract_batch(batches):
        import pandas as pd

        # imports inside the worker: one-time per executor interpreter
        from smartreader_spark.kernel.extractor import Options
        from smartreader_spark.kernel.reader import extract_html
        from smartreader_spark.kernel.regexes import build_regexes

        options = None
        if options_kwargs:
            kw = dict(options_kwargs)
            # regex table customization ships as plain pattern strings
            # (SmartReader.cs:2440-2508 Add/ReplaceRegularExpression)
            overrides = kw.pop("regex_overrides", None)
            additions = kw.pop("regex_additions", None)
            if overrides or additions:
                kw["regexes"] = build_regexes(overrides=overrides, additions=additions)
            options = Options(**kw)

        # the kernel's record goes to Arrow as it is: its span and
        # metrics dicts become the struct columns by field name
        for pdf in batches:
            yield pd.DataFrame(
                [
                    {"doc_id": doc_id, **extract_html(html, uri=base_uri, options=options)}
                    for doc_id, html in zip(pdf["doc_id"], pdf["html"])
                ],
                columns=_OUT_COLS,
            )

    return extract_batch


def extract_articles(
    df: DataFrame,
    *,
    options: dict | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """The headline operator: (doc_id, spans) → extracted article rows.

    Column-prunes to exactly (doc_id, spans) first so the upstream scan
    reads only what the kernel needs, spreads the documents over
    `num_partitions` partitions when given (`layout.spread`, round-robin:
    consecutive giant pages land on different tasks), reassembles the
    HTML JVM-side, and maps the kernel over flat (doc_id, html) Arrow
    batches.
    """
    pruned = df.select("doc_id", "spans")
    if num_partitions:
        pruned = spread(pruned, num_partitions)
    flat = pruned.select("doc_id", reassemble_html_expr().alias("html"))
    return flat.mapInPandas(_make_extract_batch(options, "https://localhost/"), EXTRACT_SCHEMA)
