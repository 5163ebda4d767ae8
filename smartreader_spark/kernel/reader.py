"""Top-level kernel API: pure function from one document's interleaved
spans (or raw HTML) to extracted article spans + metadata + metrics.

This is the only function the Spark tier calls (one call per document,
batched by mapInPandas). Counterpart of Reader.ParseArticle
(/root/reference/src/SmartReader/SmartReader.cs:588-598) + Article assembly
(/root/reference/src/SmartReader/Article.cs:118-139).
"""

from __future__ import annotations

from .extractor import Extractor, Options
from .serializer import dom_to_output_spans, input_spans_to_html
from .textkit import convert_to_plaintext, time_to_read_minutes

DEFAULT_URI = "https://localhost/"


def extract_html(html: str, uri: str = DEFAULT_URI, options: Options | None = None,
                 language: str | None = None) -> dict:
    """Extract one document. Returns a plain dict (Arrow-friendly):

    spans: list[{kind,text,media_ref,offset}]  — extracted article
    title, byline, dir, language, excerpt, site_name, author: str|None
    published_at: datetime|None
    featured_image: str|None
    alternative_language_uris: dict[str,str]  — hreflang → absolute uri
                               (Article.cs:45; Readability.cs:684-703)
    reading_time_sec: int
    is_readable: bool
    metrics: {candidates_scored, nodes_stripped, chars_retained}
    error: str|None
    """
    try:
        ex = Extractor(uri, html, options=options, language=language)
        result = ex.parse()
    except Exception as exc:  # error article (SmartReader.cs:592-597)
        return _result(error=repr(exc))

    if result.error is not None:
        return _result(title=result.title or None, error=result.error)

    if result.content is None:
        return _result(
            title=result.title or None,
            alternative_language_uris=dict(result.alternative_language_uris or {}),
            is_readable=bool(result.is_readable),
            metrics=result.metrics or _zero_metrics(),
        )

    opts = options
    element_text = result.content.text_content
    converter = getattr(opts, "converter", None) or convert_to_plaintext
    plaintext = converter(result.content)

    # Article.cs:130 — LanguageIdentification(TextContent, metadata lang)
    # runs before TimeToRead (whose chars/minute weight uses the language)
    lang_hook = getattr(opts, "language_identification", None)
    language = lang_hook(element_text, result.language) if lang_hook else result.language

    summary_hook = getattr(opts, "create_summary", None)
    excerpt = summary_hook(element_text, result.excerpt) if summary_hook else result.excerpt

    serializer = getattr(opts, "serializer", None) or dom_to_output_spans
    ttr_min = time_to_read_minutes(element_text, plaintext, language)

    return _result(
        spans=serializer(result.content),
        title=result.title or None,
        byline=result.byline,
        dir=result.dir,
        language=language,
        excerpt=excerpt,
        site_name=result.site_name,
        author=result.author,
        published_at=result.publication_date,
        featured_image=result.featured_image,
        alternative_language_uris=dict(result.alternative_language_uris or {}),
        reading_time_sec=ttr_min * 60,
        is_readable=bool(result.is_readable),
        metrics=result.metrics,
    )


def extract_spans(spans: list[dict], uri: str = DEFAULT_URI,
                  options: Options | None = None,
                  language: str | None = None) -> dict:
    """Reassemble interleaved input spans into HTML and extract."""
    return extract_html(input_spans_to_html(spans), uri=uri, options=options,
                        language=language)


def _zero_metrics() -> dict:
    return {"candidates_scored": 0, "nodes_stripped": 0, "chars_retained": 0}


def _result(**fields) -> dict:
    """The one result record: every key at its empty default (a fresh
    dict each call), overridden by `fields`. Key order is the record's,
    whatever the order of `fields`."""
    return {
        "spans": [],
        "title": None,
        "byline": None,
        "dir": None,
        "language": None,
        "excerpt": None,
        "site_name": None,
        "author": None,
        "published_at": None,
        "featured_image": None,
        "alternative_language_uris": {},
        "reading_time_sec": 0,
        "is_readable": False,
        "metrics": _zero_metrics(),
        "error": None,
        **fields,
    }
