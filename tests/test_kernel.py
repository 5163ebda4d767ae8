"""Kernel unit tests — no Spark required.

Mirrors the reference's unit-test strategy
(/root/reference/src/SmartReaderTests/BasicTests.cs, UtilityTests.cs,
TextUtilityTests.cs) re-expressed for the Python kernel.
"""

import json
import os
import unicodedata

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from smartreader_spark.kernel.dom import (
    get_inner_text,
    parse_html,
)
from smartreader_spark.kernel.extractor import Extractor, Options
from smartreader_spark.kernel.metadata import (
    clean_title,
    get_article_title,
    try_parse_datetime,
)
from smartreader_spark.kernel.nodeutil import (
    get_display_from_style,
    get_link_density,
    get_visibility_from_style,
    is_probably_visible,
)
from smartreader_spark.kernel.reader import extract_html, extract_spans
from smartreader_spark.kernel.serializer import (
    expected_html_to_spans,
    html_to_input_spans,
    input_spans_to_html,
)
from smartreader_spark.kernel.textkit import (
    _count_letters,
    chars_per_minute,
    convert_to_plaintext,
    text_similarity,
)

PAGES = "/root/reference/src/SmartReaderTests/test-pages"


# ---- DOM / NodeUtility ----------------------------------------------------

def test_parse_implied_structure():
    d = parse_html("<p>a<p>b<div>c<li>x<li>y</div>")
    assert d.body.outer_html == "<body><p>a</p><p>b</p><div>c<li>x</li><li>y</li></div></body>"


def test_visibility_style_parsing():
    # UtilityTests.cs:9-33
    assert get_display_from_style("display:none") == "none"
    assert get_display_from_style("color:red; display: none ;x:y") == "none"
    assert get_display_from_style("color:red") is None
    assert get_visibility_from_style("visibility: hidden") == "hidden"
    assert get_visibility_from_style("visibility:collapse;") == "collapse"

    doc = parse_html('<div style="display:none">x</div>')
    el = doc.body.children[0]
    assert not is_probably_visible(el)
    doc = parse_html('<div aria-hidden="true" class="a fallback-image b">x</div>')
    assert is_probably_visible(doc.body.children[0])
    doc = parse_html('<div aria-hidden="true">x</div>')
    assert not is_probably_visible(doc.body.children[0])


def test_link_density():
    doc = parse_html('<div><a href="/x">12345</a>67890</div>')
    assert get_link_density(doc.body.children[0]) == pytest.approx(0.5)
    doc = parse_html('<div><a href="#frag">12345</a>67890</div>')
    assert get_link_density(doc.body.children[0]) == pytest.approx(0.15)


def test_get_inner_text_collapses():
    doc = parse_html("<p>  a \n\n  b\tc  </p>")
    assert get_inner_text(doc.body.children[0]) == "a b c"


# ---- text functions -------------------------------------------------------

def test_text_similarity():
    assert text_similarity("Hello World", "Hello World") == pytest.approx(1.0)
    assert text_similarity("abc", "xyz") == pytest.approx(0.0)
    assert text_similarity("", "x") == 0.0


def test_plaintext_conversion():
    doc = parse_html("<div><p>one</p><p>two  three</p>x<br>y</div>")
    txt = convert_to_plaintext(doc.body.children[0])
    assert "one" in txt and "two" in txt
    assert "\n\n\n" not in txt


def test_chars_per_minute():
    assert chars_per_minute("en") == 987
    assert chars_per_minute("en-US") == 987
    assert chars_per_minute("zz") == 960
    assert chars_per_minute(None) == 960


def _count_letters_twin(text):
    """The reference's loop: one UTF-16 code unit per char, except ' ' and
    punctuation weigh 0 and an astral char (a surrogate pair) weighs 2."""
    n = 0
    for ch in text:
        if ord(ch) > 0xFFFF:
            n += 2
        elif ch != " " and not unicodedata.category(ch).startswith("P"):
            n += 1
    return n


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet=st.characters(codec=None, exclude_categories=()), max_size=200))
@example("a\U0001F31F b, c\u2026 \u201cq\u201d \U0001039F \ud800x\u00a0\t")
def test_count_letters_matches_reference_loop(text):
    assert _count_letters(text) == _count_letters_twin(text)


# ---- title / metadata -----------------------------------------------------

def test_clean_title_removes_sitename():
    # BasicTests.cs:28-69
    assert clean_title("Big title | The Site", "The Site") == "Big title"
    assert clean_title("Big title", "Other") == "Big title"


def test_get_article_title_cases():
    # BasicTests.cs:71-153
    cases = [
        ("<title>An article with a complex idea</title>", "",
         "An article with a complex idea"),
        ("<title>An article with a complex idea » By SomeSite</title>", "",
         "An article with a complex idea"),
        ("<title>An article with a complex idea-error</title>", "",
         "An article with a complex idea-error"),
        ("<title>SomeSite - An  incredibly  smart title</title>", "",
         "SomeSite - An incredibly smart title"),
        ("<title>By SomeSite - An  incredibly  smart title</title>", "",
         "By SomeSite - An incredibly smart title"),
        ("<title>SomeSite: An  incredibly  smart true title</title>", "",
         "An incredibly smart true title"),
        ("<title>SomeSite</title>", "<h1>The right idea for you</h1>",
         "The right idea for you"),
    ]
    for head, body, want in cases:
        doc = parse_html(f"<html><head>{head}</head><body>{body}</body></html>")
        assert get_article_title(doc) == want, head


def test_date_parsing():
    assert try_parse_datetime("2016-05-31T12:48:11") is not None
    assert try_parse_datetime("May 31, 2016") is not None
    assert try_parse_datetime("") is None
    assert try_parse_datetime("not a date") is None


def test_url_date_fallback():
    html = "<html><head><title>T</title></head><body><p>%s</p></body></html>" % ("words, more words. " * 60)
    ex = Extractor("https://example.com/2018/03/14/slug", html)
    res = ex.parse()
    assert res.publication_date is not None
    assert (res.publication_date.year, res.publication_date.month, res.publication_date.day) == (2018, 3, 14)


# ---- span codecs ----------------------------------------------------------

def test_input_codec_lossless_all_fixtures():
    for name in sorted(os.listdir(PAGES)):
        src = open(os.path.join(PAGES, name, "source.html"), encoding="utf-8", errors="replace").read()
        spans = html_to_input_spans(src)
        assert input_spans_to_html(spans) == src, name
        offsets = [s["offset"] for s in spans]
        assert offsets == sorted(offsets)


def test_extract_spans_roundtrip():
    d = os.path.join(PAGES, "001")
    src = open(os.path.join(d, "source.html"), encoding="utf-8").read()
    r1 = extract_html(src)
    r2 = extract_spans(html_to_input_spans(src))
    assert r1["spans"] == r2["spans"]
    assert r1["title"] == r2["title"]


# ---- end-to-end fixture gates --------------------------------------------

def _key(s):
    return (s["kind"], s["text"], s["media_ref"])


@pytest.mark.parametrize("name", ["001", "002", "mozilla-1", "medium-1", "wapo-1",
                                  "nytimes-1", "rtl-1", "keep-images", "videos-1",
                                  "replace-brs", "hidden-nodes", "base-url"])
def test_fixture_span_exact(name):
    d = os.path.join(PAGES, name)
    src = open(os.path.join(d, "source.html"), encoding="utf-8", errors="replace").read()
    exp = open(os.path.join(d, "expected.html"), encoding="utf-8", errors="replace").read()
    got = extract_html(src)["spans"]
    want = expected_html_to_spans(exp)
    assert [_key(s) for s in got] == [_key(s) for s in want]


def test_corpus_pass_rate_floor():
    """Regression gate: span-exact and full-metadata pass rates must not
    drop below the best achieved level."""
    span_ok = 0
    meta = {"title": 0, "byline": 0, "readerable": 0, "language": 0}
    names = sorted(os.listdir(PAGES))
    for name in names:
        d = os.path.join(PAGES, name)
        src = open(os.path.join(d, "source.html"), encoding="utf-8", errors="replace").read()
        exp = open(os.path.join(d, "expected.html"), encoding="utf-8", errors="replace").read()
        mjs = json.load(open(os.path.join(d, "expected-metadata.json"), encoding="utf-8-sig"))
        res = extract_html(src)
        want = expected_html_to_spans(exp)
        if [_key(s) for s in res["spans"]] == [_key(s) for s in want]:
            span_ok += 1
        if (res["title"] or None) == (mjs.get("title") or None):
            meta["title"] += 1
        if (res["byline"] or None) == (mjs.get("byline") or None):
            meta["byline"] += 1
        if res["is_readable"] == mjs.get("readerable", False):
            meta["readerable"] += 1
        if (res["language"] or None) == (mjs.get("language") or None):
            meta["language"] += 1
    n = len(names)
    assert n == 142
    assert span_ok >= 140, f"span-exact regressed: {span_ok}/{n}"
    assert meta["title"] >= 142, meta
    assert meta["byline"] >= 142, meta
    assert meta["readerable"] >= 142, meta
    assert meta["language"] >= 142, meta


def test_pathological_inputs_do_not_crash():
    for h in ("", "   ", "\x00\x01<<>>&", "<p>hi</p>"):
        r = extract_html(h)
        assert r["error"] is None
    spam = "<html><body><div>" + "<p>&nbsp;</p>" * 5000 + "<p>" + "Real, text. " * 100 + "</p></div></body></html>"
    r = extract_html(spam)
    assert r["error"] is None


def test_max_elems_guard():
    r = extract_html("<p>a</p>" * 100, options=Options(max_elems_to_parse=10))
    assert r["error"] is not None and "Aborting" in r["error"]


def test_pluggable_article_hooks():
    """Article.cs:73-117's four static plug points, as per-call Options:
    serializer, converter, create_summary, language_identification."""
    from smartreader_spark.kernel.langid import metadata_language, stopword_language

    html = (
        "<html lang='it'><body><article><p>"
        + "the cat sat on the mat and it was the best of days for it. " * 20
        + "</p></article></body></html>"
    )
    # default: metadata language wins (reference default hook semantics)
    r = extract_html(html)
    assert r["language"] == "it"
    r = extract_html(html, options=Options(language_identification=metadata_language))
    assert r["language"] == "it"
    # stopword identifier overrides with the detected language
    r = extract_html(html, options=Options(language_identification=stopword_language))
    assert r["language"] == "en"

    # custom summary + serializer + converter
    def my_summary(text, excerpt):
        return "SUMMARY:" + (excerpt or "")[:10]

    def my_serializer(el):
        return [{"kind": "text", "text": el.tag, "media_ref": None, "offset": 0}]

    def my_converter(el):
        return "PLAIN"

    r = extract_html(
        html,
        options=Options(
            create_summary=my_summary, serializer=my_serializer, converter=my_converter
        ),
    )
    assert r["excerpt"].startswith("SUMMARY:")
    assert r["spans"] == [{"kind": "text", "text": "div", "media_ref": None, "offset": 0}]


def test_custom_operations_start_run_at_most_twice():
    """The reference snapshots InnerHtml AFTER custom ops run once
    (SmartReader.cs:1017-1020); our lazy rebuild may re-run them once on
    the first retry but must snapshot from there — a non-idempotent user
    op may execute at most twice even when the retry sieve exhausts all
    flag attempts (low-content page → 4 grab attempts)."""
    calls = []

    def op(root):
        calls.append(1)

    # tiny content: fails CharThreshold every attempt -> maximum retries
    html = "<html><body><div><p>short.</p></div></body></html>"
    r = extract_html(html, options=Options(custom_operations_start=(op,)))
    assert r["error"] is None
    assert 1 <= len(calls) <= 2, len(calls)
