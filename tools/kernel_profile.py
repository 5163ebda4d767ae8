#!/usr/bin/env python
"""Spark-free profile of the extraction kernel: time per phase, then the
hottest functions under cProfile.

Usage:
  python tools/kernel_profile.py (--sf DIR | --spans PATH | --pages SEED) [--top N]

Inputs (one of):
  --sf DIR      an sf testdata directory; its documents.parquet is wrapped
                into one HTML page per row exactly as
                pipeline.corpus.wrap_plain_documents does
  --spans PATH  any (doc_id, spans) parquet file or directory, such as the
                extraction input; each page is its spans' text in offset
                order, as pipeline.extract.reassemble_html_expr builds it
  --pages SEED  the benchmark's `web_pages` input for SEED: 80 generated
                pages (perfbench/pages.py)

The phase table is the benchmark's own single-threaded kernel probe
(perfbench/layers.py::kernel_metrics): parse (dom.parse_html), metadata
(JSON-LD + article metadata), grab (Extractor.parse, grabArticle with its
retries), serialize (dom_to_output_spans), plaintext
(convert_to_plaintext), each timed on its own, then the whole
reader.extract_html. A second pass counts, per document, the tree walks
(full-document ones, rooted at the document or its <html>, and subtree
ones) and the characters the text caches rebuild on a miss
(``text_content`` joins and ``get_inner_text`` strip+split), and the HTML
parses (``extractor.parse_html``: the first parse and every grabArticle
body rebuild). It counts by wrapping dom's walk methods and text
accessors and the extractor's parser from here, for that pass only; the
kernel keeps no counters. A third pass runs extract_html under
cProfile and prints the top functions by their own time. The extraction
output schema is untouched: nothing here runs in Spark.
"""

from __future__ import annotations

import argparse
import cProfile
import contextlib
import os
import pstats
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import pyarrow.parquet as pq
from layers import kernel_metrics
from pages import generate_pages
from workloads import WEB_PAGES

from smartreader_spark.kernel import dom, extractor, reader

PHASES = ("parse_html", "metadata", "extractor_parse", "serialize", "plaintext")


def sf_pages(sf_dir: str) -> list[str]:
    table = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                          columns=["doc_id", "text"])
    return [
        f"<html><head><title>doc {doc_id}</title></head>"
        f"<body><article><p>{text}</p></article></body></html>"
        for doc_id, text in zip(table["doc_id"].to_pylist(), table["text"].to_pylist())
    ]


def spans_pages(path: str) -> list[str]:
    spans = pq.read_table(path, columns=["spans"])["spans"].to_pylist()
    return [
        "".join(s["text"] or "" for s in sorted(doc or [], key=lambda s: s["offset"]))
        for doc in spans
    ]


@contextlib.contextmanager
def _patched(targets: list[tuple[object, str, object]]):
    saved = [(obj, name, getattr(obj, name)) for obj, name, _ in targets]
    try:
        for obj, name, value in targets:
            setattr(obj, name, value)
        yield
    finally:
        for obj, name, value in saved:
            setattr(obj, name, value)


def walk_counts(htmls: list[str]) -> dict[str, float]:
    """Per-document walk counts and text-cache rebuild sizes over one
    extract_html pass, measured by wrapping dom from outside."""
    n = dict.fromkeys(("full-document walks", "subtree walks", "parses",
                       "text_content chars rebuilt", "get_inner_text chars split"), 0)

    def counted(fn):
        def walk(self, *a, **kw):
            full = isinstance(self, dom.Document) or isinstance(self.parent, dom.Document)
            n["full-document walks" if full else "subtree walks"] += 1
            return fn(self, *a, **kw)
        return walk

    text_content = dom.Element.text_content

    def text_content_get(self):
        miss = self._tc is None
        text = text_content.fget(self)
        if miss:
            n["text_content chars rebuilt"] += len(text)
        return text

    inner_text = dom.get_inner_text

    def get_inner_text(el, normalize_spaces=True):
        miss = el is not None and el._it is None
        out = inner_text(el, normalize_spaces)
        if miss:
            n["get_inner_text chars split"] += len(el._it[0])
        return out

    parse_html = extractor.parse_html

    def parse_counted(html):
        n["parses"] += 1
        return parse_html(html)

    E = dom.Element
    targets = [(E, name, counted(getattr(E, name)))
               for name in ("get_elements_by_tag_name", "iter_elements", "_build_index")]
    targets.append((E, "text_content", property(text_content_get, text_content.fset)))
    targets += [(mod, "get_inner_text", get_inner_text)
                for name, mod in sorted(sys.modules.items())
                if name.startswith("smartreader_spark.kernel")
                and getattr(mod, "get_inner_text", None) is inner_text]
    targets.append((extractor, "parse_html", parse_counted))
    with _patched(targets):
        for html in htmls:
            reader.extract_html(html)
    return {k: v / len(htmls) for k, v in n.items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--sf")
    src.add_argument("--spans")
    src.add_argument("--pages", type=int, metavar="SEED")
    ap.add_argument("--top", type=int, default=25)
    args = ap.parse_args()

    if args.pages is not None:
        htmls = [p.html for p in generate_pages(args.pages, WEB_PAGES)]
        source = f"perfbench pages, seed {args.pages}"
    else:
        htmls = spans_pages(args.spans) if args.spans else sf_pages(args.sf)
        source = args.spans or args.sf
    print(f"{len(htmls)} docs, {sum(map(len, htmls)) / 1e6:.2f} MB of HTML from {source}")

    m = kernel_metrics(htmls)
    total = m["kernel.extract_html_s"]
    print(f"\n{'phase':<16} {'s':>8} {'share':>6} {'ms/doc':>8}")
    for name in PHASES + ("extract_html",):
        t = m[f"kernel.{name}_s"]
        print(f"{name:<16} {t:8.3f} {t / total:6.1%} {1e3 * t / len(htmls):8.2f}")
    for key in ("docs_per_s_single", "candidates_scored", "nodes_stripped",
                "chars_retained", "grab_retries"):
        print(f"{key:<16} {m[f'kernel.{key}']:8.1f}")

    print("\nper document")
    for key, value in walk_counts(htmls).items():
        print(f"{key:<28} {value:12.1f}")

    prof = cProfile.Profile()
    prof.enable()
    for html in htmls:
        reader.extract_html(html)
    prof.disable()
    print(f"\nextract_html under cProfile, top {args.top} by own time")
    pstats.Stats(prof).strip_dirs().sort_stats("tottime").print_stats(args.top)


if __name__ == "__main__":
    main()
