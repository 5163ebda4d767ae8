#!/usr/bin/env python
"""Spark-free profile of the extraction kernel: time per phase, then the
hottest functions under cProfile.

Usage:
  python tools/kernel_profile.py (--sf DIR | --spans PATH) [--top N]

Inputs (one of):
  --sf DIR      an sf testdata directory; its documents.parquet is wrapped
                into one HTML page per row exactly as
                pipeline.corpus.wrap_plain_documents does
  --spans PATH  any (doc_id, spans) parquet file or directory, such as the
                extraction input; each page is its spans' text in offset
                order, as pipeline.extract.reassemble_html_expr builds it

The phase table is the benchmark's own single-threaded kernel probe
(perfbench/layers.py::kernel_metrics): parse (dom.parse_html), metadata
(JSON-LD + article metadata), grab (Extractor.parse, grabArticle with its
retries), serialize (dom_to_output_spans), plaintext
(convert_to_plaintext), each timed on its own, then the whole
reader.extract_html. A second pass runs extract_html under cProfile and
prints the top functions by their own time. The extraction output schema
is untouched: nothing here runs in Spark.
"""

from __future__ import annotations

import argparse
import cProfile
import os
import pstats
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import pyarrow.parquet as pq
from layers import kernel_metrics

from smartreader_spark.kernel import reader

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


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--sf")
    src.add_argument("--spans")
    ap.add_argument("--top", type=int, default=25)
    args = ap.parse_args()

    htmls = spans_pages(args.spans) if args.spans else sf_pages(args.sf)
    print(f"{len(htmls)} docs, {sum(map(len, htmls)) / 1e6:.2f} MB of HTML "
          f"from {args.spans or args.sf}")

    m = kernel_metrics(htmls)
    total = m["kernel.extract_html_s"]
    print(f"\n{'phase':<16} {'s':>8} {'share':>6} {'ms/doc':>8}")
    for name in PHASES + ("extract_html",):
        t = m[f"kernel.{name}_s"]
        print(f"{name:<16} {t:8.3f} {t / total:6.1%} {1e3 * t / len(htmls):8.2f}")
    for key in ("docs_per_s_single", "candidates_scored", "nodes_stripped",
                "chars_retained", "grab_retries"):
        print(f"{key:<16} {m[f'kernel.{key}']:8.1f}")

    prof = cProfile.Profile()
    prof.enable()
    for html in htmls:
        reader.extract_html(html)
    prof.disable()
    print(f"\nextract_html under cProfile, top {args.top} by own time")
    pstats.Stats(prof).strip_dirs().sort_stats("tottime").print_stats(args.top)


if __name__ == "__main__":
    main()
