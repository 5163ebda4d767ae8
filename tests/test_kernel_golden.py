"""Golden-output gate for the extraction kernel.

`kernel_golden.json` holds one sha256 per input set over the full
``reader.extract_html`` output of every document in it (every field,
metrics included, as sorted-key JSON). A kernel change that is meant to
be byte-identical must leave every digest unchanged. The input sets:

* the perfbench pages of seeds 7 and 11 (the `web_pages` generator,
  imported read-only from ``perfbench/pages.py``);
* the sf0.01 documents, wrapped as ``pipeline.corpus.wrap_plain_documents``
  wraps them (``tools/kernel_profile.py::sf_pages``);
* a fixed seeded sample of tag soups over ``test_dom_fuzz._TREE_CHUNKS``.

Regenerate the file only for an intentional behaviour change, and say so
in CHANGES.md:  python tests/test_kernel_golden.py --write
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, os.path.join(ROOT, "tools"), os.path.join(ROOT, "perfbench")]

from build_expected import SF001  # noqa: E402
from kernel_profile import sf_pages  # noqa: E402
from pages import generate_pages  # noqa: E402
from test_dom_fuzz import _TREE_CHUNKS  # noqa: E402

from smartreader_spark.kernel.reader import extract_html  # noqa: E402

GOLDEN = os.path.join(HERE, "kernel_golden.json")
WEB_PAGES = 80  # the web_pages page count (perfbench/workloads.py), fixed here
SOUPS = 400


def _soups() -> list[str]:
    rng = random.Random(2024)
    return ["".join(rng.choice(_TREE_CHUNKS) for _ in range(rng.randint(0, 40)))
            for _ in range(SOUPS)]


INPUTS = {
    "perfbench_seed7": lambda: [p.html for p in generate_pages(7, WEB_PAGES)],
    "perfbench_seed11": lambda: [p.html for p in generate_pages(11, WEB_PAGES)],
    "sf0.01": lambda: sf_pages(SF001),
    "dom_fuzz_soups": _soups,
}


def digest(htmls: list[str]) -> str:
    h = hashlib.sha256()
    for html in htmls:
        out = json.dumps(extract_html(html), sort_keys=True, default=str)
        h.update(hashlib.sha256(out.encode("utf-8", "surrogatepass")).digest())
    return h.hexdigest()


@pytest.mark.parametrize("name", list(INPUTS))
def test_extract_html_output_matches_golden_digest(name):
    with open(GOLDEN) as f:
        want = json.load(f)[name]
    assert digest(INPUTS[name]()) == want


if __name__ == "__main__" and sys.argv[1:] == ["--write"]:
    with open(GOLDEN, "w") as f:
        json.dump({name: digest(make()) for name, make in INPUTS.items()}, f,
                  indent=1, sort_keys=True)
        f.write("\n")
