"""Seeded generator of Readability-shaped HTML pages with planted truth.

Every page has a planted article body (paragraphs, figures with images,
a data table, a byline, meta tags and JSON-LD) and planted boilerplate
(nav, sidebar widgets, ad divs, comments, footer, and a related-links
block inside the article container). Each planted article paragraph and
each boilerplate block carries one marker word (``qa<page>z<k>`` for
article paragraphs, ``qb<page>z<k>`` for boilerplate blocks); the
benchmark counts the markers found in the extracted text spans to get
``article_recall`` and ``boilerplate_leak``.

Page sizes follow a log-normal law fitted to the reference
implementation's test pages, the page corpus the program was built for
(BASELINE.md, "Golden corpus scale": median about 115 KB, mean about
202 KB, max about 1.63 MB): median 115 KB and sigma 1.06 give that mean,
and sizes are capped at 1.63 MB. The sizes are the law's quantiles at
the midpoints of `n` equal slots, spread over the page numbers in one
fixed order, and the short-article pages are one fixed set of page
numbers: every seed gives each page number the same size and kind, so
every seed is the same work with the same skew. The seed changes the
pages' words, names, dates and block counts. Short-article pages keep
their article text under the extractor's 500-character threshold, which
forces grabArticle to retry with its flags relaxed; comments fill them
up to their size.

Pure stdlib; the same seed gives byte-identical pages.
"""

from __future__ import annotations

import json
import math
import random
import re
from dataclasses import dataclass, field
from statistics import NormalDist

#: the reference test pages' median size; SIGMA gives their mean size
#: (MEDIAN_BYTES * exp(SIGMA**2 / 2) = 202 KB) and MAX_BYTES is their
#: largest page
MEDIAN_BYTES = 115_000
SIGMA = 1.06
MIN_BYTES = 3_000
MAX_BYTES = 1_630_000
#: share of pages whose article is too short for grabArticle's first pass
SHORT_SHARE = 0.12

ARTICLE_MARK = re.compile(r"qa\d+z\d+")
BOILERPLATE_MARK = re.compile(r"qb\d+z\d+")

_WORDS = (
    "the of and to in a is that for it as was with be by on not he this are "
    "or his from at which but have an they you were her she there been one "
    "all we their has would when if so no will more can who out said about "
    "what up some into time them other than then its only could these two "
    "may first new any now such like over also after made well years where "
    "most through back much before should because each those people how "
    "work world life between state without under while during against city "
    "water report market river council energy school station research "
    "village harbour museum garden railway budget election weather season "
    "festival bridge library hospital farmers engineers students visitors "
    "officials residents scientists morning evening summer winter northern "
    "southern local national public private recent annual historic careful "
    "quiet rapid steady growing modest sudden"
).split()
_NAMES = ("Ada Byrne", "Tomas Okafor", "Mei Lindqvist", "Ravi Castell",
          "Jonah Petrov", "Lucia Hale", "Samir Duarte", "Ines Moreau")
_SITES = ("The Harbour Gazette", "Northfield Daily", "Riverside Courier",
          "Valley Ledger", "Coastline Review")
_NAV = ("Home", "World", "Business", "Science", "Culture", "Sport",
        "Opinion", "Travel", "Weather", "Podcasts")


@dataclass
class Page:
    """One generated page and its planted truth."""

    doc_id: str
    html: str
    article_marks: list[str] = field(default_factory=list)
    boilerplate_marks: list[str] = field(default_factory=list)
    short_article: bool = False


def _sentence(rng: random.Random, n_min: int = 8, n_max: int = 20) -> str:
    words = [rng.choice(_WORDS) for _ in range(rng.randint(n_min, n_max))]
    if len(words) > 6 and rng.random() < 0.6:
        words[rng.randint(2, len(words) - 3)] += ","
    return words[0].capitalize() + " " + " ".join(words[1:]) + "."


def _text(rng: random.Random, n_sentences: int, mark: str) -> str:
    sents = [_sentence(rng) for _ in range(n_sentences)]
    i = rng.randrange(len(sents))
    sents[i] = sents[i][:-1] + f" {mark}."
    return " ".join(sents)


def page_sizes(n: int) -> list[int]:
    """The target sizes of `n` pages, in ascending order: the log-normal
    quantiles at the slot midpoints (i + 0.5) / n. No seed: every seed
    gets the same sizes."""
    norm = NormalDist()
    sizes = (MEDIAN_BYTES * math.exp(SIGMA * norm.inv_cdf((i + 0.5) / n)) for i in range(n))
    return [min(max(int(s), MIN_BYTES), MAX_BYTES) for s in sizes]


def _page(rng: random.Random, page_no: int, target: int, short: bool) -> Page:
    doc_id = f"page{page_no:05d}"
    site = rng.choice(_SITES)
    author = rng.choice(_NAMES)
    title = _sentence(rng, 5, 9)[:-1]
    day = f"2021-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
    page = Page(doc_id=doc_id, html="", short_article=short)

    def amark() -> str:
        m = f"qa{page_no}z{len(page.article_marks)}"
        page.article_marks.append(m)
        return m

    def bmark() -> str:
        m = f"qb{page_no}z{len(page.boilerplate_marks)}"
        page.boilerplate_marks.append(m)
        return m

    def links(n: int, mark: str) -> str:
        items = [
            f'<li><a href="/{rng.choice(_WORDS)}/{rng.randint(1, 9999)}">'
            f"{_sentence(rng, 3, 6)[:-1]}</a></li>"
            for _ in range(n)
        ]
        items[0] = items[0].replace("</a>", f" {mark}</a>", 1)
        return "<ul>" + "".join(items) + "</ul>"

    # ---- boilerplate outside the article ----
    nav_items = [f'<li><a href="/{w.lower()}">{w}</a></li>' for w in _NAV]
    nav_items[0] = nav_items[0].replace("</a>", f" {bmark()}</a>", 1)
    header = (
        '<header class="site-header"><div class="logo"><a href="/">'
        f"{site}</a></div>"
        f'<nav class="main-nav menu"><ul>{"".join(nav_items)}</ul></nav></header>'
    )
    sidebar = '<aside class="sidebar">' + "".join(
        f'<div class="widget widget-{k}"><h3>{_sentence(rng, 2, 4)[:-1]}</h3>'
        f"{links(rng.randint(3, 6), bmark())}</div>"
        for k in range(rng.randint(1, 3))
    ) + "</aside>"
    ads = [
        f'<div class="ad ad-banner sponsored" id="ad-{k}"><a href="https://ads.example.net/'
        f'{rng.randint(1, 99999)}">Sponsored: {_sentence(rng, 4, 8)[:-1]} {bmark()}</a></div>'
        for k in range(rng.randint(1, 3))
    ]
    footer = (
        '<footer class="site-footer"><p>Copyright 2021 '
        f"{site}. {_sentence(rng, 6, 10)[:-1]} {bmark()}.</p>"
        f"{links(4, bmark())}</footer>"
    )

    # ---- article body ----
    body: list[str] = []
    if short:
        for _ in range(rng.randint(1, 2)):
            body.append(f"<p>{_text(rng, 1, amark())}</p>")
    else:
        n_par = max(3, target // 900)
        fig_every = rng.randint(4, 7)
        table_at = rng.randint(1, n_par - 1)
        for k in range(n_par):
            body.append(f"<p>{_text(rng, rng.randint(3, 7), amark())}</p>")
            if k % fig_every == fig_every - 1:
                body.append(
                    f'<figure><img src="https://cdn.example.com/{doc_id}/img{k}.jpg" '
                    f'alt="{_sentence(rng, 3, 6)[:-1]}" width="640" height="360">'
                    f"<figcaption>{_sentence(rng, 5, 10)}</figcaption></figure>"
                )
            if k == table_at:
                head = "".join(f"<th>{rng.choice(_WORDS)}</th>" for _ in range(4))
                rows = "".join(
                    "<tr>" + "".join(
                        f"<td>{rng.randint(0, 9999)}</td>" for _ in range(4)
                    ) + "</tr>"
                    for _ in range(rng.randint(3, 8))
                )
                body.append(
                    f"<table><caption>{_sentence(rng, 3, 6)[:-1]}</caption>"
                    f"<thead><tr>{head}</tr></thead><tbody>{rows}</tbody></table>"
                )
    related = (
        f'<div class="related-posts"><h4>Read next</h4>{links(3, bmark())}</div>'
    )
    article = (
        '<article class="post hentry"><h1 class="entry-title">'
        f"{title}</h1>"
        f'<p class="byline">By <span class="author vcard">{author}</span> '
        f'<time datetime="{day}T08:00:00Z">{day}</time></p>'
        f'<div class="entry-content">{"".join(body)}</div>{related}</article>'
    )

    # ---- comments fill the page up to its target size ----
    head = (
        f'<!DOCTYPE html><html lang="en"><head><meta charset="utf-8">'
        f"<title>{title} | {site}</title>"
        f'<meta name="description" content="{_sentence(rng, 8, 14)[:-1]}">'
        f'<meta property="og:title" content="{title}">'
        f'<meta property="og:site_name" content="{site}">'
        f'<meta name="author" content="{author}">'
        f'<meta property="article:published_time" content="{day}T08:00:00Z">'
        '<script type="application/ld+json">'
        + json.dumps({
            "@context": "https://schema.org",
            "@type": "NewsArticle",
            "headline": title,
            "author": {"@type": "Person", "name": author},
            "datePublished": f"{day}T08:00:00Z",
            "publisher": {"@type": "Organization", "name": site},
        })
        + '</script><link rel="stylesheet" href="/static/site.css">'
        "<script>window.dataLayer = window.dataLayer || [];</script></head><body>"
    )
    fixed = len(head) + len(header) + len(sidebar) + sum(map(len, ads)) \
        + len(article) + len(footer) + 64
    comments = []
    size = fixed
    while size < target:
        c = (
            f'<div class="comment" id="c{len(comments)}"><p class="comment-author">'
            f"{rng.choice(_NAMES)}</p><p>{_text(rng, rng.randint(1, 3), bmark())}</p></div>"
        )
        comments.append(c)
        size += len(c)
    comments_html = (
        '<section id="comments" class="comments"><h3>Comments</h3>'
        + "".join(comments) + "</section>"
    ) if comments else ""
    page.html = (
        head + header + '<div class="layout">' + sidebar + "<main>" + ads[0]
        + article + "".join(ads[1:]) + comments_html + "</main></div>"
        + footer + "</body></html>"
    )
    return page


def generate_pages(seed: int, n_pages: int) -> list[Page]:
    """`n_pages` pages from `seed`; the same arguments give identical pages."""
    # sizes and kinds by page number: the same for every seed
    layout = random.Random(n_pages)
    sizes = page_sizes(n_pages)
    layout.shuffle(sizes)
    short = set(layout.sample(range(n_pages), round(n_pages * SHORT_SHARE)))
    rng = random.Random(seed)
    return [_page(rng, i, sizes[i], i in short) for i in range(n_pages)]
