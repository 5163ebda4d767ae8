"""Regex tables — parity with /root/reference/src/SmartReader/SmartReader.cs:187-208,
Readability.cs:22-28 and RegularExpressions.cs:4-30.

All compiled once at import time per executor (the reference uses static
``RegexOptions.Compiled`` fields for the same reason). Overridable per the
reference's AddOptionToRegularExpression/ReplaceRegularExpression surface
(SmartReader.cs:2440-2508) via :func:`build_regexes`.
"""

from __future__ import annotations

import re
from types import SimpleNamespace

# Default pattern *sources*, keyed like the reference's RegularExpressions enum.
DEFAULT_PATTERNS: dict[str, str] = {
    # SmartReader.cs:188
    "unlikely_candidates": (
        r"-ad-|ai2html|banner|breadcrumbs|combx|comment|community|cover-wrap|"
        r"disqus|extra|footer|gdpr|header|legends|menu|related|remark|replies|"
        r"rss|shoutbox|sidebar|skyscraper|social|sponsor|supplemental|ad-break|"
        r"agegate|pagination|pager|popup|yom-remote|reacties|commentaires|"
        r"Kommentare|comentarios"
    ),
    # SmartReader.cs:189
    "ok_maybe_its_a_candidate": r"and|article|body|column|content|main|mathjax|shadow",
    # SmartReader.cs:190
    "positive": (
        r"article|body|content|entry|hentry|h-entry|main|page|pagination|post|"
        r"text|blog|story"
    ),
    # SmartReader.cs:191
    "negative": (
        r"-ad-|hidden|^hid$|hid$|hid|^hid|banner|combx|comment|com-|contact|"
        r"footer|gdpr|masthead|media|meta|outbrain|promo|related|scroll|share|"
        r"shoutbox|sidebar|skyscraper|sponsor|shopping|tags|widget"
    ),
    # SmartReader.cs:192 (defined but unused by the reference — kept for parity)
    "extraneous": (
        r"print|archive|comment|discuss|e[\-]?mail|share|reply|all|login|"
        r"sign|single|utility"
    ),
    # SmartReader.cs:193
    "byline": r"byline|author|dateline|writtenby|p-author",
    # SmartReader.cs:194 (ReplaceFonts)
    "replace_fonts": r"<(/?)font[^>]*>",
    # SmartReader.cs:195
    "videos": (
        r"//(www\.)?((dailymotion|youtube|youtube-nocookie|player\.vimeo|v\.qq|"
        r"bilibili|live\.bilibili)\.com|(archive|upload\.wikimedia)\.org|"
        r"player\.twitch\.tv)"
    ),
    # SmartReader.cs:196-197 (defined but unused; RegularExpressions.cs:18-20)
    "next_link": r"(next|weiter|continue|>([^\|]|$)|»([^\|]|$))",
    "prev_link": r"(prev|earl|old|new|<|«)",
    # SmartReader.cs:198
    "share_elements": r"(\b|_)(share|sharedaddy)(\b|_)",
}

# SmartReader.cs:200-202 — 9 Unicode comma variants
COMMAS = re.compile("[,،﹐︐︑⹁⸴⸲，]")

# SmartReader.cs:205-206 — CleanConditionally ad/loading words
AD_WORDS = re.compile(
    r"^(ad(vertising|vertisement)?|pub(licité)?|werb(ung)?|广告|"
    r"Реклама|Anuncio|pubblicità)$",
    re.IGNORECASE,
)
LOADING_WORDS = re.compile(
    r"^((loading|正在加载|Загрузка|"
    r"chargement|cargando|caricamento)(…|\.\.\.)?)$",
    re.IGNORECASE,
)

# Readability.cs:22-28
JSONLD_ARTICLE_TYPES = frozenset(
    (
        "Article AdvertiserContentArticle NewsArticle AnalysisNewsArticle "
        "AskPublicNewsArticle BackgroundNewsArticle OpinionNewsArticle "
        "ReportageNewsArticle ReviewNewsArticle Report SatiricalArticle "
        "ScholarlyArticle MedicalScholarlyArticle SocialMediaPosting BlogPosting "
        "LiveBlogPosting DiscussionForumPosting TechArticle APIReference"
    ).split()
)
SCHEMA_DOT_ORG = re.compile(r"^https?://schema\.org/?$")
JSONLD_CDATA = re.compile(r"^\s*<!\[CDATA\[|\]\]>\s*$")

# Readability.cs — srcset URL splitter (RE_SrcSetUrl, :25)
SRCSET_URL = re.compile(r"(\S+)(\s+[\d.]+[xw])?(\s*(?:,|$))")

# Readability.cs:246-249 word splitter; TextSimilarity tokenizer :324-336
WHITESPACE = re.compile(r"\s+")
NON_WORD_TOKENIZER = re.compile(r"\W+", re.UNICODE)

# base64 data-uri detector used by FixLazyImages (SmartReader.cs:1813-1906)
B64_DATA_URL = re.compile(r"^data:\s*([^\s;,]+)\s*;\s*base64\s*,", re.IGNORECASE)
IMG_EXT_ANYWHERE = re.compile(r"\.(jpg|jpeg|png|webp)", re.IGNORECASE)
IMG_EXT_CANDIDATE = re.compile(r"^\s*\S+\.(jpg|jpeg|png|webp)\S*\s*$", re.IGNORECASE)
SRCSET_CANDIDATE = re.compile(r"\.(jpg|jpeg|png|webp)\s+\d", re.IGNORECASE)

# sentence-ish paragraph test in sibling merge (SmartReader.cs:1470)
SENTENCE_DOT = re.compile(r"\.( |$)")

# PreCleanPage (SmartReader.cs:247-257)
PRE_CLEAN = re.compile(r"<p>\s*(&nbsp;| |\s)*\s*</p>", re.IGNORECASE)

# hash-link for link-density discount (NodeUtility.cs:473-490)
HASH_URL = re.compile(r"^#.+")


def build_regexes(overrides: dict[str, str] | None = None,
                  additions: dict[str, str] | None = None) -> SimpleNamespace:
    """Compile the mutable regex table.

    ``overrides`` replaces a pattern outright (ReplaceRegularExpression,
    SmartReader.cs:2487-2508); ``additions`` ORs an alternative onto the end
    (AddOptionToRegularExpression, :2440-2485).
    """
    pats = dict(DEFAULT_PATTERNS)
    if overrides:
        for k, v in overrides.items():
            if k not in pats:
                raise KeyError(f"unknown regex key: {k}")
            pats[k] = v
    if additions:
        for k, v in additions.items():
            if k not in pats:
                raise KeyError(f"unknown regex key: {k}")
            pats[k] = pats[k] + "|" + v
    ns = SimpleNamespace()
    for k, v in pats.items():
        setattr(ns, k, re.compile(v, re.IGNORECASE))
    return ns


DEFAULT_REGEXES = build_regexes()
