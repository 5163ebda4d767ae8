"""Span codecs — the engine's row-level data contract.

Input codec (FIXTURES.md §1): raw HTML string → interleaved
(kind='html'|media, text, media_ref, offset) spans that reassemble
losslessly by ordered concat.

Output codec (FIXTURES.md §2): extracted article DOM → ordered spans of
(kind, text, media_ref, offset) where kind ∈ {'text', media tags, 'figure'}.
The same walk runs on the reference's expected.html and on our extracted
DOM, so serializer quirks cancel and only genuine content/order/boilerplate
differences surface (BASELINE.json per-row invariant: span-sequence
equality of kind, text, media_ref, order).
"""

from __future__ import annotations

import re

from .dom import Element, Node, get_inner_text, parse_html

# --- input codec -----------------------------------------------------------

_MEDIA_OPEN = re.compile(r"<(?=(?:img|picture|video|audio|figure)[\s/>])", re.IGNORECASE)
_SRC_ATTR = re.compile(
    r"""^<\s*(img|picture|video|audio|figure)[^>]*?\s(?:src|poster)\s*=\s*("([^"]*)"|'([^']*)'|([^\s>]+))""",
    re.IGNORECASE | re.DOTALL,
)


def html_to_input_spans(html: str) -> list[dict]:
    """Deterministic chunking of raw HTML at media tag-open boundaries.

    Lossless: ``''.join(s['text'] for s in sorted(spans, key=offset)) == html``.
    """
    spans: list[dict] = []
    boundaries = [m.start() for m in _MEDIA_OPEN.finditer(html)]
    if not boundaries:
        return [{"kind": "html", "text": html, "media_ref": None, "offset": 0}]
    positions = [0] + boundaries + [len(html)]
    # dedupe + sort (a media tag at position 0 would duplicate the 0)
    positions = sorted(set(positions))
    for i in range(len(positions) - 1):
        start, end = positions[i], positions[i + 1]
        chunk = html[start:end]
        if not chunk:
            continue
        media_ref = None
        kind = "html"
        if start in boundaries:
            kind = "media"
            m = _SRC_ATTR.match(chunk)
            if m:
                media_ref = m.group(3) or m.group(4) or m.group(5)
        spans.append({"kind": kind, "text": chunk, "media_ref": media_ref, "offset": start})
    return spans


def input_spans_to_html(spans: list[dict]) -> str:
    """Ordered concat reassembly (pure, used inside the kernel)."""
    return "".join(s["text"] for s in sorted(spans, key=lambda s: s["offset"]))


# --- output codec ----------------------------------------------------------

MEDIA_TAGS = frozenset(["img", "picture", "video", "audio", "iframe", "embed", "object"])
TEXT_BLOCK_TAGS = frozenset(
    ["p", "h1", "h2", "h3", "h4", "h5", "h6", "pre", "blockquote", "li", "td", "th",
     "dt", "dd", "figcaption"]
)


def _media_ref_of(el: Element) -> str | None:
    if el.tag in ("img", "video", "audio", "iframe", "embed"):
        ref = el.get_attribute("src")
        if ref:
            return ref
    if el.tag == "object":
        ref = el.get_attribute("data")
        if ref:
            return ref
    # fall back to first <source src> descendant (picture/video/audio)
    for d in el.iter_elements():
        if d.tag == "source":
            ref = d.get_attribute("src") or d.get_attribute("srcset")
            if ref:
                return ref
    # last resort: first descendant img src (picture)
    for d in el.iter_elements():
        if d.tag == "img":
            ref = d.get_attribute("src")
            if ref:
                return ref
    return None


def _first_descendant_media_src(el: Element) -> str | None:
    for d in el.iter_elements():
        if d.tag in MEDIA_TAGS:
            ref = _media_ref_of(d)
            if ref:
                return ref
    return None


def _direct_text(el: Element) -> str:
    """Text of `el` minus text owned by descendant media/figure subtrees and
    nested text blocks (those emit their own spans)."""
    out: list[str] = []
    stack: list[Node] = list(reversed(el.child_nodes))
    while stack:
        n = stack.pop()
        if n.node_type == Node.TEXT:
            out.append(n.data)  # type: ignore[attr-defined]
        elif n.node_type == Node.ELEMENT:
            tag = n.tag  # type: ignore[attr-defined]
            if tag in MEDIA_TAGS or tag == "figure" or tag in TEXT_BLOCK_TAGS:
                continue
            stack.extend(reversed(n.child_nodes))  # type: ignore[attr-defined]
    return " ".join("".join(out).split())


def dom_to_output_spans(root: Element) -> list[dict]:
    """FIXTURES.md §2 — document-order walk; offset = emission index."""
    spans: list[dict] = []

    def emit(kind: str, text: str, media_ref: str | None) -> None:
        spans.append(
            {"kind": kind, "text": text, "media_ref": media_ref, "offset": len(spans)}
        )

    stack: list[Element] = list(reversed(root.children))
    while stack:
        el = stack.pop()
        tag = el.tag
        if tag == "figure":
            caption = ""
            for d in el.iter_elements():
                if d.tag == "figcaption":
                    caption = get_inner_text(d)
                    break
            emit("figure", caption, _first_descendant_media_src(el))
            # descend to emit contained media (figure span first)
            stack.extend(reversed(el.children))
        elif tag in MEDIA_TAGS:
            alt = el.get_attribute("alt") or ""
            emit(tag, alt, _media_ref_of(el))
            # do not descend
        elif tag in TEXT_BLOCK_TAGS:
            if tag == "figcaption":
                # figcaption inside figure is handled by the figure span;
                # a stray one (outside figure) is a text block
                p = el.parent
                inside_figure = False
                while p is not None:
                    if p.tag == "figure":
                        inside_figure = True
                        break
                    p = p.parent
                if inside_figure:
                    continue
            text = _direct_text(el)
            if text:
                emit("text", text, None)
            # descend into nested blocks/media (innermost-owner rule)
            stack.extend(reversed(el.children))
        else:
            stack.extend(reversed(el.children))
    return spans


def expected_html_to_spans(expected_html: str) -> list[dict]:
    """Run the output codec over a reference expected.html file."""
    doc = parse_html(expected_html)
    body = doc.body
    assert body is not None
    return dom_to_output_spans(body)
