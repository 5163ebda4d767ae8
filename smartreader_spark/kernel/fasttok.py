"""Fast HTML tokenizer: a single-pass master-regex scan that drives the
same callbacks as html.parser's HTMLParser (convert_charrefs=True mode).

Why: profiling (see BASELINE.md) shows the stdlib tokenizer is ~45% of
kernel time — goahead/parse_starttag walk the buffer with several regex
operations per tag. This scanner tokenizes the whole document with one
``finditer`` over a master alternation (C-level scan), dispatching each
token with minimal Python work and a no-attribute fast path.

Semantics: replicates CPython 3.11 html.parser behavior for whole-string
feeds (tag/attr tolerant parsing, quoted '>' inside attributes, bogus
comments, processing instructions, doctype, script/style CDATA modes with
full-closer search — partial end tags like '</script' without '>' stay
raw text, charref unescaping of text and attribute
values, unterminated-CDATA dropping). Verified by a differential test
that parses every reference fixture with both tokenizers and requires
byte-identical serialized trees (tests/test_kernel.py).

Intentional divergences from html.parser: none known; any input where the
master regex cannot make progress raises ``FastTokenizerBail`` and the
caller re-parses the whole document with the stdlib tokenizer, so weird
markup degrades to the slow-but-known path rather than a different tree.
"""

from __future__ import annotations

import re
from _markupbase import (
    _commentclose,
    _declname_match,
    _markedsectionclose,
    _msmarkedsectionclose,
)
from html import unescape
from html.parser import (
    attrfind_tolerant,
    endtagfind,
    locatestarttagend_tolerant,
    tagfind_tolerant,
)

__all__ = ["FastTokenizerBail", "tokenize"]


class FastTokenizerBail(Exception):
    """Raised when the fast scanner cannot replicate stdlib behavior."""


# one alternation, ordered like html.parser's goahead dispatch:
#   <!--comment-->  |  </endtag>  |  <?pi>  |  <!decl>  |  <starttag ...>
# starttag bodies tolerate '>' inside quoted attribute values.
_MASTER = re.compile(
    r"""<(?:
        (?P<comment>!--)
      | (?P<endtag>/)
      | (?P<pi>\?)
      | (?P<decl>!)
      | (?P<start>[a-zA-Z])
    )""",
    re.VERBOSE,
)

# Full closing-tag regexes, exactly like stdlib set_cdata_mode (3.11):
# ``re.compile(r'</\s*%s\s*>' % elem, re.I)``. A partial closer such as
# '</script' (no '>') or '</scriptx>' never matches and therefore stays
# raw text — the earlier two-step form ('</\s*script' then skip-to-'>')
# diverged on '<script></script</script>' by jumping past the real end
# tag (round-2 Hypothesis find; pinned in tests/test_fasttok.py).
_CDATA_CLOSE = {
    "script": re.compile(r"</\s*script\s*>", re.IGNORECASE),
    "style": re.compile(r"</\s*style\s*>", re.IGNORECASE),
}



def _fallback_end(rawdata: str, lt: int) -> int:
    """stdlib goahead(end=1) fallback for an unterminated construct: the
    token text runs to just past the next '>', else to the next '<', else
    one character."""
    gt = rawdata.find(">", lt + 1)
    if gt >= 0:
        return gt + 1
    nlt = rawdata.find("<", lt + 1)
    return nlt if nlt >= 0 else lt + 1


def _parse_attrs(rawdata: str, k: int, endpos: int) -> tuple:
    """Replicates html.parser's attr loop (attrfind_tolerant over the
    in-tag byte range, quote stripping, unescape of truthy values).
    Runs on the FULL string with bounds: attrfind_tolerant's leading
    lookbehind needs the character before the attribute name.
    Returns (attrs, k_end) — k_end is where the loop stopped, which
    parse_starttag uses to classify the tag tail ('>' vs '/>')."""
    attrs = []
    while k < endpos:
        m = attrfind_tolerant.match(rawdata, k)
        if not m:
            break
        attrname, rest, attrvalue = m.group(1, 2, 3)
        if not rest:
            attrvalue = None
        elif attrvalue[:1] == "'" == attrvalue[-1:] or attrvalue[:1] == '"' == attrvalue[-1:]:
            attrvalue = attrvalue[1:-1]
        if attrvalue:
            attrvalue = unescape(attrvalue)
        attrs.append((attrname.lower(), attrvalue))
        k = m.end()
    return attrs, k


def tokenize(rawdata: str, handler) -> None:
    """Drive handler.handle_starttag/handle_startendtag/handle_endtag/
    handle_data/handle_comment/handle_decl/unknown_decl over rawdata.
    handler.CDATA_CONTENT_ELEMENTS tags enter raw-text mode."""
    i = 0
    n = len(rawdata)
    find = rawdata.find
    handle_data = handler.handle_data
    memo: dict = {}  # exact tag text -> (kind, tag, attrs); per document

    while i < n:
        lt = find("<", i)
        if lt < 0:
            text = rawdata[i:]
            if text:
                handle_data(unescape(text) if "&" in text else text)
            return
        if lt > i:
            text = rawdata[i:lt]
            handle_data(unescape(text) if "&" in text else text)
        m = _MASTER.match(rawdata, lt)
        if m is None:
            # bare '<' not opening any construct: literal text
            handle_data("<")
            i = lt + 1
            continue

        if m.group("start") is not None:
            # stdlib's own start-tag end locator: parity by construction
            lm = locatestarttagend_tolerant.match(rawdata, lt)
            j = lm.end()
            nxt = rawdata[j : j + 1]
            if nxt == ">":
                endpos = j + 1
            elif nxt == "/" and rawdata.startswith("/>", j):
                endpos = j + 2
            else:
                # bogus start tag — mirror check_for_whole_start_tag:
                # "incomplete" cases fall to goahead(end=1)'s fallback
                # (data up to the next '>' or '<'); others emit the
                # partial tag as data and continue at j
                if nxt == "" or nxt in "abcdefghijklmnopqrstuvwxyz=/ABCDEFGHIJKLMNOPQRSTUVWXYZ":
                    endpos = _fallback_end(rawdata, lt)
                else:
                    endpos = j if j > lt else lt + 1
                text = rawdata[lt:endpos]
                handle_data(unescape(text) if "&" in text else text)
                i = endpos
                continue
            # parse name + attrs within [lt, endpos); the self-closing
            # decision comes from the tail AFTER the attr loop, exactly
            # like parse_starttag (so <defs/> is a startendtag even though
            # the locator consumed the '/'). Identical tag strings repeat
            # massively in real markup (list items, grid cells), so the
            # parse is memoized on the exact tag text.
            nm = tagfind_tolerant.match(rawdata, lt + 1)
            tag = nm.group(1).lower()
            k = nm.end()
            tail = rawdata[k:endpos] if endpos - k <= 2 else None
            if tail == ">":
                handler.handle_starttag(tag, [])  # no-attribute fast path
                i = endpos
            elif tail == "/>":
                handler.handle_startendtag(tag, [])
                i = endpos
                continue  # self-closing: never enters CDATA mode
            else:
                tag_text = rawdata[lt:endpos]
                cached = memo.get(tag_text)
                if cached is None:
                    attrs, k2 = _parse_attrs(rawdata, k, endpos)
                    end = rawdata[k2:endpos].strip()
                    kind = 1 if end == ">" else (2 if end == "/>" else 0)
                    # tuple: the memo hands the SAME attrs object to every
                    # repetition of an identical tag string — immutable so
                    # a handler mutating attrs can't corrupt later tags
                    cached = (kind, tuple(attrs))
                    memo[tag_text] = cached
                kind, attrs = cached
                if kind == 0:
                    handle_data(unescape(tag_text) if "&" in tag_text else tag_text)
                    i = endpos
                    continue
                if kind == 2:
                    handler.handle_startendtag(tag, attrs)
                    i = endpos
                    continue
                handler.handle_starttag(tag, attrs)
                i = endpos
            if tag in ("script", "style"):
                # CDATA mode: stdlib searches the FULL closer regex and
                # emits everything before it as raw (un-unescaped) text;
                # partial end tags ('</script' without '>', '</scriptx>')
                # simply don't match and remain data. In 3.11's goahead
                # the subsequent parse_endtag at the match position always
                # re-matches endtagfind with the same element, so closer
                # search start/end are the exact data/endtag boundaries.
                cm = _CDATA_CLOSE[tag].search(rawdata, i)
                if cm is None:
                    # unterminated: stdlib drops the cdata tail silently
                    return
                if cm.start() > i:
                    handle_data(rawdata[i : cm.start()])
                handler.handle_endtag(tag)
                i = cm.end()
            continue

        if m.group("endtag") is not None:
            em = endtagfind.match(rawdata, lt)
            if em:
                handler.handle_endtag(em.group(1).lower())
                i = em.end()
                continue
            # tolerant path (attrs/junk in end tag), per stdlib parse_endtag
            gt = find(">", lt + 1)
            if gt < 0:
                # incomplete: stdlib fallback (data to next '<' or 1 char)
                endpos = _fallback_end(rawdata, lt)
                text = rawdata[lt:endpos]
                handle_data(unescape(text) if "&" in text else text)
                i = endpos
                continue
            nm = tagfind_tolerant.match(rawdata, lt + 2)
            if nm is None:
                if rawdata.startswith("</>", lt):
                    i = lt + 3
                    continue
                # bogus comment: '</' + junk up to '>'
                handler.handle_comment(rawdata[lt + 2 : gt])
                i = gt + 1
                continue
            tagname = nm.group(1).lower()
            gt2 = find(">", nm.end())
            if gt2 < 0:
                endpos = _fallback_end(rawdata, lt)
                text = rawdata[lt:endpos]
                handle_data(unescape(text) if "&" in text else text)
                i = endpos
                continue
            handler.handle_endtag(tagname)
            i = gt2 + 1
            continue

        if m.group("comment") is not None:
            cm = _commentclose.search(rawdata, lt + 4)  # '--\s*>' per stdlib
            if cm is None:
                # unterminated comment: stdlib's EOF fallback turns the
                # token into data up to the next '>' / '<' / one char
                endpos = _fallback_end(rawdata, lt)
                text = rawdata[lt:endpos]
                handle_data(unescape(text) if "&" in text else text)
                i = endpos
                continue
            handler.handle_comment(rawdata[lt + 4 : cm.start()])
            i = cm.end()
            continue

        if m.group("pi") is not None:
            gt = find(">", lt + 2)
            if gt < 0:
                endpos = _fallback_end(rawdata, lt)
                text = rawdata[lt:endpos]
                handle_data(unescape(text) if "&" in text else text)
                i = endpos
                continue
            # handler.handle_pi — the tree builder ignores PIs
            i = gt + 1
            continue

        # declaration: <!doctype ...>, <![...]>, or bogus comment
        if rawdata.startswith("<![", lt):
            # marked section: stdlib parse_marked_section semantics
            dm = _declname_match(rawdata, lt + 3)
            if dm is None:
                # stdlib's _scan_name raises here; the whole-document
                # stdlib path salvages a partial tree — reproduce via bail
                raise FastTokenizerBail("marked section without name")
            if dm.end() >= n:
                endpos = _fallback_end(rawdata, lt)
                text = rawdata[lt:endpos]
                handle_data(unescape(text) if "&" in text else text)
                i = endpos
                continue
            sect = dm.group().strip().lower()
            if sect in ("temp", "cdata", "ignore", "include", "rcdata"):
                cm = _markedsectionclose.search(rawdata, lt + 3)  # ]\s*]\s*>
            elif sect in ("if", "else", "endif"):
                cm = _msmarkedsectionclose.search(rawdata, lt + 3)  # ]\s*>
            else:
                # stdlib raises AssertionError -> partial-tree salvage
                raise FastTokenizerBail("unknown marked section keyword")
            if cm is None:
                endpos = _fallback_end(rawdata, lt)
                text = rawdata[lt:endpos]
                handle_data(unescape(text) if "&" in text else text)
                i = endpos
                continue
            handler.unknown_decl(rawdata[lt + 3 : cm.start()])
            i = cm.end()
            continue
        if rawdata[lt : lt + 9].lower() == "<!doctype":
            gt = find(">", lt + 9)
            if gt < 0:
                endpos = _fallback_end(rawdata, lt)
                text = rawdata[lt:endpos]
                handle_data(unescape(text) if "&" in text else text)
                i = endpos
                continue
            handler.handle_decl(rawdata[lt + 2 : gt])
            i = gt + 1
            continue
        gt = find(">", lt + 2)
        if gt < 0:
            endpos = _fallback_end(rawdata, lt)
            text = rawdata[lt:endpos]
            handle_data(unescape(text) if "&" in text else text)
            i = endpos
            continue
        handler.handle_comment(rawdata[lt + 2 : gt])
        i = gt + 1
        continue
