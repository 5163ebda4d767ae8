"""The kernel collapses whitespace with ``" ".join(s.split())`` instead of
``re.sub(r"\\s+", " ", s)`` (get_inner_text, serializer._direct_text).
The two agree exactly because both inputs are already stripped and, for
``str`` patterns, ``re``'s ``\\s`` is the same set of code points as
``str.isspace`` (which ``str.split`` and ``str.strip`` use). These tests
pin that equivalence: the set identity over every code point, and
``extract_html`` output with the regex versions (twins below) swapped
back in."""

import re
import sys

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from smartreader_spark.kernel import dom, serializer
from smartreader_spark.kernel.dom import _EPOCH, Node
from smartreader_spark.kernel.reader import extract_html

from test_dom_fuzz import _TREE_CHUNKS

_WS_RE = re.compile(r"\s+")


def test_isspace_is_regex_whitespace_on_every_code_point():
    differ = [
        hex(cp)
        for cp in range(sys.maxunicode + 1)
        if chr(cp).isspace() != bool(re.fullmatch(r"\s", chr(cp)))
    ]
    assert differ == []


def _regex_get_inner_text(el, normalize_spaces=True):
    """get_inner_text as it was, collapsing with the regex."""
    if el is None:
        return ""
    epoch = _EPOCH[0]
    if el._it_epoch == epoch:
        raw, norm = el._it_cache
        return norm if normalize_spaces else raw
    raw = el.text_content.strip()
    norm = _WS_RE.sub(" ", raw)
    el._it_epoch = epoch
    el._it_cache = (raw, norm)
    return norm if normalize_spaces else raw


def _regex_direct_text(el):
    """serializer._direct_text as it was, collapsing with the regex."""
    out = []
    stack = list(reversed(el.child_nodes))
    while stack:
        n = stack.pop()
        if n.node_type == Node.TEXT:
            out.append(n.data)
        elif n.node_type == Node.ELEMENT:
            tag = n.tag
            if (tag in serializer.MEDIA_TAGS or tag == "figure"
                    or tag in serializer.TEXT_BLOCK_TAGS):
                continue
            stack.extend(reversed(n.child_nodes))
    return re.sub(r"\s+", " ", "".join(out).strip())


def _with_regex_twins(html):
    """extract_html(html) with every kernel binding of get_inner_text and
    serializer._direct_text replaced by the regex twins."""
    prod = dom.get_inner_text
    with pytest.MonkeyPatch.context() as m:
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("smartreader_spark.kernel")
                    and getattr(mod, "get_inner_text", None) is prod):
                m.setattr(mod, "get_inner_text", _regex_get_inner_text)
        m.setattr(serializer, "_direct_text", _regex_direct_text)
        return extract_html(html)


#: the unusual whitespace: NBSP, thin, em and ideographic spaces, line and
#: paragraph separators, the four information separators, NEL; plus
#: look-alikes that are not whitespace (zero-width space, BOM)
_ODD_SPACES = "\xa0\u2009\u2003\u3000\u2028\u2029\x1c\x1d\x1e\x1f\x85\u200b\ufeff"

_PARA = ("The council met on Tuesday{0}to discuss the harbour budget,{0}{0}and "
         "agreed to fund the new railway station after a long{0}debate. ")

_HAND_PAGES = [
    "<html><head><title>A{0}title</title></head><body><nav>Home{0}About</nav>"
    "<article><h1>Head{0}line</h1><p>" + _PARA * 6 + "</p><p>{0}" + _PARA * 4
    + "{0}</p><figure><img src='a.jpg'><figcaption>Cap{0}tion</figcaption></figure>"
    "<ul><li>one{0}item</li><li>{0}</li></ul></article></body></html>",
    "<html><body><div id='content'><div><p>" + _PARA * 8 + "</p>"
    "<table><tr><td>cell{0}a</td><td>{0}{0}</td></tr></table>"
    "<blockquote>Quoted{0}text " + _PARA * 2 + "</blockquote></div></div></body></html>",
]


@pytest.mark.parametrize("space", list(_ODD_SPACES) + [" \t\n\r\f\v"],
                         ids=lambda s: "+".join(f"{ord(c):04x}" for c in s))
@pytest.mark.parametrize("page", range(len(_HAND_PAGES)))
def test_extract_html_matches_regex_twin_on_odd_whitespace(page, space):
    html = _HAND_PAGES[page].format(space)
    got = extract_html(html)
    assert got["spans"], "page should extract"
    assert got == _with_regex_twins(html)


_WS_CHUNKS = [c * k for c in _ODD_SPACES + " \t\n" for k in (1, 3)]
_TEXT_CHUNKS = ["<p>" + _PARA.format(" ") * 3, "<article>", "</article>",
                "word", "two words"]


@settings(max_examples=300, deadline=None)
@given(st.lists(st.sampled_from(_TREE_CHUNKS + _WS_CHUNKS + _TEXT_CHUNKS), max_size=60))
def test_extract_html_matches_regex_twin_on_soup(chunks):
    html = "".join(chunks)
    assert extract_html(html) == _with_regex_twins(html)
