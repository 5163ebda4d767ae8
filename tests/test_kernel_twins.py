"""Equivalence twins for the kernel's cached and rewritten fast paths.

* The plaintext regexes (textkit) start with a character set so that
  ``re`` skips non-candidate positions; their earlier forms, kept here,
  must give the same output on any string over the separator alphabet.
* Text caches are ancestor-scoped (dom): a mutation drops the caches of
  the changed node's ancestors and of nothing else.
* ``Element.elements_by_tag`` serves ``get_elements_by_tag_name`` from a
  subtree index; after any sequence of DOM mutations both must agree, and
  every cached ``text_content`` must equal a fresh uncached walk.
"""

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from smartreader_spark.kernel import dom, textkit
from smartreader_spark.kernel.dom import Element, Node, TextNode

from test_dom_fuzz import _TREE_CHUNKS

_Z = textkit._Z_CLASS
OLD_TABS = re.compile(r"\t+")
OLD_MULTI_NL = re.compile(r"(\r?\n){3,}")
OLD_DROP_SEP = re.compile(rf"(?:(?<=[{_Z}\r\n])[{_Z}])|(?:[{_Z}](?=[\r\n]))")

_SEP_ALPHABET = "ab \xa0　 \r\n\t"


def _old_plaintext_tail(text: str) -> str:
    text = OLD_TABS.sub(" ", text)
    text = OLD_DROP_SEP.sub("", text).strip()
    return OLD_MULTI_NL.sub("\n\n", text)


def _new_plaintext_tail(text: str) -> str:
    if "\t" in text:
        text = textkit._TABS.sub(" ", text)
    text = textkit._DROP_SEP.sub("", text).strip()
    return textkit._MULTI_NL.sub("\n\n", text)


@settings(max_examples=3000, deadline=None)
@given(st.text(alphabet=_SEP_ALPHABET, max_size=40))
def test_plaintext_regexes_match_their_earlier_forms(text):
    assert textkit._MULTI_NL.sub("\n\n", text) == OLD_MULTI_NL.sub("\n\n", text)
    assert textkit._DROP_SEP.sub("", text) == OLD_DROP_SEP.sub("", text)
    assert _new_plaintext_tail(text) == _old_plaintext_tail(text)


def test_convert_to_plaintext_matches_earlier_regexes():
    el = dom.parse_fragment(
        "<p>a \xa0 b\t\tc</p>\r\n\r\n\n<p> 　d </p><br><br><br>e \nf"
    )
    parts: list[str] = []
    textkit._convert_to_text(el, parts)
    assert textkit.convert_to_plaintext(el) == _old_plaintext_tail("".join(parts))


def _fresh_text(el: Node) -> str:
    """text_content without any cache."""
    if el.node_type == Node.TEXT:
        return el.data
    return "".join(_fresh_text(c) for c in getattr(el, "child_nodes", ()))


def test_mutation_drops_only_the_ancestor_chain_caches():
    doc = dom.parse_html(
        "<body><div id=a><p id=a1>one <b>two</b></p><p id=a2>three</p></div>"
        "<div id=b><p id=b1>four</p></div></body>"
    )
    body = doc.body
    a, b = body.children
    a1, a2 = a.children
    for el in (doc, body, a, b, a1, a2):
        el.text_content
        dom.get_inner_text(el)
    a1.children[0].remove()  # drop <b>two</b>
    # siblings and cousins keep their caches ...
    assert a2._tc == "three" and b._tc == "four" and a2._it is not None
    # ... every ancestor of the change drops and recomputes its own
    for el in (a1, a, body, doc):
        assert el._tc is None and el._it is None
    assert a.text_content == "one three"
    assert body.text_content == "one threefour"
    assert dom.get_inner_text(a1) == "one"
    # an insertion does the same
    a2.append_child(TextNode(" more"))
    assert b._tc == "four"
    assert a.text_content == "one three more" == _fresh_text(a)


_MUTATIONS = st.lists(
    st.tuples(st.sampled_from(["remove", "append", "insert", "replace", "retag", "settext"]),
              st.integers(0, 10_000), st.integers(0, 10_000),
              st.sampled_from(["p", "div", "br", "img", "span", "font", "a"])),
    max_size=25,
)


@settings(max_examples=300, deadline=None)
@given(st.lists(st.sampled_from(_TREE_CHUNKS), max_size=40), _MUTATIONS)
def test_caches_and_tag_index_agree_with_fresh_walks(chunks, mutations):
    doc = dom.parse_html("".join(chunks))
    tags = ("p", "div", "br", "img", "span", "font", "a", "td", "table", "b")
    for op, i, j, tag in mutations:
        els = doc.document_element.get_elements_by_tag_name("*")
        if not els:
            break
        x, y = els[i % len(els)], els[j % len(els)]
        # warm every cache so stale ones would show
        for el in els:
            el.text_content
        doc.elements_by_tag(*tags)
        if op == "remove":
            x.remove()
        elif op == "settext":
            x.text_content = tag
        elif op == "retag":
            dom.set_node_tag(x, tag)
        elif x is y or x.has_ancestor(y) or y.has_ancestor(x):
            new = Element(tag)
            new.append_child(TextNode(tag))
            x.append_child(new)
        elif op == "append":
            x.append_child(y)
        elif op == "insert":
            x.insert_before(y, x.child_nodes[0] if x.child_nodes else None)
        else:
            x.replace_with(y)
        for t in tags:
            assert doc.elements_by_tag(t) == doc.get_elements_by_tag_name(t)
        assert doc.elements_by_tag(*tags) == doc.get_elements_by_tag_name(*tags)
        for el in doc.get_elements_by_tag_name("*"):
            assert el.text_content == _fresh_text(el)
            assert dom.get_inner_text(el) == " ".join(_fresh_text(el).split())
