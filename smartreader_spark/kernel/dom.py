"""Minimal mutable DOM + pragmatic HTML5-ish parser on the Python stdlib.

No HTML parsing library ships in the execution environment (no lxml,
selectolax, bs4, html5lib), so the kernel carries its own tree builder on
top of ``html.parser.HTMLParser``.  It is not a full HTML5 tree-construction
implementation; it covers what boilerplate-removal needs:

* void elements, raw-text elements (script/style handled by HTMLParser's
  CDATA mode),
* implied end tags (``<p>`` closed by block starts, ``li``/``dt``/``dd``/
  ``tr``/``td``/``th``/``option`` sibling closing),
* implied ``html``/``head``/``body`` scaffolding,
* tolerant handling of stray end tags and mis-nesting.

The node API mirrors the surface the reference uses on AngleSharp
(parity target: /root/reference/src/SmartReader/NodeUtility.cs — e.g.
``GetInnerText`` :405-412, ``SetNodeTag`` :52-68, ``RemoveAndGetNext``
:492-497, ``GetNextNode`` :508-529), re-expressed as plain Python objects.
Everything is iterative (no recursion) so 1 MB+ deeply nested pages cannot
blow the interpreter stack inside an executor.

Each element caches its ``text_content``, its ``get_inner_text`` pair and,
once ``elements_by_tag`` is asked, a tag index of its subtree. The caches
are ancestor-scoped: a mutation drops them on the changed node's ancestor
chain only, since no other subtree's text or elements changed. Removing a
text-carrying node and inserting one drop the text caches; inserting an
element or retagging one drops the tag indexes. A removal keeps them:
index queries skip the elements that are no longer below the root.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

from . import fasttok

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# Start tags that implicitly close an open <p> (HTML5 spec list).
_P_CLOSERS = frozenset(
    (
        "address article aside blockquote details div dl fieldset figcaption "
        "figure footer form h1 h2 h3 h4 h5 h6 header hgroup hr main menu nav "
        "ol p pre section table ul"
    ).split()
)

# tag -> set of open tags that a new start of `tag` implicitly closes
_SIBLING_CLOSERS = {
    "li": frozenset(["li"]),
    "dt": frozenset(["dt", "dd"]),
    "dd": frozenset(["dt", "dd"]),
    "tr": frozenset(["tr", "td", "th"]),
    "td": frozenset(["td", "th"]),
    "th": frozenset(["td", "th"]),
    "option": frozenset(["option"]),
    "optgroup": frozenset(["option", "optgroup"]),
    "thead": frozenset(["thead", "tbody", "tfoot", "tr", "td", "th"]),
    "tbody": frozenset(["thead", "tbody", "tfoot", "tr", "td", "th"]),
    "tfoot": frozenset(["thead", "tbody", "tfoot", "tr", "td", "th"]),
    "colgroup": frozenset(["colgroup"]),
}

# tag -> container elements that bound the sibling-closing scan (so an inner
# <li> in a nested <ul> doesn't pop out to the outer <li>)
_SIBLING_STOP = {
    "li": frozenset(["ul", "ol", "menu"]),
    "dt": frozenset(["dl"]),
    "dd": frozenset(["dl"]),
    "option": frozenset(["select", "datalist", "optgroup"]),
    "optgroup": frozenset(["select"]),
}

# Elements whose subtree content must not escape them when auto-closing.
_SCOPE_BOUNDARY = frozenset(["body", "html", "table", "td", "th", "caption"])

# Tags routed through HTML5-style table-context repair.
_TABLE_CTX_TAGS = frozenset(
    ["tr", "td", "th", "thead", "tbody", "tfoot", "caption", "colgroup", "col"]
)

# insertion-mode contexts where stray content is foster-parented
_TABLE_CONTEXTS = frozenset(["table", "tbody", "thead", "tfoot", "tr"])
_ALLOWED_IN_TABLE = _TABLE_CTX_TAGS | frozenset(
    ["script", "style", "template", "form", "input", "table"]
)

_HEAD_OK = frozenset(["meta", "title", "link", "style", "script", "base", "noscript", "template"])

_ESCAPE_TEXT = {"&": "&amp;", "<": "&lt;", ">": "&gt;"}
_ESCAPE_ATTR = {"&": "&amp;", '"': "&quot;", "<": "&lt;", ">": "&gt;"}
_TEXT_ESC_RE = re.compile(r"[&<>]")
_ATTR_ESC_RE = re.compile(r'[&<>"]')


def _esc_text(s: str) -> str:
    return _TEXT_ESC_RE.sub(lambda m: _ESCAPE_TEXT[m.group(0)], s)


def _esc_attr(s: str) -> str:
    return _ATTR_ESC_RE.sub(lambda m: _ESCAPE_ATTR[m.group(0)], s)


def _carries_text(node: "Node") -> bool:
    """A text node, or an element with children (childless elements like
    img/br/hr never carry text)."""
    return node.node_type == 3 or (node.node_type == 1 and bool(node.child_nodes))  # type: ignore[attr-defined]


def _drop_caches(el: "Element | None", text: bool = True, index: bool = True) -> None:
    """Drop the text caches and/or tag indexes of `el` and its ancestors:
    the nodes whose text or subtree a mutation below them changed. The
    per-element caches collapse the O(depth^3) blowup of nested
    text-density scans to O(depth^2)."""
    while el is not None:
        if text:
            el._tc = None
            el._it = None
        if index:
            el._index = None
        el = el.parent


def _changed_by_insert(parent: "Element", node: "Node") -> None:
    _drop_caches(parent, text=_carries_text(node), index=node.node_type == 1)


class Node:
    """Base DOM node."""

    __slots__ = ("parent",)

    ELEMENT = 1
    TEXT = 3
    COMMENT = 8

    node_type = 0

    def __init__(self) -> None:
        self.parent: Element | None = None

    # -- tree surgery -------------------------------------------------
    def remove(self) -> None:
        p = self.parent
        if p is not None:
            p.child_nodes.remove(self)
            self.parent = None
            # tag indexes stay: their queries skip detached elements
            if _carries_text(self):
                _drop_caches(p, index=False)

    def replace_with(self, other: "Node") -> None:
        p = self.parent
        if p is None:
            return
        other.detach()  # first: `other` may be an earlier sibling
        idx = p.child_nodes.index(self)
        p.child_nodes[idx] = other
        other.parent = p
        self.parent = None
        _drop_caches(p)

    def detach(self) -> None:
        if self.parent is not None:
            self.remove()

    # -- navigation ---------------------------------------------------
    @property
    def next_sibling(self) -> "Node | None":
        p = self.parent
        if p is None:
            return None
        sibs = p.child_nodes
        i = sibs.index(self)
        return sibs[i + 1] if i + 1 < len(sibs) else None

    @property
    def next_element_sibling(self) -> "Element | None":
        p = self.parent
        if p is None:
            return None
        sibs = p.child_nodes
        for i in range(sibs.index(self) + 1, len(sibs)):
            if sibs[i].node_type == 1:
                return sibs[i]  # type: ignore[return-value]
        return None

    @property
    def previous_element_sibling(self) -> "Element | None":
        p = self.parent
        if p is None:
            return None
        sibs = p.child_nodes
        for i in range(sibs.index(self) - 1, -1, -1):
            if sibs[i].node_type == 1:
                return sibs[i]  # type: ignore[return-value]
        return None

    @property
    def text_content(self) -> str:
        return ""


class TextNode(Node):
    __slots__ = ("data",)
    node_type = Node.TEXT

    def __init__(self, data: str) -> None:
        super().__init__()
        self.data = data

    @property
    def text_content(self) -> str:
        return self.data

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"#text{self.data[:30]!r}"


class Comment(Node):
    __slots__ = ("data",)
    node_type = Node.COMMENT

    def __init__(self, data: str) -> None:
        super().__init__()
        self.data = data


class Element(Node):
    __slots__ = ("tag", "attrs", "child_nodes", "_score", "_tc", "_it", "_index")
    node_type = Node.ELEMENT

    def __init__(self, tag: str, attrs: dict[str, str] | None = None) -> None:
        super().__init__()
        self.tag = tag
        self.attrs: dict[str, str] = attrs if attrs is not None else {}
        self.child_nodes: list[Node] = []
        # readability bookkeeping kept OFF the attribute map, unlike the
        # reference which round-trips floats through a DOM attribute
        # (SmartReader.cs:881-905); semantics preserved, storage improved.
        self._score: float | None = None
        # caches, None when stale (see the module docstring): text_content,
        # get_inner_text's (stripped, collapsed) pair, the subtree tag index
        self._tc: str | None = None
        self._it: tuple[str, str] | None = None
        self._index: dict[str, list[Element]] | None = None

    # -- attributes ---------------------------------------------------
    def get_attribute(self, name: str) -> str | None:
        return self.attrs.get(name)

    def set_attribute(self, name: str, value: str) -> None:
        self.attrs[name] = value

    def remove_attribute(self, name: str) -> None:
        self.attrs.pop(name, None)

    def has_attribute(self, name: str) -> bool:
        return name in self.attrs

    @property
    def class_name(self) -> str:
        return self.attrs.get("class", "")

    @class_name.setter
    def class_name(self, v: str) -> None:
        self.attrs["class"] = v

    @property
    def id(self) -> str:
        return self.attrs.get("id", "")

    @property
    def class_list(self) -> list[str]:
        return self.class_name.split()

    # -- children -----------------------------------------------------
    @property
    def children(self) -> list["Element"]:
        return [c for c in self.child_nodes if c.node_type == Node.ELEMENT]

    @property
    def first_element_child(self) -> "Element | None":
        for c in self.child_nodes:
            if c.node_type == Node.ELEMENT:
                return c
        return None

    def append_child(self, node: Node) -> Node:
        node.detach()
        node.parent = self
        self.child_nodes.append(node)
        _changed_by_insert(self, node)
        return node

    def insert_before(self, node: Node, ref: Node | None) -> Node:
        node.detach()
        if ref is None:
            return self.append_child(node)
        idx = self.child_nodes.index(ref)
        node.parent = self
        self.child_nodes.insert(idx, node)
        _changed_by_insert(self, node)
        return node

    # -- text ---------------------------------------------------------
    @property
    def text_content(self) -> str:
        text = self._tc
        if text is not None:
            return text
        out: list[str] = []
        stack: list[Node] = list(reversed(self.child_nodes))
        while stack:
            n = stack.pop()
            t = n.node_type
            if t == Node.TEXT:
                out.append(n.data)  # type: ignore[attr-defined]
            elif t == Node.ELEMENT:
                cached = n._tc  # type: ignore[attr-defined]
                if cached is not None:
                    out.append(cached)
                else:
                    stack.extend(reversed(n.child_nodes))  # type: ignore[attr-defined]
        text = self._tc = "".join(out)
        return text

    @text_content.setter
    def text_content(self, value: str) -> None:
        """Replace every child with one text node (no node when `value` is
        empty, so ``el.text_content = ""`` empties `el`)."""
        kids = self.child_nodes
        for c in kids:
            c.parent = None
        self.child_nodes = []
        if kids:
            _drop_caches(self, index=False)
        if value:
            self.append_child(TextNode(value))

    # -- traversal ----------------------------------------------------
    def iter_elements(self, include_self: bool = False):
        """Document-order (pre-order) element generator. Snapshot-free:
        callers that mutate must materialize with list(...) first."""
        stack: list[Node] = list(reversed(self.child_nodes))
        if include_self:
            yield self
        while stack:
            n = stack.pop()
            if n.node_type == Node.ELEMENT:
                yield n  # type: ignore[misc]
                stack.extend(reversed(n.child_nodes))  # type: ignore[attr-defined]

    def get_elements_by_tag_name(self, *tags: str) -> list["Element"]:
        """Snapshot list, document order — analogous to AngleSharp's live
        collection materialized (the reference iterates backwards over the
        live list when removing, NodeUtility.cs:140-154; a snapshot iterated
        backwards has identical removal order). Direct stack walk (hot
        path — generator overhead measured at ~15% of kernel time)."""
        want = {t.lower() for t in tags}
        match_all = "*" in want
        out: list[Element] = []
        append = out.append
        stack: list[Node] = list(reversed(self.child_nodes))
        pop = stack.pop
        extend = stack.extend
        while stack:
            n = pop()
            if n.node_type == 1:
                if match_all or n.tag in want:  # type: ignore[attr-defined]
                    append(n)  # type: ignore[arg-type]
                kids = n.child_nodes  # type: ignore[attr-defined]
                if kids:
                    extend(reversed(kids))
        return out

    def elements_by_tag(self, *tags: str) -> list["Element"]:
        """``get_elements_by_tag_name`` (same snapshot, same document order)
        served from a tag index of this subtree, for roots that several
        whole-subtree passes query in turn. One walk builds the index, in
        document order (so foster-parented nodes, whose creation order is
        not their document order, land where a walk finds them); inserting
        or retagging an element below this root drops it. Removals keep
        it: an element an earlier removal detached is skipped here."""
        index = self._index
        if index is None:
            index = self._index = self._build_index()
        if len(tags) == 1:
            found = index.get(tags[0], ())
        else:
            want = set(tags)
            found = [e for e in index["*"] if e.tag in want]
        out: list[Element] = []
        for el in found:
            p = el.parent
            while p is not None and p is not self:
                p = p.parent
            if p is not None:
                out.append(el)
        return out

    def _build_index(self) -> dict[str, list["Element"]]:
        """tag -> descendants with that tag, and "*" -> every descendant,
        each in document order."""
        every: list[Element] = []
        index: dict[str, list[Element]] = {"*": every}
        stack: list[Node] = list(reversed(self.child_nodes))
        while stack:
            n = stack.pop()
            if n.node_type == 1:
                every.append(n)  # type: ignore[arg-type]
                found = index.get(n.tag)  # type: ignore[attr-defined]
                if found is None:
                    index[n.tag] = [n]  # type: ignore[attr-defined, list-item]
                else:
                    found.append(n)  # type: ignore[arg-type]
                kids = n.child_nodes  # type: ignore[attr-defined]
                if kids:
                    stack.extend(reversed(kids))
        return index

    def has_ancestor(self, el: "Element") -> bool:
        p = self.parent
        while p is not None:
            if p is el:
                return True
            p = p.parent
        return False

    # -- serialization ------------------------------------------------
    @property
    def inner_html(self) -> str:
        parts: list[str] = []
        for c in self.child_nodes:
            _serialize(c, parts)
        return "".join(parts)

    @property
    def outer_html(self) -> str:
        parts: list[str] = []
        _serialize(self, parts)
        return "".join(parts)

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        ident = ("#" + self.id) if self.id else ""
        cls = ("." + ".".join(self.class_list[:2])) if self.class_name else ""
        return f"<{self.tag}{ident}{cls} kids={len(self.child_nodes)}>"


_NO_ESCAPE_CONTENT = frozenset(["script", "style"])


def _serialize(node: Node, out: list[str]) -> None:
    """Iterative outer-HTML serializer."""
    # (node, closing) stack
    stack: list[tuple[Node, bool]] = [(node, False)]
    while stack:
        n, closing = stack.pop()
        if closing:
            out.append(f"</{n.tag}>")  # type: ignore[attr-defined]
            continue
        t = n.node_type
        if t == Node.TEXT:
            parent = n.parent
            if parent is not None and parent.tag in _NO_ESCAPE_CONTENT:
                out.append(n.data)  # type: ignore[attr-defined]
            else:
                out.append(_esc_text(n.data))  # type: ignore[attr-defined]
        elif t == Node.COMMENT:
            out.append(f"<!--{n.data}-->")  # type: ignore[attr-defined]
        else:
            el: Element = n  # type: ignore[assignment]
            out.append("<" + el.tag)
            for k, v in el.attrs.items():
                out.append(f' {k}="{_esc_attr(v)}"')
            out.append(">")
            if el.tag in VOID_ELEMENTS:
                continue
            stack.append((el, True))
            stack.extend((c, False) for c in reversed(el.child_nodes))


class Document(Element):
    """Root node; always has html > (head, body)."""

    __slots__ = ()

    def __init__(self) -> None:
        super().__init__("#document")

    @property
    def document_element(self) -> Element:
        for c in self.children:
            if c.tag == "html":
                return c
        raise AssertionError("document has no <html>")

    @property
    def head(self) -> Element:
        for c in self.document_element.children:
            if c.tag == "head":
                return c
        raise AssertionError("document has no <head>")

    @property
    def body(self) -> Element | None:
        for c in self.document_element.children:
            if c.tag == "body":
                return c
        return None

    @property
    def title(self) -> str:
        for e in self.head.iter_elements():
            if e.tag == "title":
                return e.text_content
        return ""


_XML_NAME_START = re.compile(r"[A-Za-z_:]")
_XML_NAME_INVALID = re.compile(r"[^-A-Za-z0-9_:.·]")


def clean_xml_name(name: str) -> str:
    """Sanitize attribute names the way the reference does before copying
    attributes across nodes (TextUtility.cs:25-50): invalid chars removed,
    leading non-name-start prefixed with '_'."""
    if not name:
        return "_"
    name = _XML_NAME_INVALID.sub("", name)
    if not name:
        return "_"
    if not _XML_NAME_START.match(name[0]):
        name = "_" + name
    return name


def safe_set_attribute(el: Element, name: str, value: str) -> None:
    """NodeUtility.cs:643-652 — never throw on a weird attribute name."""
    try:
        el.set_attribute(clean_xml_name(name.lower()), value)
    except Exception:
        pass


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.doc = Document()
        html = Element("html")
        self.doc.append_child(html)
        self._head = Element("head")
        self._body = Element("body")
        html.append_child(self._head)
        html.append_child(self._body)
        self._html = html
        self._in_body = False
        # open-element stack; bottom is html
        self.stack: list[Element] = [html]
        self._text_parts: list[str] = []

    # ---- helpers ----
    def _cur(self) -> Element:
        return self.stack[-1]

    def _flush_text(self) -> None:
        if not self._text_parts:
            return
        data = "".join(self._text_parts)
        self._text_parts = []
        cur = self._cur()
        if cur is self._html or cur is self._head:
            if not data.strip():
                return
            # stray text before body -> open body
            self._ensure_body()
            cur = self._cur()
        if cur.tag in _TABLE_CONTEXTS and data.strip():
            # non-whitespace character tokens in a table context are
            # foster-parented before the table (HTML5 'in table text');
            # whitespace-only runs stay in the table node, as in AngleSharp
            tn = TextNode(data)
            if self._foster_parent(tn):
                return
        kids = cur.child_nodes
        if kids and kids[-1].node_type == Node.TEXT:
            kids[-1].data += data  # type: ignore[attr-defined]
        else:
            tn = TextNode(data)
            tn.parent = cur
            kids.append(tn)

    def _ensure_body(self) -> None:
        if not self._in_body:
            self._in_body = True
            if self.stack[-1] is self._html or self.stack[-1] is self._head:
                self.stack = [self._html, self._body]

    def _open(self, tag: str, attrs: list[tuple[str, str | None]]) -> Element:
        # attr keys arrive pre-lowercased from both tokenizer paths
        amap: dict[str, str] = {}
        for k, v in attrs:
            if k and k not in amap:
                amap[k] = v if v is not None else ""
        el = Element(tag, amap)
        cur = self._cur()
        el.parent = cur
        cur.child_nodes.append(el)
        return el

    def _implied_closes(self, tag: str) -> None:
        # <p> closers
        if tag in _P_CLOSERS:
            for i in range(len(self.stack) - 1, 0, -1):
                t = self.stack[i].tag
                if t == "p":
                    del self.stack[i:]
                    break
                if t in _SCOPE_BOUNDARY or t not in ("a", "b", "i", "u", "em", "strong",
                                                     "span", "font", "small", "s", "cite",
                                                     "q", "dfn", "abbr", "code", "var",
                                                     "samp", "kbd", "sub", "sup", "mark",
                                                     "del", "ins", "p"):
                    break
        closers = _SIBLING_CLOSERS.get(tag)
        if closers:
            stops = _SIBLING_STOP.get(tag, frozenset())
            for i in range(len(self.stack) - 1, 0, -1):
                t = self.stack[i].tag
                if t in closers:
                    del self.stack[i:]
                    break
                if t in stops:
                    break
                if t in _SCOPE_BOUNDARY and not (tag in ("td", "th", "tr") and t == "table"):
                    break

    def _foster_parent(self, node: Node) -> bool:
        """HTML5 foster parenting: content illegally placed directly in a
        table context is inserted immediately BEFORE the nearest open
        <table> (spec: 'appropriate place for inserting a node' with
        foster parenting enabled)."""
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == "table":
                tbl = self.stack[i]
                parent = tbl.parent
                if parent is not None:
                    idx = parent.child_nodes.index(tbl)
                    node.parent = parent
                    parent.child_nodes.insert(idx, node)
                    return True
                return False
        return False

    def _close_table_for_table(self) -> None:
        """HTML5 'in table': a <table> start tag while a table is open in
        table scope acts as an implied </table> (sibling tables). A cell
        or caption bounds the scan — <table> inside <td> nests legally
        ('in cell' routes the tag through 'in body'). Found by the r6
        tree fuzz: nesting broke the serialize→parse fixed point."""
        for i in range(len(self.stack) - 1, 0, -1):
            t = self.stack[i].tag
            if t in ("td", "th", "caption"):
                break
            if t == "table":
                del self.stack[i:]
                break

    def _table_fixup(self, tag: str) -> bool:
        """HTML5-style table context repair for tr/td/th/section starts.

        Returns True when a table context was found and the stack adjusted
        (possibly synthesizing tbody/tr); False when no table is open (the
        stray tag is left to generic handling, which keeps td/tr-outside-
        table parseable — needed to re-read our own DIV-ified output)."""
        ti = None
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == "table":
                ti = i
                break
        if ti is None:
            return False
        if tag in ("thead", "tbody", "tfoot", "caption", "colgroup", "col"):
            del self.stack[ti + 1:]
            return True
        if tag == "tr":
            for i in range(len(self.stack) - 1, ti, -1):
                if self.stack[i].tag in ("thead", "tbody", "tfoot"):
                    del self.stack[i + 1:]
                    return True
            del self.stack[ti + 1:]
            tbody = self._open("tbody", [])
            self.stack.append(tbody)
            return True
        if tag in ("td", "th"):
            for i in range(len(self.stack) - 1, ti, -1):
                if self.stack[i].tag == "tr":
                    del self.stack[i + 1:]
                    return True
            for i in range(len(self.stack) - 1, ti, -1):
                if self.stack[i].tag in ("thead", "tbody", "tfoot"):
                    del self.stack[i + 1:]
                    break
            else:
                del self.stack[ti + 1:]
                tbody = self._open("tbody", [])
                self.stack.append(tbody)
            tr = self._open("tr", [])
            self.stack.append(tr)
            return True
        return False

    # ---- HTMLParser callbacks ----
    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        tag = tag.lower()
        if tag == "html":
            # merge attrs onto existing html element
            for k, v in attrs:
                k = k.lower()
                if k not in self._html.attrs:
                    self._html.attrs[k] = v if v is not None else ""
            return
        if tag == "head":
            # in-body mode ignores a stray <head> token (HTML5 §13.2.6.4.7);
            # honoring it re-entered head and dragged following body
            # content there — found by the r6 tree fuzz
            if not self._in_body:
                self.stack = [self._html, self._head]
            return
        if tag == "body":
            self._flush_text()
            self._in_body = True
            for k, v in attrs:
                k = k.lower()
                if k not in self._body.attrs:
                    self._body.attrs[k] = v if v is not None else ""
            self.stack = [self._html, self._body]
            return
        if not self._in_body:
            if tag in _HEAD_OK:
                if self._cur() is self._html:
                    self.stack = [self._html, self._head]
            else:
                self._flush_text()
                self._in_body = True
                self.stack = [self._html, self._body]
        if self._text_parts:
            self._flush_text()
        if tag in _TABLE_CTX_TAGS:
            if not self._table_fixup(tag):
                self._implied_closes(tag)
        else:
            if tag == "table":
                self._close_table_for_table()
            self._implied_closes(tag)
            # foster-parent non-table content that would land directly in
            # a table context
            if self._cur().tag in _TABLE_CONTEXTS and tag not in _ALLOWED_IN_TABLE:
                amap: dict[str, str] = {}
                for k, v in attrs:
                    k = k.lower()
                    if k and k not in amap:
                        amap[k] = v if v is not None else ""
                el = Element(tag, amap)
                if self._foster_parent(el):
                    if tag not in VOID_ELEMENTS:
                        self.stack.append(el)
                    return
        el = self._open(tag, attrs)
        if tag not in VOID_ELEMENTS:
            self.stack.append(el)

    def handle_startendtag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        tag = tag.lower()
        if tag in ("html", "head", "body"):
            return self.handle_starttag(tag, attrs)
        if not self._in_body and tag not in _HEAD_OK:
            self._flush_text()
            self._in_body = True
            self.stack = [self._html, self._body]
        self._flush_text()
        if tag in _TABLE_CTX_TAGS:
            if not self._table_fixup(tag):
                self._implied_closes(tag)
        else:
            if tag == "table":
                self._close_table_for_table()
            self._implied_closes(tag)
        self._open(tag, attrs)

    def handle_endtag(self, tag: str) -> None:
        tag = tag.lower()
        if self._text_parts:
            self._flush_text()
        if tag in ("html", "body"):
            self._in_body = True
            self.stack = [self._html, self._body]
            return
        if tag == "head":
            if not self._in_body:  # ignored in body, like the start tag
                self.stack = [self._html]
            return
        if tag == "br":
            # HTML5: </br> acts as a <br> START tag (pages using <br></br>
            # genuinely contain two br elements — ReplaceBrs depends on it)
            self.handle_starttag("br", [])
            return
        if tag in VOID_ELEMENTS:
            return
        if tag == "p":
            # HTML5: </p> with no open p inserts an empty <p></p>
            for i in range(len(self.stack) - 1, 0, -1):
                t = self.stack[i].tag
                if t == "p":
                    del self.stack[i:]
                    return
                if t in _SCOPE_BOUNDARY:
                    break
            # the synthesized element is body content: enter body first
            # (the start-tag path does this; without it a document-leading
            # </p> attached the new <p> to <html> — found by the r6 tree
            # fuzz, tests/test_dom_fuzz.py)
            if not self._in_body:
                self._flush_text()
                self._in_body = True
                self.stack = [self._html, self._body]
            self._flush_text()
            if self._cur().tag in _TABLE_CONTEXTS:
                self._foster_parent(Element("p"))
            else:
                self._open("p", [])
            return
        # find matching open element; boundaries depend on the tag so that
        # </table> closes through open cells while generic end tags cannot
        # escape the enclosing cell/table
        if tag == "table":
            boundaries = ("body", "html")
        elif tag in _TABLE_CTX_TAGS:
            boundaries = ("body", "html", "table")
        elif tag in _SIBLING_STOP:
            boundaries = _SCOPE_BOUNDARY | _SIBLING_STOP[tag]
        else:
            boundaries = _SCOPE_BOUNDARY
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return
            # don't let an end tag escape a scope boundary unless it names it
            if self.stack[i].tag in boundaries:
                return
        # no match: ignore stray end tag

    def handle_data(self, data: str) -> None:
        self._text_parts.append(data)

    def handle_comment(self, data: str) -> None:
        self._flush_text()
        cur = self._cur()
        c = Comment(data)
        c.parent = cur
        cur.child_nodes.append(c)

    def handle_decl(self, decl: str) -> None:  # <!DOCTYPE html>
        pass

    def unknown_decl(self, data: str) -> None:
        pass

    def close(self) -> None:
        super().close()
        self._flush_text()


def parse_html(html: str) -> Document:
    """Parse an HTML string into a Document.

    Counterpart of the reference's ``ParseDocument``
    (SmartReader.cs:242-262, AngleSharp with scripting enabled so
    ``<noscript>`` content stays inert text — HTMLParser likewise does not
    parse noscript content as markup only if we mark it; we parse it as
    normal markup, then the kernel treats noscript specially).

    Tokenization: the fast single-pass scanner (kernel/fasttok.py,
    stdlib-semantics-identical, differentially tested against html.parser
    on every fixture) with a whole-document stdlib fallback on any bail.
    """
    # a leading U+FEFF is a byte-order mark, ignored by HTML5 parsers
    if html.startswith("﻿"):
        html = html.lstrip("﻿")
    tb = _TreeBuilder()
    try:
        fasttok.tokenize(html, tb)
        tb._flush_text()
        return tb.doc
    except Exception:
        pass  # any anomaly: re-parse from scratch with the stdlib path
    tb = _TreeBuilder()
    try:
        tb.feed(html)
        tb.close()
    except Exception:
        # html.parser very rarely throws; salvage whatever tree we built
        tb._flush_text()
    return tb.doc


def parse_fragment(html: str, container_tag: str = "div") -> Element:
    """Parse a fragment and return a container element holding its nodes."""
    doc = parse_html(html)
    container = Element(container_tag)
    body = doc.body
    if body is not None:
        for c in list(body.child_nodes):
            container.append_child(c)
    return container


# ---------------------------------------------------------------------------
# NodeUtility parity helpers
# ---------------------------------------------------------------------------

def get_inner_text(el: Element | None, normalize_spaces: bool = True) -> str:
    """NodeUtility.cs:405-412 — textContent.Trim(), optionally collapsing
    all whitespace runs to single spaces. Cached on the element (scoring
    and cleaning revisit the same nodes many times between mutations)."""
    if el is None:
        return ""
    cached = el._it
    if cached is None:
        raw = el.text_content.strip()
        cached = el._it = (raw, " ".join(raw.split()))
    return cached[1] if normalize_spaces else cached[0]


def has_text(el: Element) -> bool:
    """``bool(el.text_content.strip())`` without building the text: stops at
    the first text node (or cached subtree text) that is not all space."""
    stack: list[Node] = [el]
    while stack:
        n = stack.pop()
        if n.node_type == Node.TEXT:
            data = n.data  # type: ignore[attr-defined]
            if data and not data.isspace():
                return True
        elif n.node_type == Node.ELEMENT:
            cached = n._tc  # type: ignore[attr-defined]
            if cached is None:
                stack.extend(n.child_nodes)  # type: ignore[attr-defined]
            elif cached and not cached.isspace():
                return True
    return False


def set_node_tag(el: Element, new_tag: str) -> Element:
    """NodeUtility.cs:52-68 — in-place retag (we can mutate, AngleSharp
    cannot; reference creates a new element and moves children/attrs —
    observable result identical)."""
    new_tag = new_tag.lower()
    if el.tag != new_tag:
        el.tag = new_tag
        _drop_caches(el.parent, text=False)
    return el


def next_element(node: Node | None) -> Element | None:
    """NodeUtility.cs:627-637 — next sibling element, whitespace-transparent."""
    n = node
    while n is not None:
        if n.node_type == Node.ELEMENT:
            return n  # type: ignore[return-value]
        if n.node_type == Node.TEXT and n.data.strip():  # type: ignore[attr-defined]
            return None
        n = n.next_sibling
    return None


def get_next_node(node: Element, ignore_self_and_kids: bool = False) -> Element | None:
    """NodeUtility.cs:508-529 — document-order DFS over *elements*."""
    if not ignore_self_and_kids:
        fec = node.first_element_child
        if fec is not None:
            return fec
    sib = node.next_element_sibling
    if sib is not None:
        return sib
    p = node.parent
    while p is not None:
        s = p.next_element_sibling
        if s is not None:
            return s
        p = p.parent
    return None


def remove_and_get_next(node: Element) -> Element | None:
    """NodeUtility.cs:492-497."""
    nxt = get_next_node(node, ignore_self_and_kids=True)
    node.remove()
    return nxt
