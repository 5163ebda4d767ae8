"""Node-level predicates and utilities.

Parity reference: /root/reference/src/SmartReader/NodeUtility.cs (exact
line cites per function). Pure functions over the dom.py tree.
"""

from __future__ import annotations

import re

from .dom import (
    Comment,
    Document,
    Element,
    Node,
    TextNode,
    get_inner_text,
    get_next_node,
    has_text,
    parse_fragment,
    remove_and_get_next,
    safe_set_attribute,
)
from .regexes import HASH_URL

# NodeUtility.cs:20
DIV_TO_P_ELEMS = frozenset(
    ["blockquote", "dl", "div", "img", "ol", "p", "pre", "table", "ul"]
)

# NodeUtility.cs:22
PRESENTATIONAL_ATTRIBUTES = (
    "align", "background", "bgcolor", "border", "cellpadding", "cellspacing",
    "frame", "hspace", "rules", "style", "valign", "vspace",
)

# NodeUtility.cs:24
DEPRECATED_SIZE_ATTRIBUTE_ELEMS = frozenset(["table", "th", "td", "hr", "pre"])

# what clean_styles strips from other elements and from the ones above
_STRIPPED = frozenset(PRESENTATIONAL_ATTRIBUTES)
_SIZED_STRIPPED = _STRIPPED | {"width", "height"}

# NodeUtility.cs:28-35 (canvas/iframe/svg/video intentionally excluded)
PHRASING_ELEMS = frozenset(
    (
        "abbr audio b bdo br button cite code data datalist dfn em embed i img "
        "input kbd label mark math meter noscript object output progress q "
        "ruby samp script select small span strong sub sup textarea time var wbr"
    ).split()
)

# NodeUtility.cs:37 TextishTags = SPAN,LI,TD + divToPElems
TEXTISH_TAGS = frozenset(["span", "li", "td"]) | DIV_TO_P_ELEMS

_IMG_EXT_RE = re.compile(r"\.(jpg|jpeg|png|webp)")


def get_display_from_style(style: str) -> str | None:
    """NodeUtility.cs:105-131 — value after 'display:' up to ';'."""
    idx = style.lower().find("display:")
    if idx == -1:
        return None
    value = style[idx + 7:].strip()
    colon = value.find(":")
    if colon == -1:
        return None
    value = value[colon + 1:]
    semi = value.find(";")
    if semi > -1:
        value = value[:semi]
    return value.strip()


def get_visibility_from_style(style: str) -> str | None:
    """NodeUtility.cs:91-103 — split by ';' then ':' pairs, key=='visibility'."""
    for part in style.split(";"):
        kv = part.split(":")
        if len(kv) == 2 and kv[0].strip() == "visibility":
            return kv[1].strip()
    return None


def is_hidden(el: Element) -> bool:
    """NodeUtility.cs:86-89."""
    style = el.get_attribute("style")
    if style is None:
        return False
    return (
        get_display_from_style(style) == "none"
        or get_visibility_from_style(style) in ("hidden", "collapse")
    )


def is_probably_visible(el: Element) -> bool:
    """NodeUtility.cs:75-84."""
    return (
        not is_hidden(el)
        and not el.has_attribute("hidden")
        and (
            not el.has_attribute("aria-hidden")
            or el.get_attribute("aria-hidden") != "true"
            or "fallback-image" in el.class_name
        )
    )


def is_single_image(el: Element | None) -> bool:
    """NodeUtility.cs:206-216 — node is an img, or a chain of single-child
    wrappers (no real text) ending in an img."""
    while el is not None:
        if el.tag == "img":
            return True
        kids = el.children
        if len(kids) != 1 or el.text_content.strip():
            return False
        el = kids[0]
    return False


def unwrap_noscript_images(doc: Document, metrics: dict | None = None) -> None:
    """NodeUtility.cs:225-304."""
    # 1. drop placeholder imgs with no src-ish attribute at all
    for img in doc.elements_by_tag("img"):
        keep = False
        for name, value in img.attrs.items():
            if name in ("src", "srcset", "data-src", "data-srcset"):
                keep = True
                break
            if _IMG_EXT_RE.search(value):
                keep = True
                break
        if not keep:
            img.remove()
            if metrics is not None:
                metrics["nodes_stripped"] = metrics.get("nodes_stripped", 0) + 1

    # 2. unwrap single-image noscripts following a single-image sibling
    for noscript in doc.elements_by_tag("noscript"):
        if noscript.parent is None:
            continue
        # noscript content: our parser parses it as markup already, but the
        # reference re-parses InnerHtml into a fresh div — do the same so
        # AngleSharp's scripting-mode (noscript = raw text) is emulated.
        tmp = parse_fragment(noscript.inner_html, "div")
        if not is_single_image(tmp):
            continue
        prev = noscript.previous_element_sibling
        if prev is not None and is_single_image(prev):
            prev_img = prev
            if prev_img.tag != "img":
                imgs = prev.get_elements_by_tag_name("img")
                if not imgs:
                    continue
                prev_img = imgs[0]
            new_imgs = tmp.get_elements_by_tag_name("img")
            if not new_imgs:
                continue
            new_img = new_imgs[0]
            for name, value in list(prev_img.attrs.items()):
                if value == "":
                    continue
                if name in ("src", "srcset") or _IMG_EXT_RE.search(value):
                    if new_img.get_attribute(name) == value:
                        continue
                    attr_name = name
                    if new_img.has_attribute(attr_name):
                        attr_name = "data-old-" + attr_name
                    safe_set_attribute(new_img, attr_name, value)
            first = tmp.first_element_child
            if first is not None:
                prev.replace_with(first)
                noscript.remove()


def remove_scripts(root: Element) -> int:
    """NodeUtility.cs:310-313 — drop script + noscript."""
    n = 0
    for el in root.elements_by_tag("script", "noscript"):
        if el.parent is not None:
            el.remove()
            n += 1
    return n


_HAS_CONTENT_RE = re.compile(r"\S$")


def has_single_tag_inside_element(el: Element, tag: str) -> bool:
    """NodeUtility.cs:332-351 — exactly 1 element child with given tag and
    no text node ending in non-whitespace."""
    kids = el.children
    if len(kids) != 1 or kids[0].tag != tag.lower():
        return False
    for child in el.child_nodes:
        if child.node_type == Node.TEXT and _HAS_CONTENT_RE.search(child.data):  # type: ignore[attr-defined]
            return False
    return True


def is_element_without_content(el: Element) -> bool:
    """NodeUtility.cs:353-359 (single subtree pass instead of the
    reference's two descendant collections — same truth table)."""
    if el.node_type != Node.ELEMENT:
        return False
    if has_text(el):
        return False
    kids = el.children
    if not kids:
        return True
    # no text anywhere (checked above): equal counts ⇔ every element
    # child is br/hr AND no other descendant elements hide below them
    brhr = 0
    for d in el.iter_elements():
        if d.tag in ("br", "hr"):
            brhr += 1
    return len(kids) == brhr


def has_child_block_element(el: Element | None) -> bool:
    """NodeUtility.cs:366-379 — ANY descendant with a block tag."""
    if el is None:
        return False
    for d in el.iter_elements():
        if d.tag in DIV_TO_P_ELEMS:
            return True
    return False


def is_phrasing_content(node: Node) -> bool:
    """NodeUtility.cs:386-390."""
    if node.node_type == Node.TEXT:
        return True
    if node.node_type != Node.ELEMENT:
        return False
    tag = node.tag  # type: ignore[attr-defined]
    if tag in PHRASING_ELEMS:
        return True
    if tag in ("a", "del", "ins"):
        return all(is_phrasing_content(c) for c in node.child_nodes)  # type: ignore[attr-defined]
    return False


def is_whitespace(node: Node) -> bool:
    """NodeUtility.cs:392-396."""
    if node.node_type == Node.TEXT:
        return not node.data.strip()  # type: ignore[attr-defined]
    return node.node_type == Node.ELEMENT and node.tag == "br"  # type: ignore[attr-defined]


def get_char_count(el: Element, ch: str = ",") -> int:
    """NodeUtility.cs:420-435 — count of `ch` in normalized inner text."""
    return get_inner_text(el).count(ch)


def clean_styles(el: Element | None) -> None:
    """NodeUtility.cs:442-466 — strip presentational attrs; svg subtrees
    untouched. Iterative version of the reference's recursion."""
    if el is None or el.tag == "svg":
        return
    stack = [el]
    while stack:
        cur = stack.pop()
        if cur.tag == "svg":
            continue
        attrs = cur.attrs
        if attrs:
            strip = (_SIZED_STRIPPED if cur.tag in DEPRECATED_SIZE_ATTRIBUTE_ELEMS
                     else _STRIPPED)
            for name in [k for k in attrs if k in strip]:
                del attrs[name]
        stack.extend(cur.children)


def get_link_density(el: Element, links: list[Element] | None = None) -> float:
    """NodeUtility.cs:473-490. `links`: el's <a> descendants, when the
    caller's own subtree walk already collected them."""
    text_length = len(get_inner_text(el))
    if text_length == 0:
        return 0.0
    if links is None:
        links = el.get_elements_by_tag_name("a")
    link_length = 0.0
    for link in links:
        href = link.get_attribute("href")
        coefficient = 0.3 if (href and HASH_URL.match(href)) else 1.0
        link_length += len(get_inner_text(link)) * coefficient
    return link_length / text_length


def clean_matched_nodes(e: Element, filter_fn) -> int:
    """NodeUtility.cs:536-551 — walk e's subtree, removing nodes where
    filter_fn(node, className+' '+id) is true."""
    removed = 0
    end_marker = get_next_node(e, ignore_self_and_kids=True)
    nxt = get_next_node(e)
    while nxt is not None and nxt is not end_marker:
        if filter_fn(nxt, nxt.class_name + " " + nxt.id):
            nxt = remove_and_get_next(nxt)
            removed += 1
        else:
            nxt = get_next_node(nxt)
    return removed


def is_data_table(el: Element) -> bool:
    """SmartReader.cs:1690-1693 — reads the bookkeeping attribute."""
    v = el.get_attribute("datatable")
    return bool(v) and "true" in v


def get_row_and_column_count(table: Element) -> tuple[int, int]:
    """SmartReader.cs:1698-1728 — rowspan/colspan-aware (td cells only)."""
    rows = 0
    columns = 0
    for tr in table.get_elements_by_tag_name("tr"):
        rowspan = tr.get_attribute("rowspan")
        row_span_int = 0
        if rowspan:
            try:
                row_span_int = int(rowspan)
            except ValueError:
                row_span_int = 0
        rows += 1 if row_span_int == 0 else row_span_int
        columns_in_row = 0
        for cell in tr.get_elements_by_tag_name("td"):
            colspan = cell.get_attribute("colspan")
            col_span_int = 0
            if colspan:
                try:
                    col_span_int = int(colspan)
                except ValueError:
                    col_span_int = 0
            columns_in_row += 1 if col_span_int == 0 else col_span_int
        columns = max(columns, columns_in_row)
    return rows, columns


def get_element_ancestors(el: Element, max_depth: int = 0) -> list[Element]:
    """NodeUtility.cs:~560-575 (GetElementAncestors)."""
    ancestors: list[Element] = []
    i = 0
    node = el
    while node.parent is not None and node.parent.tag != "#document":
        ancestors.append(node.parent)
        i += 1
        if max_depth != 0 and i == max_depth:
            break
        node = node.parent
    return ancestors


def get_node_ancestors(el: Element, max_depth: int = 0) -> list[Element]:
    """NodeUtility.cs GetNodeAncestors — in our tree node parents are always
    elements (or the document root, which the reference also yields as an
    ancestor via INode.Parent up to IHtmlDocument; we stop at #document to
    mirror 'ParentElement is null' guards downstream)."""
    return get_element_ancestors(el, max_depth)


def has_ancestor_tag(node: Element, tag: str, max_depth: int = 3, filter_fn=None) -> bool:
    """SmartReader.cs:1673-1688 — maxDepth<=0 means unlimited."""
    depth = 0
    want = tag.lower()
    cur = node
    while cur.parent is not None and cur.parent.tag != "#document":
        if max_depth > 0 and depth > max_depth:
            return False
        parent = cur.parent
        if parent.tag == want and (filter_fn is None or filter_fn(parent)):
            return True
        cur = parent
        depth += 1
    return False


def get_all_nodes_with_tag(root: Element, tags) -> list[Element]:
    """NodeUtility.cs:198-201 (QuerySelectorAll over tag list), snapshot,
    document order."""
    return root.get_elements_by_tag_name(*tags)
