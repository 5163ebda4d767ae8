"""The extraction pipeline — grabArticle, PrepArticle, CleanConditionally,
post-processing and the retry flag sieve.

Parity: /root/reference/src/SmartReader/SmartReader.cs (per-method cites
inline). This is a from-scratch Python implementation over the dom.py tree;
per-node scores live on ``Element._score`` instead of the reference's
stringly-typed ``readability-score`` attribute (SmartReader.cs:881-905) but
replicate its accumulate-vs-overwrite semantics exactly.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field

from . import regexes as rx
from .dom import (
    Document,
    Element,
    Node,
    TextNode,
    get_inner_text,
    get_next_node,
    next_element,
    parse_fragment,
    parse_html,
    remove_and_get_next,
    safe_set_attribute,
    set_node_tag,
)
from .metadata import get_article_metadata, get_jsonld, try_parse_datetime
from .nodeutil import (
    TEXTISH_TAGS,
    clean_matched_nodes,
    clean_styles,
    get_char_count,
    get_element_ancestors,
    get_link_density,
    get_row_and_column_count,
    has_ancestor_tag,
    has_child_block_element,
    has_single_tag_inside_element,
    is_data_table,
    is_element_without_content,
    is_phrasing_content,
    is_probably_visible,
    is_whitespace,
    remove_scripts,
    unwrap_noscript_images,
)
from .regexes import COMMAS, DEFAULT_REGEXES, SENTENCE_DOT
from .textkit import text_similarity
from .urikit import PageUri, to_absolute_uri

# Flags.cs:6-20
FLAG_STRIP_UNLIKELYS = 0x1
FLAG_WEIGHT_CLASSES = 0x2
FLAG_CLEAN_CONDITIONALLY = 0x4

# SmartReader.cs:130 TagsToScore
TAGS_TO_SCORE = frozenset(["h2", "h3", "h4", "h5", "h6", "p", "pre", "section", "td"])

# SmartReader.cs:210
ALTER_TO_DIV_EXCEPTIONS = frozenset(["article", "div", "p", "section", "ol", "ul"])

# SmartReader.cs:212
UNLIKELY_ROLES = frozenset(
    ["menu", "menubar", "complementary", "navigation", "alert", "alertdialog", "dialog"]
)

_H1_H6 = ("h1", "h2", "h3", "h4", "h5", "h6")


@dataclass
class Options:
    """Reader options — SmartReader.cs:59-170 defaults."""

    max_elems_to_parse: int = 0
    n_top_candidates: int = 5
    char_threshold: int = 500
    ancestors_depth: int = 5
    paragraph_threshold: int = 25
    classes_to_preserve: tuple = ("page",)
    keep_classes: bool = False
    disable_jsonld: bool = False
    continue_if_not_readable: bool = True
    min_content_length_readerable: int = 140
    min_score_readerable: float = 20.0
    link_density_modifier: float = 0.0
    pre_clean_page: bool = False
    regexes: object = field(default_factory=lambda: DEFAULT_REGEXES)
    # extensibility surface (SmartReader.cs:373-435): callables taking the
    # document element / article element. Kernel-level API; when running
    # under Spark pass them via a custom agentless closure, not the
    # serialized options dict.
    custom_operations_start: tuple = ()
    custom_operations_end: tuple = ()
    # Article's pluggable function registry (Article.cs:73-117): each hook
    # defaults to None = the reference's default behavior. Under Spark
    # these ship inside the options closure (module-level callables only,
    # so they pickle to executors — see kernel/langid.py for ready-made
    # language identifiers).
    language_identification: object = None  # (text, lang|None) -> lang|None
    create_summary: object = None  # (text, excerpt|None) -> excerpt|None
    serializer: object = None  # (article Element) -> list[span dict]
    converter: object = None  # (article Element) -> plaintext str


@dataclass
class ExtractionResult:
    content: Element | None  # article content element (None = not found)
    title: str = ""
    byline: str | None = None
    dir: str | None = None
    language: str | None = None
    author: str | None = None
    site_name: str | None = None
    excerpt: str | None = None
    publication_date: object = None
    featured_image: str | None = None
    alternative_language_uris: dict = field(default_factory=dict)
    is_readable: bool = False
    error: str | None = None
    metrics: dict = field(default_factory=dict)


def _get_score(el: Element) -> float:
    return el._score if el._score is not None else 0.0


def _set_score(el: Element, score: float) -> None:
    el._score = score


def _add_to_score(el: Element, score: float) -> None:
    """SmartReader.cs:881-893 — adds only when current > 0, else overwrites."""
    current = _get_score(el)
    if current > 0.0:
        el._score = current + score
    else:
        el._score = score


class Extractor:
    """One extraction session (the reference's Reader, SmartReader.cs:25-56)."""

    def __init__(self, uri: str, html: str, options: Options | None = None,
                 language: str | None = None):
        self.options = options or Options()
        self.uri = PageUri(uri)
        if self.options.pre_clean_page:
            # SmartReader.cs:247-257
            html = rx.PRE_CLEAN.sub("", html)
        self.raw_html = html
        self.doc: Document = parse_html(html)
        self.language = language  # header Content-Language hint
        self.article_byline: str | None = None
        self.article_dir: str | None = None
        self.author: str | None = None
        self.article_title: str = ""
        self.flags = FLAG_STRIP_UNLIKELYS | FLAG_WEIGHT_CLASSES | FLAG_CLEAN_CONDITIONALLY
        self.attempts: list[tuple[Element, int]] = []
        self.metrics = {"candidates_scored": 0, "nodes_stripped": 0, "chars_retained": 0}

    # ------------------------------------------------------------------
    def flag_active(self, flag: int) -> bool:
        return (self.flags & flag) > 0

    def remove_flag(self, flag: int) -> None:
        self.flags &= ~flag

    # ------------------------------------------------------------------
    def get_class_weight(self, e: Element) -> int:
        """SmartReader.cs:1595-1623."""
        if not self.flag_active(FLAG_WEIGHT_CLASSES):
            return 0
        weight = 0
        regexes = self.options.regexes
        cls = e.class_name
        if cls:
            if regexes.negative.search(cls):
                weight -= 25
            if regexes.positive.search(cls):
                weight += 25
        eid = e.id
        if eid:
            if regexes.negative.search(eid):
                weight -= 25
            if regexes.positive.search(eid):
                weight += 25
        return weight

    def initialize_node(self, node: Element) -> None:
        """SmartReader.cs:840-879."""
        _set_score(node, 0.0)
        tag = node.tag
        if tag == "div":
            _add_to_score(node, 5)
        elif tag in ("pre", "td", "blockquote"):
            _add_to_score(node, 3)
        elif tag in ("address", "ol", "ul", "dl", "dd", "dt", "li", "form"):
            _add_to_score(node, -3)
        elif tag in ("h1", "h2", "h3", "h4", "h5", "h6", "th"):
            _add_to_score(node, -5)
        _add_to_score(node, self.get_class_weight(node))

    # ------------------------------------------------------------------
    def check_byline(self, node: Element, match_string: str) -> bool:
        """SmartReader.cs:913-981."""
        if self.article_byline:
            return False
        rel = node.get_attribute("rel") or None
        itemprop = node.get_attribute("itemprop") or None
        # cheap attribute/regex gates first; the reference computes the
        # text length up front (SmartReader.cs:921) but the conjunction is
        # commutative — computing it lazily skips a subtree text scan on
        # every non-matching node (the common case)
        if (
            rel == "author"
            or (itemprop and "author" in itemprop)
            or self.options.regexes.byline.search(match_string)
        ) and 0 < len(node.text_content.strip()) < 100:
            if rel == "author":
                self.author = node.text_content.strip()
            else:
                for d in node.iter_elements():
                    if d.get_attribute("rel") == "author":
                        self.author = d.text_content.strip()
                        break

            # prefer a descendant with itemprop containing "name"
            item_prop_name_node = None
            end_marker = get_next_node(node, ignore_self_and_kids=True)
            nxt = get_next_node(node)
            while nxt is not None and nxt is not end_marker:
                ip = nxt.get_attribute("itemprop")
                if ip is not None and "name" in ip:
                    item_prop_name_node = nxt
                    break
                nxt = get_next_node(nxt)

            if item_prop_name_node is not None and item_prop_name_node.text_content.strip():
                self.article_byline = item_prop_name_node.text_content.strip()
            elif node.text_content.strip():
                self.article_byline = node.text_content.strip()

            if self.article_byline is not None:
                b = self.article_byline
                if b.startswith("by"):
                    b = b[2:]
                self.article_byline = re.sub(r"{{.*?}}", "", b).strip()
            return True
        return False

    def header_duplicates_title(self, node: Element) -> bool:
        """SmartReader.cs:2179-2190."""
        if node.tag not in ("h1", "h2"):
            return False
        heading = get_inner_text(node, normalize_spaces=False)
        return text_similarity(self.article_title, heading) > 0.75

    # ------------------------------------------------------------------
    # Document prep
    # ------------------------------------------------------------------
    def prep_document(self) -> None:
        """SmartReader.cs:654-665."""
        for style in self.doc.elements_by_tag("style"):
            style.remove()
        body = self.doc.body
        if body is not None:
            self.replace_brs(body)
        for font in self.doc.elements_by_tag("font"):
            set_node_tag(font, "span")

    def replace_brs(self, elem: Element) -> None:
        """SmartReader.cs:674-731. `elem` is the document's body: its <br>s
        come from the document's tag index."""
        for br in self.doc.elements_by_tag("br"):
            if br.parent is None or not br.has_ancestor(elem):
                continue
            nxt = br.next_sibling
            replaced = False
            # remove the rest of a <br> chain (whitespace-transparent)
            while True:
                nxt = next_element(nxt)
                if nxt is not None and nxt.tag == "br":
                    replaced = True
                    br_sibling = nxt.next_sibling
                    nxt.remove()
                    nxt = br_sibling
                else:
                    break
            if replaced:
                p = Element("p")
                br.replace_with(p)
                nxt = p.next_sibling
                while nxt is not None:
                    if nxt.node_type == Node.ELEMENT and nxt.tag == "br":
                        next_elem = next_element(nxt.next_sibling)
                        if next_elem is not None and next_elem.tag == "br":
                            break
                    if not is_phrasing_content(nxt):
                        break
                    sibling = nxt.next_sibling
                    p.append_child(nxt)
                    nxt = sibling
                while p.child_nodes and is_whitespace(p.child_nodes[-1]):
                    p.child_nodes[-1].remove()
                if p.parent is not None and p.parent.tag == "p":
                    set_node_tag(p.parent, "div")

    # ------------------------------------------------------------------
    # grabArticle (SmartReader.cs:990-1589)
    # ------------------------------------------------------------------
    def _rebuild_body(self) -> Element | None:
        """Reconstruct the body exactly as it was at grab start by
        re-parsing the raw HTML and re-running the (deterministic)
        pre-grab passes. Replaces the reference's eager InnerHtml
        snapshot (SmartReader.cs:1017-1020) — only ~10% of documents
        ever retry, so serializing every document up front is wasted
        work for the other 90%.

        custom_operations_start runs at most ONCE more than the
        reference's exactly-once: the first rebuild snapshots its
        post-op serialized form, and later retries (up to 2 more flag
        sieves) re-parse that snapshot instead of re-running user ops —
        a non-idempotent op therefore executes at most twice, never 4x."""
        snapshot = getattr(self, "_rebuild_snapshot", None)
        doc = parse_html(snapshot if snapshot is not None else self.raw_html)
        if snapshot is None:
            for op in self.options.custom_operations_start:
                op(doc.document_element)
            if self.options.custom_operations_start:
                self._rebuild_snapshot = doc.document_element.outer_html
        unwrap_noscript_images(doc)
        remove_scripts(doc)
        saved = self.doc
        self.doc = doc
        try:
            self.prep_document()
        finally:
            self.doc = saved
        return doc.body

    def grab_article(self) -> Element | None:
        doc = self.doc
        page = doc.body
        if page is None:
            return None
        opts = self.options
        regexes = opts.regexes

        while True:
            strip_unlikely = self.flag_active(FLAG_STRIP_UNLIKELYS)

            elements_to_score: list[Element] = []
            node: Element | None = doc.document_element
            should_remove_title_header = True

            while node is not None:
                match_string = node.class_name + " " + node.id

                if not is_probably_visible(node):
                    node = remove_and_get_next(node)
                    self.metrics["nodes_stripped"] += 1
                    continue

                if (
                    node.get_attribute("aria-modal") == "true"
                    and node.get_attribute("role") == "dialog"
                ):
                    node = remove_and_get_next(node)
                    self.metrics["nodes_stripped"] += 1
                    continue

                if not self.article_byline and self.check_byline(node, match_string):
                    node = remove_and_get_next(node)
                    continue

                if should_remove_title_header and self.header_duplicates_title(node):
                    should_remove_title_header = False
                    node = remove_and_get_next(node)
                    self.metrics["nodes_stripped"] += 1
                    continue

                if strip_unlikely:
                    if (
                        regexes.unlikely_candidates.search(match_string)
                        and not regexes.ok_maybe_its_a_candidate.search(match_string)
                        and not has_ancestor_tag(node, "table")
                        and not has_ancestor_tag(node, "code")
                        and node.tag not in ("body", "a")
                    ):
                        node = remove_and_get_next(node)
                        self.metrics["nodes_stripped"] += 1
                        continue

                if (node.get_attribute("role") or "") in UNLIKELY_ROLES:
                    node = remove_and_get_next(node)
                    self.metrics["nodes_stripped"] += 1
                    continue

                if node.tag in (
                    "div", "section", "header", "h1", "h2", "h3", "h4", "h5", "h6",
                ) and is_element_without_content(node):
                    node = remove_and_get_next(node)
                    self.metrics["nodes_stripped"] += 1
                    continue

                if node.tag in TAGS_TO_SCORE:
                    elements_to_score.append(node)

                if node.tag == "p":
                    kids = node.child_nodes
                    if len(kids) == 0:
                        node = remove_and_get_next(node)
                        continue
                    if len(kids) == 1 and kids[0].node_type == Node.TEXT:
                        raw_text = kids[0].data  # type: ignore[attr-defined]
                        # (with convert_charrefs the literal '&nbsp;' never
                        # appears; \xa0-only is the decoded equivalent the
                        # reference matches pre-decode)
                        if not raw_text or raw_text.lower() == "&nbsp;" or raw_text == "\xa0":
                            node = remove_and_get_next(node)
                            continue

                if node.tag == "div":
                    # wrap phrasing runs into <p> (SmartReader.cs:1146-1187)
                    child_node: Node | None = node.child_nodes[0] if node.child_nodes else None
                    while child_node is not None:
                        next_sibling = child_node.next_sibling
                        if is_phrasing_content(child_node):
                            # collect the run into a detached fragment, like
                            # the reference's CreateDocumentFragment
                            # (SmartReader.cs:1152-1182): trimmed whitespace
                            # nodes leave the tree entirely
                            run: list[Node] = []
                            cn: Node | None = child_node
                            while cn is not None and is_phrasing_content(cn):
                                next_sibling = cn.next_sibling
                                cn.detach()
                                run.append(cn)
                                cn = next_sibling
                            while run and is_whitespace(run[0]):
                                run.pop(0)
                            while run and is_whitespace(run[-1]):
                                run.pop()
                            if run:
                                p = Element("p")
                                for item in run:
                                    p.append_child(item)
                                node.insert_before(p, next_sibling)
                        child_node = next_sibling

                    if (
                        has_single_tag_inside_element(node, "p")
                        and get_link_density(node) < 0.25
                    ):
                        new_node = node.children[0]
                        # AngleSharp null-string concat: "" when absent
                        merged = (new_node.attrs.get("class") or "") + " " + (
                            node.attrs.get("class") or ""
                        )
                        new_node.attrs["class"] = merged
                        node.replace_with(new_node)
                        node = new_node
                        elements_to_score.append(node)
                    elif not has_child_block_element(node):
                        node = set_node_tag(node, "p")
                        elements_to_score.append(node)

                node = get_next_node(node)

            # ---- scoring (SmartReader.cs:1218-1276) ----
            candidates: list[Element] = []
            for element_to_score in elements_to_score:
                if element_to_score.parent is None:
                    continue
                inner_text = get_inner_text(element_to_score)
                if len(inner_text) < opts.paragraph_threshold:
                    continue
                ancestors = get_element_ancestors(element_to_score, opts.ancestors_depth)
                if not ancestors:
                    continue

                content_score = 1.0
                content_score += len(COMMAS.split(inner_text))
                content_score += min(math.floor(len(inner_text) / 100.0), 3)
                self.metrics["candidates_scored"] += 1

                for level, ancestor in enumerate(ancestors):
                    if (
                        not ancestor.tag
                        or ancestor.parent is None
                        or ancestor.parent.tag == "#document"
                        or not ancestor.parent.tag
                    ):
                        continue
                    if _get_score(ancestor) == 0.0:
                        self.initialize_node(ancestor)
                        candidates.append(ancestor)
                    if level == 0:
                        divider = 1
                    elif level == 1:
                        divider = 2
                    else:
                        divider = level * 3
                    _add_to_score(ancestor, content_score / divider)

            # ---- top-candidate selection (SmartReader.cs:1280-1307) ----
            top_candidates: list[Element] = []
            for candidate in candidates:
                candidate_score = _get_score(candidate) * (1 - get_link_density(candidate))
                _set_score(candidate, candidate_score)
                for t in range(opts.n_top_candidates):
                    a_top = top_candidates[t] if t < len(top_candidates) else None
                    if a_top is None or candidate_score > _get_score(a_top):
                        top_candidates.insert(t, candidate)
                        if len(top_candidates) > opts.n_top_candidates:
                            top_candidates.pop()
                        break

            top_candidate = top_candidates[0] if top_candidates else None
            needed_to_create_top_candidate = False
            parent_of_top: Element | None = None

            if top_candidate is None or top_candidate.tag == "body":
                # body fallback (SmartReader.cs:1311-1328)
                top_candidate = Element("div")
                needed_to_create_top_candidate = True
                for child in list(page.child_nodes):
                    top_candidate.append_child(child)
                page.append_child(top_candidate)
                self.initialize_node(top_candidate)
            else:
                # common-ancestor vote (SmartReader.cs:1334-1360)
                alternative_ancestors: list[list[Element]] = []
                top_score = _get_score(top_candidate)
                for i in range(1, len(top_candidates)):
                    if top_score != 0 and _get_score(top_candidates[i]) / top_score >= 0.75:
                        alternative_ancestors.append(get_element_ancestors(top_candidates[i]))
                MINIMUM_TOPCANDIDATES = 3
                if len(alternative_ancestors) >= MINIMUM_TOPCANDIDATES:
                    parent_of_top = top_candidate.parent
                    while parent_of_top is not None and parent_of_top.tag != "body":
                        lists_containing = 0
                        for anc_list in alternative_ancestors:
                            if parent_of_top in anc_list:
                                lists_containing += 1
                                if lists_containing >= MINIMUM_TOPCANDIDATES:
                                    break
                        if lists_containing >= MINIMUM_TOPCANDIDATES:
                            top_candidate = parent_of_top
                            break
                        parent_of_top = parent_of_top.parent

                if _get_score(top_candidate) == 0.0:
                    self.initialize_node(top_candidate)

                # parent climb (SmartReader.cs:1374-1399)
                parent_of_top = top_candidate.parent
                last_score = _get_score(top_candidate)
                score_threshold = last_score / 3
                while parent_of_top is not None and parent_of_top.tag != "body":
                    if _get_score(parent_of_top) == 0.0:
                        parent_of_top = parent_of_top.parent
                        continue
                    parent_score = _get_score(parent_of_top)
                    if parent_score < score_threshold:
                        break
                    if parent_score > last_score:
                        top_candidate = parent_of_top
                        break
                    last_score = parent_score
                    parent_of_top = parent_of_top.parent

                # single-child climb (SmartReader.cs:1403-1408)
                parent_of_top = top_candidate.parent
                while (
                    parent_of_top is not None
                    and parent_of_top.tag != "body"
                    and len(parent_of_top.children) == 1
                ):
                    top_candidate = parent_of_top
                    parent_of_top = top_candidate.parent

                if _get_score(top_candidate) == 0.0:
                    self.initialize_node(top_candidate)

            # ---- sibling merge (SmartReader.cs:1412-1489) ----
            article_content = Element("div")
            sibling_score_threshold = max(10.0, _get_score(top_candidate) * 0.2)
            parent_of_top = top_candidate.parent
            assert parent_of_top is not None
            siblings = parent_of_top.children
            s = 0
            sl = len(siblings)
            while s < sl:
                sibling = siblings[s]
                append = False
                if sibling is top_candidate:
                    append = True
                else:
                    content_bonus = 0.0
                    if (
                        sibling.class_name == top_candidate.class_name
                        and top_candidate.class_name != ""
                    ):
                        content_bonus += _get_score(top_candidate) * 0.2
                    if (
                        _get_score(sibling) > 0
                        and _get_score(sibling) + content_bonus >= sibling_score_threshold
                    ):
                        append = True
                    elif sibling.tag == "p":
                        link_density = get_link_density(sibling)
                        node_content = get_inner_text(sibling)
                        node_length = len(node_content)
                        if node_length > 80 and link_density < 0.25:
                            append = True
                        elif (
                            0 < node_length < 80
                            and link_density == 0
                            and SENTENCE_DOT.search(node_content)
                        ):
                            append = True

                if append:
                    if sibling.tag not in ALTER_TO_DIV_EXCEPTIONS:
                        sibling = set_node_tag(sibling, "div")
                    article_content.append_child(sibling)
                    siblings = parent_of_top.children
                    s -= 1
                    sl -= 1
                s += 1

            # ---- PrepArticle (SmartReader.cs:753-834) ----
            self.prep_article(article_content)

            if needed_to_create_top_candidate:
                top_candidate.attrs["id"] = "readability-page-1"
                top_candidate.attrs["class"] = "page"
            else:
                div = Element("div")
                div.attrs["id"] = "readability-page-1"
                div.attrs["class"] = "page"
                for child in list(article_content.child_nodes):
                    div.append_child(child)
                article_content.append_child(div)

            parse_successful = True

            text_length = len(get_inner_text(article_content, normalize_spaces=True))
            if text_length < opts.char_threshold:
                parse_successful = False
                page.text_content = ""
                self.attempts.append((article_content, text_length))
                flag = next((f for f in (FLAG_STRIP_UNLIKELYS, FLAG_WEIGHT_CLASSES,
                                         FLAG_CLEAN_CONDITIONALLY)
                             if self.flag_active(f)), None)
                if flag is not None:
                    # restore the body (fresh rebuild) and retry with fewer
                    # flags; after the last attempt nothing reads the body
                    # again (the clear above detached every attempt from
                    # it), so there it is not rebuilt
                    restored = self._rebuild_body()
                    if restored is not None:
                        for c in list(restored.child_nodes):
                            page.append_child(c)
                    self.remove_flag(flag)
                else:
                    self.attempts.sort(key=lambda a: a[1], reverse=True)
                    article_content = self.attempts[0][0]
                    parse_successful = True

            if parse_successful:
                # text direction (SmartReader.cs:1571-1584)
                ancestors = [parent_of_top, top_candidate]
                if parent_of_top is not None:
                    ancestors += get_element_ancestors(parent_of_top)
                for ancestor in ancestors:
                    if ancestor is None or not ancestor.tag:
                        continue
                    d = ancestor.get_attribute("dir")
                    if d:
                        self.article_dir = d
                        break
                return article_content

    # ------------------------------------------------------------------
    # PrepArticle + conditional cleaning
    # ------------------------------------------------------------------
    def prep_article(self, article_content: Element) -> None:
        """SmartReader.cs:753-834 — order is semantic."""
        opts = self.options
        clean_styles(article_content)

        self.mark_data_tables(article_content)
        self.fix_lazy_images(article_content)

        self.clean_conditionally(article_content, "form")
        self.clean_conditionally(article_content, "fieldset")
        self.clean(article_content, "object")
        self.clean(article_content, "embed")
        self.clean(article_content, "footer")
        self.clean(article_content, "link")
        self.clean(article_content, "aside")

        share_element_threshold = opts.char_threshold
        regexes = opts.regexes
        for top_child in list(article_content.children):
            self.metrics["nodes_stripped"] += clean_matched_nodes(
                top_child,
                lambda node, match_string: bool(
                    regexes.share_elements.search(match_string)
                )
                and len(node.text_content) < share_element_threshold,
            )

        self.clean(article_content, "iframe")
        self.clean(article_content, "input")
        self.clean(article_content, "textarea")
        self.clean(article_content, "select")
        self.clean(article_content, "button")
        self.clean_headers(article_content)

        self.clean_conditionally(article_content, "table")
        self.clean_conditionally(article_content, "ul")
        self.clean_conditionally(article_content, "div")

        for h1 in article_content.elements_by_tag("h1"):
            set_node_tag(h1, "h2")

        # drop empty paragraphs (SmartReader.cs:802-810)
        for paragraph in reversed(article_content.elements_by_tag("p")):
            if paragraph.parent is None:
                continue
            # the (usually cached) text test first: most paragraphs have
            # text, and then their subtree need not be walked
            if not get_inner_text(paragraph, normalize_spaces=False) and not (
                paragraph.get_elements_by_tag_name("img", "embed", "object", "iframe")
            ):
                paragraph.remove()
                self.metrics["nodes_stripped"] += 1

        # <br> before <p> (SmartReader.cs:812-817)
        for br in article_content.elements_by_tag("br"):
            if br.parent is None:
                continue
            nxt = next_element(br.next_sibling)
            if nxt is not None and nxt.tag == "p":
                br.remove()

        # single-cell tables (SmartReader.cs:820-833)
        for table_el in article_content.elements_by_tag("table"):
            if table_el.parent is None:
                continue
            tbody = (
                table_el.first_element_child
                if has_single_tag_inside_element(table_el, "tbody")
                else table_el
            )
            if tbody is not None and has_single_tag_inside_element(tbody, "tr"):
                row = tbody.first_element_child
                if row is not None and has_single_tag_inside_element(row, "td"):
                    cell = row.first_element_child
                    assert cell is not None
                    new_tag = (
                        "p"
                        if all(is_phrasing_content(c) for c in cell.child_nodes)
                        else "div"
                    )
                    cell = set_node_tag(cell, new_tag)
                    table_el.replace_with(cell)

    def clean(self, e: Element, tag: str) -> None:
        """Clean() — SmartReader.cs:1631-1663."""
        is_embed = tag in ("object", "embed", "iframe")
        videos = self.options.regexes.videos
        for element in reversed(e.elements_by_tag(tag)):
            if element.parent is None:
                continue
            if is_embed:
                if any(videos.search(v) for v in element.attrs.values()):
                    continue
                if element.tag == "object" and videos.search(element.inner_html):
                    continue
            element.remove()
            self.metrics["nodes_stripped"] += 1

    def clean_headers(self, e: Element) -> None:
        """SmartReader.cs:2156-2169."""
        for node in reversed(e.elements_by_tag("h1", "h2")):
            if node.parent is None:
                continue
            if self.get_class_weight(node) < 0:
                node.remove()
                self.metrics["nodes_stripped"] += 1

    def mark_data_tables(self, root: Element) -> None:
        """SmartReader.cs:1737-1808."""
        for table in root.elements_by_tag("table"):
            if table.get_attribute("role") == "presentation":
                table.set_attribute("datatable", "false")
                continue
            if table.get_attribute("datatable") == "0":
                table.set_attribute("datatable", "false")
                continue
            if table.get_attribute("summary"):
                table.set_attribute("datatable", "true")
                continue
            captions = table.get_elements_by_tag_name("caption")
            if captions and len(captions[0].child_nodes) > 0:
                table.set_attribute("datatable", "true")
                continue
            if any(
                table.get_elements_by_tag_name(t)
                for t in ("col", "colgroup", "tfoot", "thead", "th")
            ):
                table.set_attribute("datatable", "true")
                continue
            if table.get_elements_by_tag_name("table"):
                table.set_attribute("datatable", "false")
                continue
            rows, columns = get_row_and_column_count(table)
            if columns == 1 or rows == 1:
                table.set_attribute("datatable", "false")
                continue
            if rows >= 10 or columns > 4:
                table.set_attribute("datatable", "true")
                continue
            if rows * columns > 10:
                table.set_attribute("datatable", "true")

    def fix_lazy_images(self, root: Element) -> None:
        """SmartReader.cs:1813-1906."""
        for elem in root.elements_by_tag("img", "picture", "figure"):
            src = elem.get_attribute("src")
            if src is not None:
                parts = rx.B64_DATA_URL.match(src)
                if parts:
                    if parts.group(1) == "image/svg+xml":
                        continue
                    src_could_be_removed = False
                    for name, value in elem.attrs.items():
                        if name == "src":
                            continue
                        if rx.IMG_EXT_ANYWHERE.search(value):
                            src_could_be_removed = True
                            break
                    if src_could_be_removed:
                        b64_starts = len(parts.group(0))
                        b64_length = len(src) - b64_starts
                        if b64_length < 133:
                            elem.remove_attribute("src")

            src = elem.get_attribute("src")
            srcset = elem.get_attribute("srcset")
            cls = elem.class_name
            # C# quirk: only skips when className is NON-EMPTY and lacks
            # 'lazy' (SmartReader.cs:1862-1866)
            if (src or srcset) and (cls and "lazy" not in cls.lower()):
                continue

            for name, value in list(elem.attrs.items()):
                if name in ("src", "srcset", "alt"):
                    continue
                copy_to = None
                if rx.SRCSET_CANDIDATE.search(value):
                    copy_to = "srcset"
                elif rx.IMG_EXT_CANDIDATE.match(value):
                    copy_to = "src"
                if copy_to:
                    if elem.tag in ("img", "picture"):
                        elem.set_attribute(copy_to, value)
                    elif elem.tag == "figure" and not elem.get_elements_by_tag_name(
                        "img", "picture"
                    ):
                        img = Element("img")
                        img.set_attribute(copy_to, value)
                        elem.append_child(img)

    def get_text_density(self, e: Element, children: list[Element]) -> float:
        """SmartReader.cs:1911-1927, over `e`'s descendants of the tags asked
        (collected by the caller's subtree walk)."""
        text_length = len(get_inner_text(e, normalize_spaces=True))
        if text_length == 0:
            return 0.0
        children_length = 0
        for child in children:
            children_length += len(get_inner_text(child, normalize_spaces=True))
        return children_length / text_length

    def clean_conditionally(self, e: Element, tag: str) -> None:
        """SmartReader.cs:1933-2151."""
        if not self.flag_active(FLAG_CLEAN_CONDITIONALLY):
            return
        videos = self.options.regexes.videos
        for node in reversed(e.elements_by_tag(tag)):
            if node.parent is None:
                continue
            if self._should_remove_conditionally(node, tag, videos):
                node.remove()
                self.metrics["nodes_stripped"] += 1

    def _should_remove_conditionally(self, node: Element, tag: str, videos) -> bool:
        # every check is pure, so the ancestor checks run before the one
        # subtree walk that collects what the descendant checks read
        if tag == "table" and is_data_table(node):
            return False
        if has_ancestor_tag(node, "table", -1, is_data_table):
            return False
        if has_ancestor_tag(node, "code"):
            return False

        p = 0.0
        img = 0.0
        li = -100.0
        inp = 0.0
        lists: list[Element] = []
        links: list[Element] = []
        headings: list[Element] = []
        textish: list[Element] = []
        embeds: list[Element] = []
        for el in node.iter_elements():
            t = el.tag
            if t in TEXTISH_TAGS:
                textish.append(el)
                if t == "p":
                    p += 1
                elif t == "img":
                    img += 1
                elif t == "li":
                    li += 1
                elif t == "ul" or t == "ol":
                    lists.append(el)
                elif t == "table" and is_data_table(el):
                    return False
            elif t == "a":
                links.append(el)
            elif t in _H1_H6:
                headings.append(el)
            elif t == "input":
                inp += 1
            elif t in ("object", "embed", "iframe"):
                embeds.append(el)

        is_list = tag in ("ul", "ol")
        if not is_list:
            total = len(get_inner_text(node))
            if total > 0:
                list_length = 0
                for lst in lists:
                    list_length += len(get_inner_text(lst))
                # C# integer division quirk (SmartReader.cs:1956):
                # listLength / textLen > 0.9 with int operands
                is_list = (list_length // total) > 0.9

        weight = self.get_class_weight(node)
        if weight < 0:
            return True

        if get_char_count(node, ",") < 10:
            heading_density = self.get_text_density(node, headings)

            embed_count = 0
            for emb in embeds:
                if any(videos.search(v) for v in emb.attrs.values()):
                    return False
                if emb.tag == "object" and videos.search(emb.inner_html):
                    return False
                embed_count += 1

            inner_text = get_inner_text(node)
            if rx.AD_WORDS.match(inner_text) or rx.LOADING_WORDS.match(inner_text):
                return True

            link_density = get_link_density(node, links)
            content_length = len(inner_text)
            text_density = self.get_text_density(node, textish)
            is_figure_child = has_ancestor_tag(node, "figure")
            ldm = self.options.link_density_modifier

            have_to_remove = (
                (not is_figure_child and img > 1 and p / img < 0.5)
                or (not is_list and li > p)
                or (inp > math.floor(p / 3))
                or (
                    not is_list
                    and not is_figure_child
                    and heading_density < 0.9
                    and content_length < 25
                    and (img == 0 or img > 2)
                    and link_density > 0
                )
                or (not is_list and weight < 25 and link_density > 0.2 + ldm)
                or (weight >= 25 and link_density > 0.5 + ldm)
                or ((embed_count == 1 and content_length < 75) or embed_count > 1)
                or (img == 0 and text_density == 0)
            )

            # image-list rescue (SmartReader.cs:2128-2145)
            if is_list and have_to_remove:
                for child in node.children:
                    if len(child.children) > 1:
                        return have_to_remove
                # li counted up from -100: li + 100 is the <li> count
                if img == li + 100:
                    return False

            return have_to_remove
        return False

    # ------------------------------------------------------------------
    # Post-processing (PostProcessContent, SmartReader.cs:628-645)
    # ------------------------------------------------------------------
    def post_process_content(self, article_content: Element) -> None:
        self.fix_relative_uris(article_content)
        self.simplify_nested_elements(article_content)
        if not self.options.keep_classes:
            self.clean_classes(article_content)
        self._clean_reader_attributes(article_content, "datatable")

    def fix_relative_uris(self, article_content: Element) -> None:
        """Readability.cs:83-154."""
        uri = self.uri
        for link in article_content.get_elements_by_tag_name("a"):
            href = link.get_attribute("href")
            if href and href.strip():
                if href.lower().startswith("javascript:"):
                    if (
                        len(link.child_nodes) == 1
                        and link.child_nodes[0].node_type == Node.TEXT
                    ):
                        text = TextNode(link.text_content)
                        link.replace_with(text)
                    else:
                        container = Element("span")
                        for child in list(link.child_nodes):
                            container.append_child(child)
                        link.replace_with(container)
                else:
                    link.set_attribute("href", to_absolute_uri(uri, href))

        for media in article_content.get_elements_by_tag_name(
            "img", "picture", "figure", "video", "audio", "source"
        ):
            src = media.get_attribute("src")
            if src is not None:
                media.set_attribute("src", to_absolute_uri(uri, src))
            poster = media.get_attribute("poster")
            if poster is not None:
                media.set_attribute("poster", to_absolute_uri(uri, poster))
            srcset = media.get_attribute("srcset")
            if srcset is not None:
                def _abs(m: re.Match) -> str:
                    return (
                        to_absolute_uri(uri, m.group(1))
                        + (m.group(2) or "")
                        + m.group(3)
                    )
                media.set_attribute("srcset", rx.SRCSET_URL.sub(_abs, srcset))

    def simplify_nested_elements(self, article_content: Element) -> None:
        """Readability.cs:188-219."""
        node: Element | None = article_content
        while node is not None:
            if (
                node.parent is not None
                and node.tag in ("div", "section")
                and not (node.id or "").startswith("readability")
            ):
                if is_element_without_content(node):
                    node = remove_and_get_next(node)
                    continue
                if has_single_tag_inside_element(node, "div") or has_single_tag_inside_element(
                    node, "section"
                ):
                    child = node.children[0]
                    for name, value in node.attrs.items():
                        safe_set_attribute(child, name, value)
                    node.replace_with(child)
                    node = child
                    continue
            node = get_next_node(node)

    def clean_classes(self, node: Element) -> None:
        """Readability.cs:50-74 (iterative)."""
        preserve = set(self.options.classes_to_preserve)
        stack = [node]
        while stack:
            cur = stack.pop()
            cls = cur.attrs.get("class")
            if cls:
                kept = " ".join(x for x in cls.split(" ") if x and x in preserve)
            else:
                kept = ""
            if kept:
                cur.attrs["class"] = kept
            else:
                cur.attrs.pop("class", None)
            stack.extend(cur.children)

    def _clean_reader_attributes(self, node: Element, attribute: str) -> None:
        """SmartReader.cs:736-747."""
        stack = [node]
        while stack:
            cur = stack.pop()
            if cur.attrs.get(attribute):
                cur.attrs.pop(attribute, None)
            stack.extend(cur.children)

    # ------------------------------------------------------------------
    # IsProbablyReaderable (SmartReader.cs:2206-2267)
    # ------------------------------------------------------------------
    def is_probably_readerable(self) -> bool:
        opts = self.options
        regexes = opts.regexes
        nodes = self.doc.elements_by_tag("p", "pre", "article")
        # div > br parents, insertion-ordered unique
        br_parents: dict[int, Element] = {}
        for br in self.doc.elements_by_tag("br"):
            par = br.parent
            if par is not None and par.tag == "div":
                br_parents.setdefault(id(par), par)
        total_nodes = nodes + list(br_parents.values())

        min_len = opts.min_content_length_readerable
        score = 0.0
        for node in total_nodes:
            if not is_probably_visible(node):
                continue
            match_string = node.class_name + " " + node.id
            if regexes.unlikely_candidates.search(match_string) and not (
                regexes.ok_maybe_its_a_candidate.search(match_string)
            ):
                continue
            # node.Matches("li p"): a <p> with an <li> ancestor
            if node.tag == "p" and has_ancestor_tag(node, "li", -1):
                continue
            text_content_length = len(node.text_content.strip())
            if text_content_length < min_len:
                continue
            score += math.sqrt(text_content_length - min_len)
            if score > opts.min_score_readerable:
                return True
        return False

    # ------------------------------------------------------------------
    # Parse orchestration (SmartReader.cs:2275-2363)
    # ------------------------------------------------------------------
    def parse(self) -> ExtractionResult:
        opts = self.options
        if opts.max_elems_to_parse > 0:
            num_tags = len(self.doc.get_elements_by_tag_name("*"))
            if num_tags > opts.max_elems_to_parse:
                return ExtractionResult(
                    content=None,
                    error=f"Aborting parsing document; {num_tags} elements found",
                )

        is_readable = self.is_probably_readerable()
        if not is_readable and not opts.continue_if_not_readable:
            return ExtractionResult(content=None, title=self.article_title,
                                    is_readable=False)

        for op in opts.custom_operations_start:
            op(self.doc.document_element)

        unwrap_noscript_images(self.doc, self.metrics)
        jsonld = {} if opts.disable_jsonld else get_jsonld(self.doc)
        self.metrics["nodes_stripped"] += remove_scripts(self.doc)
        self.prep_document()

        metadata = get_article_metadata(self.doc, self.uri, self.language, jsonld)
        self.article_title = metadata["title"] or ""

        article_content = self.grab_article()
        if article_content is None:
            return ExtractionResult(content=None, title=self.article_title,
                                    is_readable=False)

        self.post_process_content(article_content)

        for op in opts.custom_operations_end:
            op(article_content)

        excerpt = metadata["excerpt"]
        if not excerpt:
            paragraphs = article_content.get_elements_by_tag_name("p")
            if paragraphs:
                excerpt = paragraphs[0].text_content.strip()

        self.metrics["chars_retained"] = len(article_content.text_content)

        # Article.cs:118-139 merge rules
        byline = self.article_byline if (self.article_byline or "").strip() else metadata["author"]
        author = metadata["author"] if (metadata["author"] or "").strip() else self.author
        language = metadata["language"] if (metadata["language"] or "").strip() else self.language

        return ExtractionResult(
            content=article_content,
            title=self.article_title,
            byline=byline or None,
            dir=self.article_dir,
            language=language,
            author=author or None,
            site_name=metadata["site_name"] or None,
            excerpt=excerpt or None,
            publication_date=metadata["publication_date"],
            featured_image=metadata["featured_image"] or None,
            alternative_language_uris=metadata["alternative_language_uris"],
            is_readable=is_readable,
            metrics=dict(self.metrics),
        )
