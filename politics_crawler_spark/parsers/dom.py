"""Minimal HTML DOM with BeautifulSoup-compatible query/get_text semantics.

The sandbox has no bs4, and the engine must reproduce the reference crawlers'
extraction *byte-identically* (reference calls like
``soup.find("div", class_="write_div").get_text(separator="\\n", strip=True)``,
see /root/reference/app/crawler/politics/dcinside_politics.py:47-55). This
module implements exactly the subset of bs4 behavior those call sites rely on,
on top of a one-regex tokenizer whose trees match stdlib ``html.parser``'s:

- tree building with void elements and forgiving close-tag recovery
- ``find`` / ``find_all`` by tag name, class (token match; whitespace-joined
  exact match when the query itself contains spaces, mirroring bs4), id, and
  arbitrary attributes (``itemprop=...``, ``style=...``)
- ``get_text(separator, strip)``: document-order text nodes; when strip=True
  each string is ``str.strip()``-ed and empties are dropped; joined by the
  separator. Entity refs in text are decoded (``html.unescape``), as
  html.parser's convert_charrefs does.
- ``find_parent(tag, attrs)`` for the mlbpark ad-div exclusion
  (mlbpark_bullpen.py:64-68).

Pure Python, no Spark imports — callable inside Arrow-batch pandas UDFs.
"""

from __future__ import annotations

import re
from html import unescape

# HTML5 void elements — never pushed on the open-element stack.
_VOID = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

_ATTR_RE = re.compile(
    r"""([a-zA-Z_:][-a-zA-Z0-9_:.]*)\s*(?:=\s*("[^"]*"|'[^']*'|[^\s>]*))?"""
)


_SIMPLE_ATTR_RE = re.compile(
    r'^\s*([a-zA-Z_:][-a-zA-Z0-9_:.]*)="([^"<>&]*)"\s*$'
)


def _parse_attrs(raw: str) -> dict[str, str]:
    # fast path: the overwhelmingly common single `name="value"` attr
    # (class-only cells dominate board-list rows — profiled hot)
    m = _SIMPLE_ATTR_RE.match(raw)
    if m:
        return {m.group(1).lower(): m.group(2)}
    out = {}
    for m in _ATTR_RE.finditer(raw):
        name = m.group(1).lower()
        val = m.group(2)
        if val is None:
            val = ""
        elif val[:1] in "\"'":
            val = val[1:-1]
        if "&" in val:
            val = unescape(val)
        if name not in out:
            out[name] = val
    return out


class Node:
    """One element node. ``children`` holds Node and str (text) entries.

    Attributes parse lazily from the raw tag text — most nodes are never
    queried for attrs, and skipping the attr regex for them is a large share
    of total parse time at 100 TB extraction volume.
    """

    __slots__ = ("tag", "_attrs_raw", "_attrs", "_classes", "children", "parent")

    def __init__(self, tag: str, attrs=None, parent=None, attrs_raw: str = ""):
        self.tag = tag
        self._attrs = attrs if attrs is not None else (None if attrs_raw else {})
        self._attrs_raw = attrs_raw
        self._classes = None
        self.children: list = []
        self.parent = parent

    @property
    def attrs(self) -> dict[str, str]:
        if self._attrs is None:
            self._attrs = _parse_attrs(self._attrs_raw)
        return self._attrs

    # -- attribute helpers -------------------------------------------------
    def get(self, name: str, default=None):
        return self.attrs.get(name, default)

    @property
    def classes(self) -> list[str]:
        # cached: the class-token list is re-read hundreds of times per
        # list page (every td/tr class dispatch in the parse hot loop) and
        # the tree is never mutated after parsing (r6 — profiled at ~20%
        # of _parse_one)
        if self._classes is None:
            self._classes = self.attrs.get("class", "").split()
        return self._classes

    # -- matching ----------------------------------------------------------
    def _matches(self, tag, class_, id_, attrs) -> bool:
        if tag is not None and self.tag != tag:
            return False
        if class_ is not None:
            if " " in class_:
                # bs4: a whitespace-containing class query compares against the
                # full attribute string (theqoo "rd_body clear" case).
                if self.attrs.get("class") != class_:
                    return False
            elif class_ not in self.classes:
                return False
        if id_ is not None and self.attrs.get("id") != id_:
            return False
        if attrs:
            for k, v in attrs.items():
                if self.attrs.get(k) != v:
                    return False
        return True

    def _iter_desc(self):
        """Yield descendant element nodes in document order (excluding self).

        Index-resume stack instead of per-node reversed listcomps (r6):
        the old form allocated two filtered list copies per visited node —
        profiled at ~15% of the list-parse hot loop. One (list, idx) tuple
        per descent, identical visit order."""
        stack = []
        children = self.children
        i = 0
        while True:
            n = len(children)
            while i < n:
                c = children[i]
                i += 1
                if isinstance(c, Node):
                    stack.append((children, i))
                    yield c
                    children = c.children
                    i = 0
                    n = len(children)
            if not stack:
                return
            children, i = stack.pop()

    def find(self, tag=None, class_=None, id=None, attrs=None, **kw):
        if kw:  # allow itemprop="..." style keyword attrs like bs4
            attrs = {**(attrs or {}), **kw}
        for node in self._iter_desc():
            if node._matches(tag, class_, id, attrs):
                return node
        return None

    def find_all(self, tag=None, class_=None, id=None, attrs=None, **kw):
        if kw:
            attrs = {**(attrs or {}), **kw}
        return [n for n in self._iter_desc() if n._matches(tag, class_, id, attrs)]

    def find_parent(self, tag=None, class_=None, id=None, attrs=None, **kw):
        if kw:
            attrs = {**(attrs or {}), **kw}
        node = self.parent
        while node is not None:
            if node.tag != "[document]" and node._matches(tag, class_, id, attrs):
                return node
            node = node.parent
        return None

    # -- text --------------------------------------------------------------
    def _strings(self):
        # same index-resume walk as _iter_desc (r6) — no reversed copies
        stack = []
        children = self.children
        i = 0
        while True:
            n = len(children)
            while i < n:
                c = children[i]
                i += 1
                if isinstance(c, str):
                    yield c
                else:
                    stack.append((children, i))
                    children = c.children
                    i = 0
                    n = len(children)
            if not stack:
                return
            children, i = stack.pop()

    def get_text(self, separator: str = "", strip: bool = False) -> str:
        if strip:
            parts = [s.strip() for s in self._strings()]
            parts = [s for s in parts if s]
        else:
            parts = list(self._strings())
        return separator.join(parts)

    @property
    def text(self) -> str:
        return self.get_text()

    def __repr__(self):
        return f"<Node {self.tag} {self.attrs}>"


# Fast tokenizer: one compiled regex over the document; comments/doctype
# skipped; raw attr text stored for lazy parsing. ~3× the stdlib tokenizer
# on board-post HTML (tests assert tree parity against a stdlib html.parser
# tree builder).
_TOKEN_RE = re.compile(
    r"<(?:"
    r"!--.*?--\s*>"                      # comment
    r"|!\[CDATA\[.*?\]\]>"               # cdata
    r"|![^>]*>"                          # doctype / other decls
    r"|\?[^>]*>"                         # processing instruction
    r"|(/?)([a-zA-Z][-a-zA-Z0-9:]*)((?:\"[^\"]*\"|'[^']*'|[^>\"'])*)(/?)>"
    r")",
    re.DOTALL,
)


# Raw-text (CDATA) elements: their content is ONE text child scanned
# straight to the matching close tag, never tokenized — html.parser's
# CDATA_CONTENT_ELEMENTS behavior. Without this, '<' inside scripts
# (comparisons, HTML-in-JS strings) produces phantom nodes that diverge
# from the reference's bs4 extraction.
_RAW_CLOSE = {
    t: re.compile(rf"</{t}(?=[\s/>])[^>]*>", re.IGNORECASE)
    for t in ("script", "style")
}


def parse_html(text: str) -> Node:
    """Parse an HTML string into a document Node (bs4 ``Soup(...)`` stand-in)."""
    root = Node("[document]")
    stack = [root]
    pos = 0
    while True:
        m = _TOKEN_RE.search(text, pos)
        if m is None:
            break
        start = m.start()
        if start > pos:
            data = text[pos:start]
            if "&" in data:
                data = unescape(data)
            stack[-1].children.append(data)
        pos = m.end()
        # one C-level group() call for all four captures (r6 — profiled:
        # four separate .group() calls were ~5% of tokenize time)
        closing, tag, attrs_raw, selfclose = m.group(1, 2, 3, 4)
        if tag is None:
            continue  # comment/doctype/PI
        tag = tag.lower()
        if closing:  # close tag
            for i in range(len(stack) - 1, 0, -1):
                if stack[i].tag == tag:
                    del stack[i:]
                    break
            continue
        node = Node(tag, parent=stack[-1], attrs_raw=attrs_raw)
        stack[-1].children.append(node)
        if not selfclose and tag not in _VOID:
            raw_close = _RAW_CLOSE.get(tag)
            if raw_close is not None:  # script/style: raw-text to close tag
                c = raw_close.search(text, pos)
                raw = text[pos : c.start()] if c else text[pos:]
                if raw:
                    node.children.append(raw)  # no entity decode (CDATA)
                pos = c.end() if c else len(text)
                continue
            stack.append(node)
    if pos < len(text):
        data = text[pos:]
        if "&" in data:
            data = unescape(data)
        stack[-1].children.append(data)
    return root
