"""HTML link-discovery + text-extraction kernels.

Replaces the reference's browser-side extraction with pure parsing:

- ``extract_links`` replaces puppeteer's ``$$eval('a', …​ a.href)``
  (reference ``src/lib/page.ts:90``) + ``prepareLinks``
  (``page.ts:121-128``): anchors in document order, hrefs resolved against
  the page URL (what the browser's ``a.href`` getter does), filtered by
  ``hasProto`` and canonicalized via ``normalizeUrl``.
- ``extract_text`` replicates the cheerio pipeline (reference
  ``src/lib/text.ts:46-81``):

  1. remove ``header,footer,pre,h1..h6`` subtrees from body
     (``text.ts:50``);
  2. select ``body p:not(:has(p,div)), body div:not(:has(div))`` in
     document order (``text.ts:52``);
  3. per element: concatenated descendant text (cheerio ``.text()`` — no
     separator injected between nodes) → ``cleanText`` (``text.ts:55``);
  4. keep blocks whose ``split(/\\s/)`` length > 1 (``text.ts:57-62``);
  5. dedupe by exact text, first-occurrence order preserved
     (``text.ts:30-38, 65`` — JS object key-order semantics);
  6. trim (``text.ts:69-73``).

The parser is a small spec-leaning DOM built on ``html.parser`` with void
elements and the HTML5 ``<p>`` auto-close rule (cheerio uses parse5, which
is spec-compliant — ``<p>a<div>b</div>`` parses as sibling p + div, which
changes ``:has(div)`` outcomes; we replicate that).

These kernels run inside Arrow-batched pandas UDFs (``mapInPandas`` /
scalar pandas UDF) — batch-at-a-time transfer, parsing inherently
per-document. The same kernels are called serially by the golden oracle, so
distributed output is byte-identical to the oracle by construction. The
crawl calls ``extract_page``, which parses each page once and walks the
same tree for both: its result equals the two kernels side by side.
"""

from __future__ import annotations

from html.parser import HTMLParser
from typing import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawler_spark.functions.textops import clean_text
from crawler_spark.functions.urls import get_hostname, normalize_url

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)
# HTML5: these start tags implicitly close an open <p>.
_P_CLOSERS = frozenset(
    """address article aside blockquote details div dl fieldset figcaption
    figure footer form h1 h2 h3 h4 h5 h6 header hgroup hr main menu nav ol
    p pre section table ul""".split()
)
REMOVE_TAGS = frozenset(["header", "footer", "pre", "h1", "h2", "h3", "h4", "h5", "h6"])


class _Node:
    __slots__ = ("tag", "attrs", "children")

    def __init__(self, tag: str, attrs: dict[str, str] | None = None):
        self.tag = tag
        self.attrs = attrs or {}
        self.children: list["_Node | str"] = []


class _DomBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = _Node("#root")
        self.stack: list[_Node] = [self.root]

    def handle_starttag(self, tag: str, attrs) -> None:
        tag = tag.lower()
        if tag in _P_CLOSERS:
            # implicit </p>
            for i in range(len(self.stack) - 1, 0, -1):
                t = self.stack[i].tag
                if t == "p":
                    del self.stack[i:]
                    break
                if t not in ("a", "b", "i", "u", "em", "strong", "span", "small"):
                    break
        node = _Node(tag, self._attr_dict(attrs))
        self.stack[-1].children.append(node)
        if tag not in VOID_ELEMENTS:
            self.stack.append(node)

    @staticmethod
    def _attr_dict(attrs) -> dict[str, str]:
        # FIRST occurrence wins on duplicate attributes (HTML spec /
        # parse5): '<a href="/real" href="/spam">' resolves to /real —
        # a last-wins dict comprehension would feed the frontier a
        # different URL than the reference crawls
        out: dict[str, str] = {}
        for k, v in attrs:
            out.setdefault(k, v or "")
        return out

    def handle_startendtag(self, tag: str, attrs) -> None:
        # '/>' on a NON-void element is ignored by parse5/browsers —
        # '<div/>text' OPENS the div and the text is inside it; treating
        # it as an empty element would orphan the text (and any anchor
        # content) out of the block extraction
        if tag.lower() not in VOID_ELEMENTS:
            self.handle_starttag(tag, attrs)
            return
        self.stack[-1].children.append(
            _Node(tag.lower(), self._attr_dict(attrs))
        )

    def handle_endtag(self, tag: str) -> None:
        tag = tag.lower()
        if tag in VOID_ELEMENTS:
            return
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return
        # stray </p> creates an implied empty <p> (spec behavior parse5 has)
        if tag == "p":
            self.stack[-1].children.append(_Node("p"))

    def handle_data(self, data: str) -> None:
        if data:
            self.stack[-1].children.append(data)


def parse_html(html: str) -> _Node:
    b = _DomBuilder()
    try:
        b.feed(html)
        b.close()
    except Exception:  # noqa: BLE001 — lenient parse, mirror cheerio
        pass
    return b.root


def _find_first(node: _Node, tag: str) -> _Node | None:
    for child in node.children:
        if isinstance(child, _Node):
            if child.tag == tag:
                return child
            found = _find_first(child, tag)
            if found is not None:
                return found
    return None


def _iter_elements(node: _Node) -> Iterator[_Node]:
    """Pre-order (document order) element traversal."""
    for child in node.children:
        if isinstance(child, _Node):
            yield child
            yield from _iter_elements(child)


def _has_descendant(node: _Node, tags: frozenset[str]) -> bool:
    for child in node.children:
        if isinstance(child, _Node):
            if child.tag in tags or _has_descendant(child, tags):
                return True
    return False


def _node_text(node: _Node, out: list[str]) -> None:
    for child in node.children:
        if isinstance(child, str):
            out.append(child)
        else:
            _node_text(child, out)


def node_text(node: _Node) -> str:
    """cheerio ``$(el).text()``: descendant text concatenated, no separators."""
    out: list[str] = []
    _node_text(node, out)
    return "".join(out)


def _strip_removed(node: _Node) -> None:
    node.children = [
        c
        for c in node.children
        if not (isinstance(c, _Node) and c.tag in REMOVE_TAGS)
    ]
    for c in node.children:
        if isinstance(c, _Node):
            _strip_removed(c)


_HAS_P_DIV = frozenset(["p", "div"])
_HAS_DIV = frozenset(["div"])


def _text_blocks(root: _Node) -> list[str]:
    """The ``extractText`` walk over a parsed tree. Strips the removed
    subtrees IN PLACE, so walk anything else over ``root`` first."""
    body = _find_first(root, "body") or root
    _strip_removed(body)
    blocks: list[str] = []
    for el in _iter_elements(body):
        if el.tag == "p" and not _has_descendant(el, _HAS_P_DIV):
            blocks.append(clean_text(node_text(el)))
        elif el.tag == "div" and not _has_descendant(el, _HAS_DIV):
            blocks.append(clean_text(node_text(el)))
    # split(/\s/).length > 1 (text.ts:57-62)
    kept = [b for b in blocks if len(b.split(" ")) > 1]
    # dedupe, first-occurrence order (text.ts:30-38)
    seen: dict[str, None] = {}
    for b in kept:
        seen.setdefault(b, None)
    return [b.strip() for b in seen.keys()]


def extract_text_blocks(html: str) -> list[str]:
    """Reference ``extractText`` (``text.ts:46-81``): ordered, deduped blocks."""
    try:
        return _text_blocks(parse_html(html))
    except Exception:  # noqa: BLE001 — reference returns [] on extract failure
        return []


def extract_images_from(
    html: str, base_url: str
) -> list[tuple[str, str, int, int]]:
    """``<img>`` tags in document order → (img_url, alt, depth, img_pos).

    Mirrors the reference's ``processImagesInHtml`` (``learn.ts:67-102``):
    keep imgs whose ``src`` is present AND canonicalizes to a truthy URL
    (``normalizeUrl(src, pageUrl)``), emit the canonical url, ``alt`` (or
    ``''``), and ``depth`` = ``$(img).parents().length`` — the number of
    ancestor elements (html=0 deep, body child=2, …). ``img_pos`` is the
    0-based index among kept imgs (our document-order tiebreak, same
    convention as ``extract_links_from``).
    """
    try:
        root = parse_html(html)
    except Exception:  # noqa: BLE001
        return []
    out: list[tuple[str, str, int, int]] = []
    pos = 0

    def walk(node: _Node, depth: int) -> None:
        nonlocal pos
        for child in node.children:
            if not isinstance(child, _Node):
                continue
            if child.tag == "img":
                src = child.attrs.get("src")
                if src:
                    canon = normalize_url(src, base_url)
                    if canon:
                        out.append(
                            (canon, child.attrs.get("alt", ""), depth, pos)
                        )
                        pos += 1
            walk(child, depth + 1)

    walk(root, 0)
    return out


def _kept_anchors(root: _Node, base_url: str) -> Iterator[tuple[_Node, str]]:
    """``<a>`` elements in document order whose ``href`` canonicalizes,
    with that canonical url: the one anchor walk behind links and
    anchors, so their ``link_pos`` numbering is the same by construction."""
    for el in _iter_elements(root):
        if el.tag != "a":
            continue
        href = el.attrs.get("href")
        if href is None:
            continue
        canon = normalize_url(href, base_url)
        if canon:
            yield el, canon


def _links(root: _Node, base_url: str) -> list[tuple[str, str, int]]:
    return [
        (canon, get_hostname(canon), pos)
        for pos, (_el, canon) in enumerate(_kept_anchors(root, base_url))
    ]


def extract_links_from(html: str, base_url: str) -> list[tuple[str, str, int]]:
    """Anchors in document order → (canon_url, host, link_pos).

    Mirrors browser ``a.href`` resolution + ``prepareLinks``
    (``page.ts:121-128``): unresolvable/protocol-less hrefs dropped
    (``hasProto``), rest canonicalized with fragment stripped. ``link_pos``
    is the 0-based anchor index among *kept* links — the reference's array
    order after its filter, which is the crawl-order tiebreak (SURVEY §2.6
    O1).
    """
    return _links(parse_html(html), base_url)


def extract_anchors_from(
    html: str, base_url: str
) -> list[tuple[str, str, str, int]]:
    """Anchors in document order → (canon_url, host, anchor_text, link_pos).

    The reference keeps only hrefs (``page.ts:121-128`` — anchor text is
    discarded by ``prepareLinks``), so ``extract_links_from`` stays
    byte-parity with it; this kernel is the training-data extension: the
    anchor's cheerio-style ``.text()`` (descendant text concatenated,
    then ``cleanText`` — the same normalization the reference applies to
    text blocks, ``text.ts:55``) rides along with each kept link. Both
    kernels walk ``_kept_anchors``, so the two extractions join 1:1 on
    (page, link_pos).
    """
    return [
        (canon, get_hostname(canon), clean_text(node_text(el)), pos)
        for pos, (el, canon) in enumerate(
            _kept_anchors(parse_html(html), base_url)
        )
    ]


def extract_page(
    html: str, base_url: str
) -> tuple[str, list[tuple[str, str, int]]]:
    """One parse → (text, links): ``"\\n".join(extract_text_blocks(html))``
    and ``extract_links_from(html, base_url)``, the two things the crawl
    stores per fetched page.

    The links are walked first, because the text walk strips subtrees
    from the tree. Each half fails as its own kernel does: a text-side
    exception gives no blocks (``""``) and keeps the links.
    """
    root = parse_html(html)
    links = _links(root, base_url)
    try:
        text = "\n".join(_text_blocks(root))
    except Exception:  # noqa: BLE001 — as extract_text_blocks
        text = ""
    return text, links


def extract_canonical_from(html: str, base_url: str) -> str | None:
    """The page's declared canonical URL: the FIRST
    ``<link rel="canonical" href=…>`` in document order, resolved
    against ``base_url`` and canonicalized exactly like anchors
    (fragment stripped); ``None`` when the page declares nothing.

    ``rel`` matching is case-insensitive and token-based per the WHATWG
    link-type rules (``rel="canonical alternate"`` counts). A malformed
    first declaration (missing/unresolvable href) is treated as
    undeclared rather than falling through to a later one — conflicting
    declarations are a known spam/misconfiguration signal, and search
    engines likewise discount them. The reference crawler has no
    canonical handling at all (``page.ts`` extracts anchors only); this
    is the crawl-ecosystem extension feeding
    ``operators.redirects.canonical_collapse``.
    """
    try:
        root = parse_html(html)
    except Exception:  # noqa: BLE001
        return None
    for el in _iter_elements(root):
        if el.tag != "link":
            continue
        rel = el.attrs.get("rel") or ""
        if "canonical" not in rel.lower().split():
            continue
        href = el.attrs.get("href")
        if href is None:
            return None
        return normalize_url(href, base_url) or None
    return None


# --------------------------------------------------------------------------
# Vectorized UDFs
# --------------------------------------------------------------------------

LINK_STRUCT = T.ArrayType(
    T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("host", T.StringType()),
            T.StructField("link_pos", T.IntegerType()),
        ]
    )
)


def _to_str(html) -> str:
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray)):
        return bytes(html).decode("utf-8", errors="replace")
    return html


@F.pandas_udf(LINK_STRUCT)
def extract_links_udf(htmls: pd.Series, base_urls: pd.Series) -> pd.Series:
    return pd.Series(
        [
            extract_links_from(_to_str(h), b or "") if h is not None else []
            for h, b in zip(htmls, base_urls)
        ]
    )


PAGE_STRUCT = T.StructType(
    [
        T.StructField("text", T.StringType()),
        T.StructField("links", LINK_STRUCT),
    ]
)


@F.pandas_udf(PAGE_STRUCT)
def extract_page_udf(htmls: pd.Series, base_urls: pd.Series) -> pd.DataFrame:
    """``extract_page`` per row: ``("", [])`` for a null html."""
    pages = [
        extract_page(_to_str(h), b or "") if h is not None else ("", [])
        for h, b in zip(htmls, base_urls)
    ]
    return pd.DataFrame(pages, columns=["text", "links"])


ANCHOR_STRUCT = T.ArrayType(
    T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("host", T.StringType()),
            T.StructField("anchor_text", T.StringType()),
            T.StructField("link_pos", T.IntegerType()),
        ]
    )
)


@F.pandas_udf(ANCHOR_STRUCT)
def extract_anchors_udf(htmls: pd.Series, base_urls: pd.Series) -> pd.Series:
    return pd.Series(
        [
            extract_anchors_from(_to_str(h), b or "") if h is not None else []
            for h, b in zip(htmls, base_urls)
        ]
    )


@F.pandas_udf(T.ArrayType(T.StringType()))
def extract_text_udf(htmls: pd.Series) -> pd.Series:
    return pd.Series(
        [extract_text_blocks(_to_str(h)) if h is not None else [] for h in htmls]
    )


IMAGE_STRUCT = T.ArrayType(
    T.StructType(
        [
            T.StructField("img_url", T.StringType()),
            T.StructField("alt", T.StringType()),
            T.StructField("depth", T.IntegerType()),
            T.StructField("img_pos", T.IntegerType()),
        ]
    )
)


@F.pandas_udf(IMAGE_STRUCT)
def extract_images_udf(htmls: pd.Series, base_urls: pd.Series) -> pd.Series:
    return pd.Series(
        [
            extract_images_from(_to_str(h), b or "") if h is not None else []
            for h, b in zip(htmls, base_urls)
        ]
    )


@F.pandas_udf(T.StringType())
def extract_canonical_udf(htmls: pd.Series, base_urls: pd.Series) -> pd.Series:
    return pd.Series(
        [
            extract_canonical_from(_to_str(h), b or "")
            if h is not None
            else None
            for h, b in zip(htmls, base_urls)
        ],
        dtype=object,
    )
