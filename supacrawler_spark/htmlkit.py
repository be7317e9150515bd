"""Pure-Python HTML extraction kernel.

Reimplements the reference engine's extraction semantics (Go; goquery +
JohannesKaufmann/html-to-markdown + regex cleaners) as pure functions of
the HTML bytes, shared by the engine's pandas UDFs and the test oracle.
This is the byte-identity hot spot called out by the input_hint
("byte-identical extracted text per url").

Ports, with reference cites (/root/reference):

- ``html_to_markdown``          internal/utils/markdown/markdown.go:13-76
  (main-content selection 21-27, boilerplate strip 35-56, convert,
  dedupe 70, boilerplate clean 71, \\n{3,} collapse 74, trim 75)
- ``remove_duplicates``         markdown.go:79-143
- ``clean_markdown_boilerplate`` markdown.go:236-262
- ``fix_invalid_escapes`` et al. markdown.go:146-233
- ``clean_content``             internal/core/scrape/service.go:281-315
  (+ trailing "\\n\\n" rule, service.go:233-237)
- ``extract_title``             scrape/service.go:317-333
- ``extract_links``             scrape/service.go:336-393 (HTML-regex
  variant; the DOM variant 396-440 is live-browser only)
- ``extract_metadata``          scrape/service.go:443-565
- ``extract_text``              the ``text`` column invariant: visible
  text of the body after script/style/noscript removal, whitespace
  normalized (this engine's WARC-style text conversion; the reference
  exposes markdown, not plain text — the pages table's golden ``text``
  is defined by THIS function and frozen by golden tests)

The markdown converter covers the HTML subset exercised by the
reference's cleaning rules and our fixtures (headings, paragraphs,
lists, links, images, emphasis, code/pre, blockquote, hr, tables are
flattened); goquery's net/html normalization (implicit <body>) is
emulated by falling back to the document root when no <body> exists.

Guard rule: a whole-string regex pass runs only when the string holds
the substring its pattern needs to match (a C-speed ``in`` or
``str.isprintable()`` test, e.g. ``_N3_RE`` needs ``"\\n\\n\\n"``), and
a literal pattern is a ``str.replace``. A pass that cannot match
returns its input unchanged, so the guard never changes the output
bytes; ``tests/test_htmlkit.py`` checks each guard against its plain
regex form, ``tests/test_htmlkit_pins.py`` pins the per-page output.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

__all__ = [
    "parse_html",
    "html_to_markdown",
    "scrape_markdown",
    "crawl_markdown",
    "extract_text",
    "extract_title",
    "extract_links",
    "extract_metadata",
    "remove_duplicates",
    "clean_markdown_boilerplate",
    "clean_content",
    "METADATA_FIELDS",
]

# --------------------------------------------------------------------------
# DOM
# --------------------------------------------------------------------------

_VOID = {
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr",
}


class _Node:
    __slots__ = ("tag", "attrs", "children", "text")

    def __init__(self, tag, attrs=None, text=None):
        self.tag = tag            # None for text nodes
        self.attrs = attrs or {}
        self.children = []
        self.text = text

    def attr(self, name, default=""):
        return self.attrs.get(name, default)


class _TreeBuilder(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = _Node("#document")
        self.stack = [self.root]

    def handle_starttag(self, tag, attrs):
        node = _Node(tag, dict(attrs))
        self.stack[-1].children.append(node)
        if tag not in _VOID:
            self.stack.append(node)

    def handle_startendtag(self, tag, attrs):
        self.stack[-1].children.append(_Node(tag, dict(attrs)))

    def handle_endtag(self, tag):
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                break

    def handle_data(self, data):
        if data:
            self.stack[-1].children.append(_Node(None, text=data))


def parse_html(html: str) -> _Node:
    b = _TreeBuilder()
    try:
        b.feed(html)
        b.close()
    except Exception:
        pass
    return b.root


def _walk(node):
    for c in node.children:
        yield c
        yield from _walk(c)


def _find_first(root, pred):
    for n in _walk(root):
        if n.tag is not None and pred(n):
            return n
    return None


def _find_body(root):
    body = _find_first(root, lambda n: n.tag == "body")
    return body if body is not None else root


# --------------------------------------------------------------------------
# Boilerplate removal (markdown.go:19-56)
# --------------------------------------------------------------------------

_STRIP_TAGS = {
    "script", "style", "noscript", "nav", "header", "aside",
    "form", "iframe", "svg", "button", "input",
}

# markdown.go:39-44 — element removed when class+" "+id (lowercased)
# contains any keyword.
BOILERPLATE_KEYWORDS = (
    "cookie", "consent", "banner", "navbar", "nav-", "menu-", "header",
    "pagination", "share", "search-", "signup", "signin", "login",
    "ad-", "advert", "promo", "modal", "popup", "dialog",
    "breadcrumbs", "breadcrumb", "sidebar",
)


def _select_content(root):
    """Main-content selection (markdown.go:21-31): first match of
    main, [role="main"], #content, #main over the whole document, else
    the body."""
    sel = _find_first(root, lambda n: n.tag == "main")
    if sel is None:
        sel = _find_first(root, lambda n: n.attr("role") == "main")
    if sel is None:
        sel = _find_first(root, lambda n: n.attr("id") == "content")
    if sel is None:
        sel = _find_first(root, lambda n: n.attr("id") == "main")
    if sel is None:
        sel = _find_body(root)
    return sel


def _should_remove(n) -> bool:
    if n.tag in _STRIP_TAGS:
        return True
    role = n.attr("role")
    if role in ("navigation", "banner", "contentinfo"):
        return True
    if "aria-modal" in n.attrs:
        return True
    if "cookie" in n.attr("aria-label").lower():
        return True
    cls_id = (n.attr("class") + " " + n.attr("id")).lower()
    if n.attr("class") or n.attr("id"):
        for kw in BOILERPLATE_KEYWORDS:
            if kw in cls_id:
                return True
    return False


def _strip_boilerplate(sel):
    """Copy of ``sel`` with matching *descendants* removed (goquery
    .Find excludes the selection node itself, markdown.go:35-56).
    Copy-on-prune instead of in-place mutation so callers can hand the
    markdown pipeline the SAME parsed tree the text/href extractors
    use — one parse per page instead of two (the parse was ~45% of the
    extraction kernel; a slot-object node copy is far cheaper than
    re-tokenizing the html). Text nodes and attr dicts are shared —
    both are read-only downstream."""
    out = _Node(sel.tag, sel.attrs, sel.text)
    for c in sel.children:
        if c.tag is None:
            out.children.append(c)
        elif not _should_remove(c):
            out.children.append(_strip_boilerplate(c))
    return out


# --------------------------------------------------------------------------
# Markdown rendering (html-to-markdown default-ish rules over our subset)
# --------------------------------------------------------------------------

_INLINE_TAGS = {
    "a", "strong", "b", "em", "i", "code", "span", "img", "small",
    "sup", "sub", "u", "s", "time", "abbr", "mark", "label", "cite",
    "q", "var", "kbd", "samp", "br",
}

_WS_RE = re.compile(r"[ \t\r\n\f]+")
_SPACES_RE = re.compile(r" +")


def _collapse_ws(s: str) -> str:
    """HTML whitespace collapse: runs of space/tab/CR/LF/FF become one
    space. Without a double space, tab, CR, LF or FF every run is a
    single space already."""
    if ("  " in s or "\n" in s or "\t" in s or "\r" in s
            or "\f" in s):
        return _WS_RE.sub(" ", s)
    return s


def _inline_md(node) -> str:
    """Render a node's contents as inline markdown, HTML-whitespace
    collapsed."""
    parts = []
    for c in node.children:
        parts.append(_inline_md_node(c))
    return "".join(parts)


def _inline_md_node(n) -> str:
    if n.tag is None:
        return _collapse_ws(n.text)
    t = n.tag
    if t == "br":
        return "\n"
    if t == "img":
        return "![%s](%s)" % (n.attr("alt"), n.attr("src"))
    inner = _inline_md(n)
    if t == "a":
        href = n.attr("href")
        label = inner.strip()
        return "[%s](%s)" % (label, href)
    if t in ("strong", "b"):
        s = inner.strip()
        return "**%s**" % s if s else ""
    if t in ("em", "i"):
        s = inner.strip()
        return "*%s*" % s if s else ""
    if t == "code":
        return "`%s`" % inner.strip()
    return inner


def _is_inline(n) -> bool:
    return n.tag is None or n.tag in _INLINE_TAGS


def _block_md(node, blocks):
    """Append markdown block strings for element `node`."""
    t = node.tag
    if t in ("h1", "h2", "h3", "h4", "h5", "h6"):
        txt = _inline_md(node).strip()
        if txt:
            blocks.append("#" * int(t[1]) + " " + txt)
        return
    if t == "p":
        txt = _inline_md(node).strip()
        if txt:
            blocks.append(txt)
        return
    if t == "hr":
        blocks.append("---")
        return
    if t == "pre":
        code = _raw_text(node)
        blocks.append("```\n" + code.strip("\n") + "\n```")
        return
    if t == "blockquote":
        inner = []
        _container_md(node, inner)
        body = "\n\n".join(inner)
        blocks.append("\n".join("> " + l if l else ">" for l in body.split("\n")))
        return
    if t in ("ul", "ol"):
        idx = 1
        items = []
        for c in node.children:
            if c.tag == "li":
                txt = _li_md(c)
                if t == "ul":
                    items.append("- " + txt)
                else:
                    items.append("%d. %s" % (idx, txt))
                    idx += 1
        if items:
            blocks.append("\n".join(items))
        return
    if t in ("table", "thead", "tbody", "tr"):
        # flatten table text row-wise (reference converter emits tables;
        # our fixtures avoid them — flatten keeps text content)
        _container_md(node, blocks)
        return
    # generic container (div, section, article, li, td, figure, ...)
    _container_md(node, blocks)


def _li_md(node) -> str:
    sub = []
    _container_md(node, sub)
    return " ".join(s for s in sub)


def _raw_text(node) -> str:
    out = []
    def rec(n):
        if n.tag is None:
            out.append(n.text)
            return
        for c in n.children:
            rec(c)
    rec(node)
    return "".join(out)


def _container_md(node, blocks):
    """Group runs of inline children into paragraphs; recurse on block
    children."""
    run = []

    def flush():
        if run:
            txt = "".join(_inline_md_node(x) for x in run).strip()
            if "  " in txt:
                txt = _SPACES_RE.sub(" ", txt)
            if txt:
                blocks.append(txt)
            run.clear()

    for c in node.children:
        if _is_inline(c):
            if c.tag is None and not c.text.strip() and not run:
                continue
            run.append(c)
        else:
            flush()
            _block_md(c, blocks)
    flush()


def _convert_to_markdown(sel) -> str:
    blocks = []
    _container_md(sel, blocks)
    return "\n\n".join(blocks)


# --------------------------------------------------------------------------
# Markdown post-processing — exact ports of markdown.go
# --------------------------------------------------------------------------

_DATE_NORM_RE = re.compile(
    r"\b\d{4}/\d{2}/\d{2}\b|\b\d{2}/\d{2}/\d{4}\b|\b[A-Za-z]{3} \d{1,2}, \d{4}\b")
_LINK_NORM_RE = re.compile(r"https?://[^\s)]+")
_LINK_LINE_RE = re.compile(r"^!\[[^\]]*\]\((https?:\/\/[^\)]+)\)(\]\([^\)]+\))?$")
_DATE_LINE_RE = re.compile(r"^[A-Za-z]{3}\s\d{1,2},\s\d{4}\\?$")


def remove_duplicates(markdown: str) -> str:
    """Line-wise dedup of image-link lines and date lines
    (markdown.go:79-111). Every line is trimmed; output always ends
    with a newline (WriteString(line + "\\n"))."""
    out = []
    seen_links = set()
    seen_dates = set()
    for line in markdown.split("\n"):
        t = line.strip()
        # the normalization is only CONSUMED by lines matching one of
        # the two line classes — skip the two re.subs everywhere else
        # (they were the kernel's single hottest regex site); the "!["
        # prefix test is exact for _LINK_LINE_RE (anchored on ^!\[)
        link_m = t.startswith("![") and _LINK_LINE_RE.match(t)
        date_m = _DATE_LINE_RE.match(t)
        if link_m or date_m:
            norm = _DATE_NORM_RE.sub("DATE", _LINK_NORM_RE.sub("LINK", t))
            if link_m:
                if norm in seen_links:
                    continue
                seen_links.add(norm)
            if date_m:
                if norm in seen_dates:
                    continue
                seen_dates.add(norm)
        out.append(t + "\n")
    return "".join(out)


_INVALID_ESCAPE_RE = re.compile(r"\\([^\\nrt\"'bfvx0-7])")
_CONTROL_RE = re.compile(r"[\x00-\x08\x0B\x0C\x0E-\x1F]")
_INVISIBLE = ["\u200B", "\u200C", "\u200D", "\u200E", "\u200F",
              "\u2028", "\u2029", "\uFEFF", "\uFFFD"]


def fix_control_characters(text: str) -> str:
    """markdown.go:166-199. The invisible-codepoint replaces only
    matter for non-ASCII text \u2014 every target is > U+007F \u2014 so ASCII
    lines (the overwhelming majority) skip all 13 scans."""
    if not text.isprintable():
        text = _CONTROL_RE.sub("", text)  # also strips every \x00
    if not text.isascii():
        for ch in _INVISIBLE:
            text = text.replace(ch, "")
        text = text.replace("\uFFFF", "")
    return text


def fix_json_escapes(text: str) -> str:
    """markdown.go:202-233, with containment guards grouping the
    replaces by the character each family requires \u2014 a C-speed `in`
    test skips whole families on the common plain-text line (this is
    called once per output line; the replaces dominated it)."""
    if "\\" in text:
        text = text.replace("\\<", "<").replace("\\>", ">")
        text = text.replace("\\var", "var").replace("\\'", "'")
    if "u003" in text:
        text = text.replace("u003c", "<").replace("u003e", ">")
    if "`" in text:
        text = text.replace("```devsite-terminal", "```bash")
    if "'" in text:
        text = text.replace("'\\''", "'")
        text = text.replace("'''", "'").replace("''", "'")
    if "&" in text:
        text = (text.replace("&lt;", "<").replace("&gt;", ">")
                    .replace("&amp;", "&").replace("&quot;", '"'))
    return text


def fix_invalid_escapes(text: str) -> str:
    """markdown.go:146-163. Both escape fixes require a backslash;
    control/json cleanup runs unconditionally as before."""
    if "\\" in text:
        text = _INVALID_ESCAPE_RE.sub(r"\1", text)
        text = text.replace("\\\\", "\\")
    text = fix_control_characters(text)
    return fix_json_escapes(text)


_IMG_RE = re.compile(r"!\[[^\]]*\]\([^\)]+\)")
_N3_RE = re.compile(r"\n{3,}")


def _collapse_n3(s: str) -> str:
    return _N3_RE.sub("\n\n", s) if "\n\n\n" in s else s


def clean_markdown_boilerplate(md_text: str) -> str:
    """markdown.go:236-262: drop blank lines and pure-image lines, fix
    escapes per line, re-collapse, trim."""
    out = []
    for l in md_text.split("\n"):
        line = l.strip()
        if line == "":
            continue
        if ("![" in line and _IMG_RE.search(line)
                and _IMG_RE.sub("", line).strip() == ""):
            continue
        out.append(fix_invalid_escapes(line))
    return _collapse_n3("\n".join(out)).strip()


def html_to_markdown(html: "str | None", root=None) -> str:
    """ConvertHTMLToMarkdown (markdown.go:13-76). Accepts a pre-parsed
    ``root`` (left unmutated — boilerplate stripping is copy-on-prune)
    so extraction callers parse each page once."""
    if root is None:
        root = parse_html(html)
    sel = _select_content(root)
    sel = _strip_boilerplate(sel)
    out = _convert_to_markdown(sel)
    out = remove_duplicates(out)
    out = clean_markdown_boilerplate(out)
    return _collapse_n3(out).strip()


_END_BS_RE = re.compile(r"\\+\n")
_IMG_BOLD_RE = re.compile(r"\)\n{1,2}(\*\*[^\]]+\*\*)\]\(")
_IMG_NEXT_RE = re.compile(r"\)\n{1,2}\[([^\]]+)\]\(")
_HDR_RE = re.compile(r"([^\n])\n(#+)")


def clean_content(md: str) -> str:
    """cleanContent (scrape/service.go:281-315) + the ensure-trailing
    "\\n\\n" rule (service.go:233-237)."""
    if md == "":
        return ""
    cleaned = md.replace("\r\n", "\n")
    cleaned = cleaned.replace(")\\\n[", ")\n[")
    cleaned = cleaned.replace("]\\\n(", "]\n(")
    if "\\\n" in cleaned:
        cleaned = _END_BS_RE.sub("\n", cleaned)
    if ")\n" in cleaned:
        cleaned = _IMG_BOLD_RE.sub(r") \1](", cleaned)
        cleaned = _IMG_NEXT_RE.sub(r") [\1](", cleaned)
    cleaned = cleaned.replace(") [![", ")\n\n[![")
    cleaned = _collapse_n3(cleaned)
    if "\n#" in cleaned:
        cleaned = _HDR_RE.sub(r"\1\n\n\2", cleaned)
    cleaned = cleaned.strip() + "\n\n"
    if not cleaned.endswith("\n\n"):
        cleaned = cleaned.rstrip("\n") + "\n\n"
    return cleaned


def scrape_markdown(html: "str | None", root=None) -> str:
    """The scrape path's content field: cleanContent(ConvertHTMLToMarkdown)
    (scrape/service.go:217-237)."""
    return clean_content(html_to_markdown(html, root=root))


def crawl_markdown(html: "str | None", root=None) -> str:
    """The crawl path's PageContent.markdown: scrape content further
    passed through cleanContentForJSON = CleanMarkdownBoilerplate
    (crawl/service.go:716-723)."""
    return clean_markdown_boilerplate(scrape_markdown(html, root=root))


# --------------------------------------------------------------------------
# Plain-text extraction (the `text` column invariant)
# --------------------------------------------------------------------------

_TEXT_SKIP = {"script", "style", "noscript"}
_TEXT_BLOCK = {
    "p", "div", "section", "article", "li", "ul", "ol", "tr", "table",
    "h1", "h2", "h3", "h4", "h5", "h6", "blockquote", "pre", "br",
    "header", "footer", "nav", "aside", "main", "figure", "figcaption",
    "hr", "form",
}


def extract_text(html: "str | None" = None, root=None) -> str:
    """Visible text of the body: scripts/styles removed, inline text
    whitespace-collapsed, block boundaries = single newline, no blank
    lines, stripped. Pure function of the html bytes — this defines the
    golden ``text`` column (byte-identity target per BASELINE.json
    input_hint). Accepts a pre-parsed ``root``; the markdown pipeline
    no longer mutates the tree (copy-on-prune), so one parse serves
    every extractor."""
    if root is None:
        root = parse_html(html)
    body = _find_body(root)
    lines = []
    cur = []

    def flush():
        s = _collapse_ws("".join(cur)).strip()
        if s:
            lines.append(s)
        cur.clear()

    def rec(n):
        if n.tag in _TEXT_SKIP:
            return
        if n.tag is not None and n.tag in _TEXT_BLOCK:
            flush()
        if n.tag is None:
            cur.append(n.text)
        else:
            for c in n.children:
                rec(c)
            if n.tag in _TEXT_BLOCK:
                flush()

    rec(body)
    flush()
    return "\n".join(lines)


# --------------------------------------------------------------------------
# Regex extractors over RAW html (title / links / metadata)
# --------------------------------------------------------------------------

_TITLE_RE = re.compile(r"<title[^>]*>(.*?)</title>", re.I)


def extract_title(html: str) -> str:
    """extractTitle (scrape/service.go:317-333): first <title>, trimmed,
    5 entities decoded. Go's '.' does not match newline — same here."""
    m = _TITLE_RE.search(html)
    if not m:
        return ""
    title = m.group(1).strip()
    return (title.replace("&lt;", "<").replace("&gt;", ">")
                 .replace("&amp;", "&").replace("&quot;", '"')
                 .replace("&#39;", "'"))


_A_HREF_RE = re.compile(r"""<a[^>]+href=["']([^"']+)["'][^>]*>""")


def _absolutize(link: str, base_url: str) -> str:
    """The absolutization branch of extractLinksFromHTML
    (scrape/service.go:345-371): protocol-relative, absolute-path,
    relative; javascript:/mailto:/#fragment left untouched (then
    dropped by the http(s) filter)."""
    if link.startswith("http://") or link.startswith("https://"):
        return link
    if link.startswith("//"):
        return ("https:" if base_url.startswith("https://") else "http:") + link
    if link.startswith("/"):
        i = base_url.find("://")
        if i != -1:
            host = base_url[i + 3:]
            j = host.find("/")
            if j != -1:
                return base_url[:i + 3] + host[:j] + link
            return base_url + link
        return link
    if not (link.startswith("#") or link.startswith("javascript:")
            or link.startswith("mailto:")):
        if base_url.endswith("/"):
            return base_url + link
        return base_url + "/" + link
    return link


def extract_links(html: str, base_url: str) -> "list[str]":
    """extractLinksFromHTML (scrape/service.go:336-393): regex over raw
    html, absolutize, keep http(s) only, order-preserving dedup."""
    links = []
    for m in _A_HREF_RE.finditer(html):
        link = m.group(1).strip()
        if not link:
            continue
        link = _absolutize(link, base_url)
        if link.startswith("http://") or link.startswith("https://"):
            links.append(link)
    seen = set()
    uniq = []
    for l in links:
        if l not in seen:
            seen.add(l)
            uniq.append(l)
    return uniq


_A_PAIR_RE = re.compile(
    r"""<a[^>]+href=["']([^"']+)["'][^>]*>(.*?)</a>""", re.I | re.S)
_INNER_TAG_RE = re.compile(r"<[^>]+>")


def extract_anchor_pairs(html: str, base_url: str) -> "list[tuple[str, str]]":
    """(target_url, anchor_text) pairs in document order — the raw
    material of an anchor-text corpus (anchor text is the classic
    off-page description of the *target* page; search and LLM-data
    pipelines aggregate it per target as a quality/label signal).

    Same href semantics as ``extract_links`` (scrape/service.go:
    336-393): crude string absolutization, http(s) only — but every
    occurrence is kept (counts are the signal, so no dedup). Anchor
    text is the inner markup with tags stripped and whitespace
    collapsed; empty-text anchors (image links) yield ''."""
    pairs = []
    for m in _A_PAIR_RE.finditer(html):
        link = m.group(1).strip()
        if not link:
            continue
        link = _absolutize(link, base_url)
        if not (link.startswith("http://") or link.startswith("https://")):
            continue
        text = _collapse_ws(_INNER_TAG_RE.sub("", m.group(2))).strip()
        pairs.append((link, text))
    return pairs


def extract_hrefs(html: "str | None" = None, root=None) -> "list[str]":
    """Raw ``<a href>`` values in document order (colly's ``a[href]``
    selector, mapper/service.go:127). Used by the *discovery* path,
    which absolutizes RFC-style via ``urljoin`` (colly
    e.Request.AbsoluteURL = net/url ResolveReference), unlike the
    result-links path (``extract_links``) whose crude string
    absolutization is the scrape service's (service.go:345-371).

    Accepts a pre-parsed ``root`` to share one DOM parse with
    ``extract_text`` in the hot extraction loop."""
    if root is None:
        root = parse_html(html)
    out = []
    for n in _walk(root):
        if n.tag == "a" and "href" in n.attrs:
            out.append(n.attrs["href"])
    return out


METADATA_FIELDS = (
    "status_code", "source_url", "title", "description", "language",
    "canonical", "favicon", "og_title", "og_description", "og_image",
    "og_site_name", "twitter_title", "twitter_description",
    "twitter_image",
)

_CANON_RE = re.compile(
    r"""<link[^>]*rel=["']canonical["'][^>]*href=["']([^"']+)["'][^>]*>""",
    re.I | re.S)
_FAV_RE = re.compile(
    r"""<link[^>]*rel=["'](icon|shortcut icon)["'][^>]*href=["']([^"']+)["'][^>]*>""",
    re.I | re.S)


def _find_meta(html: str, name: str) -> str:
    """findMeta (scrape/service.go:452-461)."""
    pattern = (r"""<meta[^>]*(name|property|http-equiv)=["']%s["'][^>]*"""
               r"""content=["']([^"']+)["'][^>]*>""" % re.escape(name))
    m = re.search(pattern, html, re.I | re.S)
    return m.group(2).strip() if m else ""


def _absolutize_meta(u: str, page_url: str) -> str:
    """absolutize helper in buildMetadataFromHTML
    (scrape/service.go:502-534)."""
    u = u.strip()
    if not u:
        return u
    if u.startswith("http://") or u.startswith("https://"):
        return u
    if u.startswith("//"):
        return ("https:" if page_url.startswith("https://") else "http:") + u
    origin = page_url
    i = origin.find("://")
    if i != -1:
        host = origin[i + 3:]
        j = host.find("/")
        origin = page_url[:i + 3] + host[:j] if j != -1 else page_url
    if u.startswith("/"):
        return origin + u
    if not origin.endswith("/"):
        return origin + "/" + u
    return origin + u


def extract_metadata(html: str, page_url: str, status: int) -> dict:
    """buildMetadataFromHTML + extractPageMetadataFromHTML
    (scrape/service.go:443-565). Returns a dict over METADATA_FIELDS;
    missing values are None (Go nil pointers)."""
    out = {k: None for k in METADATA_FIELDS}
    out["status_code"] = status
    out["source_url"] = page_url

    def setif(k, v):
        v = (v or "").strip()
        if v:
            out[k] = v

    setif("title", extract_title(html))
    setif("description", _find_meta(html, "description"))
    setif("og_title", _find_meta(html, "og:title"))
    setif("og_description", _find_meta(html, "og:description"))
    setif("og_image", _absolutize_meta(_find_meta(html, "og:image"), page_url))
    setif("og_site_name", _find_meta(html, "og:site_name"))
    setif("twitter_title", _find_meta(html, "twitter:title"))
    setif("twitter_description", _find_meta(html, "twitter:description"))
    setif("twitter_image",
          _absolutize_meta(_find_meta(html, "twitter:image"), page_url))
    m = _CANON_RE.search(html)
    if m:
        setif("canonical", _absolutize_meta(m.group(1).strip(), page_url))
    m = _FAV_RE.search(html)
    if m:
        setif("favicon", _absolutize_meta(m.group(2).strip(), page_url))
    return out
