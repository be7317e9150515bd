"""Unit tests for the HTML extraction kernel (SURVEY.md §2.8 X1-X8).

Golden strings below are hand-written expectations implementing the
reference's cited rules (markdown.go, scrape/service.go); they freeze
the byte-identity contract for the `text`/markdown columns.
"""

from supacrawler_spark import htmlkit as H

PAGE = """<html><head>
<title>Hello &amp; Welcome</title>
<meta name="description" content="A test page">
<meta property="og:title" content="OG Hello">
<meta property="og:image" content="/img/og.png">
<link rel="canonical" href="/canon">
<link rel="icon" href="//cdn.a.com/i.ico">
</head><body>
<nav><a href="/nav1">Nav</a></nav>
<div class="cookie-banner">Accept cookies</div>
<main>
<h1>Main Title</h1>
<p>First paragraph with <strong>bold</strong> and <em>italic</em>.</p>
<p>See <a href="/blog/post">the post</a> and <a href="https://b.com/x">B</a>.</p>
<ul><li>one</li><li>two</li></ul>
</main>
<footer class="share-footer">share me</footer>
</body></html>"""


class TestMarkdown:
    def test_main_selection_and_boilerplate(self):
        md = H.html_to_markdown(PAGE)
        assert "Nav" not in md            # outside <main>
        assert "cookies" not in md        # outside <main>
        assert "share me" not in md       # outside <main>
        assert "# Main Title" in md

    def test_exact_output(self):
        md = H.html_to_markdown(PAGE)
        expected = (
            "# Main Title\n"
            "First paragraph with **bold** and *italic*.\n"
            "See [the post](/blog/post) and [B](https://b.com/x).\n"
            "- one\n"
            "- two"
        )
        assert md == expected

    def test_no_main_falls_back_to_body_and_strips(self):
        html = """<body><header>top</header>
        <div id="sidebar-x">side</div>
        <p>content here</p>
        <div class="menu-main">m</div></body>"""
        md = H.html_to_markdown(html)
        assert md == "content here"

    def test_role_main_and_id_content(self):
        html = '<body><div role="main"><p>a</p></div><p>b</p></body>'
        assert H.html_to_markdown(html) == "a"
        html2 = '<body><div id="content"><p>c</p></div><p>d</p></body>'
        assert H.html_to_markdown(html2) == "c"

    def test_keyword_removal_matches_class_or_id(self):
        html = ('<body><p>keep</p><div id="promo-1">x</div>'
                '<div class="has-modal-inside">y</div></body>')
        assert H.html_to_markdown(html) == "keep"

    def test_selection_node_itself_not_removed(self):
        # goquery .Find() matches descendants only (markdown.go:46)
        html = '<body><main class="header-main"><p>kept</p></main></body>'
        assert H.html_to_markdown(html) == "kept"

    def test_aria_and_role_removal(self):
        html = ('<body><div role="banner">b</div>'
                '<div aria-label="Cookie notice">c</div>'
                '<div aria-modal="true">m</div><p>ok</p></body>')
        assert H.html_to_markdown(html) == "ok"


class TestRemoveDuplicates:
    def test_duplicate_image_link_lines(self):
        md = ("![a](https://a.com/1.png)\n"
              "text\n"
              "![a](https://a.com/1.png)\n")
        out = H.remove_duplicates(md)
        assert out.count("![a](https://a.com/1.png)") == 1

    def test_normalized_url_dedup(self):
        # different URLs normalize to LINK -> treated as duplicates
        md = "![x](https://a.com/1.png)\n![x](https://a.com/2.png)\n"
        out = H.remove_duplicates(md)
        assert out.count("![x]") == 1

    def test_duplicate_date_lines(self):
        md = "Sep 12, 2024\nbody\nSep 12, 2024\n"
        out = H.remove_duplicates(md)
        assert out.count("Sep 12, 2024") == 1

    def test_lines_trimmed(self):
        # Go strings.Split keeps the trailing empty element, which is
        # re-emitted as a bare "\n" (markdown.go:81,107)
        assert H.remove_duplicates("  x  \n") == "x\n\n"
        assert H.remove_duplicates("  x  ") == "x\n"


class TestCleanBoilerplate:
    def test_blank_and_pure_image_lines_dropped(self):
        md = "a\n\n![i](http://x/y.png)\n\nb"
        assert H.clean_markdown_boilerplate(md) == "a\nb"

    def test_image_with_text_kept(self):
        md = "see ![i](http://x/y.png) here"
        assert H.clean_markdown_boilerplate(md) == "see ![i](http://x/y.png) here"


class TestEscapeFixes:
    def test_invalid_escape_removed(self):
        assert H.fix_invalid_escapes("a\\<b") == "a<b"

    def test_control_chars_removed(self):
        assert H.fix_control_characters("a\x01b\x0bc") == "abc"

    def test_invisible_unicode_removed(self):
        assert H.fix_control_characters("a​b﻿c�d") == "abcd"

    def test_u003c_normalized(self):
        assert H.fix_json_escapes("au003cbu003e") == "a<b>"

    def test_entities(self):
        assert H.fix_json_escapes("&lt;x&gt; &amp; &quot;y&quot;") == '<x> & "y"'

    def test_quote_collapsing(self):
        assert H.fix_json_escapes("What'\\''s") == "What's"
        assert H.fix_json_escapes("a''b") == "a'b"


class TestCleanContent:
    def test_trailing_two_newlines(self):
        out = H.clean_content("# T\nbody")
        assert out.endswith("\n\n")
        assert not out.endswith("\n\n\n")

    def test_header_spacing(self):
        out = H.clean_content("text\n## H")
        assert "text\n\n## H" in out

    def test_crlf_normalized(self):
        assert "\r" not in H.clean_content("a\r\nb")

    def test_empty(self):
        assert H.clean_content("") == ""


class TestText:
    def test_block_lines(self):
        t = H.extract_text(PAGE)
        assert "Main Title" in t
        assert "First paragraph with bold and italic." in t
        # text extraction keeps nav/footer (it is the body text), but
        # never script/style
        assert "Nav" in t

    def test_scripts_removed(self):
        t = H.extract_text("<body><p>a</p><script>var x=1;</script></body>")
        assert t == "a"

    def test_whitespace_collapsed(self):
        t = H.extract_text("<body><p>a   b\n\t c</p></body>")
        assert t == "a b c"

    def test_no_body_tag(self):
        assert H.extract_text("<p>loose</p>") == "loose"

    def test_deterministic_bytes(self):
        assert H.extract_text(PAGE) == H.extract_text(PAGE)


class TestTitle:
    def test_basic(self):
        assert H.extract_title(PAGE) == 'Hello & Welcome'

    def test_missing(self):
        assert H.extract_title("<body></body>") == ""

    def test_case_insensitive(self):
        assert H.extract_title("<TITLE>X</TITLE>") == "X"


class TestLinks:
    def test_absolutization_variants(self):
        html = ('<a href="/abs">a</a>'
                '<a href="rel">r</a>'
                '<a href="//c.com/p">p</a>'
                '<a href="https://b.com/x">b</a>'
                '<a href="#frag">f</a>'
                '<a href="mailto:x@y">m</a>'
                '<a href="javascript:void(0)">j</a>')
        links = H.extract_links(html, "https://a.com/dir")
        assert links == [
            "https://a.com/abs",
            "https://a.com/dir/rel",
            "https://c.com/p",
            "https://b.com/x",
        ]

    def test_base_with_trailing_slash(self):
        assert H.extract_links('<a href="r">r</a>', "https://a.com/d/") == \
            ["https://a.com/d/r"]

    def test_absolute_path_uses_origin(self):
        assert H.extract_links('<a href="/x">x</a>', "https://a.com/d/e") == \
            ["https://a.com/x"]

    def test_protocol_relative_follows_base_scheme(self):
        assert H.extract_links('<a href="//c.com/p">p</a>', "http://a.com") == \
            ["http://c.com/p"]

    def test_order_preserving_dedup(self):
        html = '<a href="/a">1</a><a href="/b">2</a><a href="/a">3</a>'
        assert H.extract_links(html, "https://h.com") == \
            ["https://h.com/a", "https://h.com/b"]


class TestMetadata:
    def test_fields(self):
        m = H.extract_metadata(PAGE, "https://a.com/p", 200)
        assert m["status_code"] == 200
        assert m["source_url"] == "https://a.com/p"
        assert m["title"] == "Hello & Welcome"
        assert m["description"] == "A test page"
        assert m["og_title"] == "OG Hello"
        assert m["og_image"] == "https://a.com/img/og.png"  # absolutized
        assert m["canonical"] == "https://a.com/canon"
        assert m["favicon"] == "https://cdn.a.com/i.ico"  # protocol-relative
        assert m["twitter_title"] is None

    def test_missing_all(self):
        m = H.extract_metadata("<body></body>", "https://a.com", 404)
        assert m["status_code"] == 404
        assert m["title"] is None


# --------------------------------------------------------------------------
# Guarded regex passes == their plain regex forms
# --------------------------------------------------------------------------

import re  # noqa: E402

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

# dense in the characters the guards test for: whitespace, markup, and
# control / zero-width code points, plus the multi-character fragments
# the guarded patterns match on
_GUARD_TOKENS = (
    list(" \t\r\n\f\v\\()[]!*#\x00\x01\x7f\u200b")
    + ["a", "b", "1", "  ", ")\n", ")\n\n", "**", "](", "\n#", "![",
       "\\\n", "\n\n\n", ") [![", "**a**](", "[b]("]
)
_guard_text = st.lists(st.sampled_from(_GUARD_TOKENS), max_size=30).map("".join)
_GUARD_SETTINGS = settings(max_examples=300, deadline=None)


def _plain_fix_control_characters(text):
    text = re.sub(r"[\x00-\x08\x0B\x0C\x0E-\x1F]", "", text)
    for ch in H._INVISIBLE + ["\uFFFF", "\x00"]:
        text = text.replace(ch, "")
    return text


def _plain_clean_content(md):
    if md == "":
        return ""
    cleaned = md.replace("\r\n", "\n")
    cleaned = cleaned.replace(")\\\n[", ")\n[")
    cleaned = cleaned.replace("]\\\n(", "]\n(")
    cleaned = re.sub(r"\\+\n", "\n", cleaned)
    cleaned = re.sub(r"\)\n{1,2}(\*\*[^\]]+\*\*)\]\(", r") \1](", cleaned)
    cleaned = re.sub(r"\)\n{1,2}\[([^\]]+)\]\(", r") [\1](", cleaned)
    cleaned = re.sub(r"\) \[!\[", ")\n\n[![", cleaned)
    cleaned = re.sub(r"\n{3,}", "\n\n", cleaned)
    cleaned = re.sub(r"([^\n])\n(#+)", r"\1\n\n\2", cleaned)
    cleaned = cleaned.strip() + "\n\n"
    if not cleaned.endswith("\n\n"):
        cleaned = cleaned.rstrip("\n") + "\n\n"
    return cleaned


class TestRegexGuards:
    @_GUARD_SETTINGS
    @given(_guard_text)
    def test_collapse_ws(self, s):
        assert H._collapse_ws(s) == re.sub(r"[ \t\r\n\f]+", " ", s)

    @_GUARD_SETTINGS
    @given(_guard_text)
    def test_collapse_n3(self, s):
        assert H._collapse_n3(s) == re.sub(r"\n{3,}", "\n\n", s)

    @_GUARD_SETTINGS
    @given(_guard_text)
    def test_fix_control_characters(self, s):
        assert H.fix_control_characters(s) == _plain_fix_control_characters(s)

    @_GUARD_SETTINGS
    @given(_guard_text)
    def test_clean_content(self, s):
        assert H.clean_content(s) == _plain_clean_content(s)

    @_GUARD_SETTINGS
    @given(_guard_text)
    def test_space_run_needs_double_space(self, s):
        # the inline-paragraph flush squeezes " +" only behind "  "
        assert "  " in s or H._SPACES_RE.sub(" ", s) == s

    def test_inline_run_spaces_squeezed(self):
        # joining a div's inline run can create the space runs the
        # flush squeezes
        assert H.html_to_markdown("<div>a <span></span> c</div>") == "a c"
        assert H.html_to_markdown("<div>a <b></b> <i></i> c</div>") == "a c"
