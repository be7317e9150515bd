"""Deterministic synthetic web generator (FIXTURES.md §1).

Builds a Common-Crawl-style ``pages(url, warc_ts, html, text, lang)``
table from the driver-provided ``documents`` table (text payload), as a
pure function of ``(seed, doc_id, n_docs)`` — no RNG state, no
wall-clock — so the link graph and every golden answer are computable
a priori by the oracle at any scale, and generation distributes via
``mapInPandas`` with no cross-row dependencies.

Graph properties (FIXTURES.md content rules):
- 1 hot host (~30% of pages) + 41 cold hosts (skew salting target);
- path families /blog /docs /product /news (pattern predicates);
- per page: same-host sibling links (BFS connectivity), cross-host
  links (domain-scope rejections), www-/subdomain-variant and relative
  links (absolutization + dangling 404 paths), #fragment / mailto: /
  javascript: noise (protocol filter);
- boilerplate <nav>/<header>/keyword-divs (markdown strip rules),
  og/twitter/canonical metadata on subsets, pathological text
  (control chars, zero-width unicode, duplicate image/date lines) on
  subsets;
- golden ``text`` column = htmlkit.extract_text(html) frozen at
  generation time (the byte-identity target).
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timedelta

import pandas as pd

from supacrawler_spark import htmlkit as H

SECTIONS = ("blog", "docs", "product", "news")
N_COLD_HOSTS = 41
HOST_GROUPS = 128          # doc_id % 128 -> host bucket
HOT_GROUPS = 38            # buckets 0..37 -> hot host (~30%)
BASE_TS = datetime(2024, 1, 1)


def _h(seed: int, *parts) -> int:
    data = ("%d|" % seed + "|".join(str(p) for p in parts)).encode()
    return int.from_bytes(hashlib.blake2b(data, digest_size=8).digest(), "big")


def host_id(doc_id: int) -> int:
    g = doc_id % HOST_GROUPS
    return 0 if g < HOT_GROUPS else 1 + (g - HOT_GROUPS) % N_COLD_HOSTS


def host_name(hid: int) -> str:
    return "hot.example.org" if hid == 0 else f"h{hid}.example.org"


def n_hosts() -> int:
    return 1 + N_COLD_HOSTS


def section(doc_id: int, seed: int = 42) -> str:
    return SECTIONS[_h(seed, doc_id, "sec") % len(SECTIONS)]


def page_path(doc_id: int, seed: int = 42) -> str:
    return f"/{section(doc_id, seed)}/p{doc_id}"


def page_url(doc_id: int, seed: int = 42) -> str:
    return f"https://{host_name(host_id(doc_id))}{page_path(doc_id, seed)}"


def _same_host_sibling(doc_id: int, j: int, n_docs: int) -> int:
    """A distinct page on the same host.

    Hot-host pages (groups 0..HOT_GROUPS-1) link across the whole hot
    group range — the hot host is one big site whose BFS reach covers
    ~30% of the corpus (the skew/throughput driver). Cold hosts are
    small sites: same residue class, varied strides.
    """
    g = doc_id % HOST_GROUPS
    h = _h(0, doc_id, "sib2", j)
    if g < HOT_GROUPS:
        t = (h % max(1, n_docs))
        t = t - (t % HOST_GROUPS) + ((h >> 7) % HOT_GROUPS)
        if t >= n_docs:
            t -= HOST_GROUPS
        return t if 0 <= t < n_docs and t != doc_id else doc_id
    step = HOST_GROUPS * (1 + h % 37)
    cand = doc_id + step
    if cand >= n_docs:
        cand = doc_id - step
    return cand if 0 <= cand < n_docs and cand != doc_id else doc_id


def _link_specs(doc_id: int, n_docs: int, seed: int):
    """Deterministic anchor list for a page: (href, kind)."""
    links = []
    base_host = host_name(host_id(doc_id))
    # 2-4 same-host siblings as absolute URLs (BFS connectivity)
    n_sib = 2 + _h(seed, doc_id, "ns") % 3
    for j in range(n_sib):
        t = _same_host_sibling(doc_id, _h(seed, doc_id, "sib", j) % 7, n_docs)
        if t != doc_id:
            links.append(page_url(t, seed))
    # 1 same-host absolute-path link
    t = _same_host_sibling(doc_id, 3 + _h(seed, doc_id, "ap") % 5, n_docs)
    if t != doc_id:
        links.append(page_path(t, seed))
    # 1 cross-host absolute link (domain-scope reject, unless same host)
    t = (_h(seed, doc_id, "x") % n_docs)
    links.append(page_url(t, seed))
    # www-variant of a sibling (canonicalizes to a different host -> 404)
    if doc_id % 6 == 0:
        t = _same_host_sibling(doc_id, 2, n_docs)
        links.append(f"https://www.{base_host}{page_path(t, seed)}")
    # subdomain variant (in-scope only with include_subdomains; dangling)
    if doc_id % 9 == 0:
        links.append(f"https://sub.{base_host}/s/p{doc_id}")
    # protocol-relative same-host sibling
    if doc_id % 4 == 0:
        t = _same_host_sibling(doc_id, 5, n_docs)
        if t != doc_id:
            links.append(f"//{base_host}{page_path(t, seed)}")
    # relative link (resolves under the page path -> dangling 404)
    if doc_id % 8 == 0:
        links.append(f"rel{doc_id % 13}")
    # dangling same-host link (fetch-miss path)
    if doc_id % 5 == 0:
        links.append(f"/void/p{doc_id}")
    # noise: fragment, mailto, javascript (protocol/domain filters)
    links.append("#top")
    links.append("mailto:info@example.org")
    links.append("javascript:void(0)")
    return links


PATHO_TEXT = "patho\x01logical​ zero‌width text"
DATE_TEXT = "Sep 12, 2024"


def _body_paras(doc_id: int, text: str, weight: int = 1):
    """The two body paragraphs — template ground truth shared by the
    html generator and the a-priori signature oracle.

    Realistic page weight: repeat the payload to ~1.5-4.3 KB of body
    text (Common-Crawl pages are tens of KB; the tiny documents rows
    alone would make extraction unrealistically cheap). Deterministic
    per page; repeats are suffixed so every sentence stays unique."""
    words = (text or "content").split()
    target = weight * (1500 + (doc_id % 5) * 700)
    body_words = list(words)
    rep = 1
    while sum(len(w) + 1 for w in body_words) < target:
        body_words.extend(w + str(rep) for w in words)
        rep += 1
    words = body_words
    para1 = " ".join(words[: max(5, len(words) // 2)]) or "content body"
    para2 = " ".join(words[max(5, len(words) // 2):]) or "more content"
    return para1, para2


def synth_html(doc_id: int, text: str, n_docs: int, seed: int = 42,
               weight: int = 1) -> str:
    hid = host_id(doc_id)
    hname = host_name(hid)
    title = f"Page {doc_id} — {hname}"
    para1, para2 = _body_paras(doc_id, text, weight)
    anchors = _link_specs(doc_id, n_docs, seed)

    head = [f"<title>{title}</title>",
            f'<meta name="description" content="Synthetic page {doc_id} on {hname}">']
    if doc_id % 3 == 0:
        head.append(f'<meta property="og:title" content="OG {doc_id}">')
        head.append(f'<meta property="og:image" content="/img/{doc_id}.png">')
        head.append(f'<meta name="twitter:title" content="TW {doc_id}">')
    if doc_id % 5 == 0:
        head.append(f'<link rel="canonical" href="{page_path(doc_id, seed)}">')
        head.append('<link rel="icon" href="/favicon.ico">')

    nav_links = "".join(
        f'<a href="/{s}/index">{s}</a> ' for s in SECTIONS[: 1 + doc_id % 3]
    )
    body = [
        f"<nav>{nav_links}</nav>",
        '<div class="cookie-consent">We use cookies</div>',
        "<main>",
        f"<h1>{title}</h1>",
        f"<p>{para1}</p>",
    ]
    # inline links woven into a paragraph
    inline = " ".join(f'<a href="{a}">link{i}</a>' for i, a in enumerate(anchors[:4]))
    body.append(f"<p>{para2} {inline}</p>")
    # remaining links as a list
    if len(anchors) > 4:
        body.append("<ul>" + "".join(
            f'<li><a href="{a}">item{i}</a></li>'
            for i, a in enumerate(anchors[4:])) + "</ul>")
    if doc_id % 7 == 0:
        # pathological: control chars + zero-width unicode (markdown.go:166-199)
        body.append(f"<p>{PATHO_TEXT}</p>")
    if doc_id % 11 == 0:
        # duplicate image + date lines (markdown.go:79-143)
        body.append(f'<p><img src="https://{hname}/i/{doc_id}.png" alt="im"></p>')
        body.append(f'<p><img src="https://{hname}/i/{doc_id}.png" alt="im"></p>')
        body.append(f"<p>{DATE_TEXT}</p><p>{DATE_TEXT}</p>")
    if doc_id % 13 == 0:
        body.append('<div id="sidebar-related">related junk</div>')
    body.append("</main>")
    body.append('<footer class="share-bar">share</footer>')
    if doc_id % 10 == 0:
        body.append("<script>var tracker = 1;</script>")

    return ("<html><head>" + "".join(head) + "</head><body>"
            + "".join(body) + "</body></html>")


def expected_signature(doc_id: int, text: str, n_docs: int,
                       seed: int = 42, weight: int = 1) -> tuple:
    """A-priori ground truth for ``scrapeops.signature_of_html`` over
    ``synth_html(doc_id, ...)`` — (text_length, element_count,
    link_count, async_load_indicators, content_hash), derived from the
    TEMPLATE rules (what the generator emits, in document order), NOT
    by parsing the html. This is the independent oracle behind the
    ``content_signature`` driver golden: a bug in the htmlkit parser,
    the tree walker, or the counting kernel shows up as a mismatch
    here, unlike a golden produced by the kernel itself.

    Reference semantics being modeled: getContentSignature,
    internal/core/scrape/service.go:917-1015 (visible text = raw
    textContent concatenation outside script/style/noscript; elements =
    querySelectorAll('*') minus script/style/noscript/meta/link/title;
    links = a[href]; JS 31*h int32 rolling hash over UTF-16 units).
    """
    title = f"Page {doc_id} — {host_name(host_id(doc_id))}"
    para1, para2 = _body_paras(doc_id, text, weight)
    anchors = _link_specs(doc_id, n_docs, seed)
    n_nav = 1 + doc_id % 3
    n_inline = min(4, len(anchors))
    n_items = max(0, len(anchors) - 4)

    # visible body text nodes, template document order (head excluded)
    parts = ["".join(f"{s} " for s in SECTIONS[:n_nav])]    # nav anchors
    parts.append("We use cookies")                          # cookie div
    parts.append(title)                                     # h1
    parts.append(para1)                                     # p1
    parts.append(para2 + " "                                # p2 + inline
                 + " ".join(f"link{i}" for i in range(n_inline)))
    parts.append("".join(f"item{i}" for i in range(n_items)))  # ul li a
    if doc_id % 7 == 0:
        parts.append(PATHO_TEXT)
    if doc_id % 11 == 0:
        parts.append(DATE_TEXT * 2)     # imgs carry no text; 2 date <p>
    if doc_id % 13 == 0:
        parts.append("related junk")    # sidebar div
    parts.append("share")               # footer (script text excluded)
    visible = "".join(parts)

    elements = 3                        # html, head, body
    elements += 1 + n_nav               # nav + its anchors
    elements += 1                       # cookie div
    elements += 4 + n_inline            # main, h1, p1, p2 + inline a's
    if n_items:
        elements += 1 + 2 * n_items     # ul + (li + a) each
    if doc_id % 7 == 0:
        elements += 1                   # patho p
    if doc_id % 11 == 0:
        elements += 6                   # 2x(p+img) + 2 date p
    if doc_id % 13 == 0:
        elements += 1                   # sidebar div
    elements += 1                       # footer
    links = n_nav + len(anchors)        # every template anchor has href

    # independent int32 rolling hash: code-POINT loop (synth text is
    # BMP-only, asserted — code points == UTF-16 units here), distinct
    # from the kernel's utf-16-le byte-pair iteration
    assert all(ord(c) <= 0xFFFF for c in visible), "template is BMP-only"
    h = 0
    for c in visible:
        h = (31 * h + ord(c)) & 0xFFFFFFFF
    if h >= 0x80000000:
        h -= 0x100000000
    return len(visible), elements, links, 0, str(h)


def synth_page(doc_id: int, text: str, lang: str, n_docs: int,
               seed: int = 42, weight: int = 1) -> dict:
    html = synth_html(doc_id, text, n_docs, seed, weight)
    return {
        "url": page_url(doc_id, seed),
        "warc_ts": BASE_TS + timedelta(seconds=int(doc_id)),
        "html": html.encode("utf-8"),
        "text": H.extract_text(html),
        "lang": lang or "en",
    }


def gen_pages_df(spark, sf_dir: str, seed: int = 42,
                 limit: "int | None" = None, replicate: int = 1,
                 partitions: "int | None" = None, weight: int = 1):
    """Distributed generation: documents -> pages via mapInPandas.
    ``n_pages`` is the one driver-side scalar (a count), everything
    else is per-row pure functions — the generator itself scales.

    ``replicate``: pages per document (page_id = doc_id * R + j), used
    to grow the bench corpus beyond the documents table (FIXTURES.md:
    bench ~50k+ pages). Replica texts get a distinct suffix so every
    page's golden bytes stay unique. ``weight`` scales page body size
    (weight=8 ~= 12-34KB of text — the Common-Crawl page-weight class;
    weight=1 keeps unit-test corpora fast).
    """
    from supacrawler_spark.schemas import PAGES_SCHEMA

    from supacrawler_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang")
    if limit is not None:
        docs = docs.filter(f"doc_id < {int(limit)}")
    n_pages = docs.count() * replicate
    if partitions:
        docs = docs.repartition(partitions)

    def gen(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                for j in range(replicate):
                    pid = int(r.doc_id) * replicate + j
                    txt = r.text if replicate == 1 else (
                        f"{r.text} replica {j}")
                    rows.append(synth_page(pid, txt, r.lang, n_pages,
                                           seed, weight))
            yield pd.DataFrame(rows)

    return docs.mapInPandas(gen, schema=PAGES_SCHEMA), n_pages


def gen_seeds(n_docs: int, k: int = 3, seed: int = 42,
              include_dangling: bool = False):
    """Seed list: (url, seed_rank). Picks docs spread across hosts."""
    seeds = []
    for r in range(k):
        doc = (r * (HOST_GROUPS + 1)) % max(1, n_docs)
        seeds.append((page_url(doc, seed), r))
    if include_dangling:
        seeds.append(("https://h1.example.org/void/seedmiss", k))
    return seeds


def gen_robots_df(spark, disallow_sections=("product",)):
    """Non-trivial robots rules for robots-specific tests: disallow a
    path family on every host (default fixture for trace parity is
    allow-all = None)."""
    from supacrawler_spark.schemas import ROBOTS_SCHEMA
    rows = []
    for hid in range(n_hosts()):
        rows.append((host_name(hid),
                     [],
                     ["/%s/" % s for s in disallow_sections],
                     500))
    from supacrawler_spark.session import arrow_local_df
    return arrow_local_df(spark, rows, ROBOTS_SCHEMA)


def gen_politeness_df(spark, max_parallel: int = 10,
                      delay_ms: "int | None" = 500,
                      hot_budget: "int | None" = None):
    """Per-host budgets; defaults = reference constants (colly
    LimitRule Parallelism=10, RandomDelay 500ms, mapper/service.go:93).
    Pass delay_ms=None when the budget already subsumes the delay
    (bench wide-wave config) — delays fold into B_eff since round 4."""
    from supacrawler_spark.schemas import POLITENESS_SCHEMA
    rows = []
    for hid in range(n_hosts()):
        mp = hot_budget if (hid == 0 and hot_budget is not None) else max_parallel
        rows.append((host_name(hid), mp, delay_ms))
    from supacrawler_spark.session import arrow_local_df
    return arrow_local_df(spark, rows, POLITENESS_SCHEMA)
