"""Byte pins for the extraction kernel's per-page output.

Every public extractor in ``htmlkit`` is run over a fixed
``synth_html`` sample — doc ids 0-199 at page weights 1 and 8, so
every template rule fires (og/canonical metadata, control and
zero-width text, duplicate image and date lines, scripts, sidebars) —
and each output's sha256 is compared with ``goldens/htmlkit_pins.json``.
A kernel optimization must leave every one of them unchanged.

Regenerate the pins only when the extraction semantics change on
purpose:

    python tests/test_htmlkit_pins.py
"""

import hashlib
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from supacrawler_spark import htmlkit as H  # noqa: E402
from supacrawler_spark.sources.synth import page_url, synth_html  # noqa: E402

PINS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "goldens", "htmlkit_pins.json")
N_DOCS = 200
WEIGHTS = (1, 8)
FUNCTIONS = ("crawl_markdown", "scrape_markdown", "extract_text",
             "extract_links", "extract_title", "extract_metadata")
# payloads rotated by doc id: plain words plus the markdown-significant
# characters the cleaners act on (backslashes, brackets, parens, '#',
# '!', entities, quotes)
_PAYLOADS = (
    "synthetic corpus text payload {i} with words {a} {b}",
    "escaped \\path\\to\\file{i} and \\[not a link\\] ({a}) #{b}",
    "see ![alt{i}](https://x.org/{a}.png) then [ref](/r/{b}) **bold**",
    "entities &amp; &quot;quoted&quot; it''s u003c{i}u003e \\' {a}",
)


def _page(doc_id: int, weight: int) -> str:
    text = _PAYLOADS[doc_id % len(_PAYLOADS)].format(
        i=doc_id, a=doc_id % 97, b=doc_id % 31)
    return synth_html(doc_id, text, N_DOCS, weight=weight)


def _outputs(html: str, url: str) -> dict:
    return {
        "crawl_markdown": H.crawl_markdown(html),
        "scrape_markdown": H.scrape_markdown(html),
        "extract_text": H.extract_text(html),
        "extract_links": "\n".join(H.extract_links(html, url)),
        "extract_title": H.extract_title(html),
        "extract_metadata": json.dumps(H.extract_metadata(html, url, 200),
                                       sort_keys=True),
    }


def _sha(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def compute_pins() -> dict:
    pages = {}
    for w in WEIGHTS:
        for d in range(N_DOCS):
            out = _outputs(_page(d, w), page_url(d))
            pages[f"w{w}:{d}"] = " ".join(_sha(out[f]) for f in FUNCTIONS)
    return {"functions": list(FUNCTIONS), "pages": pages}


@pytest.fixture(scope="module")
def pins():
    with open(PINS) as f:
        return json.load(f)


def test_pin_file_covers_the_sample(pins):
    assert pins["functions"] == list(FUNCTIONS)
    assert len(pins["pages"]) == N_DOCS * len(WEIGHTS)


@pytest.mark.parametrize("weight", WEIGHTS)
def test_kernel_output_bytes_pinned(pins, weight):
    drift = []
    for d in range(N_DOCS):
        out = _outputs(_page(d, weight), page_url(d))
        want = pins["pages"][f"w{weight}:{d}"].split()
        for f, h in zip(FUNCTIONS, want):
            if _sha(out[f]) != h:
                drift.append(f"doc {d} {f}")
    assert not drift, f"{len(drift)} outputs drifted: {drift[:10]}"


if __name__ == "__main__":
    os.makedirs(os.path.dirname(PINS), exist_ok=True)
    with open(PINS, "w") as f:
        json.dump(compute_pins(), f, indent=0, sort_keys=True)
        f.write("\n")
    print("wrote", PINS)
