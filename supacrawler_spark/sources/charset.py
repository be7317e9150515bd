"""Charset sniffing for raw web-page bytes (ingestion front door).

A Common-Crawl-style pipeline receives pages as BYTES (input_hint:
``html:binary``) whose encoding must be detected before any text
operator runs — the WHATWG encoding-sniffing ladder, batch form:

1. **BOM**: EF BB BF -> utf-8, FF FE -> utf-16-le, FE FF -> utf-16-be
   (the BOM is consumed, as browsers do);
2. **meta charset** declared in the first 1024 bytes (scanned as
   latin-1, which can decode any byte sequence);
3. **default**: utf-8.

The reference delegates this to Chromium (Playwright hands it decoded
DOM text, internal/core/scrape/service.go:121-270); a batch engine
must own the ladder itself. Detection is consequential, not
cosmetic: decoding latin-1 bytes >= 0x80 as utf-8 corrupts them to
replacement chars, so the driver row's round-trip md5 FAILS if the
ladder picks wrong (the fixture plants non-ASCII chars per branch).

Scale shape: one ``mapInPandas`` over the binary column in the scan
stage — the bytes die there (only charset + text md5 leave the UDF),
mirroring multimodal.py's payload discipline. Python-side work is a
2-byte prefix compare + one bounded regex per row, Arrow-batched.
"""

from __future__ import annotations

import hashlib
import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_META_RE = re.compile(
    r"""charset\s*=\s*["']?([A-Za-z0-9_\-]+)""", re.IGNORECASE)

# sniffed label -> python codec
_CODECS = {"utf-8": "utf-8", "utf-16-le": "utf-16-le",
           "utf-16-be": "utf-16-be", "iso-8859-1": "latin-1",
           "latin-1": "latin-1", "windows-1252": "cp1252",
           "ascii": "ascii"}


def sniff_charset(raw: bytes) -> "tuple[str, str, str]":
    """(charset, via, decoded_text) for one payload. ``via`` is the
    ladder rung: bom | meta | default.

    Never raises: arbitrary web bytes (a mislabeled meta charset, a
    truncated multi-byte sequence, binary smuggled as text/html) decode
    with ``errors='replace'`` — invalid bytes become U+FFFD, valid
    sequences are byte-exact, and the scan task survives. Raising here
    would fail the whole ingestion task on one bad page, violating the
    repo's skip-don't-raise discipline (see parse_warc_bytes)."""
    if raw[:3] == b"\xef\xbb\xbf":
        return "utf-8", "bom", raw[3:].decode("utf-8", "replace")
    if raw[:2] == b"\xff\xfe":
        return "utf-16-le", "bom", raw[2:].decode("utf-16-le", "replace")
    if raw[:2] == b"\xfe\xff":
        return "utf-16-be", "bom", raw[2:].decode("utf-16-be", "replace")
    head = raw[:1024].decode("latin-1")
    m = _META_RE.search(head)
    if m:
        label = m.group(1).lower()
        codec = _CODECS.get(label, "utf-8")
        return label, "meta", raw.decode(codec, "replace")
    return "utf-8", "default", raw.decode("utf-8", "replace")


_OUT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("charset", T.StringType()),
    T.StructField("via", T.StringType()),
    T.StructField("text_md5", T.StringType()),
])


def charset_sniff(spark, sf_dir: str) -> DataFrame:
    """Driver fixture: per-doc raw bytes planted deterministically by
    doc_id % 4 — 0: plain utf-8 (+' naïve', the default rung);
    1: utf-8 BOM; 2: utf-16-le BOM (+' ✓'); 3: latin-1 with a meta
    charset declaration (+' café', whose 0xE9 byte is NOT valid
    utf-8 — a wrong ladder pick corrupts the round-trip md5). The op
    encodes, sniffs, decodes, and emits md5(decoded utf-8 bytes); the
    DuckDB twin states charset/via/md5 in closed form from the
    planting rule."""
    from supacrawler_spark.session import read_table, split_small_scan
    docs = split_small_scan(read_table(spark, sf_dir, "documents")).select(
        "doc_id", "text")

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                r = int(did) % 4
                if r == 0:
                    raw = (text + " naïve").encode("utf-8")
                elif r == 1:
                    raw = b"\xef\xbb\xbf" + text.encode("utf-8")
                elif r == 2:
                    raw = b"\xff\xfe" + (text + " ✓").encode("utf-16-le")
                else:
                    raw = ('<meta charset="iso-8859-1">' + text
                           + " café").encode("latin-1")
                cs, via, decoded = sniff_charset(raw)
                rows.append((int(did), cs, via,
                             hashlib.md5(decoded.encode("utf-8"))
                             .hexdigest()))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              _OUT_SCHEMA.fields])

    return docs.mapInPandas(work, _OUT_SCHEMA)


def charset_sniff_oracle_sql() -> str:
    return (
        "SELECT doc_id, "
        "CASE doc_id % 4 WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-8' "
        "WHEN 2 THEN 'utf-16-le' ELSE 'iso-8859-1' END AS charset, "
        "CASE doc_id % 4 WHEN 0 THEN 'default' WHEN 1 THEN 'bom' "
        "WHEN 2 THEN 'bom' ELSE 'meta' END AS via, "
        "CASE doc_id % 4 "
        "WHEN 0 THEN md5(text || ' naïve') "
        "WHEN 1 THEN md5(text) "
        "WHEN 2 THEN md5(text || ' ✓') "
        "ELSE md5('<meta charset=\"iso-8859-1\">' || text || ' café') "
        "END AS text_md5 "
        "FROM documents")
