"""WARC/1.0 source — Common-Crawl-style container round-trip.

The reference fetches the live web page-by-page (scrape/service.go
scrapeWithPlaywright, crawl/service.go streamCrawl); at 100-TB scale
the corpus instead arrives as WARC shards (Common Crawl publishes
~64k ~1-GB ``*.warc.gz`` files per snapshot). This module gives the
engine that ingestion path, Spark-first:

- ``build_warc_bytes`` assembles a REAL ``WARC/1.0`` byte stream
  (``response`` records carrying ``WARC-Target-URI`` / ``WARC-Date``
  / ``Content-Length`` headers around an ``HTTP/1.1`` envelope) for
  one shard's worth of documents. Exposed over
  ``groupBy(file_id).applyInPandas`` so each task emits one shard —
  the same shard = task granularity a real CC load has.
- ``parse_warc_bytes`` is a pure-bytes streaming record parser:
  header-block scan + ``Content-Length`` jumps, no regex over the
  payload, no full-file ``split()`` copies. Records that are
  truncated or malformed are skipped, never raised (one bad shard
  region must not fail a 64k-shard job).
- ``warc_scan`` wires the parser over ``mapInPandas`` so a directory
  of shards read via ``spark.read.format("binaryFile")`` parses with
  file-per-task parallelism; the fat payload dies inside the scan
  task and only the slim projection (url, ts, status, length,
  digest) ever moves.

100-TB shape: shards are the parallelism unit (tens of thousands of
tasks), records never shuffle, and the digest/length projection is
what downstream dedup/quality operators consume. Every byte of a
synthetic shard is a pure function of the ``documents`` row, so the
DuckDB oracle states the expected parse a priori
(url/date/status/length/md5 in closed form).
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

CRLF = b"\r\n"
_WARC_VERSION = b"WARC/1.0"

WARC_RECORD_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_date", T.StringType()),
    T.StructField("http_status", T.IntegerType()),
    T.StructField("content_len", T.LongType()),
    T.StructField("body_md5", T.StringType()),
])


def _warc_date(doc_id: int) -> str:
    """ISO-8601 WARC-Date, deterministic: BASE_TS + doc_id seconds.

    Mirrored by the oracle as
    ``strftime(TIMESTAMP '2024-01-01' + doc_id * INTERVAL 1 SECOND,
    '%Y-%m-%dT%H:%M:%SZ')``.
    """
    from datetime import datetime, timedelta
    ts = datetime(2024, 1, 1) + timedelta(seconds=int(doc_id))
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


def doc_url(doc_id: int, source: str) -> str:
    """The record URI, mirrored by the oracle as a string concat."""
    return f"https://{source}.example.org/doc/{doc_id}"


def build_record_raw(url: str, date: str, body: bytes,
                     status: int = 200,
                     reason: str = "OK") -> bytes:
    """One WARC response record around arbitrary content: WARC header
    + HTTP/1.1 envelope + body, terminated by the mandatory blank
    line (two CRLFs). The corpus-loading builder (any url/date/bytes);
    build_record is the documents-fixture specialization."""
    http = (f"HTTP/1.1 {status} {reason}".encode() + CRLF
            + b"Content-Type: text/html; charset=utf-8" + CRLF
            + b"Content-Length: " + str(len(body)).encode() + CRLF
            + CRLF + body)
    rid = hashlib.md5(url.encode()).hexdigest()
    header = (_WARC_VERSION + CRLF
              + b"WARC-Type: response" + CRLF
              + b"WARC-Record-ID: <urn:md5:" + rid.encode() + b">" + CRLF
              + b"WARC-Target-URI: " + url.encode() + CRLF
              + b"WARC-Date: " + date.encode() + CRLF
              + b"Content-Type: application/http; msgtype=response" + CRLF
              + b"Content-Length: " + str(len(http)).encode() + CRLF
              + CRLF)
    return header + http + CRLF + CRLF


def build_record(doc_id: int, source: str, text: str) -> bytes:
    """Documents-fixture record: url/date derived from doc_id so the
    oracle knows every field a priori."""
    return build_record_raw(doc_url(doc_id, source), _warc_date(doc_id),
                            text.encode("utf-8"))


def build_warc_bytes(rows) -> bytes:
    """Assemble one shard from (doc_id, source, text) tuples, sorted
    by doc_id so shard bytes are order-independent of upstream
    partitioning."""
    return b"".join(build_record(d, s, t)
                    for d, s, t in sorted(rows, key=lambda r: r[0]))


def parse_warc_bytes(buf: bytes, with_body: bool = False):
    """Stream records out of one shard's bytes.

    Yields dicts matching WARC_RECORD_SCHEMA (plus ``body`` bytes when
    ``with_body`` — the corpus-loading path). Jumps by Content-Length
    (never scans payload bytes for separators, so bodies containing
    'WARC/1.0' cannot desync the parser). Malformed or truncated
    regions are skipped by re-synchronizing on the next version line.
    """
    pos, n = 0, len(buf)
    while pos < n:
        start = buf.find(_WARC_VERSION, pos)
        if start < 0:
            return
        hdr_end = buf.find(CRLF + CRLF, start)
        if hdr_end < 0:
            return
        headers = {}
        for line in buf[start:hdr_end].split(CRLF)[1:]:
            k, sep, v = line.partition(b":")
            if sep:
                headers[k.strip().lower()] = v.strip()
        try:
            clen = int(headers.get(b"content-length", b""))
        except ValueError:
            pos = hdr_end + 4
            continue
        block_start = hdr_end + 4
        block_end = block_start + clen
        if block_end > n:        # truncated final record: drop it
            return
        pos = block_end + 4      # skip the record-terminating blank line
        if headers.get(b"warc-type") != b"response":
            continue
        block = buf[block_start:block_end]
        http_end = block.find(CRLF + CRLF)
        if http_end < 0:
            continue
        status_line = block[:block.find(CRLF)].split(b" ")
        try:
            status = int(status_line[1])
        except (IndexError, ValueError):
            continue
        body = block[http_end + 4:]
        rec = {
            "url": headers.get(b"warc-target-uri", b"").decode(
                "utf-8", "replace"),
            "warc_date": headers.get(b"warc-date", b"").decode(
                "utf-8", "replace"),
            "http_status": status,
            "content_len": len(body),
            "body_md5": hashlib.md5(body).hexdigest(),
            # CDX fields: byte position of this record inside the
            # shard — slicing buf[offset:offset+record_len] re-parses
            # to exactly this record (random access without scanning).
            # A final record whose content is complete but whose
            # terminating blank line hit EOF is still valid (tolerant
            # like real-world WARC readers): clamp the length.
            "offset": start,
            "record_len": min(block_end + 4, n) - start,
        }
        if with_body:
            rec["body"] = body
        yield rec


def warc_scan(shards: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Parse a DataFrame of WARC shard payloads (one row per shard —
    e.g. from ``spark.read.format("binaryFile")`` where the column is
    ``content``) into slim record rows via one mapInPandas pass."""
    cols = [f.name for f in WARC_RECORD_SCHEMA.fields]

    def work(batches):
        for pdf in batches:
            rows = []
            for buf in pdf[payload_col]:
                rows.extend(parse_warc_bytes(bytes(buf or b"")))
            yield pd.DataFrame(rows, columns=cols)

    return shards.mapInPandas(work, WARC_RECORD_SCHEMA)


RECORDS_PER_SHARD = 32


def docs_as_warc_shards(spark, sf_dir: str,
                        records_per_shard: int = RECORDS_PER_SHARD
                        ) -> DataFrame:
    """Fixture: assemble the documents table into WARC shards,
    one task per shard (groupBy file_id → applyInPandas). At real
    scale the shards already exist on storage and enter through
    binaryFile; this builder exists so the container path is
    exercised end-to-end with a-priori-known bytes."""
    from supacrawler_spark.session import read_table
    docs = (read_table(spark, sf_dir, "documents")
            .select("doc_id", "source", "text")
            .withColumn("file_id",
                        (F.col("doc_id") / records_per_shard)
                        .cast("long")))

    out_schema = T.StructType([
        T.StructField("file_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ])

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        payload = build_warc_bytes(
            list(zip(pdf["doc_id"].astype(int),
                     pdf["source"], pdf["text"])))
        return pd.DataFrame({"file_id": [int(pdf["file_id"].iloc[0])],
                             "payload": [payload]})

    return docs.groupBy("file_id").applyInPandas(assemble, out_schema)


def warc_roundtrip(spark, sf_dir: str) -> DataFrame:
    """Driver query: documents → WARC shards → parsed records.

    The parse output must equal the closed-form oracle over
    ``documents`` (url/date/status/byte-length/md5 per row) — any
    drift in container assembly, header framing, Content-Length
    math, or parser offsets shows up as a value mismatch.
    """
    return warc_scan(docs_as_warc_shards(spark, sf_dir))


def warc_roundtrip_oracle_sql() -> str:
    return (
        "SELECT 'https://' || source || '.example.org/doc/' || doc_id "
        "AS url, "
        "strftime(TIMESTAMP '2024-01-01 00:00:00' + "
        "to_seconds(doc_id), '%Y-%m-%dT%H:%M:%SZ') AS warc_date, "
        "200 AS http_status, "
        "CAST(strlen(text) AS BIGINT) AS content_len, "
        "md5(text) AS body_md5 "
        "FROM documents")


def warc_to_pages(shards: DataFrame,
                  payload_col: str = "payload") -> DataFrame:
    """Load the CRAWL CORPUS from WARC shards — the input_hint's
    ``pages(url, warc_ts, html, text, lang)`` table materialized
    straight from Common-Crawl-style files, ready for
    ``sources.prepare_pages`` → ``run_crawl``.

    Only 200-status response records become pages. ``text``/``lang``
    are emitted as NULL: in this engine they are *derived* corpus
    columns (the extraction kernel recomputes text from html on every
    fetch — the frozen column is a fixture convenience, not an input
    requirement), and a WARC shard carries neither.

    Scale shape: same file-per-task mapInPandas as warc_scan; the
    html bytes stay inside the scan task until the fetch-join stage
    consumes them (where they die at extraction, operators/fetch.py).
    """
    raw_schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("html", T.BinaryType()),
    ])

    def work(batches):
        for pdf in batches:
            rows = []
            for buf in pdf[payload_col]:
                for r in parse_warc_bytes(bytes(buf or b""),
                                          with_body=True):
                    rows.append({"url": r["url"],
                                 "warc_date": r["warc_date"],
                                 "http_status": r["http_status"],
                                 "html": r["body"]})
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              raw_schema.fields])

    raw = shards.mapInPandas(work, raw_schema)
    return (raw.filter(F.col("http_status") == 200)
            .select("url",
                    F.to_timestamp("warc_date",
                                   "yyyy-MM-dd'T'HH:mm:ss'Z'")
                    .alias("warc_ts"),
                    "html",
                    F.lit(None).cast("string").alias("text"),
                    F.lit(None).cast("string").alias("lang")))


WARC_CDX_SCHEMA = T.StructType([
    T.StructField("file_id", T.LongType()),
    T.StructField("url", T.StringType()),
    T.StructField("offset", T.LongType()),
    T.StructField("record_len", T.LongType()),
    T.StructField("content_len", T.LongType()),
])


def warc_cdx(spark, sf_dir: str,
             records_per_shard: int = RECORDS_PER_SHARD) -> DataFrame:
    """Build a CDX-style random-access index over WARC shards —
    Common Crawl's cc-index shape: (shard, url, byte offset, record
    length), letting a consumer fetch ONE record with a ranged read
    instead of scanning a 1-GB shard. One mapInPandas pass per shard;
    the index rows are slim and the payload never leaves the task.

    The DuckDB oracle states every offset in closed form from the
    byte layout of build_record_raw (fixed header 213 B + url + the
    digit-lengths of the two Content-Length values + the HTTP
    envelope 77 B + body + 4 B terminator, cumulated over the shard's
    doc_id order) — any drift in assembly OR parser offset math
    mismatches."""
    shards = docs_as_warc_shards(spark, sf_dir, records_per_shard)

    def work(batches):
        for pdf in batches:
            rows = []
            for fid, buf in zip(pdf["file_id"], pdf["payload"]):
                for r in parse_warc_bytes(bytes(buf or b"")):
                    rows.append({"file_id": int(fid), "url": r["url"],
                                 "offset": r["offset"],
                                 "record_len": r["record_len"],
                                 "content_len": r["content_len"]})
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              WARC_CDX_SCHEMA.fields])

    return shards.mapInPandas(work, WARC_CDX_SCHEMA)


def warc_cdx_oracle_sql(records_per_shard: int = RECORDS_PER_SHARD) -> str:
    return (
        "WITH r AS (SELECT doc_id, "
        f"doc_id // {records_per_shard} AS file_id, "
        "'https://' || source || '.example.org/doc/' || doc_id AS url, "
        "CAST(strlen(text) AS BIGINT) AS content_len, "
        "77 + length(CAST(strlen(text) AS VARCHAR)) "
        "+ strlen(text) AS http_len FROM documents), "
        "l AS (SELECT *, CAST(213 + strlen(url) "
        "+ length(CAST(http_len AS VARCHAR)) + http_len + 4 AS BIGINT) "
        "AS record_len FROM r) "
        "SELECT file_id, url, "
        "CAST(sum(record_len) OVER (PARTITION BY file_id ORDER BY doc_id "
        "ROWS UNBOUNDED PRECEDING) - record_len AS BIGINT) AS offset, "
        "record_len, content_len FROM l")


# ---------------------------------------------------------------------------
# WET conversion (text-extraction records)
# ---------------------------------------------------------------------------

WET_CONST_OVERHEAD = 255  # fixed header bytes of a conversion record
#   (version + type + two 58-char id lines + date + content-type +
#    the non-variable parts of target-uri/content-length + blank line
#    + 4-byte terminator; variable parts: len(url) + digits(n) + n)


def build_wet_record(url: str, date: str, body: bytes) -> bytes:
    """One WET 'conversion' record: the extracted-text twin of a WARC
    response record (what Common Crawl publishes as .wet). Refers back
    to the response record via the same urn:md5 id scheme; body is
    text/plain. Byte length is closed-form:
    WET_CONST_OVERHEAD + len(url) + len(str(len(body))) + len(body) —
    the oracle states it without building bytes."""
    rid = hashlib.md5((url + "#wet").encode()).hexdigest()
    ref = hashlib.md5(url.encode()).hexdigest()
    return (_WARC_VERSION + CRLF
            + b"WARC-Type: conversion" + CRLF
            + b"WARC-Record-ID: <urn:md5:" + rid.encode() + b">" + CRLF
            + b"WARC-Refers-To: <urn:md5:" + ref.encode() + b">" + CRLF
            + b"WARC-Target-URI: " + url.encode() + CRLF
            + b"WARC-Date: " + date.encode() + CRLF
            + b"Content-Type: text/plain" + CRLF
            + b"Content-Length: " + str(len(body)).encode() + CRLF
            + CRLF + body + CRLF + CRLF)


def parse_wet_bytes(buf: bytes):
    """Stream conversion records out of a WET shard — the read side
    of build_wet_record (parse_warc_bytes handles type=response and
    skips these; a WET body is raw text/plain, no HTTP envelope).
    Same Content-Length jumping + resync discipline."""
    pos, n = 0, len(buf)
    while pos < n:
        start = buf.find(_WARC_VERSION, pos)
        if start < 0:
            return
        hdr_end = buf.find(CRLF + CRLF, start)
        if hdr_end < 0:
            return
        headers = {}
        for line in buf[start:hdr_end].split(CRLF)[1:]:
            k, sep, v = line.partition(b":")
            if sep:
                headers[k.strip().lower()] = v.strip()
        try:
            clen = int(headers.get(b"content-length", b""))
        except ValueError:
            pos = hdr_end + 4
            continue
        block_start = hdr_end + 4
        block_end = block_start + clen
        if block_end > n:
            return
        pos = block_end + 4
        if headers.get(b"warc-type") != b"conversion":
            continue
        yield {
            "url": headers.get(b"warc-target-uri", b"").decode(
                "utf-8", "replace"),
            "warc_date": headers.get(b"warc-date", b"").decode(
                "utf-8", "replace"),
            "refers_to": headers.get(b"warc-refers-to", b"").decode(
                "utf-8", "replace"),
            "body": buf[block_start:block_end],
        }


WET_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("refers_to", T.StringType()),
    T.StructField("conv_len", T.LongType()),
    T.StructField("record_len", T.LongType()),
    T.StructField("conv_md5", T.StringType()),
])


def wet_extract(spark, sf_dir: str) -> DataFrame:
    """Driver query: documents -> WARC response shards -> parse with
    bodies -> REAL WET conversion-record bytes per page -> per-record
    accounting (url, refers-to id, text length, full record byte
    length, text md5). Any drift in the conversion framing or the
    Content-Length math breaks the closed-form record_len the oracle
    states.

    Scale shape: one mapInPandas per shard in the scan stage — bodies
    and record bytes die inside the task (only the slim accounting
    row leaves), the same payload discipline as warc_scan."""
    shards = docs_as_warc_shards(spark, sf_dir)
    cols = [f.name for f in WET_SCHEMA.fields]

    def work(batches):
        for pdf in batches:
            rows = []
            for buf in pdf["payload"]:
                for rec in parse_warc_bytes(bytes(buf or b""),
                                            with_body=True):
                    body = rec["body"]
                    wet = build_wet_record(rec["url"],
                                           rec["warc_date"], body)
                    rows.append((
                        rec["url"],
                        "<urn:md5:" + hashlib.md5(
                            rec["url"].encode()).hexdigest() + ">",
                        len(body), len(wet),
                        hashlib.md5(body).hexdigest()))
            yield pd.DataFrame(rows, columns=cols)

    return shards.mapInPandas(work, WET_SCHEMA)


def wet_extract_oracle_sql() -> str:
    return (
        "SELECT 'https://' || source || '.example.org/doc/' || doc_id "
        "AS url, "
        "'<urn:md5:' || md5('https://' || source || "
        "'.example.org/doc/' || doc_id) || '>' AS refers_to, "
        "CAST(strlen(text) AS BIGINT) AS conv_len, "
        f"CAST({WET_CONST_OVERHEAD} "
        "+ strlen('https://' || source || '.example.org/doc/' "
        "|| doc_id) + strlen(CAST(strlen(text) AS VARCHAR)) "
        "+ strlen(text) AS BIGINT) AS record_len, "
        "md5(text) AS conv_md5 "
        "FROM documents")
