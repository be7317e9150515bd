"""Output digests: what every measured operation is checked against.

A crawl is summarised by its stats and an order-sensitive digest of
``(crawl_ord, url, sha256(markdown), sha256(text))`` over every result
row, in crawl order. A corpus operator is summarised by its row count
and an order-independent digest of its rows with values normalised, so
the digest of a Spark result and of its DuckDB twin agree.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib

CRAWL_STATS = ("urls_scheduled", "successful_pages", "failed_pages", "waves")
_EMPTY = hashlib.sha256(b"").hexdigest()


def _sha(s: "str | None") -> str:
    return _EMPTY if s is None else hashlib.sha256(s.encode()).hexdigest()


def crawl_digest(rows) -> str:
    """``rows``: (crawl_ord, url, markdown_sha256, text_sha256) tuples,
    any order; a null markdown or text hashes as the empty string."""
    h = hashlib.sha256()
    for ord_, url, md, tx in sorted(rows, key=lambda r: r[0]):
        h.update(f"{ord_}\t{url}\t{md or _EMPTY}\t{tx or _EMPTY}\n".encode())
    return h.hexdigest()


def oracle_crawl_digest(orc) -> str:
    """The same digest over a ``crawl_oracle`` result."""
    rows = []
    for ord_, _it, _depth, url, _status in orc.trace:
        page = orc.pages.get(url)
        rows.append((ord_, url, _sha(page and page["markdown"]),
                     _sha(page and page["text"])))
    return crawl_digest(rows)


def spark_crawl_rows(run):
    from pyspark.sql import functions as F

    def sha(c):
        return F.sha2(F.coalesce(F.col(c), F.lit("")), 256)
    return [tuple(r) for r in run._results_all().select(
        "crawl_ord", "url", sha("markdown"), sha("text")).collect()]


def crawl_summary(run) -> dict:
    out = {k: int(run.stats[k]) for k in CRAWL_STATS}
    out["digest"] = crawl_digest(spark_crawl_rows(run))
    return out


def norm(v) -> str:
    """Engine-neutral text form of one value: numbers to 6 significant
    digits (sums over doubles may differ in the last bits between task
    orders and engines), booleans as 0/1, arrays element-wise."""
    if v is None:
        return "~"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return str(int(f)) if f.is_integer() and abs(f) < 2**53 \
            else f"{f:.6g}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm(x)}"
                              for k, x in sorted(v.items())) + "}"
    return str(v)


def frame_digest(columns, rows) -> dict:
    """Row count and order-independent digest; columns are taken in
    name order so engines that order them differently agree."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\t".join(norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode() + b"\n")
    return {"rows": len(lines), "digest": h.hexdigest()}


def mismatch(got: dict, want: "dict | None") -> "str | None":
    """None when ``got`` matches ``want`` on every key ``want`` has."""
    if want is None:
        return "no pinned value"
    bad = [k for k in want if got.get(k) != want[k]]
    return None if not bad else ", ".join(
        f"{k}: got {got.get(k)!r} want {want[k]!r}" for k in bad)
