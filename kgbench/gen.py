"""Seeded benchmark inputs: one Common-Crawl-style WARC.gz segment and one
already-extracted docs table per seed.

The program under test receives only the bytes written here.  Every page
comes from ``datagen.page_row(offset + i)``; ``offset`` is taken from the
seed, so two seeds share no page (``datagen.gen_pages(n)`` always yields
rows ``0..n-1``, which is why it is not used).

On top of the datagen pages the segment plants, at stated shares of the
base page count:

* ``EXACT_DUP_SHARE`` exact duplicates: the html of a base page, byte for
  byte, under the url ``<base url>/copy``;
* ``NEAR_DUP_SHARE`` near duplicates: a base page with one word appended
  to its last text line, under ``<base url>/rev``.

Both suffixes make the copy's url sort after its original, so the
curation chain's min-url keeper keeps the original.  The head-domain share
is datagen's own url rule: pages with ``i % 10 < 3`` live on
``datagen.HEAD_DOMAIN`` (``HEAD_DOMAIN_SHARE``).

Record framing follows the repository's WARC tests: ``WARC/1.0`` header
lines joined by CRLF, a blank line, the payload and a CRLF CRLF trailer,
one gzip member per record (the Common Crawl layout).  Each page is a
``response`` record whose payload is an HTTP 200 response with the page
html as body; the segment starts with one ``warcinfo`` record, which the
reader skips.

The docs table holds the same kind of pages after extraction (url,
warc_ts, lang, text), with the same planted shares, for the curation
workload, which bypasses extraction.
"""

from __future__ import annotations

import gzip
import random
from dataclasses import dataclass
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from wikidata_dump_processor_spark import datagen

EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.05
HEAD_DOMAIN_SHARE = 0.3
NEAR_DUP_WORD = "revised"
# pages between two seeds' offsets; larger than any segment, so seeds
# never share a page
SEED_STRIDE = 100_000


def page_offset(seed: int) -> int:
    return SEED_STRIDE * (1 + seed % 10_000)


@dataclass(frozen=True)
class Page:
    url: str
    index: int  # datagen row the page was made from
    html: bytes
    date: str  # WARC-Date of the record
    text: str  # what byte-identical extraction must return
    kind: str  # "base" | "exact_dup" | "near_dup"
    lang: str


def _multi_line(i: int) -> bool:
    # datagen variants 7-9 put the whole body on one line (or none), so a
    # text-line edit would not reach the extracted text
    return i % 10 < 7


def segment_pages(seed: int, n_pages: int) -> list[Page]:
    """The base pages plus the planted duplicates, in record order."""
    offset = page_offset(seed)
    base = []
    for i in range(offset, offset + n_pages):
        row = datagen.page_row(i)
        date = row["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ")
        base.append(Page(
            row["url"], i, row["html"], date, datagen.expected_text(i), "base",
            row["lang"],
        ))
    rng = random.Random(f"kgbench:{seed}:{n_pages}")
    editable = [p for p in base if _multi_line(p.index)]
    n_exact = round(EXACT_DUP_SHARE * n_pages)
    n_near = round(NEAR_DUP_SHARE * n_pages)
    picked = rng.sample(editable, n_exact + n_near)
    dups = [
        Page(p.url + "/copy", p.index, p.html, p.date, p.text, "exact_dup", p.lang)
        for p in picked[:n_exact]
    ]
    for p in picked[n_exact:]:
        last = datagen.page_body_lines(p.index)[-1]
        html = p.html.decode("utf-8").replace(
            last + "</text>", f"{last} {NEAR_DUP_WORD}</text>", 1
        )
        dups.append(Page(
            p.url + "/rev", p.index, html.encode("utf-8"), p.date,
            f"{p.text} {NEAR_DUP_WORD}", "near_dup", p.lang,
        ))
    pages = base + dups
    rng.shuffle(pages)
    return pages


def _record(rtype: bytes, url: bytes | None, payload: bytes, date: bytes) -> bytes:
    head = [b"WARC/1.0", b"WARC-Type: " + rtype, b"WARC-Date: " + date]
    if url is not None:
        head.append(b"WARC-Target-URI: " + url)
    head.append(b"Content-Length: " + str(len(payload)).encode())
    return b"\r\n".join(head) + b"\r\n\r\n" + payload + b"\r\n\r\n"


def warc_segment(pages: list[Page]) -> bytes:
    """The pages as one member-per-record WARC.gz file."""
    members = [gzip.compress(
        _record(b"warcinfo", None, b"software: kgbench", b"2025-01-01T00:00:00Z"),
        compresslevel=1,
    )]
    for p in pages:
        http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + p.html
        members.append(gzip.compress(
            _record(b"response", p.url.encode(), http, p.date.encode()),
            compresslevel=1,
        ))
    return b"".join(members)


def write_docs(pages: list[Page], path: str) -> None:
    """The pages as an extracted docs table (one parquet file)."""
    ts = lambda p: datetime.strptime(p.date, "%Y-%m-%dT%H:%M:%SZ").replace(
        tzinfo=timezone.utc
    )
    table = pa.table({
        "url": [p.url for p in pages],
        "warc_ts": pa.array([ts(p) for p in pages], pa.timestamp("us", tz="UTC")),
        "lang": [p.lang for p in pages],
        "text": [p.text for p in pages],
    })
    pq.write_table(table, path)
