"""WARC ingestion: Common-Crawl-style archives -> the web_pages corpus table.

The north-rule input is "an Iceberg table of Common-Crawl-style web pages"
(url, warc_ts, html, text, lang). Common Crawl itself ships WARC files
(ISO 28500): a sequence of records, each a CRLF-delimited header block
(WARC-Type, WARC-Target-URI, WARC-Date, Content-Length, ...) followed by
Content-Length payload bytes; crawl archives gzip every record as its OWN
gzip member and concatenate the members, so a file streams record-by-record
but is NOT block-splittable.

That non-splittability fixes the Spark design: the *file* is the unit of
parallelism. `spark.read.format("binaryFile")` plans one task per file (the
same granularity any Hadoop WARC InputFormat ends up with), and a
`mapInPandas` stage parses each file's records into rows of the canonical
WEB_PAGES schema. Crawl dumps are ~1 GB/file x tens of thousands of files,
so task counts and memory bounds both come out right at cluster scale
without any tuning; `pathGlobFilter`/partition-dir layout prune at the scan.

The Python here iterates over *files and their records* inside an
Arrow-batched mapInPandas (the established pattern for opaque binary
payloads, see ops/multimodal.py) — the per-row-Python guard applies to row
UDFs over data-plane rows, and each emitted row still costs only one
dict-append here. Parsing is stdlib-only (zlib + byte splitting): no warcio
dependency in the sandbox.

Reference anchor: the reference crawls pages row-at-a-time with
Selenium+BS4 (DataCleaned/NursingHomes/spider_nursing_home.py:12-115) and
never sees archives; this module is the scale path that replaces it for
Common-Crawl-sized input per BASELINE.json north_star.
"""

from __future__ import annotations

import gzip
import io
import zlib
from collections.abc import Iterator
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

_KEEP_TYPES = {"response", "conversion", "resource"}
_PIECE = 1 << 16  # gzip input slice, bytes


def _gzip_members(raw: bytes) -> Iterator[bytes]:
    """Decompress concatenated gzip members one at a time, so a corrupt or
    truncated member raises only after every member before it was yielded
    (``gzip.decompress`` decompresses the whole file before returning any of
    it). Input goes in ``_PIECE``-byte slices, so finding where a member ends
    copies at most one slice. NUL padding between members is skipped, as
    gzip does."""
    view, pos, n = memoryview(raw), 0, len(raw)
    while pos < n:
        d, out = zlib.decompressobj(wbits=31), []
        while not d.eof and pos < n:
            out.append(d.decompress(view[pos:pos + _PIECE]))
            pos = min(pos + _PIECE, n)
        if not d.eof:
            raise ValueError("truncated gzip member at end of file")
        yield b"".join(out)
        pos -= len(d.unused_data)
        while pos < n and raw[pos] == 0:
            pos += 1


def _parse_warc_bytes(raw: bytes) -> Iterator[dict]:
    """Yield {url, warc_ts, html} dicts from one WARC file's bytes.

    Accepts plain or gzip (including per-record-member concatenated gzip,
    parsed member by member so the records before a corrupt member are
    yielded before it raises). Only response/conversion/resource records
    carry page payloads; request/metadata/warcinfo records are skipped. For
    `response` records the payload is an HTTP message: the status line +
    headers are stripped so `html` is the entity body alone.

    Corruption (truncated trailer, lost record sync, missing/unparseable
    Content-Length, payload shorter than Content-Length) raises ValueError —
    the caller's ``on_error`` policy decides whether that fails the task or
    quarantines the file; silent stop would make data loss invisible in
    BOTH modes.
    """
    chunks = _gzip_members(raw) if raw[:2] == b"\x1f\x8b" else iter((raw,))
    buf, base = b"", 0
    for chunk in chunks:
        buf += chunk
        pos = yield from _records(buf, base, final=False)
        buf, base = buf[pos:], base + pos
    yield from _records(buf, base, final=True)


def _records(raw: bytes, base: int, final: bool) -> Iterator[dict]:
    """Parse the complete records of ``raw``, which starts at byte ``base``
    of the (decompressed) file; return the offset where the first incomplete
    record starts (only a ``final`` buffer raises on it)."""
    pos, n = 0, len(raw)
    while pos < n:
        # skip inter-record CRLFs
        while raw.startswith(b"\r\n", pos) or raw.startswith(b"\n", pos):
            pos += 2 if raw.startswith(b"\r\n", pos) else 1
        if pos >= n:
            break
        head_end = raw.find(b"\r\n\r\n", pos)
        if head_end < 0:
            if not final:
                return pos
            raise ValueError(f"truncated WARC header block at byte {base + pos}")
        header_block = raw[pos:head_end].decode("utf-8", errors="replace")
        lines = header_block.split("\r\n")
        if not lines or not lines[0].startswith("WARC/"):
            raise ValueError(f"lost WARC record sync at byte {base + pos}")
        fields: dict[str, str] = {}
        for line in lines[1:]:
            k, sep, v = line.partition(":")
            if sep:
                # strip SP/TAB only (WARC header LWS) — str.strip() would also
                # eat Unicode whitespace like U+0085 inside a target URI
                fields[k.strip(" \t").lower()] = v.strip(" \t")
        try:
            length = int(fields.get("content-length", ""))
        except ValueError:
            raise ValueError(
                f"missing/unparseable Content-Length in WARC record at byte {base + pos}"
            ) from None
        if head_end + 4 + length > n:
            if not final:
                return pos
            raise ValueError(f"truncated WARC payload at byte {base + head_end + 4}")
        body = raw[head_end + 4 : head_end + 4 + length]
        pos = head_end + 4 + length
        rtype = fields.get("warc-type", "")
        if rtype not in _KEEP_TYPES:
            continue
        url = fields.get("warc-target-uri", "")
        if not url:
            continue
        ts = None
        date = fields.get("warc-date")
        if date:
            try:  # WARC-Date is ISO 8601 UTC, e.g. 2017-03-06T04:02:06Z
                ts = datetime.fromisoformat(date.replace("Z", "+00:00")).astimezone(
                    timezone.utc
                )
            except ValueError:
                ts = None
        if rtype == "response":
            # payload = HTTP response message; body follows the blank line
            split = body.find(b"\r\n\r\n")
            body = body[split + 4 :] if split >= 0 else body
        yield {"url": url, "warc_ts": ts, "html": body}
    return n


def read_warc(
    spark: SparkSession, path: str, path_glob: str = "*.warc*",
    on_error: str = "fail",
) -> DataFrame:
    """WARC file(s) -> DataFrame in the canonical WEB_PAGES schema.

    (url, warc_ts, html, text=NULL, lang=NULL): text/lang are downstream
    stages (extract/html.py, ops/textstats.lang_id), not scan outputs —
    keeping the scan schema identical to the synthetic corpus means the
    whole pipeline (pipeline.run_pipeline) runs off real archives unchanged.

    ``on_error``: "fail" (default) propagates parse/decompress errors —
    including mid-stream corruption raised by ``_parse_warc_bytes`` — and
    fails the task: right for curated archives where a bad file means a
    bad copy. "skip" quarantines the corrupt TAIL of a file (a crawl dump
    at 10^4+ files routinely has a few truncated ones; one bad archive
    must not kill a 10^12-doc job): records already parsed before the
    corruption point are kept — WARC streams are record-delimited, so a
    truncated tail invalidates only the tail — and the rest should be
    re-fetched out of band.
    """
    if on_error not in ("fail", "skip"):
        raise ValueError(f"on_error must be 'fail' or 'skip', got {on_error!r}")
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", path_glob)
        .load(path)
        .select("path", "content")
    )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for content in pdf["content"]:
                try:
                    for rec in _parse_warc_bytes(bytes(content)):
                        rows.append(rec)
                except Exception:
                    if on_error == "fail":
                        raise
            out = pd.DataFrame(rows, columns=["url", "warc_ts", "html"])
            out["text"] = pd.Series([None] * len(out), dtype=object)
            out["lang"] = pd.Series([None] * len(out), dtype=object)
            yield out

    return files.mapInPandas(
        parse, schema="url string, warc_ts timestamp, html binary, text string, lang string"
    )


def write_synthetic_warc(
    path: str, docs: list[tuple[str, datetime, bytes]], gzip_members: bool = True
) -> None:
    """Deterministic WARC writer for fixtures: one response record per
    (url, ts, html) doc, each its own gzip member when ``gzip_members``
    (the Common Crawl layout). Round-trips through read_warc byte-identically."""
    out = io.BytesIO()
    for url, ts, html in docs:
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\n"
            + f"Content-Length: {len(html)}\r\n\r\n".encode()
            + html
        )
        header = (
            "WARC/1.0\r\n"
            "WARC-Type: response\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"WARC-Date: {ts.strftime('%Y-%m-%dT%H:%M:%SZ')}\r\n"
            f"Content-Length: {len(http)}\r\n"
            "Content-Type: application/http; msgtype=response\r\n"
            "\r\n"
        ).encode()
        record = header + http + b"\r\n\r\n"
        if gzip_members:
            # mtime pinned so fixture files are byte-stable across runs
            buf = io.BytesIO()
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                gz.write(record)
            out.write(buf.getvalue())
        else:
            out.write(record)
    with open(path, "wb") as f:
        f.write(out.getvalue())
