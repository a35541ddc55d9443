"""WARC source: Common-Crawl-layout archives -> canonical web_pages rows.

Round-trip contract: write_synthetic_warc(read_warc(...)) preserves url,
timestamp, and html bytes exactly, for both per-record-gzip-member files
(the Common Crawl layout) and plain uncompressed WARC; non-page records
(request/metadata) are skipped; the parsed corpus drives the full pipeline
(HTML->text + OpenIE) identically to the synthetic fixture corpus.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pytest

from kgspark import fixtures
from kgspark.sources.warc import read_warc, write_synthetic_warc

_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)


def _docs(n):
    pdf = fixtures.web_pages_pdf(n, both_cols=True)  # every doc carries html
    return [
        (r.url, _EPOCH + timedelta(seconds=37 * i), bytes(r.html))
        for i, r in enumerate(pdf.itertuples())
    ]


@pytest.mark.parametrize("gzip_members", [True, False])
def test_warc_roundtrip(spark, tmp_path, gzip_members):
    docs = _docs(40)
    suffix = ".warc.gz" if gzip_members else ".warc"
    # two files: the scan must parallelize per file and union the records
    write_synthetic_warc(str(tmp_path / f"a{suffix}"), docs[:25], gzip_members)
    write_synthetic_warc(str(tmp_path / f"b{suffix}"), docs[25:], gzip_members)

    got = read_warc(spark, str(tmp_path)).collect()
    assert len(got) == 40
    by_url = {r["url"]: r for r in got}
    for url, ts, html in docs:
        row = by_url[url]
        assert bytes(row["html"]) == html  # byte-identical payloads
        assert row["warc_ts"] == ts.replace(tzinfo=None)  # session tz = UTC
        assert row["text"] is None and row["lang"] is None


def test_warc_skips_non_page_records(spark, tmp_path):
    import gzip as _gzip
    import io

    docs = _docs(3)
    write_synthetic_warc(str(tmp_path / "pages.warc"), docs, gzip_members=False)
    # splice in a request record (must be skipped) ahead of the pages
    req = (
        b"WARC/1.0\r\nWARC-Type: request\r\n"
        b"WARC-Target-URI: https://example.com/skip\r\n"
        b"Content-Length: 4\r\n\r\nGET \r\n\r\n"
    )
    body = (tmp_path / "pages.warc").read_bytes()
    buf = io.BytesIO()
    with _gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        gz.write(req + body)
    (tmp_path / "pages.warc").unlink()
    (tmp_path / "mixed.warc.gz").write_bytes(buf.getvalue())

    got = read_warc(spark, str(tmp_path)).collect()
    assert sorted(r["url"] for r in got) == sorted(u for u, _, _ in docs)


def test_pipeline_runs_off_warc(spark, tmp_path):
    """The WARC scan's schema is the pipeline's input contract: the same
    extraction stages produce the same triples as the in-memory fixture
    corpus for the same documents."""
    from kgspark.extract.openie import extract_doc_triples

    n = 30
    write_synthetic_warc(str(tmp_path / "c.warc.gz"), _docs(n))
    pages = read_warc(spark, str(tmp_path))
    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in extract_doc_triples(pages, fused_html=True)
        .select("subj", "pred", "obj")
        .collect()
    }
    want = {
        (s, p, o)
        for i in range(n)
        for (s, _st, p, o, _ot) in fixtures.expected_triples_for_doc(i)
    }
    assert got == want


def test_warc_corrupt_file_quarantine(spark, tmp_path):
    docs = _docs(10)
    write_synthetic_warc(str(tmp_path / "good.warc.gz"), docs)
    # a gzip-magic file with garbage body: decompression fails
    (tmp_path / "bad.warc.gz").write_bytes(b"\x1f\x8b" + b"\x00" * 64)

    got = read_warc(spark, str(tmp_path), on_error="skip").collect()
    assert sorted(r["url"] for r in got) == sorted(u for u, _, _ in docs)

    with pytest.raises(Exception):
        read_warc(spark, str(tmp_path), on_error="fail").count()

    with pytest.raises(ValueError):
        read_warc(spark, str(tmp_path), on_error="quarantine")


def test_warc_midstream_corruption_raises_not_silent(spark, tmp_path):
    """Mid-stream corruption (truncated tail, lost sync, bad Content-Length)
    must raise under on_error='fail' — a silent stop would make data loss
    invisible (ADVICE r1). Under 'skip', records before the corruption
    point are kept; the corrupt tail contributes nothing."""
    import pytest as _pytest

    from kgspark.sources.warc import _parse_warc_bytes

    docs = _docs(4)
    write_synthetic_warc(str(tmp_path / "t.warc"), docs, gzip_members=False)
    raw = (tmp_path / "t.warc").read_bytes()

    # truncated tail: cut inside the last record's payload
    truncated = raw[: len(raw) - 40]
    with _pytest.raises(ValueError):
        list(_parse_warc_bytes(truncated))
    # lost sync: garbage spliced where a record header should start
    lost_sync = raw + b"NOT-A-WARC-HEADER\r\n\r\npayload"
    with _pytest.raises(ValueError, match="sync"):
        list(_parse_warc_bytes(lost_sync))
    # unparseable Content-Length
    bad_len = raw.replace(b"Content-Length: ", b"Content-Length: x", 1)
    with _pytest.raises(ValueError, match="Content-Length"):
        list(_parse_warc_bytes(bad_len))

    # on_error='fail' propagates; 'skip' keeps the valid prefix records
    (tmp_path / "t.warc").write_bytes(truncated)
    with _pytest.raises(Exception):
        read_warc(spark, str(tmp_path), on_error="fail").count()
    kept = read_warc(spark, str(tmp_path), on_error="skip").collect()
    assert 0 < len(kept) < 4
    assert {r["url"] for r in kept} <= {u for u, _, _ in docs}

    # Common Crawl layout, one gzip member per record: a truncated last
    # member costs that record only; the members before it are kept
    docs = _docs(5)
    write_synthetic_warc(str(tmp_path / "t.warc"), docs, gzip_members=True)
    raw = (tmp_path / "t.warc").read_bytes()
    (tmp_path / "t.warc").write_bytes(raw[: len(raw) - 30])
    parsed = []
    with _pytest.raises(ValueError, match="truncated gzip member"):
        parsed.extend(r["url"] for r in _parse_warc_bytes(raw[: len(raw) - 30]))
    assert parsed == [u for u, _, _ in docs[:4]]
    with _pytest.raises(Exception):
        read_warc(spark, str(tmp_path), on_error="fail").count()
    kept = read_warc(spark, str(tmp_path), on_error="skip").collect()
    assert sorted(r["url"] for r in kept) == sorted(u for u, _, _ in docs[:4])


def test_warc_fuzz_roundtrip(spark, tmp_path):
    """Property: any (url, ts, payload) docs — including payloads containing
    WARC header markers, CRLF runs, and gzip magic — round-trip exactly.
    Content-Length framing means payload bytes can never be misparsed as
    record structure."""
    from hypothesis import given, settings, strategies as st

    url_chars = st.characters(
        min_codepoint=33, max_codepoint=0x2FFF, blacklist_characters=">"
    )
    doc = st.tuples(
        st.text(url_chars, min_size=1, max_size=30),
        st.integers(min_value=0, max_value=10**9),
        st.one_of(
            st.binary(max_size=200),
            st.sampled_from(
                [b"WARC/1.0\r\nWARC-Type: response\r\n\r\n", b"\r\n\r\n", b"\x1f\x8b"]
            ),
        ),
    )

    @settings(max_examples=8, deadline=None)
    @given(st.lists(doc, min_size=1, max_size=6, unique_by=lambda d: d[0]))
    def run(docs):
        full = [
            (f"https://f.example/{i}/{u}", _EPOCH + timedelta(seconds=s), b)
            for i, (u, s, b) in enumerate(docs)
        ]
        p = tmp_path / "fuzz"
        p.mkdir(exist_ok=True)
        write_synthetic_warc(str(p / "f.warc.gz"), full)
        got = {r["url"]: bytes(r["html"]) for r in read_warc(spark, str(p)).collect()}
        assert got == {u: b for u, _, b in full}

    run()
