"""Raw-drop ingestion chain: binaryFile scan → WARC parse → pipeline."""

from __future__ import annotations

from eugl_spark.pipeline import apply_pipeline
from eugl_spark.sources.pages import read_raw_drops
from eugl_spark.sources.warc import parse_warc_records


def _record(url: str, body: str, date="2024-03-01T12:00:00Z") -> bytes:
    return (
        f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {url}\r\n"
        f"WARC-Date: {date}\r\nContent-Type: text/html\r\n\r\n{body}"
    ).encode()


def test_warc_ingestion_chain(spark, tmp_path):
    d = tmp_path / "raw"
    d.mkdir()
    good_body = (
        "<html><body><p>"
        + " ".join(["the water of time is a question for the people"] * 6)
        + "</p></body></html>"
    )
    (d / "r1.warc").write_bytes(_record("https://a.example/x", good_body))
    (d / "r2.warc").write_bytes(_record("https://b.example/y", "<p>tiny</p>"))
    (d / "r3.warc").write_bytes(b"WARC/1.0\r\nNo-Uri: here\r\n\r\n<p>junk</p>")
    (d / "r4.warc").write_bytes(b"\xff\xfenot warc at all")

    pages = parse_warc_records(read_raw_drops(spark, str(d), "*.warc"))
    rows = {r["url"]: r for r in pages.collect()}
    assert set(rows) == {"https://a.example/x", "https://b.example/y"}
    assert rows["https://a.example/x"]["warc_ts"] is not None
    assert bytes(rows["https://a.example/x"]["html"]).startswith(b"<html>")

    labeled = apply_pipeline(pages, repartition_to=0)
    verdicts = {r["url"]: r["drop_reason"] for r in labeled.collect()}
    assert verdicts["https://b.example/y"] == "too_short"
    assert verdicts["https://a.example/x"] in (None, "perplexity")


def test_warc_damaged_headers_cannot_capture_or_spoof(spark, tmp_path):
    """Two header-extraction hardening cases: (1) an EMPTY-valued URI
    header must not capture the next line's token as the url; (2) a
    record MISSING its URI header must be dropped even when its BODY
    contains a spoofed 'WARC-Target-URI:' line — and a body line must
    never override the header block's date either."""
    d = tmp_path / "raw2"
    d.mkdir()
    # empty URI value: next header starts on the following line
    (d / "e1.warc").write_bytes(
        b"WARC/1.0\r\nWARC-Target-URI: \r\n"
        b"WARC-Date: 2024-03-01T12:00:00Z\r\n\r\n<p>x</p>"
    )
    # no URI header; body tries to smuggle one in
    (d / "e2.warc").write_bytes(
        b"WARC/1.0\r\nWARC-Date: 2024-03-01T12:00:00Z\r\n\r\n"
        b"WARC-Target-URI: http://evil.example/\r\n<p>doc about warc</p>"
    )
    # good record whose body mentions a different date header
    (d / "e3.warc").write_bytes(
        b"WARC/1.0\r\nWARC-Target-URI: https://ok.example/z\r\n"
        b"WARC-Date: 2024-03-01T12:00:00Z\r\n\r\n"
        b"WARC-Date: 1999-01-01T00:00:00Z\r\n<p>body</p>"
    )
    pages = parse_warc_records(read_raw_drops(spark, str(d), "*.warc"))
    rows = {r["url"]: r for r in pages.collect()}
    assert set(rows) == {"https://ok.example/z"}
    assert str(rows["https://ok.example/z"]["warc_ts"]).startswith("2024-03-01")


def _wet_record(url: str, text: str, date="2024-03-01T12:00:00Z") -> bytes:
    body = text.encode()
    return (
        f"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: {url}\r\n"
        f"WARC-Date: {date}\r\nContent-Type: text/plain\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode() + body


def _resp_record(url: str, html: str, date="2024-03-01T12:00:00Z") -> bytes:
    body = html.encode()
    return (
        f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {url}\r\n"
        f"WARC-Date: {date}\r\nContent-Type: text/html\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode() + body


def _warcinfo_record() -> bytes:
    body = b"software: test-crawler"
    return (
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
        b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n" + body
    )


def test_crawl_dispatch_wet_vs_response(spark, tmp_path):
    """parse_crawl_records routes by WARC-Type: response → html
    (extraction runs), conversion (WET) → text (extraction skipped),
    warcinfo → dropped."""
    from eugl_spark.sources.warc import parse_crawl_records

    d = tmp_path / "mixed"
    d.mkdir()
    (d / "a.warc").write_bytes(
        _resp_record("https://a.example/r", "<p>the day was good</p>")
    )
    (d / "b.warc").write_bytes(
        _wet_record("https://b.example/w", "the night was better for all")
    )
    (d / "c.warc").write_bytes(_warcinfo_record())
    pages = parse_crawl_records(read_raw_drops(spark, str(d), "*.warc"))
    rows = {r["url"]: r for r in pages.collect()}
    assert set(rows) == {"https://a.example/r", "https://b.example/w"}
    a, b = rows["https://a.example/r"], rows["https://b.example/w"]
    assert a["html"] is not None and a["text"] is None
    assert b["html"] is None
    assert b["text"] == "the night was better for all"


def test_split_warc_records_both_paths_agree_on_clean_files(spark, tmp_path):
    from eugl_spark.sources.warc import (
        parse_crawl_records,
        split_warc_records,
        split_warc_records_exact,
    )

    d = tmp_path / "multi"
    d.mkdir()
    blob = (
        _warcinfo_record()
        + b"\r\n\r\n"
        + _resp_record("https://a.example/1", "<p>one of the best days</p>")
        + b"\r\n\r\n"
        + _wet_record("https://a.example/2", "two of the best nights here")
        + b"\r\n\r\n"
    )
    (d / "f.warc").write_bytes(blob)
    raw = read_raw_drops(spark, str(d), "*.warc")
    fast = split_warc_records(raw)
    exact = split_warc_records_exact(raw)
    assert fast.count() == 3 and exact.count() == 3
    # records parse identically through either split
    for split in (fast, exact):
        urls = {
            r["url"] for r in parse_crawl_records(split).collect()
        }
        assert urls == {"https://a.example/1", "https://a.example/2"}


def test_split_paths_agree_on_empty_and_crlf_ending_records(spark, tmp_path):
    """A zero-length conversion record keeps the blank line that ends
    its header block, and a body ending in CRLF keeps that CRLF: the
    separator strip is anchored at the very end of the record (Java's
    `$` also matches before a final line terminator)."""
    from eugl_spark.sources.warc import (
        parse_crawl_records,
        split_warc_records,
        split_warc_records_exact,
    )

    recs = [
        _wet_record("https://e.example/empty", ""),
        _wet_record("https://e.example/crlf", "one line\r\nlast line\r\n"),
        _wet_record("https://e.example/plain", "no trailing newline"),
    ]
    d = tmp_path / "edge"
    d.mkdir()
    (d / "f.warc").write_bytes(b"\r\n\r\n".join(recs) + b"\r\n\r\n")
    raw = read_raw_drops(spark, str(d), "*.warc")
    fast = split_warc_records(raw)
    exact = split_warc_records_exact(raw)
    assert sorted(bytes(r["content"]) for r in fast.collect()) == sorted(recs)
    assert sorted(bytes(r["content"]) for r in exact.collect()) == sorted(recs)

    def rows(split):
        parsed = parse_crawl_records(split).select("url", "text")
        return sorted(tuple(r) for r in parsed.collect())

    assert rows(fast) == rows(exact) == [
        ("https://e.example/crlf", "one line\r\nlast line\r\n"),
        ("https://e.example/empty", ""),
        ("https://e.example/plain", "no trailing newline"),
    ]


def test_split_exact_honors_content_length_on_embedded_framing(spark, tmp_path):
    """A WET page ABOUT the WARC format embeds 'WARC/1.0\\r\\n' at
    start-of-line inside its payload. The Content-Length splitter must
    keep it as ONE record with the full payload; the native boundary
    splitter mis-splits it (the documented caveat)."""
    from eugl_spark.sources.warc import (
        split_warc_records,
        split_warc_records_exact,
    )

    evil_payload = "a doc about warc:\r\nWARC/1.0\r\nis the magic header"
    d = tmp_path / "evil"
    d.mkdir()
    blob = (
        _wet_record("https://evil.example/doc", evil_payload)
        + b"\r\n\r\n"
        + _wet_record("https://ok.example/doc", "a normal page of text")
        + b"\r\n\r\n"
    )
    (d / "f.warc").write_bytes(blob)
    raw = read_raw_drops(spark, str(d), "*.warc")
    exact = [bytes(r["content"]) for r in split_warc_records_exact(raw).collect()]
    assert len(exact) == 2
    assert any(b"is the magic header" in r for r in exact)
    # the fast path splits the embedded boundary: 3 pieces, documented
    assert split_warc_records(raw).count() == 3


def test_split_exact_resyncs_past_corrupt_record(spark, tmp_path):
    """A record with garbage framing must not take down the file: the
    exact splitter skips to the next boundary and recovers the
    following record."""
    from eugl_spark.sources.warc import (
        parse_crawl_records,
        split_warc_records_exact,
    )

    d = tmp_path / "corrupt"
    d.mkdir()
    blob = (
        b"\xff\xfe garbage prefix, no boundary here\r\n"
        + b"\r\n"
        + b"WARC/1.0\r\nWARC-Type: conversion\r\nbroken-no-blank-line"
        + b"\r\nWARC/1.0\r\nWARC-Type: conversion\r\n"
        + b"WARC-Target-URI: https://ok.example/after\r\n"
        + b"WARC-Date: 2024-03-01T12:00:00Z\r\n"
        + b"Content-Length: 21\r\n\r\n"
        + b"recovered page text x"
    )
    (d / "f.warc").write_bytes(blob)
    raw = read_raw_drops(spark, str(d), "*.warc")
    split = split_warc_records_exact(raw)
    urls = {r["url"]: r for r in parse_crawl_records(split).collect()}
    assert "https://ok.example/after" in urls
    assert urls["https://ok.example/after"]["text"] == "recovered page text x"


def _record_hdr_order(url: str, text: str, rtype="conversion") -> bytes:
    """Content-Length mid-header (the normal Common-Crawl layout) —
    regression for the $-vs-\\r\\n regex trap."""
    body = text.encode()
    return (
        f"WARC/1.0\r\nWARC-Type: {rtype}\r\nWARC-Target-URI: {url}\r\n"
        f"Content-Length: {len(body)}\r\n"
        f"WARC-Date: 2024-03-01T12:00:00Z\r\nContent-Type: text/plain\r\n\r\n"
    ).encode() + body


def test_split_exact_content_length_mid_header(spark, tmp_path):
    """Content-Length followed by more header lines (ends \\r\\n, not
    end-of-slice) must still engage length-delimited framing — with
    the broken $-anchored regex the exact splitter silently degraded
    to boundary scanning and mis-split embedded framing."""
    from eugl_spark.sources.warc import split_warc_records_exact

    evil_payload = "a doc about warc:\r\nWARC/1.0\r\nis the magic header"
    d = tmp_path / "midhdr"
    d.mkdir()
    blob = (
        _record_hdr_order("https://evil.example/doc", evil_payload)
        + b"\r\n\r\n"
        + _record_hdr_order("https://ok.example/doc", "a normal page")
        + b"\r\n\r\n"
    )
    (d / "f.warc").write_bytes(blob)
    raw = read_raw_drops(spark, str(d), "*.warc")
    recs = [bytes(r["content"]) for r in split_warc_records_exact(raw).collect()]
    assert len(recs) == 2, recs
    assert any(b"is the magic header" in r for r in recs)


def test_split_exact_corrupt_record_cannot_steal_next_payload(spark, tmp_path):
    """A corrupt record WITH its own URI but no blank line must not
    swallow the next good record's headers/payload (mis-attributing
    the good payload to the corrupt record's url) — the header-end
    search is bounded by the next boundary and resyncs."""
    from eugl_spark.sources.warc import (
        parse_crawl_records,
        split_warc_records_exact,
    )

    d = tmp_path / "steal"
    d.mkdir()
    blob = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://broken.example/bad\r\n"
        b"no-blank-line-ever"
        + b"\r\nWARC/1.0\r\nWARC-Type: conversion\r\n"
        + b"WARC-Target-URI: https://ok.example/good\r\n"
        + b"WARC-Date: 2024-03-01T12:00:00Z\r\n"
        + b"Content-Length: 16\r\n\r\n"
        + b"good page text x"
    )
    (d / "f.warc").write_bytes(blob)
    raw = read_raw_drops(spark, str(d), "*.warc")
    rows = {
        r["url"]: r
        for r in parse_crawl_records(split_warc_records_exact(raw)).collect()
    }
    assert set(rows) == {"https://ok.example/good"}
    assert rows["https://ok.example/good"]["text"] == "good page text x"
    assert rows["https://ok.example/good"]["html"] is None


def test_split_exact_roundtrip_fuzz():
    """Property: for ANY payload bytes (including embedded 'WARC/1.0'
    framing, \\r\\n runs, non-UTF-8 bytes), a file built from
    Content-Length-framed records is split back into exactly those
    records by _split_blob_exact. Driver-side check of the pure
    splitter (the Spark plumbing is covered by the integration
    tests)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from eugl_spark.sources.warc import _split_blob_exact

    payload_st = st.binary(min_size=0, max_size=200)

    def rec(url_i: int, payload: bytes) -> bytes:
        return (
            f"WARC/1.0\r\nWARC-Type: conversion\r\n"
            f"WARC-Target-URI: https://f.example/{url_i}\r\n"
            f"Content-Length: {len(payload)}\r\n"
            f"Content-Type: text/plain\r\n\r\n"
        ).encode() + payload

    @settings(max_examples=200, deadline=None)
    @given(payloads=st.lists(payload_st, min_size=1, max_size=6))
    def check(payloads):
        records = [rec(i, p) for i, p in enumerate(payloads)]
        blob = b"\r\n\r\n".join(records) + b"\r\n\r\n"
        got = _split_blob_exact(blob)
        assert got == records

    check()


def test_split_exact_fallback_preserves_payload_newlines():
    """No-Content-Length fallback: only the inter-record separator is
    stripped; CR/LF bytes that are PART of the payload survive (the
    old unbounded rstrip ate them — ADVICE r4)."""
    from eugl_spark.sources.warc import _split_blob_exact

    def rec(body: bytes) -> bytes:
        return (
            b"WARC/1.0\r\nWARC-Type: conversion\r\n"
            b"WARC-Target-URI: https://nl.example/\r\n\r\n"
        ) + body

    # payload ends in a newline run; followed by another record
    r1 = rec(b"line one\r\nline two\r\n")
    r2 = rec(b"tail")
    got = _split_blob_exact(r1 + b"\r\n\r\n" + r2 + b"\r\n\r\n")
    assert got == [r1, r2]

    # last record, full terminator
    got = _split_blob_exact(rec(b"x\r\n") + b"\r\n\r\n")
    assert got == [rec(b"x\r\n")]
    # last record, truncated terminator (payload not CRLF-terminated)
    got = _split_blob_exact(rec(b"x") + b"\r\n")
    assert got == [rec(b"x")]
    # last record, no terminator at all
    got = _split_blob_exact(rec(b"x\r\n"))
    assert got == [rec(b"x")]  # documented ambiguity: separator wins


def _gz_member(rec: bytes) -> bytes:
    import gzip

    return gzip.compress(rec)


def test_gzip_member_roundtrip_fuzz():
    """The framing fuzz re-run over gzip-member files (VERDICT r4
    'Next round' #1): for ANY payload bytes, a .warc.gz built as one
    gzip member per Content-Length-framed record splits back into
    exactly those records."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from eugl_spark.sources.warc import _split_blob_auto

    payload_st = st.binary(min_size=0, max_size=200)

    def rec(url_i: int, payload: bytes) -> bytes:
        return (
            f"WARC/1.0\r\nWARC-Type: conversion\r\n"
            f"WARC-Target-URI: https://gz.example/{url_i}\r\n"
            f"Content-Length: {len(payload)}\r\n"
            f"Content-Type: text/plain\r\n\r\n"
        ).encode() + payload

    @settings(max_examples=200, deadline=None)
    @given(payloads=st.lists(payload_st, min_size=1, max_size=6))
    def check(payloads):
        records = [rec(i, p) for i, p in enumerate(payloads)]
        blob = b"".join(_gz_member(r + b"\r\n\r\n") for r in records)
        assert _split_blob_auto(blob) == records

    check()


def test_gzip_whole_file_and_uncompressed_agree():
    """A whole-file gzip (one member, many records — also seen in the
    wild) and the uncompressed blob split identically."""
    import gzip

    from eugl_spark.sources.warc import _split_blob_auto

    recs = []
    for i in range(5):
        body = f"payload {i}\r\nwith lines\r\n".encode()
        recs.append(
            (
                f"WARC/1.0\r\nWARC-Type: conversion\r\n"
                f"WARC-Target-URI: https://w.example/{i}\r\n"
                f"Content-Length: {len(body)}\r\n\r\n"
            ).encode()
            + body
        )
    blob = b"\r\n\r\n".join(recs) + b"\r\n\r\n"
    assert _split_blob_auto(blob) == recs
    assert _split_blob_auto(gzip.compress(blob)) == recs


def test_gzip_corrupt_member_resyncs():
    """A corrupt middle member is dropped; the members before and
    after it still yield their records (per-member fault isolation —
    the uncompressed splitter's resync contract)."""
    from eugl_spark.sources.warc import _split_blob_auto

    def rec(i: int) -> bytes:
        body = f"body {i}".encode()
        return (
            f"WARC/1.0\r\nWARC-Target-URI: https://c.example/{i}\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode() + body

    members = [_gz_member(rec(i) + b"\r\n\r\n") for i in range(3)]
    # corrupt the middle member's deflate stream (past the 10-byte
    # header so the member is still ENTERED, then fails mid-stream)
    bad = bytearray(members[1])
    for k in range(12, min(len(bad) - 9, 40)):
        bad[k] ^= 0xFF
    blob = members[0] + bytes(bad) + members[2]
    got = _split_blob_auto(blob)
    assert rec(0) in got and rec(2) in got
    assert rec(1) not in got

    # truncated FINAL member: earlier members survive
    blob2 = members[0] + members[1][: len(members[1]) // 2]
    got2 = _split_blob_auto(blob2)
    assert got2[0] == rec(0)


def test_gzip_end_to_end_through_pipeline(spark, tmp_path):
    """A .warc.gz drop flows through read_raw_drops →
    split_warc_records (native front auto-routes compressed blobs) →
    parse_crawl_records → apply_pipeline to verdicts; and the exact
    splitter agrees record-for-record."""
    import gzip

    from eugl_spark.pipeline import apply_pipeline
    from eugl_spark.sources.pages import read_raw_drops
    from eugl_spark.sources.warc import (
        parse_crawl_records,
        split_warc_records,
        split_warc_records_exact,
    )

    words = ("the of and to in is was he for it with as his on be "
             "at by had").split()
    recs = []
    for i in range(30):
        body = (" ".join(words[(i + k) % len(words)] for k in range(120))).encode()
        recs.append(
            (
                f"WARC/1.0\r\nWARC-Type: conversion\r\n"
                f"WARC-Target-URI: https://gz{i % 5}.example/p/{i}\r\n"
                f"WARC-Date: 2024-03-01T12:00:00Z\r\n"
                f"Content-Length: {len(body)}\r\n\r\n"
            ).encode()
            + body
        )
    drop = tmp_path / "drop"
    drop.mkdir()
    # one per-record-member gz file + one uncompressed file (mixed
    # drop: the native front must route each blob correctly)
    (drop / "a.warc.gz").write_bytes(
        b"".join(gzip.compress(r + b"\r\n\r\n") for r in recs[:20])
    )
    (drop / "b.warc").write_bytes(b"\r\n\r\n".join(recs[20:]) + b"\r\n\r\n")

    # mixed drop through the one-call front: glob routing at the file
    # listing (plain -> native, .gz -> exact member path), one read
    # per file
    from eugl_spark.sources.warc import read_warc_drops

    pages = parse_crawl_records(read_warc_drops(spark, str(drop)))
    assert pages.count() == 30
    # the magic-dispatching exact splitter agrees on the same files
    raw = read_raw_drops(spark, str(drop), "*.warc*")
    exact = parse_crawl_records(split_warc_records_exact(raw))
    assert sorted(r["url"] for r in exact.collect()) == sorted(
        r["url"] for r in pages.collect()
    )
    out = apply_pipeline(pages, repartition_to=0)
    rows = out.collect()
    assert len(rows) == 30
    assert all(r["text_extracted"] for r in rows)


def test_transcode_record_charset_paths():
    """Charset sniff contract (VERDICT r4 missing #2): declared
    legacy charsets re-encode to UTF-8; UTF-8 stays byte-identical;
    undeclared legacy bytes fall back unchanged (U+FFFD downstream)."""
    from eugl_spark.sources.warc import transcode_record

    def rec(headers: bytes, body: bytes) -> bytes:
        return (
            b"WARC/1.0\r\nWARC-Target-URI: https://cs.example/\r\n"
            + headers
            + b"Content-Length: "
            + str(len(body)).encode()
            + b"\r\n\r\n"
            + body
        )

    # utf-8 body: byte-identical passthrough (fast path)
    r = rec(b"Content-Type: text/html; charset=utf-8\r\n",
            "café résumé".encode("utf-8"))
    assert transcode_record(r) is r or transcode_record(r) == r

    # latin-1 declared in the Content-Type header
    body = "un café très français".encode("iso-8859-1")
    out = transcode_record(
        rec(b"Content-Type: text/html; charset=iso-8859-1\r\n", body)
    )
    he = out.find(b"\r\n\r\n")
    assert out[he + 4:].decode("utf-8") == "un café très français"
    # Content-Length refreshed to the new payload size
    import re

    m = re.search(rb"Content-Length: (\d+)", out)
    assert int(m.group(1)) == len(out) - he - 4

    # shift_jis declared in a meta tag (no header charset)
    sj = "日本語のページ"
    html = ('<html><head><meta charset="shift_jis"></head>'
            f"<body>{sj}</body></html>").encode("shift_jis")
    out = transcode_record(rec(b"Content-Type: text/html\r\n", html))
    assert sj in out[out.find(b"\r\n\r\n") + 4:].decode("utf-8")

    # http-equiv meta form
    html2 = ('<html><head><meta http-equiv="Content-Type" '
             'content="text/html; charset=iso-8859-1"></head>'
             "<body>søster</body></html>").encode("iso-8859-1")
    out = transcode_record(rec(b"Content-Type: text/html\r\n", html2))
    assert "søster" in out[out.find(b"\r\n\r\n") + 4:].decode("utf-8")

    # undeclared legacy bytes: unchanged (documented U+FFFD fallback)
    raw = rec(b"Content-Type: text/html\r\n", b"caf\xe9 undeclared")
    assert transcode_record(raw) == raw

    # unknown charset name: unchanged
    raw2 = rec(b"Content-Type: text/html; charset=x-klingon\r\n",
               b"caf\xe9")
    assert transcode_record(raw2) == raw2


def test_charset_end_to_end_exact_splitter(spark, tmp_path):
    """A latin-1 WET record flows through the exact splitter's
    transcode path into clean UTF-8 text; the native path yields
    U+FFFD for the same bytes (the documented boundary between the
    two fronts)."""
    from eugl_spark.sources.pages import read_raw_drops
    from eugl_spark.sources.warc import (
        parse_crawl_records,
        split_warc_records,
        split_warc_records_exact,
    )

    text = "le café était très bon ce matin là"
    body = text.encode("iso-8859-1")
    rec = (
        b"WARC/1.0\r\nWARC-Type: conversion\r\n"
        b"WARC-Target-URI: https://fr.example/cafe\r\n"
        b"WARC-Date: 2024-03-01T12:00:00Z\r\n"
        b"Content-Type: text/plain; charset=iso-8859-1\r\n"
        b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n" + body
    )
    d = tmp_path / "cs"
    d.mkdir()
    (d / "f.warc").write_bytes(rec + b"\r\n\r\n")
    raw = read_raw_drops(spark, str(d), "*.warc")

    exact = parse_crawl_records(split_warc_records_exact(raw)).collect()
    assert len(exact) == 1 and exact[0]["text"] == text

    native = parse_crawl_records(split_warc_records(raw)).collect()
    assert "�" in native[0]["text"]  # documented fallback


# --- round 6: HTTP response envelopes, de-chunking, byte contracts ---


def _env_record(
    url: str,
    html: str,
    status: str = "200 OK",
    http_headers: str = "Content-Type: text/html\r\n",
    warc_headers: str = "",
    date: str = "2024-03-01T12:00:00Z",
) -> bytes:
    """A REAL crawl response record: WARC block, then a full HTTP
    response (status line + headers + blank line + entity)."""
    body = (
        f"HTTP/1.1 {status}\r\n{http_headers}"
        f"Content-Length: {len(html.encode())}\r\n\r\n{html}"
    ).encode()
    return (
        f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {url}\r\n"
        f"WARC-Date: {date}\r\n{warc_headers}"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode() + body


def test_envelope_stripped_and_status_surfaced(spark, tmp_path):
    """VERDICT r5 missing #1: a genuine response payload is a FULL
    HTTP response. The parse must strip the envelope (html = entity
    only), surface the status code, drop non-2xx, and must NOT
    mistake a WET page ABOUT the HTTP protocol for an envelope."""
    from eugl_spark.sources.warc import parse_crawl_records

    d = tmp_path / "env"
    d.mkdir()
    (d / "ok.warc").write_bytes(
        _env_record("https://a.example/ok", "<html><p>the real page</p></html>")
    )
    (d / "nf.warc").write_bytes(
        _env_record("https://a.example/404", "<html>gone</html>",
                    status="404 Not Found")
    )
    # WET conversion whose TEXT starts like a status line — no envelope
    (d / "about.warc").write_bytes(_wet_record(
        "https://a.example/about-http",
        "HTTP/1.1 200 OK\r\nis what a server replies with",
    ))
    # damaged envelope: status line but no blank line → empty entity
    (d / "dmg.warc").write_bytes(
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://a.example/dmg\r\n"
        b"WARC-Date: 2024-03-01T12:00:00Z\r\n\r\n"
        b"HTTP/1.1 200 OK\r\nServer: x"
    )
    pages = parse_crawl_records(read_raw_drops(spark, str(d), "*.warc"))
    rows = {r["url"]: r for r in pages.collect()}
    assert set(rows) == {
        "https://a.example/ok",
        "https://a.example/about-http",
        "https://a.example/dmg",
    }
    ok = rows["https://a.example/ok"]
    assert bytes(ok["html"]) == b"<html><p>the real page</p></html>"
    assert ok["http_status"] == 200 and ok["ingest_flag"] is None
    about = rows["https://a.example/about-http"]
    assert about["http_status"] is None
    assert about["text"].startswith("HTTP/1.1 200 OK")
    assert bytes(rows["https://a.example/dmg"]["html"]) == b""

    # keep_non2xx=True retains the 404 with its status surfaced
    kept = parse_crawl_records(
        read_raw_drops(spark, str(d), "*.warc"), keep_non2xx=True
    )
    st = {r["url"]: r["http_status"] for r in kept.collect()}
    assert st["https://a.example/404"] == 404


def test_envelope_text_through_pipeline(spark, tmp_path):
    """Done-criterion from VERDICT r5 #1: an envelope page's extracted
    text contains no header tokens."""
    from eugl_spark.sources.warc import parse_crawl_records

    d = tmp_path / "envpipe"
    d.mkdir()
    words = " ".join(["the water of time is a question for the people"] * 8)
    (d / "r.warc").write_bytes(_env_record(
        "https://a.example/page",
        f"<html><body><p>{words}</p></body></html>",
        http_headers=(
            "Server: Apache/2.4.41 (Ubuntu)\r\n"
            "Content-Type: text/html; charset=UTF-8\r\n"
            "X-Powered-By: PHP/7.4.3\r\n"
        ),
    ))
    pages = parse_crawl_records(read_raw_drops(spark, str(d), "*.warc"))
    out = apply_pipeline(pages, repartition_to=0).collect()
    assert len(out) == 1
    text = out[0]["text_extracted"]
    for tok in ("HTTP/1.1", "Apache", "PHP", "Content-Type", "charset"):
        assert tok not in text
    assert "water of time" in text


def test_ingest_flags_condemn_rows(spark, tmp_path):
    """WARC-Truncated records and still-chunked entities are flagged
    by the parse and condemned by the pipeline (drop_reason
    ingest_truncated / ingest_chunked) instead of extracted."""
    from eugl_spark.sources.warc import parse_crawl_records

    d = tmp_path / "flags"
    d.mkdir()
    (d / "t.warc").write_bytes(_env_record(
        "https://a.example/cut", "<html><p>partial pa",
        warc_headers="WARC-Truncated: length\r\n",
    ))
    chunk = "<p>the chunked page body</p>"
    (d / "c.warc").write_bytes((
        "WARC/1.0\r\nWARC-Type: response\r\n"
        "WARC-Target-URI: https://a.example/chunked\r\n"
        "WARC-Date: 2024-03-01T12:00:00Z\r\n\r\n"
        "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        "Transfer-Encoding: chunked\r\n\r\n"
        f"{len(chunk):x}\r\n{chunk}\r\n0\r\n\r\n"
    ).encode())
    pages = parse_crawl_records(read_raw_drops(spark, str(d), "*.warc"))
    flags = {r["url"]: r["ingest_flag"] for r in pages.collect()}
    assert flags == {
        "https://a.example/cut": "truncated",
        "https://a.example/chunked": "chunked",
    }
    out = apply_pipeline(pages, repartition_to=0)
    reasons = {r["url"]: r["drop_reason"] for r in out.collect()}
    assert reasons["https://a.example/cut"] == "ingest_truncated"
    assert reasons["https://a.example/chunked"] == "ingest_chunked"


def test_dechunk_record():
    """dechunk_record reassembles chunked entities, drops the
    Transfer-Encoding header, refreshes BOTH Content-Lengths; leaves
    non-chunked records byte-identical; fails soft on malformed
    framing (flag survives → pipeline condemns)."""
    from eugl_spark.sources.warc import dechunk_record

    def chunked(pieces: list[str], te="Transfer-Encoding: chunked\r\n"):
        entity = "".join(f"{len(p):x}\r\n{p}\r\n" for p in pieces) + "0\r\n\r\n"
        body = (
            f"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n{te}\r\n"
            f"{entity}"
        ).encode()
        return (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: https://d.example/\r\n"
            b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n" + body
        )

    out = dechunk_record(chunked(["<p>hello ", "world</p>"]))
    he = out.find(b"\r\n\r\n")
    body = out[he + 4:]
    ee = body.find(b"\r\n\r\n")
    env, entity = body[:ee + 4], body[ee + 4:]
    assert entity == b"<p>hello world</p>"
    assert b"transfer-encoding" not in env.lower()
    import re
    # inner HTTP Content-Length = entity size
    m = re.search(rb"(?im)^content-length:[ \t]*(\d+)", env)
    assert int(m.group(1)) == len(entity)
    # outer WARC Content-Length = whole new body size
    m = re.search(rb"(?im)^content-length:[ \t]*(\d+)", out[:he])
    assert int(m.group(1)) == len(body)

    # chunk extension tolerated
    r = dechunk_record(chunked([]))  # zero chunks → empty entity
    assert r.endswith(b"\r\n\r\n") or b"Content-Length: 0" in r

    # non-chunked: byte-identical
    plain = _env_record("https://d.example/p", "<p>x</p>")
    assert dechunk_record(plain) == plain

    # malformed size line: unchanged (fail-soft)
    bad = chunked(["<p>x</p>"]).replace(b"8\r\n<p>x</p>", b"zz\r\n<p>x</p>")
    assert dechunk_record(bad) == bad


def test_dechunk_end_to_end_exact_splitter(spark, tmp_path):
    """A chunked record through the exact splitter is repaired:
    parse sees a plain entity, NO ingest flag, and the pipeline
    extracts clean text — while the native splitter leaves it
    flagged (the documented Python-side-repair boundary)."""
    from eugl_spark.sources.warc import (
        parse_crawl_records,
        split_warc_records,
        split_warc_records_exact,
    )

    words = " ".join(["the water of time is a question for the people"] * 6)
    pieces = [f"<html><body><p>{words[:80]}", words[80:], "</p></body></html>"]
    entity = "".join(f"{len(p.encode()):x}\r\n{p}\r\n" for p in pieces) + "0\r\n\r\n"
    body = (
        "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        "Transfer-Encoding: chunked\r\n\r\n" + entity
    ).encode()
    rec = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://ch.example/page\r\n"
        b"WARC-Date: 2024-03-01T12:00:00Z\r\n"
        b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n" + body
    )
    d = tmp_path / "dechunk"
    d.mkdir()
    (d / "f.warc").write_bytes(rec + b"\r\n\r\n")
    raw = read_raw_drops(spark, str(d), "*.warc")

    exact = parse_crawl_records(split_warc_records_exact(raw)).collect()
    assert len(exact) == 1
    assert exact[0]["ingest_flag"] is None
    assert b"\r\n" not in bytes(exact[0]["html"])  # framing gone
    assert bytes(exact[0]["html"]).startswith(b"<html>")

    native = parse_crawl_records(split_warc_records(raw)).collect()
    assert native[0]["ingest_flag"] == "chunked"


def test_native_and_exact_record_bytes_agree(spark, tmp_path):
    """ADVICE r5 #2 done-criterion: the SAME logical record in a plain
    shard and a gz shard yields IDENTICAL record bytes (native strips
    the one inter-record separator exactly like the exact splitter),
    so exact-dedup across a mixed drop catches cross-compression
    duplicates — compared by BODY, not just url."""
    import gzip

    from eugl_spark.sources.warc import read_warc_drops

    recs = []
    for i in range(6):
        body = f"payload {i}\r\nsecond line of {i}".encode()
        recs.append(
            (
                f"WARC/1.0\r\nWARC-Type: conversion\r\n"
                f"WARC-Target-URI: https://m.example/{i}\r\n"
                f"Content-Length: {len(body)}\r\n\r\n"
            ).encode()
            + body
        )
    d = tmp_path / "mixed2"
    d.mkdir()
    # identical records shipped BOTH plain and gzipped
    (d / "a.warc").write_bytes(b"\r\n\r\n".join(recs) + b"\r\n\r\n")
    (d / "b.warc.gz").write_bytes(
        b"".join(gzip.compress(r + b"\r\n\r\n") for r in recs)
    )
    got = [
        bytes(r["content"])
        for r in read_warc_drops(spark, str(d)).collect()
    ]
    assert len(got) == 12
    from collections import Counter

    counts = Counter(got)
    assert set(counts.values()) == {2}, (
        "plain and gz copies of the same record must be byte-identical"
    )
    assert sorted(counts) == sorted(recs)


def test_gzip_member_decompress_is_linear():
    """ADVICE r5 #1: member-by-member decompression must be linear in
    blob size. 60k members complete in seconds (the old one-shot
    tail-copy form measured 10.3s at 50k members and hours on a real
    ~100k-member Common Crawl shard)."""
    import gzip
    import time

    from eugl_spark.sources.warc import _gzip_member_payloads

    n = 60_000
    members = []
    for i in range(n):
        rec = (f"WARC/1.0\r\nWARC-Target-URI: https://l.example/{i}\r\n"
               f"Content-Length: 7\r\n\r\nbody {i % 10:02d}").encode()
        members.append(gzip.compress(rec))
    blob = b"".join(members)
    t0 = time.monotonic()
    out = _gzip_member_payloads(blob)
    dt = time.monotonic() - t0
    assert len(out) == n
    assert out[0].startswith(b"WARC/1.0") and out[-1].endswith(b"body 09")
    # generous bound: linear runs in well under a second; the
    # quadratic form took >14s for this size on the same host class
    assert dt < 8.0, f"member decompression took {dt:.1f}s for {n} members"


def test_transcode_charset_in_http_headers():
    """ADVICE r5 #3: on real WARCs the charset is declared in the HTTP
    envelope's Content-Type header (inside the payload), not the WARC
    block. The sniff must find it there, transcode the ENTITY only,
    and refresh the inner HTTP Content-Length too."""
    import re

    from eugl_spark.sources.warc import transcode_record

    text = "un café très français à Noël"
    entity = text.encode("iso-8859-1")
    body = (
        "HTTP/1.1 200 OK\r\nServer: nginx\r\n"
        "Content-Type: text/html; charset=iso-8859-1\r\n"
        f"Content-Length: {len(entity)}\r\n\r\n"
    ).encode() + entity
    rec = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://fr.example/\r\n"
        b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n" + body
    )
    out = transcode_record(rec)
    he = out.find(b"\r\n\r\n")
    nb = out[he + 4:]
    ee = nb.find(b"\r\n\r\n")
    env, ent = nb[:ee + 4], nb[ee + 4:]
    assert ent.decode("utf-8") == text
    assert b"nginx" in env  # envelope intact, never transcoded
    m = re.search(rb"(?im)^content-length:[ \t]*(\d+)", env)
    assert int(m.group(1)) == len(ent)  # inner refreshed (was stale)
    m = re.search(rb"(?im)^content-length:[ \t]*(\d+)", out[:he])
    assert int(m.group(1)) == len(nb)  # outer refreshed


def test_transcode_record_charset_breadth():
    """VERDICT r5 #8: the high-frequency legacy charset families a
    real crawl contains — windows-125x, gb2312/gbk, euc-jp/kr,
    iso-8859-x — all transcode via the same codecs.lookup path."""
    from eugl_spark.sources.warc import transcode_record

    cases = [
        ("windows-1250", "Začněte psát žlutý kůň"),
        ("windows-1251", "Съешь же ещё этих мягких булок"),
        ("windows-1252", "Smörgåsbord — déjà vu"),
        ("windows-1253", "Ελληνικό κείμενο εδώ"),
        ("windows-1254", "Türkçe metin: ğüşıöç"),
        ("windows-1255", "טקסט בעברית כאן"),
        ("windows-1256", "نص عربي هنا"),
        ("windows-1257", "Lietuviškas tekstas čia ąžuolas"),
        # cp1258 writes Vietnamese with combining diacritics; use the
        # precomposed letters the codepage does carry (đ ơ ư â ô ê)
        ("windows-1258", "đông phương ơ ư â ê ô"),
        ("gb2312", "简体中文网页内容"),
        ("gbk", "简体中文网页内容，包括扩展字符"),
        ("euc-jp", "日本語のテキストです"),
        ("euc-kr", "한국어 텍스트입니다"),
        ("iso-8859-2", "Příliš žluťoučký kůň"),
        ("iso-8859-5", "Русский текст здесь"),
        ("iso-8859-7", "Ελληνικά εδώ πάλι"),
        ("iso-8859-9", "Türkçe: şğüıöç"),
        ("iso-8859-15", "l'€uro et les œufs"),
    ]
    for charset, text in cases:
        entity = text.encode(charset)
        try:
            entity.decode("utf-8", "strict")
            continue  # encoding happens to be valid UTF-8: fast path
        except UnicodeDecodeError:
            pass
        body = (
            f"HTTP/1.1 200 OK\r\n"
            f"Content-Type: text/html; charset={charset}\r\n\r\n"
        ).encode() + entity
        rec = (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: https://cs.example/\r\n\r\n" + body
        )
        out = transcode_record(rec)
        assert text in out.decode("utf-8", "replace"), charset


def test_revisit_resolution_semantics(spark):
    """Revisit records resolve to the EARLIEST stored capture of
    their digest (url tie-break); dangling digests and digest-less
    revisits stay unresolved; the digest join never matches across
    different digests."""
    from eugl_spark.plans.queries import REGISTRY, ensure_revisit_blobs

    ensure_revisit_blobs()
    rows = REGISTRY["crawl_revisit_resolution"].spark(spark, "").collect()
    assert rows, "revisit fixture yielded nothing"
    resolved = [r for r in rows if r["resolved"]]
    dangling = [r for r in rows if not r["resolved"]]
    assert resolved and dangling  # both classes exercised
    # resolved rows carry a real source; unresolved carry nulls
    assert all(
        r["src_url"] is not None and r["src_ts_epoch"] is not None
        for r in resolved
    )
    assert all(r["src_url"] is None for r in dangling)
    # digest-less revisits exist in the fixture and are unresolved
    assert any(r["digest"] is None for r in dangling)
    # the winner per digest is unique: no revisit resolves to two rows
    assert len(rows) == len({(r["url"], r["ts_epoch"], r["digest"])
                             for r in rows})
