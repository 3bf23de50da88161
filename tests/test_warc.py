"""WARC/WET source: round-trip, gzip layouts, record skipping, lang fallback."""

from __future__ import annotations

import datetime as dt
import gzip
import io

import pytest

from mmkg_rag_spark.sources import pages, warc


@pytest.fixture(scope="module")
def spark():
    from mmkg_rag_spark.session import get_spark

    yield get_spark(master="local[4]", shuffle_partitions=8, app_name="pytest-warc")


@pytest.fixture(scope="module")
def page_rows():
    return pages.gen_pages_local(30)


def _parse_all(blob: bytes, **kw):
    return list(warc.iter_warc_records(io.BytesIO(blob), **kw))


def test_record_roundtrip_three_gzip_layouts(page_rows):
    """Per-member gzip (Common Crawl layout), whole-file gzip, and plain
    bytes all parse to the identical record sequence."""
    per_member = warc.write_warc(page_rows)
    plain = warc.write_warc(page_rows, gzip_per_member=False)
    whole = gzip.compress(plain)
    seqs = [_parse_all(b) for b in (per_member, plain, whole)]
    assert all(len(s) == len(seqs[0]) for s in seqs)
    for recs in zip(*seqs):
        assert all(r == recs[0] for r in recs)
    # warcinfo + (request + response) per page
    types = [h["warc-type"] for h, _ in seqs[0]]
    assert types[0] == "warcinfo"
    assert types.count("response") == len(page_rows)
    assert types.count("request") == len(page_rows)


def test_http_payload_preserves_html_bytes(page_rows):
    recs = _parse_all(warc.write_warc(page_rows))
    bodies = [
        warc._http_payload(block)
        for h, block in recs
        if h["warc-type"] == "response"
    ]
    assert bodies == [bytes(r["html"]) for r in page_rows]


def test_read_warc_matches_pages_table(spark, page_rows, tmp_path_factory):
    """Spark read of a fixture archive reproduces url/ts/html/text exactly;
    the synthetic inverse extractor fires (north-star byte-identity)."""
    d = tmp_path_factory.mktemp("warc")
    # two archive files -> two input tasks
    (d / "part-0.warc.gz").write_bytes(warc.write_warc(page_rows[:17]))
    (d / "part-1.warc.gz").write_bytes(warc.write_warc(page_rows[17:]))
    out = warc.read_warc(spark, str(d / "*.warc.gz")).orderBy("url").collect()
    want = sorted(page_rows, key=lambda r: r["url"])
    assert len(out) == len(want)
    for got, src in zip(out, want):
        assert got.url == src["url"]
        assert got.warc_ts == src["warc_ts"].replace(tzinfo=None)
        assert bytes(got.html) == bytes(src["html"])
        assert got.text == src["text"]  # byte-identical extraction
        assert got.lang == "en"  # no header -> detector (FILLER is English)


def test_read_warc_directory_path(spark, page_rows, tmp_path):
    """A bare directory expands to its *.warc*/*.wet* members (mixed
    formats), instead of raising IsADirectoryError inside a task."""
    (tmp_path / "a.warc.gz").write_bytes(warc.write_warc(page_rows[:3]))
    (tmp_path / "b.wet").write_bytes(warc.write_wet(page_rows[3:5]))
    (tmp_path / "notes.txt").write_text("ignored")
    out = warc.read_warc(spark, str(tmp_path)).orderBy("url").collect()
    assert sorted(r.url for r in out) == sorted(
        r["url"] for r in page_rows[:5]
    )


def test_read_wet_lang_header_wins(spark, page_rows, tmp_path):
    rows = [dict(r, lang="de") for r in page_rows[:5]]
    p = tmp_path / "a.warc.wet.gz"
    p.write_bytes(warc.write_wet(rows))
    out = warc.read_warc(spark, str(p)).orderBy("url").collect()
    assert [r.lang for r in out] == ["de"] * 5  # header beats detector
    assert all(r.html is None for r in out)
    assert sorted(r.text for r in out) == sorted(r["text"] for r in rows[:5])


def test_strip_html_generic_fallback():
    wild = (
        b"<html><head><style>p{color:red}</style>"
        b"<script>var x = '<p>not text</p>';</script></head>"
        b"<body><h1>Title</h1><p>Alpha &amp; beta<br>gamma</p>"
        b"<div>Delta</div></body></html>"
    )
    text = warc.extract_text(wild)
    assert "Title" in text and "Alpha & beta\ngamma" in text and "Delta" in text
    assert "color" not in text and "not text" not in text


def test_lenient_stops_on_truncation(page_rows):
    blob = warc.write_warc(page_rows[:3], gzip_per_member=False)
    cut = blob[: len(blob) - len(blob) // 4]
    with pytest.raises(Exception):
        _parse_all(cut)
    recs = _parse_all(cut, lenient=True)
    assert 0 < len(recs) < 7  # parsed the intact prefix, stopped quietly


def test_header_case_and_nonseekable_stream(page_rows):
    blob = warc.write_warc(page_rows[:2]).replace(b"WARC-Type", b"wArC-tYpE")

    class NoSeek(io.RawIOBase):
        def __init__(self, b):
            self._b = io.BytesIO(b)

        def readable(self):
            return True

        def readinto(self, buf):
            data = self._b.read(len(buf))
            buf[: len(data)] = data
            return len(data)

    recs = list(warc.iter_warc_records(io.BufferedReader(NoSeek(blob))))
    assert [h["warc-type"] for h, _ in recs].count("response") == 2


def test_warc_date_fractional_seconds():
    ts = warc.parse_warc_date("2025-03-01T12:34:56.123456Z")
    assert ts == dt.datetime(
        2025, 3, 1, 12, 34, 56, 123456, tzinfo=dt.timezone.utc
    )


def test_kg_build_from_warc_equals_synthetic(spark, tmp_path_factory):
    """`run.py --warc` produces the same graph as the synthetic generator
    over the same 30 pages: WARC round-trips carry the full KG pipeline."""
    import io as _io
    from contextlib import redirect_stdout

    from mmkg_rag_spark.run import main

    d = tmp_path_factory.mktemp("warc-e2e")
    (d / "crawl.warc.gz").write_bytes(warc.write_warc(pages.gen_pages_local(30)))

    def summary(args):
        buf = _io.StringIO()
        with redirect_stdout(buf):
            assert main(args + ["--master", "local[4]"]) == 0
        lines = buf.getvalue().splitlines()
        return lines[lines.index("top degrees:") - 1 :]

    wh1 = str(tmp_path_factory.mktemp("wh-warc"))
    wh2 = str(tmp_path_factory.mktemp("wh-gen"))
    s_warc = summary(["--warc", str(d / "crawl.warc.gz"), "--warehouse", wh1])
    s_gen = summary(["--n-docs", "30", "--warehouse", wh2])
    assert s_warc == s_gen  # identical node/edge counts and degree ranking


def test_stream_warc_matches_batch_read(spark, page_rows, tmp_path_factory):
    """Streaming discovery of a landing dir yields the same pages rows as
    the batch read; non-archive files are glob-filtered out."""
    d = tmp_path_factory.mktemp("warc-stream")
    (d / "a.warc.gz").write_bytes(warc.write_warc(page_rows[:12]))
    (d / "b.wet").write_bytes(warc.write_wet(page_rows[12:20], gzip_per_member=False))
    (d / "ignore.txt").write_bytes(b"not an archive")

    q = (
        warc.stream_warc(spark, str(d), max_files_per_trigger=1)
        .writeStream.format("memory")
        .queryName("stream_warc_t")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql(
        "select url, text from stream_warc_t order by url"
    ).collect()
    want = (
        warc.read_warc(spark, [str(d / "a.warc.gz"), str(d / "b.wet")])
        .select("url", "text")
        .orderBy("url")
        .collect()
    )
    assert len(got) == 20 and got == want


def test_http_payload_dechunks_transfer_encoding():
    body = b"5\r\nHello\r\n8\r\n, chunky\r\n0\r\nX-Trailer: t\r\n\r\n"
    block = (
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n"
        b"Content-Type: text/html\r\n\r\n" + body
    )
    assert warc._http_payload(block) == b"Hello, chunky"
    # chunk extensions ignored; malformed stream falls back to raw bytes
    ext = block.replace(b"5\r\n", b"5;ext=1\r\n")
    assert warc._http_payload(ext) == b"Hello, chunky"
    broken = block[:-20]
    assert warc._http_payload(broken) == body[:-20]
    # non-chunked messages untouched
    plain = b"HTTP/1.1 200 OK\r\n\r\nHello"
    assert warc._http_payload(plain) == b"Hello"


def test_warc_record_framing_property():
    """Hypothesis: arbitrary payload bytes survive the write->parse cycle
    in every gzip layout, including payloads containing CRLFs and fake
    WARC version lines."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        payloads=st.lists(
            st.binary(min_size=0, max_size=400), min_size=1, max_size=4
        ),
        per_member=st.booleans(),
    )
    def check(payloads, per_member):
        import datetime as _dt

        rows = [
            {
                "url": f"https://h{i}.test/p",
                "warc_ts": _dt.datetime(2025, 1, 1, tzinfo=_dt.timezone.utc),
                "html": p,
            }
            for i, p in enumerate(payloads)
        ]
        blob = warc.write_warc(rows, gzip_per_member=per_member,
                               with_requests=False)
        recs = [
            (h, b) for h, b in _parse_all(blob) if h["warc-type"] == "response"
        ]
        assert [warc._http_payload(b) for _, b in recs] == payloads

    check()
