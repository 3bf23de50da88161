"""WARC / WET source: Common-Crawl-style archive ingestion.

The north-star input is "an Iceberg table of Common-Crawl-style web pages"
(BASELINE.json ``input_hint``); on a real crawl that table is *built* from
WARC archives — the ISO 28500 container Common Crawl actually ships. This
module closes the gap between raw crawl archives and the engine's
``pages(url, warc_ts, html, text, lang)`` table:

- ``iter_warc_records`` — streaming record parser for WARC 1.0/1.1. Handles
  plain concatenated records, whole-file gzip, and Common Crawl's
  member-per-record gzip (``gzip.GzipFile`` reads multi-member streams
  natively, so all three arrive through one code path). O(one record)
  memory per step.
- ``write_warc`` / ``write_wet`` — spec-valid fixture writers (response +
  request/warcinfo records with full HTTP framing; WET ``conversion``
  records) so round-trip tests run hermetically with zero network.
- ``read_warc`` — the Spark entry point: archive inventory → one task per
  file → ``mapInPandas`` parse → the exact ``input_hint`` schema.
- ``stream_warc`` — the same parser over a ``binaryFile`` file stream of a
  landing directory, for ``streaming.stream_build(source="warc")``.

The module only reads archives into pages: it keeps no CDX index, does no
ranged record fetch and writes no archives of its own beyond the test
fixtures above.

Scale design (100 TB): Common Crawl writes archives at ~1 GiB precisely so
the *file inventory* carries the parallelism — a monthly crawl is ~90k
WARC files, far above any executor count, so one-task-per-file saturates a
1000-executor cluster with no intra-file split needed. The reader
distributes *paths* (a few bytes each) and streams bytes inside the task,
so no multi-GiB file body ever crosses a shuffle or lives in a Spark row.
Text extraction runs in the same map stage (no extra pass over the data);
language is metadata-first (``WARC-Identified-Content-Language``, emitted
by recent Common Crawl WET releases) with the engine's native stopword
detector (`functions.textstats.lang_id`) as the in-plan fallback — a
JVM-side expression, not Python.

Reference parity: the reference ingests local files/URLs one at a time
(``src/mrag/index/pipe.py:35-36`` file read → text); WARC is the
web-scale generalization of that source stage, feeding the same
downstream extract→dedup→materialize pipeline.
"""

from __future__ import annotations

import datetime as dt
import glob as _glob
import gzip
import hashlib
import io
import os as _os
import re
from typing import Iterator

from mmkg_rag_spark.sources import pages as _pages

CRLF = b"\r\n"

# --- record-level parser ----------------------------------------------------


def _read_headers(f) -> tuple[str, dict[str, str]] | None:
    """Read one WARC version line + header block; None at clean EOF.

    Header names are case-insensitive per spec — normalized to lowercase.
    Inter-record blank lines (the two CRLFs that close the previous record)
    are tolerated before the version line.
    """
    line = f.readline()
    while line in (CRLF, b"\n"):
        line = f.readline()
    if not line:
        return None
    version = line.strip().decode("ascii", "replace")
    if not version.startswith("WARC/"):
        raise ValueError(f"bad WARC version line: {version!r}")
    headers: dict[str, str] = {}
    last_key = None
    while True:
        line = f.readline()
        if not line:
            raise ValueError("truncated WARC header block")
        if line in (CRLF, b"\n"):
            return version, headers
        text = line.decode("utf-8", "replace").rstrip("\r\n")
        if text[:1] in (" ", "\t") and last_key:  # obs-fold continuation
            headers[last_key] += " " + text.strip()
            continue
        key, _, val = text.partition(":")
        last_key = key.strip().lower()
        headers[last_key] = val.strip()


def iter_warc_records(
    stream, *, lenient: bool = False
) -> Iterator[tuple[dict[str, str], bytes]]:
    """Yield ``(headers, block)`` per record from a WARC byte stream.

    ``stream`` is a binary file-like positioned at the start; gzip (single
    stream or Common Crawl's member-per-record) is auto-detected from the
    magic bytes. ``headers`` keys are lowercased; ``block`` is the raw
    record block (``Content-Length`` bytes — for response records this is
    the full HTTP message). With ``lenient=True`` a malformed tail stops
    the file quietly instead of raising (crawl archives do truncate).
    """
    magic = stream.read(2)
    if getattr(stream, "seekable", lambda: False)():
        stream.seek(-len(magic), io.SEEK_CUR)
        head = stream
    else:  # non-seekable: re-prefix the consumed magic
        head = _Prefixed(magic, stream)
    f = gzip.GzipFile(fileobj=head) if magic == b"\x1f\x8b" else head
    f = io.BufferedReader(f) if not isinstance(f, io.BufferedReader) else f
    while True:
        try:
            hdr = _read_headers(f)
            if hdr is None:
                return
            _, headers = hdr
            n = int(headers["content-length"])
            block = f.read(n)
            if len(block) != n:
                raise ValueError("truncated WARC block")
        except Exception:
            if lenient:
                return
            raise
        yield headers, block


class _Prefixed(io.RawIOBase):
    """Re-attach consumed magic bytes in front of a non-seekable stream."""

    def __init__(self, prefix: bytes, stream):
        self._pre = prefix
        self._s = stream

    def readable(self) -> bool:
        return True

    def readinto(self, b) -> int:
        if self._pre:
            k = min(len(b), len(self._pre))
            b[:k] = self._pre[:k]
            self._pre = self._pre[k:]
            return k
        data = self._s.read(len(b))
        b[: len(data)] = data
        return len(data)


def _http_payload(block: bytes) -> bytes:
    """HTTP message block → body bytes (headers dropped, chunking removed).

    Content-Length in the HTTP headers is advisory here: the WARC record
    length already bounds the block, and crawlers routinely store truncated
    bodies, so everything after the header terminator is the payload.
    Crawlers also store ``Transfer-Encoding: chunked`` bodies verbatim
    (the WARC block is the wire bytes) — those are de-framed so the caller
    always sees the entity body; a malformed chunk stream falls back to
    the raw bytes rather than dropping the record.
    """
    sep = block.find(b"\r\n\r\n")
    if sep < 0:
        sep = block.find(b"\n\n")
        if sep < 0:
            return block
        head, body = block[:sep], block[sep + 2 :]
    else:
        head, body = block[:sep], block[sep + 4 :]
    if b"chunked" in head.lower() and b"transfer-encoding" in head.lower():
        try:
            return _dechunk(body)
        except ValueError:
            return body
    return body


def _dechunk(body: bytes) -> bytes:
    """RFC 9112 §7.1 chunked framing → entity bytes (trailers dropped)."""
    out = bytearray()
    pos = 0
    while True:
        nl = body.find(b"\r\n", pos)
        if nl < 0:
            raise ValueError("bad chunk size line")
        size = int(body[pos:nl].split(b";")[0], 16)  # ignore chunk extensions
        pos = nl + 2
        if size == 0:
            return bytes(out)  # trailers (if any) are ignored
        if pos + size > len(body):
            raise ValueError("truncated chunk")
        out += body[pos : pos + size]
        pos += size + 2  # chunk data CRLF


def parse_warc_date(s: str) -> dt.datetime:
    """WARC-Date (ISO 8601, 'Z' suffix, optional fractional secs) → aware dt."""
    return dt.datetime.fromisoformat(s.replace("Z", "+00:00"))


# --- generic HTML -> text (fallback extractor) ------------------------------

_SCRIPTS = re.compile(rb"(?is)<(script|style)\b.*?</\1\s*>")
_BLOCK_BREAK = re.compile(rb"(?i)</(p|div|h[1-6]|li|tr|blockquote)\s*>")
_BR = re.compile(rb"(?i)<br\s*/?>")
_TAG = re.compile(rb"(?s)<[^>]*>")
_BLANKS = re.compile(r"\n{3,}")


def strip_html(html: bytes) -> str:
    """Deterministic generic tag-stripper for arbitrary web HTML.

    Drops script/style bodies, maps block-closers to paragraph breaks and
    ``<br>`` to newlines, removes remaining tags, unescapes entities, and
    collapses whitespace. NOT the byte-identical synthetic inverse — that
    is `pages.html_to_text`, which `extract_text` tries first.
    """
    import html as _h

    b = _SCRIPTS.sub(b"", html)
    b = _BR.sub(b"\n", b)
    b = _BLOCK_BREAK.sub(b"\n\n", b)
    b = _TAG.sub(b" ", b)
    s = _h.unescape(b.decode("utf-8", "replace"))
    lines = [" ".join(ln.split()) for ln in s.split("\n")]
    return _BLANKS.sub("\n\n", "\n".join(lines)).strip()


def extract_text(html: bytes) -> str:
    """Engine text producer for WARC payloads.

    The synthetic-wrapper inverse (`pages.html_to_text`, the byte-identical
    north-star kernel) when the payload matches it; the generic stripper
    for wild HTML.
    """
    try:
        return _pages.html_to_text(html)
    except Exception:  # noqa: BLE001 — not the synthetic wrapper
        return strip_html(html)


# --- fixture writers --------------------------------------------------------


def _record(
    rtype: str,
    headers: list[tuple[str, str]],
    block: bytes,
    version: str = "WARC/1.0",
) -> bytes:
    rid = hashlib.md5(
        (rtype + ":" + str(dict(headers))).encode() + block[:64]
    ).hexdigest()
    lines = [version.encode(), b"WARC-Type: " + rtype.encode()]
    lines += [k.encode() + b": " + v.encode() for k, v in headers]
    lines += [
        b"WARC-Record-ID: <urn:uuid:" + rid.encode() + b">",
        b"Content-Length: " + str(len(block)).encode(),
    ]
    return CRLF.join(lines) + CRLF * 2 + block + CRLF * 2


def _gzip_member(data: bytes) -> bytes:
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
        g.write(data)
    return buf.getvalue()


def _ts_str(ts: dt.datetime) -> str:
    return ts.astimezone(dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def write_warc(
    rows: list[dict],
    *,
    gzip_per_member: bool = True,
    with_requests: bool = True,
) -> bytes:
    """Rows ``{url, warc_ts, html}`` → a spec-valid .warc(.gz) byte string.

    Emits a leading ``warcinfo`` record, then per page an optional
    ``request`` record (readers must skip it — Common Crawl interleaves
    them) and the ``response`` record with full HTTP/1.1 framing. With
    ``gzip_per_member`` each record is its own gzip member, Common Crawl's
    on-disk layout.
    """
    info = b"software: mmkg-rag-spark fixture writer\r\nformat: WARC File Format 1.0\r\n"
    records = [
        _record(
            "warcinfo",
            [("WARC-Date", _ts_str(dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc))),
             ("Content-Type", "application/warc-fields")],
            info,
        )
    ]
    for r in rows:
        ts = _ts_str(r["warc_ts"])
        if with_requests:
            req = (
                b"GET / HTTP/1.1\r\nHost: fixture\r\nUser-Agent: mmkg-rag-spark\r\n\r\n"
            )
            records.append(
                _record(
                    "request",
                    [("WARC-Target-URI", r["url"]), ("WARC-Date", ts),
                     ("Content-Type", 'application/http; msgtype="request"')],
                    req,
                )
            )
        body = bytes(r["html"])
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\n"
            b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n" + body
        )
        records.append(
            _record(
                "response",
                [("WARC-Target-URI", r["url"]), ("WARC-Date", ts),
                 ("Content-Type", 'application/http; msgtype="response"')],
                http,
            )
        )
    if gzip_per_member:
        return b"".join(_gzip_member(rec) for rec in records)
    return b"".join(records)


def write_wet(rows: list[dict], *, gzip_per_member: bool = True) -> bytes:
    """Rows ``{url, warc_ts, text[, lang]}`` → a .warc.wet(.gz) byte string.

    ``conversion`` records carrying plain-text payloads; ``lang`` (when
    present) rides the ``WARC-Identified-Content-Language`` header exactly
    as recent Common Crawl WET releases emit it.
    """
    records = []
    for r in rows:
        headers = [
            ("WARC-Target-URI", r["url"]),
            ("WARC-Date", _ts_str(r["warc_ts"])),
            ("Content-Type", "text/plain"),
        ]
        if r.get("lang"):
            headers.append(("WARC-Identified-Content-Language", r["lang"]))
        records.append(_record("conversion", headers, r["text"].encode("utf-8")))
    if gzip_per_member:
        return b"".join(_gzip_member(rec) for rec in records)
    return b"".join(records)


# --- Spark entry point ------------------------------------------------------


def _archive_rows(fh, lenient: bool):
    """One archive stream → (url, ts, html, text, lang) page tuples."""
    for headers, block in iter_warc_records(fh, lenient=lenient):
        rtype = headers.get("warc-type", "")
        url = headers.get("warc-target-uri", "")
        if rtype == "response":
            html = _http_payload(block)
            text = extract_text(html)
        elif rtype == "conversion":
            html = None
            text = block.decode("utf-8", "replace")
        else:
            continue
        yield (
            url,
            parse_warc_date(headers["warc-date"]),
            html,
            text,
            headers.get("warc-identified-content-language"),
        )


def _local_path(p: str) -> str:
    """Strip a file: URI scheme (binaryFile source emits URIs)."""
    if p.startswith("file:"):
        from urllib.parse import unquote, urlparse

        return unquote(urlparse(p).path)
    return p


def _paths_to_pages_gen(lenient: bool):
    """mapInPandas generator: batches of path strings → pages rows.

    Bytes stream inside the task (records are parsed one at a time from
    the file handle); only path strings cross the shuffle/stream boundary.
    """
    import pandas as pd

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for path in pdf["path"]:
                with open(_local_path(path), "rb") as fh:
                    rows.extend(_archive_rows(fh, lenient))
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return gen


def read_warc(spark, paths, *, lenient: bool = False):
    """WARC/WET archives → the ``input_hint`` pages DataFrame.

    ``paths``: a glob, a single path, or an explicit list (on a cluster,
    pass the file inventory — e.g. Common Crawl's ``warc.paths`` listing).
    One task per archive file; bytes are streamed inside the task, so only
    path strings are distributed. ``response`` records yield
    ``(url, warc_ts, html, text=extract_text(html))``; ``conversion``
    (WET) records yield text directly with ``html`` NULL. Every other
    record type (warcinfo/request/metadata/revisit) is skipped. ``lang``
    is the record's ``WARC-Identified-Content-Language`` when present,
    else the native stopword detector — a JVM-side expression appended to
    the same single map stage.
    """
    from pyspark.sql import functions as F

    from mmkg_rag_spark.functions.textstats import lang_id

    if isinstance(paths, str):
        if _glob.has_magic(paths):
            files = sorted(_glob.glob(paths))
        elif _os.path.isdir(paths):
            files = sorted(
                p
                for pat in ("*.warc", "*.warc.gz", "*.wet", "*.wet.gz")
                for p in _glob.glob(_os.path.join(paths, pat))
            )
        else:
            files = [paths]
    else:
        files = list(paths)
    if not files:
        raise ValueError("read_warc: no input files")

    gen = _paths_to_pages_gen(lenient)
    n_part = min(len(files), spark.sparkContext.defaultParallelism)
    inventory = spark.createDataFrame([(p,) for p in files], "path string")
    if len(files) > 1:
        inventory = inventory.repartition(n_part)
    df = inventory.mapInPandas(gen, schema=_pages.PAGES_SCHEMA)
    return df.withColumn("lang", F.coalesce(F.col("lang"), lang_id(F.col("text"))))


# --- streaming (continuous auto-loader) --------------------------------------

# binaryFile's fixed source schema, declared explicitly so the stream needs
# no inference pass; we only ever SELECT ``path`` from it, and the source
# prunes ``content`` — archive bytes never ride the stream, each task
# re-opens its files and parses records one at a time.
_BINARYFILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)
_ARCHIVE_GLOB = "*.{warc,warc.gz,wet,wet.gz}"


def stream_warc(spark, input_dir: str, *, lenient: bool = False,
                max_files_per_trigger: int | None = None):
    """Streaming pages DataFrame over a landing directory of crawl archives.

    Auto-loader shape: the ``binaryFile`` file-stream source provides
    exactly-once *file discovery* (seen-files tracked in the stream
    checkpoint); only ``path`` is projected, then the same per-file parser
    as the batch `read_warc` turns each discovered archive into pages rows
    inside the micro-batch task. Downstream this composes with the whole
    streaming KG path (`streaming.stream_build` accepts any pages stream).
    """
    from pyspark.sql import functions as F

    from mmkg_rag_spark.functions.textstats import lang_id

    reader = (
        spark.readStream.format("binaryFile")
        .schema(_BINARYFILE_SCHEMA)
        .option("pathGlobFilter", _ARCHIVE_GLOB)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    paths = reader.load(input_dir).select("path")
    df = paths.mapInPandas(_paths_to_pages_gen(lenient), schema=_pages.PAGES_SCHEMA)
    return df.withColumn("lang", F.coalesce(F.col("lang"), lang_id(F.col("text"))))
