"""WARC (ISO 28500) source — the wire format of 100 TB crawled corpora.

Reference behavior: the reference ingests pre-extracted CSV
(``streamlit_app.py`` reads telemetry CSV; no crawl stage exists). A
training-data pipeline at real scale starts one step earlier: Common
Crawl-style ``.warc.gz`` files, where every record is its own gzip
member so any record boundary is a valid resume point. This module
implements that tier stdlib-only: a record writer (for deterministic
in-plan fixtures — the same no-binary-fixtures pattern as the codec
tier), a member-aware reader, an HTTP/1.1 response parser with chunked
transfer decoding, and the Spark surface :func:`warc_records` that
explodes file blobs into one row per record inside Arrow batches.

Scale posture: files arrive via ``spark.read.format("binaryFile")`` —
one task per file, which is the parallelism grain Common Crawl
processing actually uses (segment files ~1 GB). The parse is map-only;
nothing shuffles until the caller aggregates. Corrupt framing QUARANTINES
(the iterator stops yielding or skips the record, mirroring
tests/test_media_fuzz.py's contract for codecs): a torn record must
never raise out of a mapInPandas batch and kill the job.
"""

from __future__ import annotations

import gzip
import io
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

_CRLF = b"\r\n"
_WARC_DATE = "2026-01-01T00:00:00Z"  # fixture stamp: writer output is pure


# ---------------------------------------------------------------------------
# Writer (fixture side)
# ---------------------------------------------------------------------------


def build_http_response(
    body: bytes,
    status: int = 200,
    mime: str = "text/html; charset=utf-8",
    chunked: bool = False,
) -> bytes:
    """HTTP/1.1 response bytes; ``chunked=True`` applies real chunked
    transfer coding (what live origin servers actually send, so the
    reader's dechunker gets exercised by fixtures, not just unit tests)."""
    reason = {200: "OK", 301: "Moved Permanently", 404: "Not Found"}.get(
        status, "Status"
    )
    head = [f"HTTP/1.1 {status} {reason}", f"Content-Type: {mime}"]
    if chunked:
        head.append("Transfer-Encoding: chunked")
        chunks = bytearray()
        for i in range(0, len(body), 100):
            part = body[i : i + 100]
            chunks += f"{len(part):x}".encode() + _CRLF + part + _CRLF
        chunks += b"0" + _CRLF + _CRLF
        payload = bytes(chunks)
    else:
        head.append(f"Content-Length: {len(body)}")
        payload = body
    return _CRLF.join(h.encode() for h in head) + _CRLF + _CRLF + payload


def build_warc_record(
    rec_type: str,
    payload: bytes,
    target_uri: str | None = None,
    record_seq: int = 0,
    content_type: str = "application/http; msgtype=response",
) -> bytes:
    """One WARC/1.0 record. ``record_seq`` derives the record id so the
    writer is a pure function (fixtures hash-replay; no uuid4/now)."""
    head = [
        "WARC/1.0",
        f"WARC-Type: {rec_type}",
        f"WARC-Record-ID: <urn:uuid:00000000-0000-4000-8000-{record_seq:012d}>",
        f"WARC-Date: {_WARC_DATE}",
    ]
    if target_uri is not None:
        head.append(f"WARC-Target-URI: {target_uri}")
    head += [f"Content-Type: {content_type}", f"Content-Length: {len(payload)}"]
    return (
        _CRLF.join(h.encode() for h in head)
        + _CRLF
        + _CRLF
        + payload
        + _CRLF
        + _CRLF
    )


def encode_warc_gz(records: list[bytes]) -> bytes:
    """Concatenated one-gzip-member-per-record stream (the Common Crawl
    layout: any member boundary is an independent decompression start,
    which is what makes a 1 GB segment file record-splittable)."""
    out = bytearray()
    for rec in records:
        out += gzip.compress(rec, mtime=0)
    return bytes(out)


# ---------------------------------------------------------------------------
# Reader
# ---------------------------------------------------------------------------


def _split_headers(block: bytes) -> dict[str, str]:
    """Header lines → lower-cased dict; malformed lines are skipped."""
    out: dict[str, str] = {}
    for line in block.split(_CRLF):
        if b":" in line:
            k, _, v = line.partition(b":")
            try:
                out[k.decode("ascii").strip().lower()] = v.decode(
                    "utf-8", "replace"
                ).strip()
            except UnicodeDecodeError:
                continue
    return out


def _dechunk(payload: bytes) -> bytes | None:
    """Chunked transfer decoding; None on malformed framing."""
    out = bytearray()
    pos = 0
    while True:
        nl = payload.find(_CRLF, pos)
        if nl < 0:
            return None
        size_tok = payload[pos:nl].split(b";")[0].strip()  # drop extensions
        try:
            n = int(size_tok, 16)
        except ValueError:
            return None
        if n < 0:
            return None
        pos = nl + 2
        if n == 0:
            return bytes(out)  # trailers (if any) ignored
        if pos + n > len(payload):
            return None
        out += payload[pos : pos + n]
        pos += n
        if payload[pos : pos + 2] != _CRLF:
            return None
        pos += 2


def parse_http_response(raw: bytes):
    """HTTP bytes → (status, mime, chunked, body) or None. Chunked
    transfer coding is undone; a Content-Length body is trusted only up
    to the buffer actually present (torn responses quarantine)."""
    sep = raw.find(_CRLF + _CRLF)
    if sep < 0:
        return None
    head, payload = raw[:sep], raw[sep + 4 :]
    lines = head.split(_CRLF)
    parts = lines[0].split(None, 2)
    if len(parts) < 2 or not parts[0].startswith(b"HTTP/"):
        return None
    try:
        status = int(parts[1])
    except ValueError:
        return None
    headers = _split_headers(_CRLF.join(lines[1:]))
    mime = headers.get("content-type", "").split(";")[0].strip().lower()
    chunked = "chunked" in headers.get("transfer-encoding", "").lower()
    if chunked:
        body = _dechunk(payload)
        if body is None:
            return None
    elif "content-length" in headers:
        try:
            n = int(headers["content-length"])
        except ValueError:
            return None
        if n < 0 or n > len(payload):
            return None
        body = payload[:n]
    else:
        body = payload
    return status, mime, chunked, body


def _gunzip_members(data: bytes) -> bytes | None:
    """Concatenated gzip members → plain bytes; None on corrupt stream.
    Decompressed incrementally so a truncated tail yields the complete
    prefix instead of discarding the whole file."""
    out = bytearray()
    pos = 0
    while pos < len(data):
        d = zlib.decompressobj(wbits=31)
        try:
            out += d.decompress(data[pos:])
            out += d.flush()
        except zlib.error:
            break  # torn member: keep what framed cleanly
        if not d.eof:
            break  # truncated final member
        consumed = len(data) - pos - len(d.unused_data)
        if consumed <= 0:
            break
        pos += consumed
    return bytes(out) if out else None


def iter_warc(payload: bytes) -> Iterator[dict]:
    """WARC bytes (plain or .gz multi-member) → dicts with keys
    ``rec_type target_uri warc_date http_status mime chunked body``.
    HTTP fields are None for non-response records; records with torn
    framing end the iteration (quarantine, never raise)."""
    data = bytes(payload)
    if data[:2] == b"\x1f\x8b":
        data = _gunzip_members(data) or b""
    pos = 0
    while pos < len(data):
        # skip inter-record padding
        while data[pos : pos + 2] == _CRLF:
            pos += 2
        if pos >= len(data):
            return
        if not data.startswith(b"WARC/", pos):
            return  # lost framing: quarantine the remainder
        sep = data.find(_CRLF + _CRLF, pos)
        if sep < 0:
            return
        headers = _split_headers(data[pos:sep])
        try:
            clen = int(headers.get("content-length", ""))
        except ValueError:
            return
        body_start = sep + 4
        if clen < 0 or body_start + clen > len(data):
            return  # torn record
        body = data[body_start : body_start + clen]
        rec: dict = {
            "rec_type": headers.get("warc-type", ""),
            "target_uri": headers.get("warc-target-uri"),
            "warc_date": headers.get("warc-date"),
            "http_status": None,
            "mime": None,
            "chunked": None,
            "body": body,
        }
        ctype = headers.get("content-type", "")
        if rec["rec_type"] == "response" and ctype.startswith("application/http"):
            parsed = parse_http_response(body)
            if parsed is not None:
                status, mime, chunked, http_body = parsed
                rec.update(
                    http_status=status, mime=mime, chunked=chunked, body=http_body
                )
        yield rec
        pos = body_start + clen


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

_RECORD_SCHEMA = (
    "rec_type string, target_uri string, warc_date string, "
    "http_status int, mime string, chunked boolean, body binary"
)


def warc_records(df: DataFrame) -> DataFrame:
    """Explode WARC file blobs (one row per file in ``content``, e.g. from
    the ``binaryFile`` source) into one row per record. Arrow-batched
    map-only — at 100 TB this is the embarrassingly-parallel stage;
    per-record rows are what every downstream operator (html_to_text,
    dedup, quality) consumes."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {
                k: []
                for k in (
                    "rec_type",
                    "target_uri",
                    "warc_date",
                    "http_status",
                    "mime",
                    "chunked",
                    "body",
                )
            }
            for blob in pdf["content"]:
                if blob is None:
                    continue
                for rec in iter_warc(bytes(blob)):
                    for k in rows:
                        rows[k].append(rec[k])
            yield pd.DataFrame(
                {
                    "rec_type": rows["rec_type"],
                    "target_uri": rows["target_uri"],
                    "warc_date": rows["warc_date"],
                    "http_status": pd.array(rows["http_status"], dtype="Int32"),
                    "mime": rows["mime"],
                    "chunked": pd.array(rows["chunked"], dtype="boolean"),
                    "body": rows["body"],
                }
            )

    return df.mapInPandas(batches, schema=_RECORD_SCHEMA)
