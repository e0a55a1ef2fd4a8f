"""WARC (ISO 28500) reader — the Common Crawl ingestion format.

Web-scale text corpora arrive as .warc / .warc.gz: WARC records (version
line + named headers + Content-Length-framed block + CRLF CRLF), with the
.gz form storing ONE GZIP MEMBER PER RECORD so readers can split without
decompressing everything (`split_gzip_members` walks members via stdlib
zlib's unused_data — each member decompresses independently, which is
also what makes the format splittable across executors at 100 TB).

`parse_warc` yields typed records; response records additionally split
the HTTP/1.1 message into status, headers, and body (the actual page
bytes a text pipeline wants). `encode_warc` writes conforming records
(per-record gzip members optional) for fixtures.

The Spark surface (multimodal.explode_warc) turns (media_id, warc bytes)
rows into one row per record with the HTTP body extracted — the ingest
step ahead of langid/quality/dedup. Reference parity: none (the
reference moves database rows); public spec, LLM-pipeline surface.
"""

from __future__ import annotations

import zlib

from peerdb_spark import codecs

__all__ = ["split_gzip_members", "parse_warc", "encode_warc"]

_STEP = 1 << 20  # inflate step: the most one decompress call may return


def split_gzip_members(data: bytes) -> list[bytes]:
    """Multi-member gzip → list of decompressed members (the .warc.gz
    convention: one record per member). Raises ValueError on corrupt
    streams and once the members together inflate past codecs.MAX_SIZE
    (inflation runs in bounded steps, so a small hostile blob never
    allocates its full output); a non-gzip payload is one 'member'
    returned as-is when it lacks the magic (plain .warc passthrough)."""
    if data[:2] != b"\x1f\x8b":
        return [data]
    out, total = [], 0
    rest = data
    while rest:
        if rest[:2] != b"\x1f\x8b":
            raise ValueError("garbage between gzip members")
        d = zlib.decompressobj(wbits=31)
        parts, buf = [], rest
        try:
            while not d.eof:
                n_in = len(buf)
                part = d.decompress(buf, _STEP)
                buf = d.unconsumed_tail
                if not part and len(buf) == n_in:
                    break  # no progress: the member is cut short
                total += len(part)
                if total > codecs.MAX_SIZE:
                    raise ValueError(
                        f"gzip: output exceeds size bound {codecs.MAX_SIZE}")
                parts.append(part)
        except zlib.error as e:
            raise ValueError(f"corrupt gzip member ({e})") from e
        if not d.eof:
            raise ValueError("truncated gzip member")
        out.append(b"".join(parts))
        rest = d.unused_data
    return out


def _parse_headers(block: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in block.split(b"\r\n"):
        if not line:
            continue
        key, sep, val = line.partition(b":")
        if not sep:
            raise ValueError(f"malformed header line {line[:40]!r}")
        headers[key.strip().decode("latin-1").lower()] = (
            val.strip().decode("latin-1")
        )
    return headers


def parse_warc(data: bytes) -> list[dict]:
    """WARC bytes (plain or multi-member gzip) → list of records:
    {"type", "target_uri", "date", "headers", "block" bytes} plus, for
    application/http response records, "http_status" (int),
    "http_headers", and "body" (the page bytes). Strict framing: version
    line, Content-Length block, CRLF CRLF separators."""
    records: list[dict] = []
    for member in split_gzip_members(data):
        pos = 0
        n = len(member)
        while pos < n:
            # tolerate the inter-record CRLFs at member level too
            while pos < n and member[pos : pos + 2] == b"\r\n":
                pos += 2
            if pos >= n:
                break
            eol = member.find(b"\r\n", pos)
            if eol < 0:
                raise ValueError("truncated WARC version line")
            version = member[pos:eol]
            if not version.startswith(b"WARC/"):
                raise ValueError(f"not a WARC record at {pos}: {version[:20]!r}")
            hdr_end = member.find(b"\r\n\r\n", eol)
            if hdr_end < 0:
                raise ValueError("truncated WARC header block")
            headers = _parse_headers(member[eol + 2 : hdr_end])
            try:
                length = int(headers["content-length"])
            except KeyError:
                raise ValueError("WARC record without Content-Length") from None
            block_start = hdr_end + 4
            block_end = block_start + length
            if block_end > n:
                raise ValueError("WARC block overruns the record")
            block = member[block_start:block_end]
            rec: dict = {
                "type": headers.get("warc-type", ""),
                "target_uri": headers.get("warc-target-uri"),
                "date": headers.get("warc-date"),
                "headers": headers,
                "block": block,
            }
            ctype = headers.get("content-type", "")
            if ctype.startswith("application/http"):
                split = block.find(b"\r\n\r\n")
                if split < 0:
                    raise ValueError("HTTP message without header terminator")
                status_line = block[: block.find(b"\r\n")]
                parts = status_line.split(b" ", 2)
                if len(parts) >= 2 and parts[0].startswith(b"HTTP/"):
                    try:
                        rec["http_status"] = int(parts[1])
                    except ValueError:
                        raise ValueError(
                            f"bad HTTP status line {status_line[:40]!r}"
                        ) from None
                    rec["http_headers"] = _parse_headers(
                        block[block.find(b"\r\n") + 2 : split]
                    )
                    rec["body"] = block[split + 4 :]
            records.append(rec)
            pos = block_end
            # record terminator: two CRLF (consumed by the tolerant skip)
    return records


def encode_warc(records: list[dict], gzip_per_record: bool = True) -> bytes:
    """[{"type", "target_uri", "block" | ("http_status","http_headers",
    "body")}] → WARC bytes, one gzip member per record when requested
    (the Common Crawl layout)."""
    out = bytearray()
    for i, r in enumerate(records):
        if "block" in r:
            block = r["block"]
            ctype = r.get("content_type", "application/octet-stream")
        else:
            hh = "".join(
                f"{k}: {v}\r\n" for k, v in r.get("http_headers", {}).items()
            )
            block = (
                f"HTTP/1.1 {r['http_status']} OK\r\n{hh}\r\n".encode()
                + r["body"]
            )
            ctype = "application/http; msgtype=response"
        hdr = (
            "WARC/1.0\r\n"
            f"WARC-Type: {r.get('type', 'response')}\r\n"
            f"WARC-Record-ID: <urn:uuid:{i:032x}>\r\n"
            "WARC-Date: 2024-01-01T00:00:00Z\r\n"
            + (f"WARC-Target-URI: {r['target_uri']}\r\n"
               if r.get("target_uri") else "")
            + f"Content-Type: {ctype}\r\n"
            f"Content-Length: {len(block)}\r\n\r\n"
        ).encode()
        record = hdr + block + b"\r\n\r\n"
        if gzip_per_record:
            c = zlib.compressobj(6, zlib.DEFLATED, 31)
            out += c.compress(record) + c.flush()
        else:
            out += record
    return bytes(out)
