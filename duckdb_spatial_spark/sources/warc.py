"""WARC (ISO 28500 / WARC/1.0) reader + writer — the web-archive
container CommonCrawl ships.

Public wire format: text-framed records —

    WARC/1.0\\r\\n
    WARC-Type: response\\r\\n
    WARC-Target-URI: http://...\\r\\n
    Content-Length: N\\r\\n
    \\r\\n
    <N-byte block>\\r\\n\\r\\n

For ``response`` records the block is an HTTP/1.x message; the reader
splits it into status / headers / payload. Gzip WARCs use one gzip
MEMBER per record (the CommonCrawl convention) — handled by a
multi-member decompress loop.

Scale shape: one Spark task per WARC file via the ``binaryFile``
source — exactly how production crawl pipelines parallelize (CC ships
~1 GB files by the tens of thousands; per-file parallelism saturates a
cluster without any in-file splitting). Records parse in an Arrow
batch pass; nothing touches the driver.
"""

from __future__ import annotations

import zlib

import pandas as pd

_CRLF2 = b"\r\n\r\n"


def _gunzip_members(data: bytes) -> bytes:
    """Concatenate all gzip members (CC writes one member per record)."""
    out = []
    while data:
        d = zlib.decompressobj(31)
        out.append(d.decompress(data))
        data = d.unused_data
        if not d.eof:
            break
    return b"".join(out)


def parse_warc(data: bytes):
    """Yield record dicts from one WARC file's bytes (plain or gzip)."""
    if data[:2] == b"\x1f\x8b":
        data = _gunzip_members(data)
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record blank lines
        while pos < n and data[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            break
        hdr_end = data.find(_CRLF2, pos)
        if hdr_end < 0:
            break
        head = data[pos:hdr_end].decode("utf-8", errors="replace")
        lines = head.split("\r\n")
        if not lines[0].startswith("WARC/"):
            raise ValueError(f"bad WARC version line: {lines[0][:40]!r}")
        fields = {}
        for ln in lines[1:]:
            k, _, v = ln.partition(":")
            fields[k.strip().lower()] = v.strip()
        length = int(fields.get("content-length", "0"))
        block = data[hdr_end + 4 : hdr_end + 4 + length]
        pos = hdr_end + 4 + length

        rec = {
            "warc_type": fields.get("warc-type", ""),
            "record_id": fields.get("warc-record-id", ""),
            "target_uri": fields.get("warc-target-uri"),
            "warc_date": fields.get("warc-date", ""),
            "http_status": None,
            "content_type": fields.get("content-type", ""),
            "payload": block,
        }
        if rec["warc_type"] == "response" and block[:5] in (b"HTTP/",):
            he = block.find(_CRLF2)
            if he >= 0:
                hlines = block[:he].decode("utf-8", errors="replace").split("\r\n")
                parts = hlines[0].split(" ", 2)
                if len(parts) >= 2 and parts[1].isdigit():
                    rec["http_status"] = int(parts[1])
                for ln in hlines[1:]:
                    k, _, v = ln.partition(":")
                    if k.strip().lower() == "content-type":
                        rec["content_type"] = v.strip()
                rec["payload"] = block[he + 4 :]
        yield rec


def read_warc(spark, path: str, record_types: tuple = ("response",)):
    """ST_Read-style WARC reader: one row per record of the requested
    WARC-Types (default: responses only — the training-data payload),
    columns (file, warc_type, record_id, target_uri, warc_date,
    content_type, http_status, payload binary)."""
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("file", T.StringType()),
            T.StructField("warc_type", T.StringType()),
            T.StructField("record_id", T.StringType()),
            T.StructField("target_uri", T.StringType()),
            T.StructField("warc_date", T.StringType()),
            T.StructField("content_type", T.StringType()),
            T.StructField("http_status", T.IntegerType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    want = tuple(record_types) if record_types else None
    files = spark.read.format("binaryFile").load(path)

    def gen(batches):
        for pdf in batches:
            rows = {k: [] for k in (
                "file", "warc_type", "record_id", "target_uri",
                "warc_date", "content_type", "http_status", "payload",
            )}
            for fp, content in zip(pdf["path"], pdf["content"]):
                for rec in parse_warc(bytes(content)):
                    if want and rec["warc_type"] not in want:
                        continue
                    rows["file"].append(fp)
                    rows["warc_type"].append(rec["warc_type"])
                    rows["record_id"].append(rec["record_id"])
                    rows["target_uri"].append(rec["target_uri"])
                    rows["warc_date"].append(rec["warc_date"])
                    rows["content_type"].append(rec["content_type"])
                    rows["http_status"].append(rec["http_status"])
                    rows["payload"].append(rec["payload"])
            out = pd.DataFrame(rows)
            out["http_status"] = out["http_status"].astype("Int32")
            yield out

    return files.select("path", "content").mapInPandas(gen, out_schema)


def write_warc(
    df,
    path: str,
    uri_col: str = "url",
    payload_col: str = "payload",
    content_type_col: str | None = None,
    status_col: str | None = None,
    warc_date: str = "2026-01-01T00:00:00Z",
    gzip_members: bool = False,
    max_rows: int = 1_000_000,
) -> int:
    """Write response records (WARC/1.0, HTTP/1.1 200 framing; one gzip
    member per record with ``gzip_members=True`` — the CommonCrawl
    layout). Deterministic: record ids derive from the row index,
    ``warc_date`` is an explicit parameter. Single-file sink bounded by
    ``max_rows``."""
    import gzip as _gzip

    n_rows = df.count()
    if n_rows > max_rows:
        raise ValueError(
            f"write_warc is a single-file sink: {n_rows} rows > max_rows={max_rows}"
        )
    pdf = df.toPandas()
    with open(path, "wb") as f:
        for i in range(len(pdf)):
            uri = pdf[uri_col].iloc[i]
            body = pdf[payload_col].iloc[i]
            body = b"" if body is None else (
                body.encode("utf-8") if isinstance(body, str) else bytes(body)
            )
            ctype = (
                str(pdf[content_type_col].iloc[i])
                if content_type_col
                else "text/html"
            )
            status = int(pdf[status_col].iloc[i]) if status_col else 200
            http = (
                f"HTTP/1.1 {status} OK\r\nContent-Type: {ctype}\r\n"
                f"Content-Length: {len(body)}\r\n\r\n"
            ).encode("ascii") + body
            head = (
                "WARC/1.0\r\n"
                "WARC-Type: response\r\n"
                f"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-{i:012d}>\r\n"
                f"WARC-Date: {warc_date}\r\n"
                + (f"WARC-Target-URI: {uri}\r\n" if uri is not None else "")
                + "Content-Type: application/http; msgtype=response\r\n"
                f"Content-Length: {len(http)}\r\n\r\n"
            ).encode("utf-8")
            rec = head + http + b"\r\n\r\n"
            f.write(_gzip.compress(rec) if gzip_members else rec)
    return len(pdf)
