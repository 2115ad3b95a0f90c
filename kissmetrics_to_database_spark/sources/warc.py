"""WARC (Web ARChive, ISO 28500) ingestion — the Common Crawl
container format, the de-facto source of web-scale LLM pretraining
corpora. From-spec parser (WARC/1.0 and 1.1: CRLF header block,
``Content-Length``-framed payload, double-CRLF record separator),
stdlib-only, with transparent multi-member gzip (.warc.gz files are
per-record gzip members concatenated — ``gzip.decompress`` consumes
them all).

Scale shape: files arrive through Spark's built-in ``binaryFile``
source (one row per file — CC shards are ~1 GB by construction, under
the 2 GB binaryFile ceiling; a >2 GB archive would need a splittable
WARC InputFormat, noted not stubbed), and records stream out of an
Arrow-batched ``mapInPandas`` kernel — parsing is embarrassingly
parallel per file, no shuffle. The ``body`` column casts to the HTML
string that downstream operators such as dedup read.

Reference scope note: the reference ETL has no web-archive source
(its S3 sync ships NDJSON, SyncBucket.php:36-45); this is part of the
training-data extension surface (COVERAGE "Training-data extension
suite").
"""

from __future__ import annotations

import gzip
import io
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

RECORD_SCHEMA = (
    "warc_file string, record_offset long, warc_type string, "
    "record_id string, target_uri string, http_status int, "
    "content_type string, body binary"
)


def build_warc_response(uri: str, body: bytes, record_id: str) -> bytes:
    """Serialize ONE response record (used by tests and the
    round-trip oracle query): a minimal HTTP/1.1 200 response wrapped
    in a WARC/1.0 response record, spec-exact framing."""
    http = (
        b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: text/html\r\n"
        + f"Content-Length: {len(body)}\r\n\r\n".encode()
        + body
    )
    head = (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        f"WARC-Record-ID: <urn:uuid:{record_id}>\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        "Content-Type: application/http;msgtype=response\r\n"
        f"Content-Length: {len(http)}\r\n\r\n"
    ).encode()
    return head + http + b"\r\n\r\n"


def _parse_http(payload: bytes) -> tuple[int | None, str | None, bytes]:
    """Split an HTTP response payload into (status, content-type,
    body). Malformed responses -> (None, None, raw payload) so the
    row survives for quarantine instead of killing the task."""
    sep = payload.find(b"\r\n\r\n")
    if sep < 0 or not payload.startswith(b"HTTP/"):
        return None, None, payload
    head, body = payload[:sep], payload[sep + 4 :]
    lines = head.split(b"\r\n")
    try:
        status = int(lines[0].split()[1])
    except (IndexError, ValueError):
        status = None
    ctype = None
    for ln in lines[1:]:
        if ln.lower().startswith(b"content-type:"):
            ctype = ln.split(b":", 1)[1].strip().decode(
                "latin-1"
            ) or None
            break
    return status, ctype, body


def parse_warc_bytes(data: bytes) -> Iterator[dict]:
    """Yield one dict per WARC record. Gzip detected by magic bytes;
    multi-member streams (the .warc.gz convention: one member per
    record) decompress in one call. Record framing per ISO 28500:
    version line, CRLF headers, blank line, ``Content-Length`` bytes
    of payload, two CRLFs."""
    if data[:2] == b"\x1f\x8b":
        data = gzip.decompress(data)
    pos = 0
    n = len(data)
    while pos < n:
        # tolerate inter-record padding
        while pos < n and data[pos : pos + 1] in (b"\r", b"\n"):
            pos += 1
        if pos >= n:
            break
        hdr_end = data.find(b"\r\n\r\n", pos)
        if hdr_end < 0 or not data.startswith(b"WARC/", pos):
            # not a record boundary: stop rather than misparse
            break
        head = data[pos:hdr_end].decode("latin-1").split("\r\n")
        fields = {}
        for ln in head[1:]:
            if ":" in ln:
                k, v = ln.split(":", 1)
                fields[k.strip().lower()] = v.strip()
        try:
            clen = int(fields.get("content-length", ""))
        except ValueError:
            break
        payload = data[hdr_end + 4 : hdr_end + 4 + clen]
        status, ctype, body = (None, None, payload)
        if fields.get("warc-type") == "response":
            status, ctype, body = _parse_http(payload)
        yield {
            "record_offset": pos,
            "warc_type": fields.get("warc-type"),
            "record_id": fields.get("warc-record-id"),
            "target_uri": fields.get("warc-target-uri"),
            "http_status": status,
            "content_type": ctype,
            "body": body,
        }
        pos = hdr_end + 4 + clen


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """WARC file-source scan: ``binaryFile`` rows (path, content) →
    per-file record stream. Returns one row per WARC record with the
    HTTP envelope split off for response records."""
    files = spark.read.format("binaryFile").load(path)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = {
                k: []
                for k in (
                    "warc_file",
                    "record_offset",
                    "warc_type",
                    "record_id",
                    "target_uri",
                    "http_status",
                    "content_type",
                    "body",
                )
            }
            for path_, content in zip(pdf["path"], pdf["content"]):
                for rec in parse_warc_bytes(bytes(content)):
                    out["warc_file"].append(path_)
                    for k, v in rec.items():
                        out[k].append(v)
            yield pd.DataFrame(out)

    return files.select("path", "content").mapInPandas(
        run, schema=RECORD_SCHEMA
    )


def warc_bytes_for_docs(rows: list[tuple[int, str]]) -> bytes:
    """Deterministic WARC archive for a doc batch (the round-trip
    oracle query's generator): each (doc_id, text) becomes a
    response record at https://example.com/doc/<id> with an HTML
    wrapper body."""
    buf = io.BytesIO()
    for doc_id, text in rows:
        body = f"<html><body>{text or ''}</body></html>".encode("utf-8")
        buf.write(
            build_warc_response(
                f"https://example.com/doc/{doc_id}", body, f"doc-{doc_id}"
            )
        )
    return buf.getvalue()
