"""WARC 1.0 (ISO 28500) source/sink — the on-disk format web-scale
corpora actually arrive in. Common Crawl ships every crawl as three
record kinds, each in .warc.gz files of per-record gzip members:

- ``warc``: ``WARC-Type: response`` records, an HTTP/1.1 response
  whose payload is the html bytes;
- ``wet``: ``conversion`` records (WARC 1.0 Annex C usage), the
  extracted text as the payload with no HTTP block;
- ``wat``: ``metadata`` records, a JSON envelope as the payload.

``KINDS`` holds what tells them apart; one builder, parser, writer and
reader serve all three. Every record is identified deterministically
by uuid5 of its url (sidecar kinds prefix the url with ``kind:``), and
a sidecar's ``WARC-Refers-To`` is the id of the response for the same
url. Per-record gzip members are Common Crawl's exact layout, which is
what lets a reader stream records without decompressing the whole file.

Writer: ``write_records`` serializes a pages DataFrame (url,
warc_epoch, payload column) into one file per partition, streamed
batch by batch (Arrow), so executor memory holds one batch, not one
file. Reader: ``read_records`` is the source connector: ``binaryFile``
scan → ``boundary.map_rows`` parse. Scale shape (the real 100 TB
path): WARC is not block-splittable, so parallelism is one task per
file — exactly how production Common Crawl jobs run (a crawl is
~64k-90k files of ~1 GB, saturating any cluster). Malformed input (bad
magic, truncated content, missing terminator) raises ValueError rather
than yielding silently wrong records; plain and gzip input both parse,
since input comes from outside the program. A NULL payload has no
record bytes, so the writer raises ValueError for it too.

Round-trip fidelity is the north-rule invariant: q_warc_roundtrip,
q_wet_roundtrip and q_wat_roundtrip (queries/warc_q.py) prove
byte-identical payloads per url through the on-disk format against the
SQL-synthesized oracle.
"""

from __future__ import annotations

import gzip
import os
import uuid
from datetime import datetime, timezone
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from unmixing_spark.boundary import map_rows

CRLF = b"\r\n"
_MAGIC = b"WARC/1.0"


class Kind(NamedTuple):
    warc_type: str
    id_prefix: str      # prepended to the url for the record's uuid5 id
    content_type: str
    column: str         # the payload column of the pages DataFrame
    spark_type: str     # binary: bytes as they are; string: utf-8 text
    ext: str


KINDS = {
    "warc": Kind("response", "", "application/http; msgtype=response",
                 "html", "binary", ".warc.gz"),
    "wet": Kind("conversion", "wet:", "text/plain",
                "text", "string", ".warc.wet.gz"),
    "wat": Kind("metadata", "wat:", "application/json",
                "wat_json", "string", ".warc.wat.gz"),
}


def _urn(rid: uuid.UUID) -> bytes:
    return b"<urn:uuid:" + str(rid).encode() + b">"


def build_record(kind: str, url: str, warc_epoch: int,
                 payload: bytes) -> bytes:
    """One spec-shaped record of ``kind`` as its own gzip member."""
    k = KINDS[kind]
    ids = [b"WARC-Record-ID: "
           + _urn(uuid.uuid5(uuid.NAMESPACE_URL, k.id_prefix + url))]
    if k.warc_type == "response":
        payload = (b"HTTP/1.1 200 OK" + CRLF
                   + b"Content-Type: text/html; charset=UTF-8" + CRLF
                   + b"Content-Length: " + str(len(payload)).encode()
                   + CRLF + CRLF + payload)
    else:   # a sidecar points at the response record for the same url
        ids.append(b"WARC-Refers-To: "
                   + _urn(uuid.uuid5(uuid.NAMESPACE_URL, url)))
    date = datetime.fromtimestamp(int(warc_epoch), tz=timezone.utc)
    headers = CRLF.join([
        _MAGIC,
        b"WARC-Type: " + k.warc_type.encode(),
        *ids,
        b"WARC-Date: " + date.strftime("%Y-%m-%dT%H:%M:%SZ").encode(),
        b"WARC-Target-URI: " + url.encode(),
        b"Content-Type: " + k.content_type.encode(),
        b"Content-Length: " + str(len(payload)).encode(),
    ])
    return gzip.compress(headers + CRLF + CRLF + payload + CRLF + CRLF,
                         mtime=0)


def _iter_records(data: bytes):
    """Yield (headers, body) per WARC record of any type. Accepts plain
    or gzip (multi-member) files; raises ValueError on malformed
    input."""
    if data[:2] == b"\x1f\x8b":
        data = gzip.decompress(data)   # multi-member streams supported
    i, n = 0, len(data)
    while i < n:
        while i < n and data[i:i + 2] == CRLF:
            i += 2
        if i >= n:
            break
        if data[i:i + len(_MAGIC)] != _MAGIC:
            raise ValueError(f"bad WARC magic at offset {i}")
        head_end = data.find(CRLF + CRLF, i)
        if head_end < 0:
            raise ValueError("truncated WARC header block")
        headers: dict[str, str] = {}
        for line in data[i:head_end].split(CRLF)[1:]:
            k, _, v = line.decode("utf-8", "strict").partition(":")
            headers[k.strip().lower()] = v.strip()
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError) as exc:
            raise ValueError("missing/invalid Content-Length") from exc
        body_start = head_end + 4
        if body_start + clen + 4 > n:
            raise ValueError("truncated WARC record content")
        if data[body_start + clen:body_start + clen + 4] != CRLF + CRLF:
            raise ValueError("missing WARC record terminator")
        yield headers, data[body_start:body_start + clen]
        i = body_start + clen + 4


def parse_records(kind: str, data: bytes):
    """Yield (url, warc_epoch, payload) per record of ``kind``, skipping
    records of other kinds; the payload is bytes for ``warc`` (the HTTP
    block stripped) and text for the sidecar kinds."""
    k = KINDS[kind]
    for headers, body in _iter_records(data):
        if headers.get("warc-type") != k.warc_type:
            continue
        if k.warc_type == "response":
            split = body.find(CRLF + CRLF)
            if split < 0:
                raise ValueError("response record without HTTP header block")
            payload = body[split + 4:]
        else:
            payload = body.decode("utf-8", "strict")
        epoch = datetime.strptime(
            headers.get("warc-date", ""), "%Y-%m-%dT%H:%M:%SZ").replace(
            tzinfo=timezone.utc).timestamp()
        yield headers.get("warc-target-uri", ""), int(epoch), payload


def write_records(kind: str, pages: DataFrame, out_dir: str) -> int:
    """Write (url, warc_epoch, payload column) partitions as
    ``part-N{ext}`` files of ``kind`` records under ``out_dir``; returns
    the total record count. One file per partition, streamed
    batch by batch."""
    k = KINDS[kind]

    def _write(batches):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        wrote = 0
        with open(os.path.join(out_dir, f"part-{pid:05d}{k.ext}"), "wb") as f:
            for pdf in batches:
                for url, epoch, payload in zip(pdf["url"], pdf["warc_epoch"],
                                               pdf[k.column]):
                    if payload is None:
                        raise ValueError(f"{kind} record for url {url!r}: "
                                         f"NULL payload column {k.column!r}")
                    payload = (bytes(payload) if k.spark_type == "binary"
                               else str(payload).encode())
                    f.write(build_record(kind, str(url), int(epoch), payload))
                    wrote += 1
        yield pd.DataFrame({"n": [wrote]})

    counts = (pages.select("url", "warc_epoch", k.column)
              .mapInPandas(_write, "n long").collect())
    return sum(r["n"] for r in counts)


def read_records(kind: str, spark: SparkSession, path: str) -> DataFrame:
    """Source connector: directory/glob of ``kind`` files →
    DataFrame(url, warc_epoch, payload column). One task per file (the
    format's parallelism unit), each file's records parsed by one
    ``boundary.map_rows`` call."""
    k = KINDS[kind]
    return map_rows(spark.read.format("binaryFile").load(path)
                    .select("content"),
                    lambda content: parse_records(kind, bytes(content)),
                    f"url string, warc_epoch long, {k.column} {k.spark_type}")
