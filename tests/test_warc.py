"""io/warc.py: record-level spec shape, malformed-input rejection, and
the distributed write→read roundtrip against the pages synthesis."""

from __future__ import annotations

import gzip

import pytest

from tests.conftest import SF_SMALL
from unmixing_spark.io.warc import (CRLF, KINDS, build_record,
                                    parse_records, read_records,
                                    write_records)
from unmixing_spark.queries import registry

# sha256 of the decompressed record per (kind, url, payload), generated
# from the three per-format builders before they became one table-driven
# builder: any byte the record layout moves fails here
_PIN_URLS = ("https://src0.example.com/en/42",
             "https://b\u00fccher.example.de/stra\u00dfe?q=\u00fc")
_PIN_PAYLOADS = ("<html><body>hello</body></html>",
                 '{"Envelope":{"WARC-Date":1735689600}} h\u00e9llo w\u00f6rld')
RECORD_SHA256 = {
    "warc": ["742c5e5de9f280ddeb4b8d33ea559b3be6af591b6712ff6c04bd44051a8067cc",
             "2945e49206303b25acea6ba8a2d604a093ea002a12f3c5ac289b04abf1bacb5f",
             "1a2853044356ba827feccd7e9f6b57520aaffd2fd8d7cdc48b7ce5d56c510a11",
             "dfd970849aac483288fbe53a4c4ae26b0c7c598bdd4c037202c24f2670cf5a8d"],
    "wet": ["ab51ec23861344e9d601ad2abaa30ba76072086e1e1149996a50945d950cb72b",
            "93f953552ddfb221c83ca084dc033ee1c46e1f24bb996490bf66b66f8541aa0c",
            "3d233dbab8ebfa3ba6cefd9a3b5bd7ed0b558e0f7891d31712294e8bde636c7d",
            "ffed92c59f47cca5b78797a9232d3db19869803f5be288581b139f746398b328"],
    "wat": ["52e16b53a0112b935c2e3e5d148e42bdcaf5545a5a23d2180fe155e9135adc76",
            "9edca8f5b9d281f3dd450f11e2d42fbd9ce7faed56d093129d09874f579b36fd",
            "a9cfa0db160538006afcb18a23bbe9c81b344c7e4e6c32eb229b88238052f77f",
            "8821bb04d7806ff31d9729b6dbbed051a5880c69779868b4e2e822db7627aba2"],
}


@pytest.mark.parametrize("kind", sorted(RECORD_SHA256))
def test_record_bytes_pinned(kind):
    import hashlib

    got = [hashlib.sha256(gzip.decompress(
        build_record(kind, url, 1735689600, payload.encode()))).hexdigest()
        for url in _PIN_URLS for payload in _PIN_PAYLOADS]
    assert got == RECORD_SHA256[kind]


def _plain(kind, url, epoch, payload):
    """A record as plain (not gzipped) bytes."""
    return gzip.decompress(build_record(kind, url, epoch, payload))


def test_record_roundtrip_plain_and_gzip():
    url = "https://src0.example.com/en/42"
    html = b"<html><body>hello</body></html>"
    for rec in (_plain("warc", url, 1735689600, html),
                build_record("warc", url, 1735689600, html)):
        [(u, ep, h)] = list(parse_records("warc", rec))
        assert (u, ep, h) == (url, 1735689600, html)
    # per-record gzip members concatenate into a multi-member stream
    stream = b"".join(
        build_record("warc", f"{url}?i={i}", 1735689600 + i,
                     html + bytes([48 + i]))
        for i in range(3))
    recs = list(parse_records("warc", stream))
    assert len(recs) == 3
    assert [r[1] for r in recs] == [1735689600, 1735689601, 1735689602]
    assert all(r[2].endswith(bytes([48 + i])) for i, r in enumerate(recs))


def test_record_is_spec_shaped():
    rec = _plain("warc", "https://x.example.com/p", 1735689600, b"<html/>")
    head, _, rest = rec.partition(CRLF + CRLF)
    lines = head.split(CRLF)
    assert lines[0] == b"WARC/1.0"
    keys = {ln.split(b":")[0] for ln in lines[1:]}
    assert {b"WARC-Type", b"WARC-Record-ID", b"WARC-Date",
            b"WARC-Target-URI", b"Content-Type",
            b"Content-Length"} <= keys
    assert rest.startswith(b"HTTP/1.1 200 OK" + CRLF)
    assert rec.endswith(CRLF + CRLF)
    # deterministic: identical inputs, identical bytes
    assert rec == _plain("warc", "https://x.example.com/p", 1735689600,
                         b"<html/>")


def test_malformed_records_raise():
    good = _plain("warc", "https://x.example.com/p", 1735689600, b"<html/>")
    with pytest.raises(ValueError, match="magic"):
        list(parse_records("warc", b"HTTP/1.1 200 OK" + CRLF + good))
    with pytest.raises(ValueError, match="truncated WARC record content"):
        list(parse_records("warc", good[:-10]))
    with pytest.raises(ValueError, match="terminator"):
        list(parse_records("warc", good[:-4] + b"XXXX"))
    with pytest.raises(ValueError, match="Content-Length"):
        bad = good.replace(b"Content-Length: ", b"Content-Size: ", 1)
        list(parse_records("warc", bad))
    with pytest.raises(ValueError, match="truncated WARC header"):
        list(parse_records("warc", b"WARC/1.0" + CRLF + b"WARC-Type: response"))


def test_distributed_roundtrip_byte_identical(spark, tmp_path):
    from unmixing_spark import dialect as D
    from unmixing_spark import pipeline
    from unmixing_spark.pagegen import pages_sql

    pipeline.register_tables(spark, SF_SMALL, ("documents",))
    pages = spark.sql(f"""
        SELECT url, {D.ts_to_epoch('warc_ts', D.SPARK)} AS warc_epoch, html
        FROM ({pages_sql(D.SPARK)})
    """).repartition(3, "url")
    out = str(tmp_path / "warc")
    (tmp_path / "warc").mkdir()
    n = write_records("warc", pages, out)
    src = {r["url"]: (r["warc_epoch"], bytes(r["html"]))
           for r in pages.collect()}
    assert n == len(src)

    back = read_records("warc", spark, out)
    got = {r["url"]: (r["warc_epoch"], bytes(r["html"]))
           for r in back.collect()}
    assert got == src   # byte-identical html + epoch per url
    # the reader parallelizes per file: one input file per writer
    # partition with >0 rows
    n_files = len(list((tmp_path / "warc").iterdir()))
    assert 1 <= n_files <= 3
    assert back.rdd.getNumPartitions() == n_files


def test_warc_roundtrip_query_registered(spark):
    out = registry()["q_warc_roundtrip"].spark_fn(spark, SF_SMALL)
    pdf = out.toPandas()
    assert len(pdf) == 500
    assert pdf["html_sha"].nunique() == pdf["url"].nunique() == 500


def test_wet_record_roundtrip_and_linkage():
    """Conversion records round-trip byte-exactly (plain + gzip), carry
    the spec headers, and their WARC-Refers-To is the uuid5 id the
    response record for the same url carries."""
    import uuid

    url = "https://src0.example.com/en/42"
    text = "hello web é world"
    raw = _plain("wet", url, 1735689600, text.encode())
    for rec in (raw, build_record("wet", url, 1735689600, text.encode())):
        [(u, ep, t)] = list(parse_records("wet", rec))
        assert (u, ep, t) == (url, 1735689600, text)
    head = raw.split(CRLF + CRLF, 1)[0].decode()
    assert "WARC-Type: conversion" in head
    assert "Content-Type: text/plain" in head
    refers = str(uuid.uuid5(uuid.NAMESPACE_URL, url))
    assert f"WARC-Refers-To: <urn:uuid:{refers}>" in head
    resp = _plain("warc", url, 1735689600, b"<html/>")
    assert f"WARC-Record-ID: <urn:uuid:{refers}>" in resp.decode()


def test_mixed_warc_wet_stream_filters_by_type():
    """A stream holding response AND conversion records: the warc kind
    yields only responses, the wet kind only conversions; malformed
    conversion records still raise."""
    url = "https://src1.example.com/de/7"
    stream = (build_record("warc", url, 1735689600, b"<html>x</html>")
              + build_record("wet", url, 1735689600, b"x"))
    assert [r[2] for r in parse_records("warc", stream)] == [b"<html>x</html>"]
    assert [r[2] for r in parse_records("wet", stream)] == ["x"]
    bad = _plain("wet", url, 1735689600, b"x")[:-2]
    with pytest.raises(ValueError):
        list(parse_records("wet", bad))


def test_wet_distributed_roundtrip_byte_identical(spark, tmp_path):
    """The wet kind's write → read over the pages synthesis preserves
    every (url, epoch, text) byte-exactly."""
    from unmixing_spark import dialect as D
    from unmixing_spark.pagegen import pages_sql
    from unmixing_spark.pipeline import register_tables

    register_tables(spark, SF_SMALL, ("documents",))
    pages = spark.sql(f"""
        SELECT url, {D.ts_to_epoch('warc_ts', D.SPARK)} AS warc_epoch, text
        FROM ({pages_sql(D.SPARK)})
    """).repartition(3, "url")
    out = str(tmp_path / "wet")
    import os
    os.makedirs(out)
    n = write_records("wet", pages, out)
    src = {(r.url, r.warc_epoch, r.text) for r in pages.collect()}
    assert n == len(src)
    back = {(r.url, r.warc_epoch, r.text)
            for r in read_records("wet", spark, out).collect()}
    assert back == src


def test_wat_record_roundtrip_and_linkage():
    """Metadata records round-trip byte-exactly (plain + gzip), carry the
    spec headers (WARC-Type: metadata, Content-Type: application/json),
    and their WARC-Refers-To is the uuid5 id of the response record for
    the same url — the WAT sidecar's linkage contract."""
    import uuid

    url = "https://src0.example.com/en/42"
    wat = '{"Envelope":{"Payload-Metadata":{"Actual-Content-Length":7}}}'
    raw = _plain("wat", url, 1735689600, wat.encode())
    for rec in (raw, build_record("wat", url, 1735689600, wat.encode())):
        [(u, ep, j)] = list(parse_records("wat", rec))
        assert (u, ep, j) == (url, 1735689600, wat)
    head = raw.split(CRLF + CRLF, 1)[0].decode()
    assert "WARC-Type: metadata" in head
    assert "Content-Type: application/json" in head
    refers = str(uuid.uuid5(uuid.NAMESPACE_URL, url))
    assert f"WARC-Refers-To: <urn:uuid:{refers}>" in head
    # a mixed stream: the wat kind skips response records, and vice versa
    stream = _plain("warc", url, 1735689600, b"<html/>") + raw
    assert [r[2] for r in parse_records("wat", stream)] == [wat]
    assert [r[2] for r in parse_records("warc", stream)] == [b"<html/>"]


def test_wat_distributed_roundtrip_byte_identical(spark, tmp_path):
    """The wat kind's write → read over the pages synthesis preserves
    every (url, epoch, wat_json) byte-exactly."""
    from unmixing_spark import dialect as D
    from unmixing_spark.pagegen import pages_sql
    from unmixing_spark.pipeline import register_tables
    from unmixing_spark.queries.warc_q import _wat_json_sql

    register_tables(spark, SF_SMALL, ("documents",))
    pages = spark.sql(f"""
        SELECT url, warc_epoch, {_wat_json_sql(D.SPARK)} AS wat_json
        FROM (
          SELECT url, {D.ts_to_epoch('warc_ts', D.SPARK)} AS warc_epoch,
                 html, text
          FROM ({pages_sql(D.SPARK)})
        )
    """).repartition(3, "url")
    out = str(tmp_path / "wat")
    import os
    os.makedirs(out)
    n = write_records("wat", pages, out)
    src = {(r.url, r.warc_epoch, r.wat_json) for r in pages.collect()}
    assert n == len(src)
    back = {(r.url, r.warc_epoch, r.wat_json)
            for r in read_records("wat", spark, out).collect()}
    assert back == src
    # every payload is well-formed JSON with the envelope keys
    import json
    for _, _, j in back:
        env = json.loads(j)["Envelope"]
        assert {"Payload-Metadata", "WARC-Header-Metadata"} <= env.keys()


@pytest.mark.parametrize("kind,payload", [("wet", "x"),
                                          ("warc", bytearray(b"<p>x</p>"))])
def test_null_payload_rejected(spark, tmp_path, kind, payload):
    """A NULL payload has no record bytes: the writer raises a
    ValueError naming the kind, the payload column and the url instead
    of writing the text ``None`` (string kinds) or failing in
    ``bytes(None)`` (binary kinds)."""
    k = KINDS[kind]
    pages = spark.createDataFrame(
        [("https://u1.example/", 1735689600, None),
         ("https://u2.example/", 1735689600, payload)],
        f"url string, warc_epoch long, {k.column} {k.spark_type}").coalesce(1)
    with pytest.raises(Exception) as err:
        write_records(kind, pages, str(tmp_path))
    msg = str(err.value)
    assert "ValueError" in msg
    assert (f"{kind} record for url 'https://u1.example/': "
            f"NULL payload column '{k.column}'") in msg
