"""q_warc_roundtrip, q_wet_roundtrip, q_wat_roundtrip — the Common
Crawl record connector (io/warc.py) driven end-to-end under the oracle
gate, one query per record kind through one body (``_roundtrip``).

The Spark side materializes the pages table INTO spec-shaped
per-record-gzipped files of the kind (one per partition), reads them back
through the binaryFile + mapInPandas source connector, and emits
per-url fingerprints of what survived the on-disk format. The DuckDB
oracle computes the same fingerprints straight from the SQL page
synthesis — so a full value-hash match proves the connector round-trips
every row BYTE-identically (url, capture time, html payload): the
north-rule "byte-identical extracted text per url preserved
end-to-end" invariant, through a real file format instead of memory.

Scale shape: the write is one streamed pass (a file per partition, one
Arrow batch in memory at a time); the read is one task per WARC file —
the format's natural parallelism unit and exactly how production
Common Crawl jobs schedule (crawls ship as ~64k-90k ~1 GB .warc.gz
files). Nothing shuffles; the fingerprint projection pipelines with
the parse.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from unmixing_spark import dialect as D
from unmixing_spark import loops, pipeline
from unmixing_spark.io.warc import read_records, write_records
from unmixing_spark.pagegen import pages_sql
from unmixing_spark.queries import QuerySpec, register

WARC_PARTS = 4   # writer partitions → files; the reader gets one task each


def _roundtrip(kind: str, pages, fingerprint):
    """The Spark side of a record kind's roundtrip: ``pages(d)`` rendered
    for Spark is written as ``kind`` records, read back through the
    source connector, and ``fingerprint(d, rel)`` is materialized over
    what survived before the files vanish."""
    def spark_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        pipeline.register_tables(spark, sf_dir, ("documents",))
        written = spark.sql(pages(D.SPARK)).repartition(WARC_PARTS, "url")
        out_dir = tempfile.mkdtemp(prefix=f"unmixing_{kind}_")
        try:
            write_records(kind, written, out_dir)
            read_records(kind, spark, out_dir).createOrReplaceTempView(
                f"{kind}_back")
            return loops.checkpoint(
                spark.sql(fingerprint(D.SPARK, f"{kind}_back")))
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
    return spark_fn


def _pages(d: str, payload: str) -> str:
    """url, capture epoch and the ``payload`` column of every page."""
    return f"""
      SELECT url, {D.ts_to_epoch('warc_ts', d)} AS warc_epoch, {payload}
      FROM ({pages_sql(d)})
    """


def _fingerprint_sql(d: str, rel: str) -> str:
    """Shared projection: url, capture epoch, html byte length + sha."""
    html_str = D.from_binary("html", d)
    return f"""
    SELECT url,
           warc_epoch,
           cast({D.binary_len('html', d)} as bigint) AS html_bytes,
           {D.sha256_(html_str, d)}                  AS html_sha
    FROM {rel}
    """


register("q_warc_roundtrip", QuerySpec(
    spark_fn=_roundtrip("warc", lambda d: _pages(d, "html"),
                        _fingerprint_sql),
    oracle=_fingerprint_sql(D.DUCKDB, f"({_pages(D.DUCKDB, 'html')}) p"),
    doc="WARC source/sink roundtrip: pages → per-record-gzipped WARC "
        "files → binaryFile+mapInPandas reader → per-url byte "
        "fingerprints, oracle-matched against the direct SQL synthesis"))


# ---- WET extracted-text sidecar ------------------------------------------
# The extracted-text layer (WARC-Type: conversion). The corpus `text`
# column IS the extracted text (q_html_extract proves extraction inverts
# the page synthesis), so fingerprinting what survives the
# conversion-record format extends the north-rule byte-identical-text
# invariant through the SECOND on-disk format web corpora ship in.

def _text_fingerprint_sql(d: str, rel: str,
                          epoch: str = "warc_epoch") -> str:
    """url, capture epoch, text length + sha; the oracle passes the
    epoch expression over the pages synthesis itself."""
    return f"""
    SELECT url, {epoch},
           cast(length(text) as bigint) AS text_chars,
           {D.sha256_('text', d)} AS text_sha
    FROM {rel}
    """


register("q_wet_roundtrip", QuerySpec(
    spark_fn=_roundtrip("wet", lambda d: _pages(d, "text"),
                        _text_fingerprint_sql),
    oracle=_text_fingerprint_sql(
        D.DUCKDB, f"({pages_sql(D.DUCKDB)}) p",
        f"{D.ts_to_epoch('warc_ts', D.DUCKDB)} AS warc_epoch"),
    doc="WET conversion-record roundtrip: extracted text → per-record-"
        "gzipped WET files → reader → per-url text fingerprints, "
        "oracle-matched against the direct SQL synthesis"))


# ---- WAT metadata sidecar ------------------------------------------------
# The metadata layer (WARC-Type: metadata, JSON envelope), the third and
# last on-disk format Common Crawl ships a crawl in. The envelope is
# computed IN SQL by `_wat_json_sql`, so the bytes Spark writes and the
# bytes the DuckDB oracle reconstructs are the same expression — a full
# value-hash match proves the connector round-trips the JSON payload
# byte-identically AND that the payload parses (two fields are
# json-extracted back out on both sides).

def _wat_json_sql(d: str) -> str:
    """The WAT JSON envelope as a SQL string expression over a pages
    relation (url, warc_epoch, html, text) — ONE definition rendered for
    both dialects, so the Spark-written payload and the DuckDB-rebuilt
    payload are byte-identical by construction. Keys follow the real WAT
    layout (Envelope / Payload-Metadata / WARC-Header-Metadata, dashed
    names); values are derived metadata: payload length, block digest,
    whitespace token count, target uri, capture epoch."""
    html_str = D.from_binary("html", d)
    ntok = (f"size({D.ws_split('text', d)})" if d == D.SPARK
            else f"len({D.ws_split('text', d)})")
    return (
        "'{\"Envelope\":{\"Payload-Metadata\":{\"Actual-Content-Length\":'"
        + " || " + D.to_str(D.binary_len("html", d), d)
        + " || ',\"Block-Digest\":\"sha256:' || " + D.sha256_(html_str, d)
        + " || '\",\"Token-Count\":' || " + D.to_str(ntok, d)
        + " || '},\"WARC-Header-Metadata\":{\"WARC-Target-URI\":\"' || url"
        + " || '\",\"WARC-Date\":' || " + D.to_str("warc_epoch", d)
        + " || '}}}'"
    )


def _wat_fingerprint_sql(d: str, rel: str) -> str:
    """Shared output projection over a relation carrying wat_json: the
    payload hash plus two fields PARSED BACK out of the JSON (proving
    the payload is well-formed JSON, not just matching bytes)."""
    clen = D.json_get("wat_json",
                      "Envelope.Payload-Metadata.Actual-Content-Length", d)
    ntok = D.json_get("wat_json", "Envelope.Payload-Metadata.Token-Count", d)
    return f"""
    SELECT url, warc_epoch,
           cast({clen} as bigint) AS content_len,
           cast({ntok} as bigint) AS token_count,
           {D.sha256_('wat_json', d)} AS wat_sha
    FROM {rel}
    """


def _wat_pages(d: str) -> str:
    return f"""
      SELECT url, warc_epoch, {_wat_json_sql(d)} AS wat_json
      FROM (
        SELECT url, {D.ts_to_epoch('warc_ts', d)} AS warc_epoch, html, text
        FROM ({pages_sql(d)})
      )
    """


register("q_wat_roundtrip", QuerySpec(
    spark_fn=_roundtrip("wat", _wat_pages, _wat_fingerprint_sql),
    oracle=_wat_fingerprint_sql(D.DUCKDB, f"({_wat_pages(D.DUCKDB)}) w"),
    doc="WAT metadata-record roundtrip: SQL-built JSON envelopes → "
        "per-record-gzipped WAT files → reader → payload hash + "
        "json-extracted fields, oracle-matched against the direct "
        "SQL reconstruction"))
