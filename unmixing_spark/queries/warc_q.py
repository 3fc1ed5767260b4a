"""q_warc_roundtrip — the WARC source/sink connector (io/warc.py)
driven end-to-end under the oracle gate.

The Spark side materializes the pages table INTO spec-shaped
per-record-gzipped WARC files (one per partition), reads them back
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
from unmixing_spark.io.warc import read_warc, write_warc
from unmixing_spark.pagegen import pages_sql
from unmixing_spark.queries import QuerySpec, register

WARC_PARTS = 4   # writer partitions → files; the reader gets one task each


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


def _warc_roundtrip_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    pipeline.register_tables(spark, sf_dir, ("documents",))
    pages = spark.sql(f"""
        SELECT url, {D.ts_to_epoch('warc_ts', D.SPARK)} AS warc_epoch, html
        FROM ({pages_sql(D.SPARK)})
    """).repartition(WARC_PARTS, "url")
    out_dir = tempfile.mkdtemp(prefix="unmixing_warc_")
    try:
        write_warc(pages, out_dir, gzip_records=True)
        back = read_warc(spark, out_dir)
        back.createOrReplaceTempView("warc_back")
        # materialize before the files vanish
        return loops.checkpoint(
            spark.sql(_fingerprint_sql(D.SPARK, "warc_back")))
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def _warc_oracle() -> str:
    d = D.DUCKDB
    inner = f"""(
      SELECT url, {D.ts_to_epoch('warc_ts', d)} AS warc_epoch, html
      FROM ({pages_sql(d)})
    ) p"""
    return _fingerprint_sql(d, inner)


register("q_warc_roundtrip", QuerySpec(
    spark_fn=_warc_roundtrip_spark, oracle=_warc_oracle(),
    doc="WARC source/sink roundtrip: pages → per-record-gzipped WARC "
        "files → binaryFile+mapInPandas reader → per-url byte "
        "fingerprints, oracle-matched against the direct SQL synthesis"))


def _wet_roundtrip_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET sidecar roundtrip: the extracted-text layer (WARC-Type:
    conversion) written and re-read through io/warc.py's WET path. The
    corpus `text` column IS the extracted text (q_html_extract proves
    extraction inverts the page synthesis), so fingerprinting what
    survives the conversion-record format extends the north-rule
    byte-identical-text invariant through the SECOND on-disk format web
    corpora ship in. Same scale shape as q_warc_roundtrip: streamed
    file-per-partition write, one reader task per file, no shuffles."""
    from unmixing_spark.io.warc import read_wet, write_wet

    pipeline.register_tables(spark, sf_dir, ("documents",))
    pages = spark.sql(f"""
        SELECT url, {D.ts_to_epoch('warc_ts', D.SPARK)} AS warc_epoch, text
        FROM ({pages_sql(D.SPARK)})
    """).repartition(WARC_PARTS, "url")
    out_dir = tempfile.mkdtemp(prefix="unmixing_wet_")
    try:
        write_wet(pages, out_dir, gzip_records=True)
        back = read_wet(spark, out_dir)
        back.createOrReplaceTempView("wet_back")
        return loops.checkpoint(spark.sql(f"""
            SELECT url, warc_epoch,
                   cast(length(text) as bigint) AS text_chars,
                   {D.sha256_('text', D.SPARK)} AS text_sha
            FROM wet_back
        """))
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def _wet_oracle() -> str:
    d = D.DUCKDB
    return f"""
    SELECT url, {D.ts_to_epoch('warc_ts', d)} AS warc_epoch,
           cast(length(text) as bigint) AS text_chars,
           {D.sha256_('text', d)} AS text_sha
    FROM ({pages_sql(d)}) p
    """


register("q_wet_roundtrip", QuerySpec(
    spark_fn=_wet_roundtrip_spark, oracle=_wet_oracle(),
    doc="WET conversion-record roundtrip: extracted text → per-record-"
        "gzipped WET files → reader → per-url text fingerprints, "
        "oracle-matched against the direct SQL synthesis"))


# ---- WAT metadata sidecar ------------------------------------------------

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


def _wat_roundtrip_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAT sidecar roundtrip: the metadata layer (WARC-Type: metadata,
    JSON envelope) written and re-read through io/warc.py's WAT path —
    the third and last on-disk format Common Crawl ships a crawl in
    (WARC responses + WET text + WAT metadata). The envelope is computed
    IN SQL by the shared `_wat_json_sql` template, so the bytes Spark
    writes and the bytes the DuckDB oracle reconstructs are the same
    expression — a full value-hash match proves the connector round-
    trips the JSON payload byte-identically AND that the payload parses
    (two fields are json-extracted back out on both sides). Same scale
    shape as the WARC/WET twins: streamed file-per-partition write, one
    reader task per file, no shuffles."""
    from unmixing_spark.io.warc import read_wat, write_wat

    pipeline.register_tables(spark, sf_dir, ("documents",))
    d = D.SPARK
    pages = spark.sql(f"""
        SELECT url, warc_epoch, {_wat_json_sql(d)} AS wat_json
        FROM (
          SELECT url, {D.ts_to_epoch('warc_ts', d)} AS warc_epoch, html, text
          FROM ({pages_sql(d)})
        )
    """).repartition(WARC_PARTS, "url")
    out_dir = tempfile.mkdtemp(prefix="unmixing_wat_")
    try:
        write_wat(pages, out_dir, gzip_records=True)
        back = read_wat(spark, out_dir)
        back.createOrReplaceTempView("wat_back")
        return loops.checkpoint(
            spark.sql(_wat_fingerprint_sql(d, "wat_back")))
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def _wat_oracle() -> str:
    d = D.DUCKDB
    inner = f"""(
      SELECT url, warc_epoch, {_wat_json_sql(d)} AS wat_json
      FROM (
        SELECT url, {D.ts_to_epoch('warc_ts', d)} AS warc_epoch, html, text
        FROM ({pages_sql(d)})
      )
    ) w"""
    return _wat_fingerprint_sql(d, inner)


register("q_wat_roundtrip", QuerySpec(
    spark_fn=_wat_roundtrip_spark, oracle=_wat_oracle(),
    doc="WAT metadata-record roundtrip: SQL-built JSON envelopes → "
        "per-record-gzipped WAT files → reader → payload hash + "
        "json-extracted fields, oracle-matched against the direct "
        "SQL reconstruction"))
