"""CSV / ORC ingest-boundary round-trips with a byte-identity guarantee.

Web-corpus metadata arrives as CSV more often than anything else, and CSV
is the one format where naive settings silently corrupt exactly the rows
a webtext pipeline cares about: documents whose text contains newlines,
quotes, commas, or the writer's own escape character. Spark's CSV writer
defaults to escape='\\' while RFC 4180 readers expect doubled quotes, and
a reader without multiLine=True shears embedded-newline rows into two
records — both classes of corruption are silent (row counts shift or
text mutates, no error). These helpers pin ONE opinionated dialect
(RFC 4180 doubled quotes, header on, multiLine read, explicit schema —
never inference, which downgrades types on dirty rows) so that
write → read is byte-identical per row, the same invariant the driver's
q_text_invariant enforces end-to-end (BASELINE input_hint: "byte-identical
extracted text per url"). One declared boundary, pinned in
tests/test_tabular_io.py: univocity uses NUL (\\x00) as its internal
padding character, and its escaped-quote parsing path trims edge NULs
from a quoted field that also contains a quote character (every other
NUL placement survives) — text that must carry NULs next to quotes
belongs in parquet/ORC, not CSV.

Scale doctrine: CSV lives ONLY at the ingest boundary — it is
row-oriented, splittable only when multiLine=False (and multiLine=True is
exactly what embedded newlines require, so large CSV ingest should
arrive pre-sharded in many files, which `read_csv` handles natively as a
directory scan). First transformation lands in columnar storage; ORC is
provided as the columnar alternative for interop with Hive-side
consumers — same predicate-pushdown + column-pruning behavior as parquet
from Catalyst's side (the engine's internal checkpoints stay parquet,
io/checkpoint.py). Ingest is batch only: `read_csv` is the one CSV read
path, and incremental work lands through io/checkpoint.py batch commits,
not a streaming reader.

The reference engine has no tabular IO surface (it reads GeoTIFF/HDF
only); this module is the task brief's "another source format" axis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# RFC 4180 dialect: quotes are escaped by doubling them ("" inside a
# quoted field), not by a backslash. Setting escape to the quote char is
# how Spark's univocity writer/parser expresses that convention. The two
# trim options default to TRUE on the write side — they silently eat
# leading/trailing spaces and trailing \r\n from text fields — so both
# are pinned off. NULL vs empty string travels as unquoted-empty vs
# quoted "": a sentinel token (\\N etc.) can NOT work, because univocity
# applies nullValue after unquoting, so a document whose text IS the
# token would silently become NULL (found by the round-trip test).
_CSV_COMMON = {
    "header": "true",
    "quote": '"',
    "escape": '"',
    "ignoreLeadingWhiteSpace": "false",
    "ignoreTrailingWhiteSpace": "false",
}
_CSV_WRITE_OPTS = {**_CSV_COMMON,
                   "nullValue": "",      # NULL -> unquoted empty field
                   "emptyValue": '""'}   # ''   -> quoted empty field
# Read side: nullValue must be an explicit JVM null (Python None), NOT
# "" and NOT left unset — any string value (including the "" default
# that applies when unset) is compared AFTER unquoting, nulling quoted
# "" too. With a null nullValue univocity falls back to its structural
# distinction: only the UNQUOTED empty field is NULL, while emptyValue
# maps the quoted "" to ''. (Empirically pinned by the round-trip test;
# all three wrong settings were tried and each collapses '' into NULL.)
_CSV_READ_OPTS = {**_CSV_COMMON,
                  "nullValue": None,     # unquoted empty -> NULL (see above)
                  "emptyValue": "",      # quoted empty   -> ''
                  "multiLine": "true"}   # embedded newlines stay in-row


def write_csv(df: DataFrame, path: str, *, single_file: bool = False,
              compression: str | None = None) -> None:
    """Write ``df`` as RFC 4180 CSV partitions under ``path``.

    ``single_file=True`` coalesces to one partition — ONLY for small
    exports (reports, fixtures); the default keeps the writer parallel,
    one file per partition, which is also the shape `read_csv` ingests
    best (per-file split parallelism survives multiLine=True).
    """
    out = df.coalesce(1) if single_file else df
    w = out.write.mode("overwrite")
    for k, v in _CSV_WRITE_OPTS.items():
        w = w.option(k, v)
    if compression:
        w = w.option("compression", compression)
    w.csv(path)


def read_csv(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Read CSV written by `write_csv` (or any RFC 4180 producer) with an
    EXPLICIT schema — inference is refused by signature: it needs an
    extra full pass and silently widens/downgrades types on dirty rows.
    multiLine=True makes embedded-newline text rows parse as one record;
    parallelism then comes from the file count, so keep ingest sharded.
    This is the one CSV read path: the pinned read dialect
    (`_CSV_READ_OPTS`) is applied here and nowhere else.
    """
    return spark.read.schema(schema).options(**_CSV_READ_OPTS).csv(path)


def write_orc(df: DataFrame, path: str) -> None:
    """Write ``df`` as zstd-compressed ORC (same ratio class as
    parquet+zstd). Column pruning and predicate pushdown behave as with
    parquet; bucketing still requires the table-managed path
    (io/bucketing.py)."""
    df.write.mode("overwrite").option("compression", "zstd").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """Read ORC written by `write_orc` (schema travels in the footer)."""
    return spark.read.orc(path)
