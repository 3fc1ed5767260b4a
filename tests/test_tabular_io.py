"""CSV/ORC round-trip byte-identity (io/tabular.py).

The adversarial rows are exactly the ones naive CSV settings corrupt
silently: embedded newlines (multiLine shearing), embedded quotes and
commas (escape-dialect mismatch), backslashes (escape='\\' writers eat
them), the NULL token as literal text, empty-vs-NULL, and non-ASCII.
The invariant asserted is the BASELINE one: byte-identical text per id
after write -> read.
"""

from __future__ import annotations

import os
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import spark  # noqa: F401 (fixture re-export)
from unmixing_spark.io import tabular
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType)

SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("url", StringType(), True),
    StructField("text", StringType(), True),
])

NASTY = [
    (0, "http://a.example/x", "plain text"),
    (1, "http://a.example/nl", "line one\nline two\nline three"),
    (2, "http://a.example/q", 'she said "hello, world" and left'),
    (3, "http://a.example/bs", "C:\\path\\to\\file and a \\n literal"),
    (4, "http://a.example/crlf", "windows\r\nline endings\r\n"),
    (5, "http://a.example/null_tok", "\\N"),          # a classic NULL
                                                      # sentinel as real
                                                      # text — must stay
                                                      # text
    (6, "http://a.example/empty", ""),                # empty, NOT null
    (7, "http://a.example/null", None),               # genuinely null
    (8, "http://a.example/uni", "naïve café — 中文 🚀 \u00a0nbsp"),
    (9, "http://a.example/comma", "a,b,,d,"),
    (10, "http://a.example/edge", '",\n"'),           # all three at once
    (11, "http://a.example/tab", "col1\tcol2\ttab-separated impostor"),
]


def _rows(df):
    return {r["doc_id"]: (r["url"], r["text"])
            for r in df.collect()}


def test_csv_roundtrip_byte_identical(spark):  # noqa: F811
    df = spark.createDataFrame(NASTY, SCHEMA).repartition(3)
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "csv")
        tabular.write_csv(df, path)
        back = tabular.read_csv(spark, path, SCHEMA)
        assert back.count() == len(NASTY)          # no row shearing
        got = _rows(back)
    exp = {i: (u, t) for i, u, t in NASTY}
    assert got == exp                              # byte-identical text
    # empty string and NULL survived as DISTINCT values
    assert got[6][1] == ""
    assert got[7][1] is None
    # the literal NULL token survived as text
    assert got[5][1] == "\\N"


def test_csv_roundtrip_compressed_single_file(spark):  # noqa: F811
    df = spark.createDataFrame(NASTY, SCHEMA)
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "csvgz")
        tabular.write_csv(df, path, single_file=True, compression="gzip")
        files = [f for f in os.listdir(path) if f.endswith(".csv.gz")]
        assert len(files) == 1                     # genuinely one shard
        back = tabular.read_csv(spark, path, SCHEMA)
        assert _rows(back) == {i: (u, t) for i, u, t in NASTY}


def test_orc_roundtrip_matches_parquet(spark):  # noqa: F811
    """ORC round-trip is byte-identical AND agrees with the parquet
    round-trip of the same DataFrame (columnar interop parity)."""
    df = spark.createDataFrame(NASTY, SCHEMA).repartition(2)
    with tempfile.TemporaryDirectory() as tmp:
        orc_path = os.path.join(tmp, "orc")
        pq_path = os.path.join(tmp, "pq")
        tabular.write_orc(df, orc_path)
        df.write.mode("overwrite").parquet(pq_path)
        orc_back = tabular.read_orc(spark, orc_path)
        pq_back = spark.read.parquet(pq_path)
        # names + types travel in the footer; nullability is writer
        # metadata ORC relaxes (all columns nullable on read)
        assert [(f.name, f.dataType) for f in orc_back.schema.fields] \
            == [(f.name, f.dataType) for f in df.schema.fields]
        assert _rows(orc_back) == _rows(pq_back) == {
            i: (u, t) for i, u, t in NASTY}


def test_csv_real_corpus_slice(spark):  # noqa: F811
    """The synthetic documents table itself survives the CSV boundary
    (text column byte-identical per doc_id)."""
    src = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
           .select("doc_id", "text", "lang"))
    schema = StructType([
        StructField("doc_id", LongType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ])
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "docs_csv")
        tabular.write_csv(src, path)
        back = tabular.read_csv(spark, path, schema)
        a = {r["doc_id"]: (r["text"], r["lang"]) for r in src.collect()}
        b = {r["doc_id"]: (r["text"], r["lang"]) for r in back.collect()}
    assert a == b


def test_csv_roundtrip_seeded_fuzz(spark):  # noqa: F811
    """300 seeded random strings over a hostile alphabet (quotes, commas,
    both newline kinds, tabs, C0/C1 controls, U+2028, NBSP, non-BMP) are
    byte-identical through the CSV boundary. NUL (\\x00) is excluded: the
    parser trims it at quoted-field edges — pinned separately below so
    the boundary is declared, not silent."""
    import random
    rng = random.Random(20260819)
    alpha = list('abc ,"\'\\\n\r\t') + [
        "\x01", "\x1f", "\x7f", " ", "\xa0", "é", "中", "🚀"]
    rows = [(i, "".join(rng.choice(alpha)
                        for _ in range(rng.randrange(0, 40))))
            for i in range(300)]
    schema = StructType([
        StructField("id", LongType(), False),
        StructField("t", StringType(), True),
    ])
    df = spark.createDataFrame(rows, schema).repartition(4)
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "fuzz")
        tabular.write_csv(df, path)
        back = {r["id"]: r["t"]
                for r in tabular.read_csv(spark, path, schema).collect()}
    exp = dict(rows)
    # '' writes as quoted "" and reads back as '' (not NULL)
    assert back == exp


def test_csv_nul_boundary_is_declared(spark):  # noqa: F811
    """The one known non-round-trippable case: univocity uses NUL as its
    internal padding character, and its escaped-quote parsing path trims
    edge NULs from a quoted field that ALSO contains a quote character
    (plain unquoted fields, quoted-interior NULs, and even quoted-edge
    NULs without an embedded quote all survive — pinned below). The lossy
    case is pinned too, so any silent change (e.g. a Spark upgrade that
    starts preserving or erroring there) is caught and the docstring
    contract in io/tabular.py updated."""
    schema = StructType([
        StructField("id", LongType(), False),
        StructField("t", StringType(), True),
    ])
    df = spark.createDataFrame(
        [(1, "a\x00b"),          # no quote-triggering char: stays unquoted
         (2, "a,\x00b"),         # comma forces quoting; NUL is interior
         (3, "\x00,q\x00"),      # quoted, edge NULs, no embedded quote
         (4, '\x00"q\x00')],     # quoted, edge NULs AND embedded quote
        schema)
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "nul")
        tabular.write_csv(df, path, single_file=True)
        back = {r["id"]: r["t"]
                for r in tabular.read_csv(spark, path, schema).collect()}
    assert back[1] == "a\x00b"      # unquoted: NUL survives
    assert back[2] == "a,\x00b"     # quoted interior: NUL survives
    assert back[3] == "\x00,q\x00"  # quoted edges, no quote char: survives
    assert back[4] == '"q'          # escaped-quote path: edge NULs trimmed
