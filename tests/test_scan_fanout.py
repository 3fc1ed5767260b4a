"""Table registration reads each parquet as is; the single-split scan
fan-out runs only where a query declares ``fan_out=True``."""

from __future__ import annotations

import contextlib
import io
import re

from tests.conftest import SF_SMALL
from unmixing_spark import loops, pipeline


def _scan_parts(spark):
    return spark.table("documents").rdd.getNumPartitions()


def test_register_tables_keeps_the_scan_splits(spark):
    pipeline.register_tables(spark, SF_SMALL)
    assert _scan_parts(spark) == 1


def test_fan_out_widens_a_single_split_scan(spark):
    pipeline.register_tables(spark, SF_SMALL, fan_out=True)
    try:
        assert _scan_parts(spark) == loops.shuffle_partitions(spark)
    finally:
        pipeline.register_tables(spark, SF_SMALL)


def test_fan_out_leaves_a_many_file_scan_alone(spark, tmp_path):
    (spark.read.parquet(f"{SF_SMALL}/documents.parquet")
     .repartition(4, "doc_id")
     .write.parquet(str(tmp_path / "documents.parquet")))
    own = spark.read.parquet(
        str(tmp_path / "documents.parquet")).rdd.getNumPartitions()
    assert own >= 4
    pipeline.register_tables(spark, str(tmp_path), fan_out=True)
    try:
        assert _scan_parts(spark) == own
    finally:
        pipeline.register_tables(spark, SF_SMALL)


def test_session_windows_plans_one_exchange(spark):
    from unmixing_spark.queries import registry

    df = registry()["q_session_windows"].spark_fn(spark, SF_SMALL)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    nodes = re.findall(r"^\(\d+\) (\w+)", buf.getvalue(), re.M)
    assert nodes.count("Exchange") == 1, buf.getvalue()
