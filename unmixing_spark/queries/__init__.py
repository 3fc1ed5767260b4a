"""Query registry: every SURVEY.md §2 operator exposed through the driver
contract gets a named QuerySpec here.

Most specs are *dual-rendered SQL templates* — one SQL text rendered for
Spark (executed via ``spark.sql``, fully Catalyst-optimized) and for DuckDB
(the oracle). Operators whose semantics SQL cannot express (FCLS, MNF,
PPI, focal convolution …) register a DataFrame/pandas-UDF ``spark_fn`` with
``oracle=None`` → the driver records the weaker rows-only check and pytest
carries the numeric verification instead.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, spec: QuerySpec) -> None:
    _REGISTRY[name] = spec


def sql_template(name: str, template: Callable[[str], str], doc: str = "",
                 tables: tuple[str, ...] = ("documents",)) -> None:
    """Register a dual-dialect SQL template. ``template(dialect)`` must
    reference only pre-registered view names (region nation customer
    supplier part orders lineitem events documents embeddings).
    The Spark rendering reads the plain scans; a query that earns the
    single-split scan fan-out (``pipeline.register_tables(...,
    fan_out=True)``, gated on a measured gain) registers its own
    ``spark_fn``.

    Round-6 note on multi-consumer CTEs in templates: a Spark-side
    checkpoint-the-shared-subquery variant (textual substitution of the
    rendered subquery by a materialized view) was built and measured on
    the raster family — it REGRESSED q_tasseled_cap/q_bilinear_regrid
    and tied q_ledaps_modal_keep, because under the frozen bench's
    count() timing Catalyst prunes each inlined duplicate chain to the
    few columns its consumer needs, which beats an eager all-column
    checkpoint. CTE materialization only pays when the duplicated work
    survives pruning (the winnow/cdc/bm25 conversions in their own
    spark_fns)."""
    from unmixing_spark import dialect as D
    from unmixing_spark.pipeline import register_tables

    def spark_fn(spark: SparkSession, sf_dir: str,
                 _t=template, _tabs=tables) -> DataFrame:
        register_tables(spark, sf_dir, _tabs)
        return spark.sql(_t(D.SPARK))

    register(name, QuerySpec(spark_fn=spark_fn, oracle=template(D.DUCKDB), doc=doc))


def registry() -> dict[str, QuerySpec]:
    # import side-effect modules once; each module registers its queries
    import unmixing_spark.queries.core  # noqa: F401
    import unmixing_spark.queries.raster_q  # noqa: F401
    import unmixing_spark.queries.spatial_q  # noqa: F401
    import unmixing_spark.queries.text_q  # noqa: F401
    import unmixing_spark.queries.linalg_q  # noqa: F401
    import unmixing_spark.queries.pipeline_q  # noqa: F401
    import unmixing_spark.queries.scale_q  # noqa: F401
    import unmixing_spark.queries.complete_q  # noqa: F401
    import unmixing_spark.queries.hygiene_q  # noqa: F401
    import unmixing_spark.queries.lines_q  # noqa: F401
    import unmixing_spark.queries.linkgraph_q  # noqa: F401
    import unmixing_spark.queries.kmeans_q  # noqa: F401
    import unmixing_spark.queries.warc_q  # noqa: F401
    import unmixing_spark.queries.crawl_q  # noqa: F401
    import unmixing_spark.queries.search_q  # noqa: F401
    import unmixing_spark.queries.content_q  # noqa: F401
    import unmixing_spark.queries.layout_q  # noqa: F401
    import unmixing_spark.queries.stats_q  # noqa: F401
    import unmixing_spark.queries.media_q  # noqa: F401
    import unmixing_spark.queries.mining_q  # noqa: F401
    import unmixing_spark.queries.analytics_q  # noqa: F401
    return dict(_REGISTRY)
