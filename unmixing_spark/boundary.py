"""The Python boundary of the per-payload decoder stages.

Image, audio and video decoding, frame sampling, WARC parsing and the
media twin generator each run one Python call per input row: the
compute is per payload, and only moving rows across the Arrow boundary
is shared. ``map_rows`` is that shared part, so each stage keeps just
its per-payload function and its output schema.

Batch-vectorized stages (the FCLS and MNF projections, the PPI partial
extremes, the flagship ``mapInArrow`` tile stages) work on whole
columns at once and do not go through here.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame


def map_rows(df: DataFrame, fn: Callable[..., Iterable[tuple]],
             schema: str) -> DataFrame:
    """Apply ``fn`` to every row of ``df``: ``fn(*row)`` gets the row's
    values in ``df``'s column order and yields zero or more output
    tuples in ``schema``'s field order, so one row may become none, one
    or many output rows.

    Runs as ``mapInPandas``: the tuples of one Arrow batch become one
    pandas frame whose columns map onto ``schema`` by position. The
    pandas-to-Arrow step writes a float NaN as NULL, and stage outputs
    rely on it (a gray image's green and blue means). An input batch
    that yields no rows, empty or not, emits no frame."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [out for row in pdf.itertuples(index=False, name=None)
                    for out in fn(*row)]
            if rows:
                yield pd.DataFrame(rows)

    return df.mapInPandas(_batches, schema)
