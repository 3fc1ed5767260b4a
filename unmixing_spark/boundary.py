"""The Python boundary of the engine's numpy stages, and its NULL rule.

Two kinds of stage cross the Arrow boundary, and each kind crosses it
through one function here, so every stage keeps only its compute and its
output schema:

- ``map_rows``: the per-payload decoders (image, audio and video
  decoding, frame sampling, WARC parsing, the media twin generator) run
  one Python call per input row.
- ``map_matrix``: the whole-batch numpy stages (the FCLS and MESMA
  solves, the MNF projection, the PPI partial extremes) run one call per
  Arrow batch on its band columns read as one (N, p) float64 matrix.

Both write a float NaN as NULL, the pandas-to-Arrow rule stage outputs
have always been written under: ``map_rows`` through pandas itself,
``map_matrix`` through ``nan_as_null``. The flagship tile stages
(``rasterize.assemble_tiles``, ``mapper.unmix_tiles``) work on the Arrow
list buffers themselves and use ``nan_as_null`` directly.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def nan_as_null(values: np.ndarray) -> pa.Array:
    """A double array with NaN stored as null — the pandas-to-Arrow rule
    (``from_pandas``) stage outputs have always been written under."""
    nan = np.isnan(values)
    return pa.array(values, pa.float64(), mask=nan if nan.any() else None)


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


def map_matrix(df: DataFrame, bands: Sequence[str],
               fn: Callable[[np.ndarray, pa.RecordBatch], Sequence],
               schema: str) -> DataFrame:
    """Apply ``fn`` to every non-empty Arrow batch of ``df``:
    ``fn(X, batch)`` gets the ``bands`` columns as one (N, p) float64
    matrix ``X`` (its own copy, free to modify) and the batch itself,
    and returns the output columns in ``schema``'s field order. It may
    return any number of rows, the same for every column.

    Runs as ``mapInArrow``. ``X`` reads a NULL band as NaN and an
    integer band as float64, and is laid out as pandas'
    ``to_numpy(float64)`` laid it out. An Arrow output column is cast
    to its field's type; a numpy column of a double field leaves through
    ``nan_as_null``, any other numpy column as its field's type. An
    empty batch emits nothing."""
    arrow_schema = to_arrow_schema(StructType.fromDDL(schema))

    def column(values, t: pa.DataType) -> pa.Array:
        if isinstance(values, pa.Array):
            return values.cast(t)
        return nan_as_null(values) if t == pa.float64() else pa.array(values, t)

    def _batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            if batch.num_rows == 0:
                continue
            X = np.stack([np.asarray(batch.column(b).to_numpy(
                zero_copy_only=False), np.float64) for b in bands]).T
            yield pa.RecordBatch.from_arrays(
                [column(v, f.type) for v, f in zip(fn(X, batch), arrow_schema)],
                schema=arrow_schema)

    return df.mapInArrow(_batches, schema)
