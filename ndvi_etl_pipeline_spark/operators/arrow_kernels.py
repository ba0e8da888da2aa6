"""The engine's one Python boundary.

Every Python kernel in the engine — the raster tile kernels, the
media codecs and features, the similarity and selection scorers, the
sources' per-file parsers and fetchers — crosses into Python through
one of these helpers:

- `map_batches` — narrow: `mapInArrow`, `fn(batch)` once per input
  Arrow batch;
- `map_rows` — its per-row form, `fn(row)` once per input row;
- `map_groups` — grouped: `groupBy(*keys).applyInArrow`, `fn(key,
  group)` once per group.

All three read their input columns through `_column` (numbers as
numpy arrays, binary payloads as zero-copy memoryviews of the Arrow
buffer, lists of numbers as zero-copy numpy slices) and write the row
tuples `fn` returns through `_record_batch`, so pandas sits on neither
side of a kernel. Read a tile payload with `as_tile`, never as a
bytes copy. Scalar column functions (`functions/geo.py`) are
`arrow_udf`s that read their inputs through `_column` too.

The only pandas left in the package is Spark's streaming state API
(`applyInPandasWithState` in `streaming/events.py`), which has no
Arrow form.

The driver side has one entry point too: `local_df` turns a Python
row list (centroids, query tables, parameter grids) into a relation
through the same column converter (`_arrays`). It plans as an Arrow
`LocalTableScan`, not the pickled Python RDD of
`createDataFrame(<list>)`, so no job over it starts a Python worker.
"""

from __future__ import annotations

from collections import namedtuple
from functools import lru_cache

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def as_tile(buf, h: int, w: int) -> np.ndarray:
    """A float32 tile payload as an (h, w) array view — no copy."""
    return np.frombuffer(buf, dtype=np.float32).reshape(h, w)


def _is_number(t) -> bool:
    import pyarrow as pa

    return pa.types.is_integer(t) or pa.types.is_floating(t)


def _column(c):
    """One Arrow column (an Array or a ChunkedArray) as a kernel reads
    it: integer and float columns as one numpy array (a null reads NaN,
    as pandas reads it), binary columns as a list of zero-copy
    memoryviews (None for null), lists of numbers (embeddings, rings)
    as a list of 1-D numpy arrays sliced zero-copy from the child
    values (None for a null list), any other column as a list of
    Python values."""
    import pyarrow as pa

    if pa.types.is_binary(c.type):
        return [None if b is None else memoryview(b) for b in (s.as_buffer() for s in c)]
    if _is_number(c.type):
        return c.to_numpy(zero_copy_only=False)
    if pa.types.is_list(c.type) and _is_number(c.type.value_type):
        out = []
        for chunk in c.chunks if isinstance(c, pa.ChunkedArray) else [c]:
            vals = chunk.values.to_numpy(zero_copy_only=False)
            offs = chunk.offsets.to_numpy()
            valid = chunk.is_valid().to_numpy(zero_copy_only=False)
            out.extend(
                vals[a:b] if ok else None for a, b, ok in zip(offs[:-1], offs[1:], valid)
            )
        return out
    return c.to_pylist()


@lru_cache
def _fields(names: tuple[str, ...]):
    """The namedtuple type a kernel receives for columns `names`."""
    return namedtuple("Fields", names)


def _arrays(rows, schema, explode: bool = False) -> list:
    """Row tuples (in `schema` field order) → one Arrow array per field
    of `schema` (an Arrow schema); `rows` may be empty.

    With `explode`, a column whose first value is a numpy array holds
    one array per row; each row then stands for that many output rows
    with its scalar fields repeated — how a tile explodes to pixels.
    Without it every value is one cell: a numpy array in an `array<…>`
    column stays one row."""
    import pyarrow as pa

    cols = list(zip(*rows)) or [()] * len(schema)
    first = next((c for c in cols if explode and c and isinstance(c[0], np.ndarray)), None)
    if first is None:
        return [pa.array(c, type=f.type) for c, f in zip(cols, schema)]
    sizes = np.fromiter(map(len, first), np.int64, len(first))
    return [
        pa.array(
            np.concatenate(c) if isinstance(c[0], np.ndarray)
            else np.repeat(np.asarray(c, dtype=object), sizes),
            type=f.type,
        )
        for c, f in zip(cols, schema)
    ]


def _record_batch(rows: list[tuple], schema):
    """Kernel output row tuples (in `schema` field order) → one Arrow
    record batch; a numpy-array column explodes its row (`_arrays`)."""
    import pyarrow as pa

    return pa.record_batch(_arrays(rows, schema, explode=True), schema=schema)


def local_df(spark, rows, schema) -> DataFrame:
    """Driver-side `rows` (tuples or Rows in `schema` field order; may
    be empty) as an Arrow-backed LocalRelation — the engine's one way
    to turn a Python row list into a relation. `schema` is a DDL
    string or a StructType.

    Why: `spark.createDataFrame(<python list>)` pickles the rows into
    an RDD, so every job touching the relation plans `Scan
    ExistingRDD` and starts a Python-worker stage. A pyarrow table
    lands as a `LocalTableScan` instead: collecting a projection of it
    runs no job (Catalyst folds the projection into the local rows),
    and broadcasting it ships no Python RDD."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = spark._parse_ddl(schema)
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(_arrays(rows, arrow), schema=arrow)
    return spark.createDataFrame(table, schema)


def batch_stream(batches, names: tuple[str, ...], fn, schema):
    """The boundary's one batch loop, over plain pyarrow record
    batches: `fn(batch)` gets each batch as a namedtuple of `_column`
    columns (field names `names`) and returns row tuples in `schema`
    (an Arrow schema) order.

    A record batch is written each time the gathered rows reach the
    input batch's row count, and once more at the end of the batch: a
    1:1 kernel writes one batch per input batch, and a row-multiplying
    kernel (patches, frames, WARC records) holds at most one input
    batch's worth of output rows at a time."""
    Batch = _fields(names)
    for batch in batches:
        cap = max(batch.num_rows, 1)
        rows = []
        for row in fn(Batch(*(_column(c) for c in batch.columns))):
            rows.append(row)
            if len(rows) >= cap:
                yield _record_batch(rows, schema)
                rows = []
        if rows:
            yield _record_batch(rows, schema)


def map_batches(df: DataFrame, fn, schema: T.StructType) -> DataFrame:
    """The narrow boundary: `mapInArrow` over `df`, calling `fn(batch)`
    per input Arrow batch and writing the row tuples it returns (in
    `schema` order) through `batch_stream`.

    `batch` is a namedtuple of `df`'s columns, each the whole batch's
    column as `_column` reads it — exactly what `map_groups` passes
    for a group. Select only the columns the kernel reads: every
    column crosses."""
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    names = tuple(df.columns)
    return df.mapInArrow(lambda batches: batch_stream(batches, names, fn, arrow_schema), schema)


def map_rows(df: DataFrame, fn, schema: T.StructType) -> DataFrame:
    """The per-row form of `map_batches`: `fn(row)` once per input row,
    `row` a namedtuple of the row's fields — numbers as numpy scalars,
    binary fields as zero-copy memoryviews, lists of numbers as numpy
    arrays, others as Python values (see `_column`)."""
    Row = _fields(tuple(df.columns))
    return map_batches(
        df, lambda batch: (out for vals in zip(*batch) for out in fn(Row(*vals))), schema
    )


def map_groups(df: DataFrame, keys: list[str], fn, schema: T.StructType) -> DataFrame:
    """The grouped twin of `map_batches`: `groupBy(*keys).applyInArrow`
    over `df`, calling `fn(key, group)` once per group and gathering
    the row tuples it returns (in `schema` order) into the group's
    output batch — a numpy-array column explodes its row exactly as
    in `map_rows`.

    `key` is the tuple of the group's key values as Python values.
    `group` is a namedtuple of all of `df`'s columns, each the whole
    group's column as `_column` reads it. Select only the columns the
    kernel reads: every column crosses."""
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    names = tuple(df.columns)

    def run(key, table):
        import pyarrow as pa

        group = _fields(names)(*(_column(c) for c in table.columns))
        rows = list(fn(tuple(k.as_py() for k in key), group))
        return pa.Table.from_batches([_record_batch(rows, arrow_schema)])

    return df.groupBy(*keys).applyInArrow(run, schema=schema)
