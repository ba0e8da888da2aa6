"""The Arrow boundary of the raster engine's tile kernels.

Every tile kernel (raster.py, warp.py, focal.py, spatial_join.py)
crosses into Python through one of two helpers:

- `map_rows` — narrow: `mapInArrow`, `fn(row)` once per input row;
- `map_groups` — grouped: `groupBy(*keys).applyInArrow`, `fn(key,
  group)` once per group.

Both read their input columns through `_column` (numbers as numpy
arrays, binary payloads as zero-copy memoryviews of the Arrow buffer)
and write the row tuples `fn` returns through `_record_batch`, so
pandas sits on neither side of a kernel. Read a tile payload with
`as_tile`, never as a bytes copy.
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


def _column(c):
    """One Arrow column (an Array or a ChunkedArray) as a kernel reads
    it: integer and float columns as one numpy array (a null reads NaN,
    as pandas reads it), binary columns as a list of zero-copy
    memoryviews (None for null), any other column as a list of Python
    values."""
    import pyarrow as pa

    if pa.types.is_binary(c.type):
        return [None if b is None else memoryview(b) for b in (s.as_buffer() for s in c)]
    if pa.types.is_integer(c.type) or pa.types.is_floating(c.type):
        return c.to_numpy(zero_copy_only=False)
    return c.to_pylist()


@lru_cache
def _fields(names: tuple[str, ...]):
    """The namedtuple type a kernel receives for columns `names`."""
    return namedtuple("Fields", names)


def _record_batch(rows: list[tuple], schema):
    """Output row tuples (in `schema` field order) → one Arrow record
    batch. A column whose first value is a numpy array holds one array
    per row; each row then stands for that many output rows with its
    scalar fields repeated — how a tile explodes to pixels."""
    import pyarrow as pa

    if not rows:
        return pa.RecordBatch.from_pylist([], schema=schema)
    cols = list(zip(*rows))
    sizes = next(
        (np.fromiter(map(len, c), np.int64, len(c)) for c in cols if isinstance(c[0], np.ndarray)),
        None,
    )
    arrays = []
    for c, f in zip(cols, schema):
        if sizes is None:
            v = list(c)
        elif isinstance(c[0], np.ndarray):
            v = np.concatenate(c)
        else:
            v = np.repeat(np.asarray(c, dtype=object), sizes)
        arrays.append(pa.array(v, type=f.type))
    return pa.record_batch(arrays, schema=schema)


def map_rows(df: DataFrame, fn, schema: T.StructType) -> DataFrame:
    """The narrow boundary: `mapInArrow` over `df`, calling `fn(row)`
    per input row and gathering the output row tuples it returns (in
    `schema` order) into one record batch per input batch, typed by
    the Arrow twin of `schema`.

    `row` is a namedtuple of the row's fields: numbers as numpy
    scalars, binary fields as zero-copy memoryviews, others as Python
    values (see `_column`). Select only the columns the kernel reads:
    every column crosses."""
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    names = tuple(df.columns)

    def run(batches):
        Row = _fields(names)
        for batch in batches:
            cols = [_column(c) for c in batch.columns]
            rows = [out for vals in zip(*cols) for out in fn(Row(*vals))]
            yield _record_batch(rows, arrow_schema)

    return df.mapInArrow(run, schema=schema)


def map_groups(df: DataFrame, keys: list[str], fn, schema: T.StructType) -> DataFrame:
    """The grouped twin of `map_rows`: `groupBy(*keys).applyInArrow`
    over `df`, calling `fn(key, group)` once per group and gathering
    the row tuples it returns (in `schema` order) into the group's
    output batch — a numpy-array column explodes its row exactly as
    in `map_rows`.

    `key` is the tuple of the group's key values as Python values.
    `group` is a namedtuple of all of `df`'s columns, each the whole
    group's column as `_column` reads it: a numpy array for numbers, a
    list of zero-copy memoryviews (None for null) for binary, a list
    of Python values otherwise. Select only the columns the kernel
    reads: every column crosses."""
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    names = tuple(df.columns)

    def run(key, table):
        import pyarrow as pa

        group = _fields(names)(*(_column(c) for c in table.columns))
        rows = list(fn(tuple(k.as_py() for k in key), group))
        return pa.Table.from_batches([_record_batch(rows, arrow_schema)])

    return df.groupBy(*keys).applyInArrow(run, schema=schema)
