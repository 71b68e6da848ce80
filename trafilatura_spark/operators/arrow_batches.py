"""The one batch loop of every Python stage: ``map_batches`` builds a
mapInArrow function from a per-row function and a column spec, and
``map_turns`` runs it with the schema that spec declares.

A column spec entry is ``(name, Spark type, nullable, getter of one
row's result)``.  Each output column is filled by an Arrow builder of its
Spark type, never by ``pa.array``, which imports pandas to test its
argument: no worker that runs this loop loads pandas (~38 MB of its peak
RSS).  Passthrough columns go back to Spark as the input's own Arrow
arrays.

The end of this module freezes the import-time heap (worker_setup's
freeze_import_heap): a worker imports it when it unpickles any batch
function, before any batch exists, and from then on PySpark's full
collection after every task walks only what the task left instead of
the objects pyarrow, pyspark and the kernel hold.
"""

from __future__ import annotations

from array import array
from functools import partial
from typing import Iterator, Optional

import pyarrow as pa
from pyarrow.lib import StringBuilder
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..kernel.textutils import clear_string_memos
from .worker_setup import freeze_import_heap

DEFAULT_PASSTHROUGH = ["conv_id", "turn_idx"]


class _FixedWidth:
    """Builder of a fixed-width column, nullable or not: one C value per
    row in an ``array`` of ``typecode`` and a validity bitmap, then their
    buffers as the Arrow array of ``arrow_type``.  A null row holds a zero."""

    __slots__ = ("arrow_type", "values", "valid")

    def __init__(self, typecode: str, arrow_type: pa.DataType):
        self.arrow_type = arrow_type
        self.values = array(typecode)
        self.valid = bytearray()  # one bit per row, set for a non-null value

    def append(self, value) -> None:
        row = len(self.values)
        if not row & 7:
            self.valid.append(0)
        if value is None:
            self.values.append(0)
        else:
            self.valid[row >> 3] |= 1 << (row & 7)
            self.values.append(value)

    def finish(self) -> pa.Array:
        buffers = [pa.py_buffer(self.valid), pa.py_buffer(self.values)]
        return pa.Array.from_buffers(self.arrow_type, len(self.values), buffers)


class _StringLists:
    """Builder of a list<string> column whose rows are None or a list of
    strings.  The array is assembled from its validity bitmap, offsets
    and items: ``pa.ListArray.from_arrays(..., mask=)`` would import
    pyarrow.compute (~4k objects) into the worker after its heap froze."""

    __slots__ = ("items", "offsets", "valid")

    def __init__(self):
        self.items = StringBuilder()
        self.offsets = array("i", [0])
        self.valid = bytearray()  # one bit per row, set for a non-null list

    def append(self, value: Optional[list]) -> None:
        row = len(self.offsets) - 1
        if not row & 7:
            self.valid.append(0)
        if value is not None:
            self.valid[row >> 3] |= 1 << (row & 7)
            for item in value:
                self.items.append(item)
        self.offsets.append(len(self.items))

    def finish(self) -> pa.Array:
        buffers = [pa.py_buffer(self.valid), pa.py_buffer(self.offsets)]
        return pa.Array.from_buffers(pa.list_(pa.string()), len(self.offsets) - 1, buffers, children=[self.items.finish()])


def _column_builder(dtype):
    """The Arrow builder of an output column's Spark type, called with no
    argument: each has ``append(value)`` and ``finish() -> pa.Array``."""
    if isinstance(dtype, StringType):
        return StringBuilder
    if isinstance(dtype, IntegerType):
        return partial(_FixedWidth, "i", pa.int32())
    if isinstance(dtype, FloatType):
        return partial(_FixedWidth, "f", pa.float32())
    if dtype == ArrayType(StringType()):
        return _StringLists
    raise TypeError(f"no Arrow builder for output columns of type {dtype.simpleString()}")


def map_batches(row_fn, columns: list):
    """The per-row loop of every Python stage: a mapInArrow function that
    calls ``row_fn`` once per ``text`` of each incoming
    ``pyarrow.RecordBatch`` and yields a batch of every other input
    column, as the input's own arrays, plus one column per ``columns``
    spec entry.

    Each column's value is appended to its Arrow builder as soon as the
    row finishes, and the kernel's string memos are cleared with it, so
    no reference to a result or a memoized string outlives its row: a
    worker holds its Arrow batch, the output columns built from it, and
    one document.  The kernel creates no reference cycles (its DOM trees
    hold parents weakly), so dropping the result frees the row's trees
    at once, without the cyclic collector."""
    builders = [_column_builder(dtype) for _, dtype, _, _ in columns]
    getters = [get for _, _, _, get in columns]
    names = [name for name, _, _, _ in columns]

    def batch(iterator: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for chunk in iterator:
            built = [builder() for builder in builders]
            for text in chunk.column("text"):
                result = row_fn(text.as_py())
                for column, get in zip(built, getters):
                    column.append(get(result))
                del result
                clear_string_memos()
            keep = [name for name in chunk.schema.names if name != "text"]
            yield pa.RecordBatch.from_arrays(
                [chunk.column(name) for name in keep] + [column.finish() for column in built],
                names=keep + names,
            )

    return batch


def map_turns(df: DataFrame, fn, columns: list, passthrough: Optional[list] = None) -> DataFrame:
    """Run the batch function ``fn`` (map_batches) over ``df`` pruned to
    the passthrough columns plus ``text``, and declare the output schema
    as the passthrough columns' input fields plus the ``columns`` spec."""
    pruned = df.select(*dict.fromkeys((passthrough or DEFAULT_PASSTHROUGH) + ["text"]))
    fields = [f for f in pruned.schema if f.name != "text"]
    fields += [StructField(name, dtype, nullable) for name, dtype, nullable, _ in columns]
    return pruned.mapInArrow(fn, schema=StructType(fields))


# last: everything above is loaded, and no batch data exists yet
freeze_import_heap()
