"""Distributed metadata extraction: struct-per-turn over Arrow batches.

The reference's metadata path (metadata.py:458-563) is a deterministic
per-document scalar function — here one more column family through the
same batch loop as content extraction (arrow_batches.py `map_batches` /
`map_turns`), over the input's own partitioning (SURVEY.md §2.7 Spark
mapping)."""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, StringType

from ..kernel.metadata import extract_metadata
from .arrow_batches import map_batches, map_turns
from .extract import wrap_if_fragment

METADATA_FIELDS = [
    ("title", StringType()),
    ("author", StringType()),
    ("url", StringType()),
    ("hostname", StringType()),
    ("description", StringType()),
    ("sitename", StringType()),
    ("date", StringType()),
    ("license", StringType()),
    ("image", StringType()),
    ("pagetype", StringType()),
]


def _field(name: str, shape=lambda value: value):
    "Getter of one Metadata field, passed through ``shape``; None without metadata."
    return lambda meta: shape(getattr(meta, name, None)) if meta else None


def _joined(values):
    return ",".join(values) if values else None


def _of_result(get):
    "The same getter over an extraction result's metadata object."
    return lambda result: get(result.metadata)


# column spec (extract.py CONTENT_COLUMNS) over a Metadata object
METADATA_COLUMNS = [(name, dtype, True, _field(name)) for name, dtype in METADATA_FIELDS] + [
    ("categories", ArrayType(StringType()), True, _field("categories", list)),
    ("tags", ArrayType(StringType()), True, _field("tags", list)),
]
# ... and over an ExtractionResult carrying one, list fields comma-joined
JOINED_METADATA_COLUMNS = [(name, dtype, True, _of_result(_field(name))) for name, dtype in METADATA_FIELDS] + [
    ("categories_joined", StringType(), True, _of_result(_field("categories", _joined))),
    ("tags_joined", StringType(), True, _of_result(_field("tags", _joined))),
]


def _metadata_of(text: Optional[str]):
    "The metadata object of one turn; None for a non-string text."
    return extract_metadata(wrap_if_fragment(text)) if isinstance(text, str) else None


def make_metadata_batch_fn():
    "mapInArrow function emitting the passthrough columns + METADATA_COLUMNS."
    return map_batches(_metadata_of, METADATA_COLUMNS)


def extract_metadata_columns(df: DataFrame, passthrough_cols: Optional[list] = None) -> DataFrame:
    return map_turns(df, make_metadata_batch_fn(), METADATA_COLUMNS, passthrough_cols)
