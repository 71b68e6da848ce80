"""Distributed metadata extraction: struct-per-turn over Arrow batches.

The reference's metadata path (metadata.py:458-563) is a deterministic
per-document scalar function — here one more batched column family on
the same salted partitioning as content extraction (SURVEY.md §2.7
Spark mapping)."""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from ..kernel.metadata import extract_metadata
from .extract import DEFAULT_MAX_BATCH_CHARS, batch_slices
from .extract import wrap_if_fragment  # noqa: F401  (canonical home: extract.py)

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


def metadata_schema(df: DataFrame, passthrough_cols: Optional[list] = None) -> StructType:
    passthrough = passthrough_cols or ["conv_id", "turn_idx"]
    fields = [df.schema[c] for c in passthrough]
    fields += [StructField(name, dtype, True) for name, dtype in METADATA_FIELDS]
    fields += [
        StructField("categories", ArrayType(StringType()), True),
        StructField("tags", ArrayType(StringType()), True),
    ]
    return StructType(fields)


def make_metadata_batch_fn(passthrough_cols: Optional[list] = None):
    "Arrow batches are sliced at DEFAULT_MAX_BATCH_CHARS (extract.batch_slices)."
    passthrough = passthrough_cols or ["conv_id", "turn_idx"]

    def metadata_batch(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for chunk in batch_slices(iterator, DEFAULT_MAX_BATCH_CHARS):
            records = {name: [] for name, _ in METADATA_FIELDS}
            records["categories"] = []
            records["tags"] = []
            for text in chunk["text"]:
                meta = extract_metadata(wrap_if_fragment(text)) if isinstance(text, str) else None
                for name, _ in METADATA_FIELDS:
                    records[name].append(getattr(meta, name, None) if meta else None)
                records["categories"].append(list(meta.categories) if meta else None)
                records["tags"].append(list(meta.tags) if meta else None)
            out = chunk[passthrough].copy()
            for key, values in records.items():
                out[key] = values
            yield out

    return metadata_batch


def extract_metadata_columns(df: DataFrame, passthrough_cols: Optional[list] = None) -> DataFrame:
    passthrough = passthrough_cols or ["conv_id", "turn_idx"]
    needed = list(dict.fromkeys(passthrough + ["text"]))
    return df.select(*needed).mapInPandas(
        make_metadata_batch_fn(passthrough), schema=metadata_schema(df, passthrough)
    )
