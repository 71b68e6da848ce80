"""Batch slicing by text length (operators/extract.py batch_slices).

Every extraction batch function processes an Arrow batch in slices
whose summed text length is bounded (the one batch loop,
``map_batches``, slices at ``DEFAULT_MAX_BATCH_CHARS``); slicing must
not change a single output row.  Driver-side, no Spark: the batch
functions are called on pandas frames directly.
"""

import pandas as pd
import pytest

from trafilatura_spark.fixtures import generate_rows
from trafilatura_spark.operators import extract
from trafilatura_spark.operators.extract import (
    batch_slices,
    make_extract_batch_fn,
    make_extract_with_metadata_batch_fn,
)
from trafilatura_spark.operators.metadata_op import make_metadata_batch_fn


def test_slice_ends_with_the_row_that_passes_the_bound():
    pdf = pd.DataFrame({"text": ["a" * 10, None, "b" * 5, "c" * 20, "d"]})

    def bounds(max_chars):
        return [list(s.index) for s in batch_slices([pdf], max_chars)]

    assert bounds(0) == [[0], [1, 2], [3], [4]]
    assert bounds(10) == [[0, 1, 2], [3], [4]]
    assert bounds(15) == [[0, 1, 2, 3], [4]]
    assert bounds(100) == [[0, 1, 2, 3, 4]]
    assert list(batch_slices([pdf.iloc[:0]], 10)) == []


@pytest.fixture(scope="module")
def input_batches():
    rows = [(c, t, text) for c, t, _role, text, _tool, _ts in generate_rows(10)]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])
    half = len(pdf) // 2
    return [pdf.iloc[:half], pdf.iloc[half:]]


def _run(batch_fn, batches):
    return list(batch_fn(iter(batches)))


def _assert_same_rows(sliced, unsliced, n_batches):
    assert len(unsliced) == n_batches
    assert len(sliced) > 4 * n_batches
    pd.testing.assert_frame_equal(
        pd.concat(sliced, ignore_index=True), pd.concat(unsliced, ignore_index=True)
    )


@pytest.mark.parametrize(
    "factory",
    [make_extract_batch_fn, make_extract_with_metadata_batch_fn, make_metadata_batch_fn],
    ids=["extract", "extract_with_metadata", "metadata"],
)
def test_sliced_rows_equal_unsliced(factory, input_batches, monkeypatch):
    unsliced = _run(factory(), input_batches)
    # the batch loop reads the bound when it runs
    monkeypatch.setattr(extract, "DEFAULT_MAX_BATCH_CHARS", 1000)
    sliced = _run(factory(), input_batches)
    _assert_same_rows(sliced, unsliced, len(input_batches))
