"""The one extraction batch loop (operators/extract.py map_batches) and
the module names the benchmark harness (perfbench/) swaps and reads.

Driver-side: the batch functions are called on pandas frames directly;
the operator check builds a plan on the session fixture without running
it.
"""

import weakref
from operator import attrgetter

import pandas as pd
from pyspark.sql.types import StringType

from trafilatura_spark.fixtures import generate_rows
from trafilatura_spark.operators import extract, metadata_op
from trafilatura_spark.operators.extract import map_batches


class _Result:
    def __init__(self, text):
        self.text = text


def _turns(n_convs: int = 3) -> pd.DataFrame:
    rows = [(c, t, text) for c, t, _role, text, _tool, _ts in generate_rows(n_convs)]
    return pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])


def test_each_row_result_is_released_before_the_next_row():
    # a loop that kept every result of a batch until its frame is built
    # would hold every row's DOM trees at once (worker memory)
    refs, alive = [], []

    def row_fn(text):
        result = _Result(text)
        refs.append(weakref.ref(result))
        alive.append(sum(ref() is not None for ref in refs))
        return result

    pdf = _turns()
    columns = [("echo", StringType(), True, attrgetter("text"))]
    out = list(map_batches(row_fn, columns)(iter([pdf, pdf])))
    assert len(alive) == 2 * len(pdf)
    assert max(alive) == 1, alive
    assert out[0]["echo"].tolist() == pdf["text"].tolist()


def test_benchmark_names_exist():
    for name in ("make_extract_batch_fn", "make_extract_with_metadata_batch_fn", "extract_one_result"):
        assert callable(getattr(extract, name)), name
    # a module global, so swapping it on the module reaches extract_one_result
    assert callable(vars(extract)["bare_extract"])
    from trafilatura_spark.operators.metadata_op import JOINED_METADATA_COLUMNS

    names = [name for name, _ in metadata_op.METADATA_FIELDS] + ["categories_joined", "tags_joined"]
    assert [c[0] for c in JOINED_METADATA_COLUMNS] == names


def test_swapped_bare_extract_is_the_one_the_batch_functions_call(monkeypatch):
    calls = []
    real = extract.bare_extract

    def counted(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(extract, "bare_extract", counted)
    pdf = _turns()
    for factory in (extract.make_extract_batch_fn, extract.make_extract_with_metadata_batch_fn):
        calls.clear()
        (out,) = factory()(iter([pdf]))
        gated = out["tier"].isin(["null_input", "discarded_size"])
        assert len(calls) == (~gated).sum() > 0


def test_operators_call_the_factory_on_the_module(spark, monkeypatch):
    df = spark.createDataFrame(_turns(1))
    for operator, name in (
        (extract.extract_transcripts, "make_extract_batch_fn"),
        (extract.extract_with_metadata, "make_extract_with_metadata_batch_fn"),
    ):
        calls = []
        real = getattr(extract, name)

        def wrapped(*args, real=real, calls=calls, **kwargs):
            calls.append(args)
            return real(*args, **kwargs)

        monkeypatch.setattr(extract, name, wrapped)
        out = operator(df)
        assert len(calls) == 1, name
        assert out.columns[:3] == ["conv_id", "turn_idx", "extracted_text"]
