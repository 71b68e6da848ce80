"""The one batch loop of every Python stage (operators/arrow_batches.py
map_batches), its column builders, and the module names the benchmark
harness (perfbench/) swaps and reads.

Driver-side: the batch functions are called on Arrow record batches
directly; the operator check builds a plan on the session fixture
without running it.
"""

import os
import subprocess
import sys
import weakref
from array import array
from operator import attrgetter

import pyarrow as pa
import pytest
from pyspark.sql.types import ArrayType, FloatType, IntegerType, LongType, StringType

from trafilatura_spark.fixtures import generate_rows
from trafilatura_spark.operators import extract, metadata_op
from trafilatura_spark.operators.arrow_batches import map_batches


class _Result:
    def __init__(self, text):
        self.text = text


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCHEMA = "conv_id string, turn_idx int, text string"


def _rows(n_convs: int) -> list:
    return [(c, t, text) for c, t, _role, text, _tool, _ts in generate_rows(n_convs)]


def _turns(n_convs: int = 3) -> pa.RecordBatch:
    conv_ids, turn_idxs, texts = zip(*_rows(n_convs))
    return pa.RecordBatch.from_arrays(
        [pa.array(conv_ids), pa.array(turn_idxs, pa.int32()), pa.array(texts)], names=["conv_id", "turn_idx", "text"]
    )


def test_each_row_result_is_released_before_the_next_row():
    # a loop that kept every result of a batch until its frame is built
    # would hold every row's DOM trees at once (worker memory)
    refs, alive = [], []

    def row_fn(text):
        result = _Result(text)
        refs.append(weakref.ref(result))
        alive.append(sum(ref() is not None for ref in refs))
        return result

    batch = _turns()
    columns = [("echo", StringType(), True, attrgetter("text"))]
    out = list(map_batches(row_fn, columns)(iter([batch, batch])))
    assert len(alive) == 2 * len(batch)
    assert max(alive) == 1, alive
    assert out[0].column("echo").to_pylist() == batch.column("text").to_pylist()


def test_passthrough_columns_are_the_input_arrays():
    "conv_id and turn_idx go back to Spark zero-copy: the same Arrow buffers."
    batch = _turns()
    (out,) = map_batches(lambda text: _Result(text), [("echo", StringType(), True, attrgetter("text"))])(iter([batch]))
    assert out.schema.names == ["conv_id", "turn_idx", "echo"]
    for name in ("conv_id", "turn_idx"):
        assert [b.address for b in out.column(name).buffers() if b] == [
            b.address for b in batch.column(name).buffers() if b
        ], name


def test_output_column_types_without_a_builder_raise():
    "Only string, int32, float32 and list<string> columns have builders, nullable or not."
    for dtype in (IntegerType(), FloatType()):
        for nullable in (True, False):
            map_batches(_Result, [("n", dtype, nullable, attrgetter("text"))])
    with pytest.raises(TypeError, match="bigint"):
        map_batches(_Result, [("n", LongType(), False, attrgetter("text"))])
    with pytest.raises(TypeError, match="bigint"):
        map_batches(_Result, [("n", LongType(), True, attrgetter("text"))])
    with pytest.raises(TypeError, match="array<bigint>"):
        map_batches(_Result, [("n", ArrayType(LongType()), True, attrgetter("text"))])


def _texts(values: list) -> pa.RecordBatch:
    from pyarrow.lib import StringBuilder

    texts = StringBuilder()
    for value in values:
        texts.append(value)
    return pa.RecordBatch.from_arrays([texts.finish()], names=["text"])


def test_fixed_width_columns_round_trip():
    """Nullable int32 and float32 columns keep each value and each null,
    also in an all-null and an empty batch."""
    columns = [
        ("i", IntegerType(), True, lambda text: None if text is None else int(text)),
        ("f", FloatType(), True, lambda text: None if text is None else float(text) / 4),
    ]
    batches = {
        "mixed": ["7", None, "-3", "0", None, "2147483647", "-2147483648", "1", "5", None],
        "all_null": [None] * 9,
        "empty": [],
    }
    fn = map_batches(lambda text: text, columns)
    outs = list(fn(iter(_texts(values) for values in batches.values())))
    for (name, values), out in zip(batches.items(), outs):
        ints = [None if v is None else int(v) for v in values]
        assert out.schema.names == ["i", "f"], name
        assert out.column("i").type == pa.int32() and out.column("f").type == pa.float32(), name
        assert out.column("i").to_pylist() == ints, name
        # float32: each value as the C float nearest to it
        assert out.column("f").to_pylist() == [None if v is None else array("f", [v / 4])[0] for v in ints], name
        assert out.column("i").null_count == values.count(None), name
        out.validate(full=True)


NO_PANDAS_PROBE = """
import sys
from array import array

import pyarrow as pa
from pyarrow.lib import StringBuilder

from trafilatura_spark.operators.arrow_batches import map_batches
from trafilatura_spark.operators.extract import make_extract_batch_fn, make_extract_with_metadata_batch_fn
from trafilatura_spark.operators.metadata_op import make_metadata_batch_fn
from trafilatura_spark.operators import multimodal, textstats

texts = StringBuilder()
for text in ["<p>" + "A sentence of words to keep. " * 20 + "</p>", None, "<html><head><title>T</title></head></html>"]:
    texts.append(text)
idx = pa.Array.from_buffers(pa.int32(), 3, [None, pa.py_buffer(array("i", [0, 1, 2]))])
batch = pa.RecordBatch.from_arrays([idx, texts.finish()], names=["turn_idx", "text"])
for fn in (
    make_extract_batch_fn(), make_extract_with_metadata_batch_fn(), make_metadata_batch_fn(),
    map_batches(textstats._language_of, textstats.LANG_NGRAM_COLUMNS),
):
    (out,) = fn(iter([batch]))
    assert out.num_rows == 3

# payloads: a JPEG with a SOF0 header, a RIFF/WAVE and an ISO-BMFF header
jpeg = b"\\xff\\xd8\\xff\\xc0\\x00\\x0b\\x08\\x01\\xe0\\x02\\x80\\x01\\x01\\x11\\x00\\xff\\xd9"
wav = (
    b"RIFF" + (36).to_bytes(4, "little") + b"WAVE" + b"fmt " + (16).to_bytes(4, "little") + bytes(8)
    + (16000).to_bytes(4, "little") + bytes(4) + b"data" + (8000).to_bytes(4, "little")
)
mp4 = b"\\x00\\x00\\x00\\x10ftypisom\\x00\\x00\\x02\\x00"
data = jpeg + wav + mp4
offsets = array("i", [0, len(jpeg), len(jpeg) + len(wav), len(data)])
payloads = pa.Array.from_buffers(pa.binary(), 3, [None, pa.py_buffer(offsets), pa.py_buffer(data)])
media = pa.RecordBatch.from_arrays([payloads], names=["text"])
(dims,) = map_batches(multimodal.jpeg_dimensions, multimodal.JPEG_COLUMNS)(iter([media]))
assert dims.column("width").to_pylist() == [640, None, None], dims
(durs,) = map_batches(multimodal._duration_of, multimodal.DURATION_COLUMNS)(iter([media]))
assert durs.column("duration_s").to_pylist() == [None, 0.5, None], durs
print("pandas" in sys.modules, "pyarrow.compute" in sys.modules)
"""


def test_batch_functions_run_without_pandas():
    """Importing the package and running the extraction, metadata,
    lang-id, JPEG and duration batch functions loads no pandas, nor
    pyarrow.compute (~4k objects a worker would import after its heap
    froze)."""
    proc = subprocess.run(
        [sys.executable, "-c", NO_PANDAS_PROBE], cwd=REPO, env=dict(os.environ, PYTHONPATH=REPO),
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.split() == ["False", "False"]


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
    batch = _turns()
    for factory in (extract.make_extract_batch_fn, extract.make_extract_with_metadata_batch_fn):
        calls.clear()
        (out,) = factory()(iter([batch]))
        tiers = out.column("tier").to_pylist()
        gated = sum(tier in ("null_input", "discarded_size") for tier in tiers)
        assert len(calls) == len(tiers) - gated > 0


def test_operators_call_the_factory_on_the_module(spark, monkeypatch):
    df = spark.createDataFrame(_rows(1), SCHEMA)
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
