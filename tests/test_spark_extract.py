"""Spark layer: the distributed extraction must equal the local kernel
per turn under stable (conv_id, turn_idx) ordering — the operational
per-row invariant (BASELINE.json input_hint) evidenced in-sandbox.
"""

import pytest

from trafilatura_spark.fixtures import generate_rows, transcripts_df
from trafilatura_spark.kernel import DEFAULT_OPTIONS
from trafilatura_spark.operators.extract import extract_one_result, extract_transcripts, salted_repartition

N_CONVS = 30


@pytest.fixture(scope="module")
def spark_output(spark):
    df = transcripts_df(spark, N_CONVS, num_slices=4)
    out = extract_transcripts(salted_repartition(df))
    rows = out.orderBy("conv_id", "turn_idx").collect()
    return rows


def local_expected():
    expected = {}
    for conv_id, turn_idx, role, text, tool, ts in generate_rows(N_CONVS):
        r = extract_one_result(text, DEFAULT_OPTIONS)
        expected[(conv_id, turn_idx)] = (r.text, r.tier, r.chars_kept)
    return expected


def test_per_turn_equality(spark_output):
    "100% per-turn text equality between distributed and local execution."
    expected = local_expected()
    assert len(spark_output) == len(expected)
    mismatches = []
    for row in spark_output:
        key = (row.conv_id, row.turn_idx)
        etext, tier, chars = expected[key]
        if row.extracted_text != etext or row.tier != tier or row.chars_kept != chars:
            mismatches.append((key, row.tier, tier))
    assert not mismatches, f"{len(mismatches)} turns diverge: {mismatches[:5]}"


def test_null_alignment(spark_output):
    "Discarded turns surface as NULL text with a tier label, never dropped."
    expected = local_expected()
    nulls = [r for r in spark_output if r.extracted_text is None]
    assert nulls, "corpus should contain discarded turns"
    for r in nulls:
        assert expected[(r.conv_id, r.turn_idx)][0] is None
        assert r.tier in ("discarded", "discarded_size", "null_input", "unparseable", "error")


def test_stable_ordering(spark_output):
    keys = [(r.conv_id, r.turn_idx) for r in spark_output]
    assert keys == sorted(keys)


def test_tier_coverage(spark_output):
    "Genres designed to hit each major tier actually do (FIXTURES.md §4)."
    tiers = {r.tier for r in spark_output}
    assert "main" in tiers
    assert "baseline" in tiers
    assert "discarded" in tiers
    assert "escalation_recall" in tiers
    # at least one external comparator tier engaged
    assert tiers & {"readability", "justext"}


def test_every_turn_has_row(spark, spark_output):
    df = transcripts_df(spark, N_CONVS, num_slices=4)
    assert df.count() == len(spark_output)


def test_plan_shape(spark):
    "The physical plan keeps scan-side work out of Python: one Arrow stage."
    df = transcripts_df(spark, 5, num_slices=2)
    out = extract_transcripts(salted_repartition(df))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1 and "MapInPandas" not in plan


# a raise that lands in a GC finalizer (py4j's JavaObject weakref
# callbacks run in this process) is swallowed as unraisable: fail on it
@pytest.mark.filterwarnings("error::pytest.PytestUnraisableExceptionWarning")
def test_timeout_guard_preemptive():
    """A pathological document is ABORTED in bounded wall time (the
    reference's 30 s/file kill yields no output), not merely labeled."""
    import time

    from trafilatura_spark.operators.extract import extract_one_result
    from trafilatura_spark.kernel import DEFAULT_OPTIONS

    # spent deadline: nothing is extracted
    text = "<article>" + "".join(f"<p>Paragraph {i} text content here.</p>" for i in range(300)) + "</article>"
    r = extract_one_result(text, DEFAULT_OPTIONS, timeout=0.0)
    assert r.tier == "timeout"
    assert r.text is None and r.chars_kept == 0

    # slow doc (thousands of elements through the full cascade takes
    # seconds): a 50 ms deadline must abort it in well under a second
    slow = "<div>" + "".join(
        f"<div class=\"c{i}\"><p>Short {i}</p><span>x</span></div>" for i in range(4000)
    ) + "</div>"
    t0 = time.monotonic()
    r = extract_one_result(slow, DEFAULT_OPTIONS, timeout=0.05)
    wall = time.monotonic() - t0
    assert r.tier == "timeout"
    assert wall < 1.0, f"preemption took {wall:.2f}s"

    # and without a deadline the same doc completes normally
    r2 = extract_one_result(slow, DEFAULT_OPTIONS, timeout=None)
    assert r2.tier != "timeout" and r2.text


def test_timeout_in_the_python_worker(spark, monkeypatch):
    """The deadline holds where PySpark runs the batch function: a
    nested-table document stops at a 2 s deadline inside the worker, and
    the next turn of the same batch extracts normally."""
    import time
    from functools import partial

    from trafilatura_spark.operators import extract

    def with_2s_deadline(options=DEFAULT_OPTIONS):
        row_fn = partial(extract.extract_one_result, options=options, timeout=2.0)
        return extract.map_batches(row_fn, extract.CONTENT_COLUMNS)

    monkeypatch.setattr(extract, "make_extract_batch_fn", with_2s_deadline)
    # 2000 levels: ~8 s of CPU unbounded (1000 levels now finish in ~1.5 s)
    nested = "<table><tr><td>x " * 2000 + "text" + "</td></tr></table>" * 2000
    normal = "<article>" + "".join(f"<p>Paragraph {i} with enough words to count.</p>" for i in range(20)) + "</article>"
    df = spark.createDataFrame([("c", 0, nested), ("c", 1, normal)], "conv_id string, turn_idx int, text string")
    out = extract_transcripts(df.coalesce(1))
    t0 = time.monotonic()
    rows = out.orderBy("turn_idx").collect()
    wall = time.monotonic() - t0
    assert [r.tier for r in rows] == ["timeout", "main"]
    assert rows[0].extracted_text is None and rows[1].extracted_text
    # ~3 s with a warm worker, ~9 s with a cold one (4-vCPU VM)
    assert wall < 15.0, f"worker job took {wall:.1f}s with a 2 s deadline"


def test_assemble_conversations_order_and_counts(spark):
    """Conversation assembly: turn order preserved, NULL (discarded)
    turns skipped but counted, one shuffle keyed by conv_id."""
    from trafilatura_spark.operators.extract import assemble_conversations

    rows = [
        ("c1", 2, "third"), ("c1", 0, "first"), ("c1", 1, None),
        ("c2", 0, None), ("c2", 1, None),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, extracted_text string")
    out = {r.conv_id: r for r in assemble_conversations(df).collect()}
    assert out["c1"].conversation_text == "first\n\nthird"
    assert out["c1"].n_turns == 3 and out["c1"].n_kept == 2
    assert out["c2"].conversation_text == "" and out["c2"].n_kept == 0
    plan = assemble_conversations(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1  # the one conv_id shuffle


def test_operator_csv_html_tei_formats(spark):
    """The remaining non-text formats also flow through the operator's
    shared dispatcher: csv rows are tab-separated records, html wraps in
    <html><body>, xmltei yields a full TEI document per turn."""
    from trafilatura_spark.kernel import Options
    from trafilatura_spark.operators.extract import extract_transcripts

    body = "<article><h2>T</h2><p>" + "tok " * 40 + "</p></article>"
    df = spark.createDataFrame(
        [("c1", 0, body)], "conv_id string, turn_idx int, text string"
    )
    csv_row = extract_transcripts(
        df, options=Options(format="csv", min_extracted_size=0)
    ).collect()[0]
    assert "\t" in csv_row.extracted_text and "tok tok" in csv_row.extracted_text
    html_row = extract_transcripts(
        df, options=Options(format="html", min_extracted_size=0)
    ).collect()[0]
    assert html_row.extracted_text.startswith("<html>")
    tei_row = extract_transcripts(
        df, options=Options(format="xmltei", min_extracted_size=0)
    ).collect()[0]
    assert tei_row.extracted_text.startswith('<TEI xmlns="http://www.tei-c.org/ns/1.0">')
    assert '<div type="entry">' in tei_row.extracted_text


def test_assemble_conversations_role_tagging(spark):
    "role_col prefixes each kept turn 'role: text' (chat-document format)."
    from trafilatura_spark.operators.extract import assemble_conversations

    rows = [("c1", 0, "hi", "user"), ("c1", 1, "hello", "assistant"), ("c1", 2, None, "user")]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, extracted_text string, role string"
    )
    out = assemble_conversations(df, role_col="role").collect()[0]
    assert out.conversation_text == "user: hi\n\nassistant: hello"
    assert out.n_turns == 3 and out.n_kept == 2


def test_assemble_conversations_null_role_keeps_turn(spark):
    """A turn with non-NULL text but NULL role must survive assembly as
    bare text (concat null-propagation previously dropped it from the
    document while n_kept still counted it — ADVICE r5)."""
    from trafilatura_spark.operators.extract import assemble_conversations

    rows = [("c1", 0, "hi", "user"), ("c1", 1, "orphan line", None)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, extracted_text string, role string"
    )
    out = assemble_conversations(df, role_col="role").collect()[0]
    assert out.conversation_text == "user: hi\n\norphan line"
    assert out.n_turns == 2 and out.n_kept == 2


@pytest.mark.parametrize("large_var_types", [False, True], ids=["string", "large_string"])
def test_arrow_output_columns(spark, large_var_types):
    """The mapInArrow batch loop's column builders, through Spark:
    list<string> rows that are None, [] or values; a null text; int32
    chars_kept; a timestamp passthrough with nulls that comes back equal
    to the input; under both Arrow string layouts Spark can send."""
    import datetime

    import pyarrow as pa

    from trafilatura_spark.operators.extract import extract_with_metadata, make_extract_batch_fn
    from trafilatura_spark.operators.metadata_op import _metadata_of, extract_metadata_columns

    words = "<p>" + "Enough words in this paragraph for the extractor to keep it. " * 6 + "</p>"
    tagged = (
        '<html><head><title>Tagged page</title><meta property="article:section" content="Science">'
        '<meta name="keywords" content="alpha, beta"></head><body><article>' + words + "</article></body></html>"
    )
    plain = "<html><head><title>Plain page</title></head><body><article>" + words + "</article></body></html>"
    ts = datetime.datetime(2024, 5, 17, 8, 30, 15, 123456)
    rows = [("tagged", 0, tagged, ts), ("plain", 1, plain, None), ("null", 2, None, ts), ("short", 3, "<p>hi</p>", None)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string, ts timestamp").coalesce(1)
    passthrough = ["conv_id", "turn_idx", "ts"]

    meta = {r[0]: _metadata_of(r[2]) for r in rows}
    assert meta["tagged"].categories and meta["tagged"].tags, "the tagged page must carry list values"
    assert meta["plain"].categories == [] and meta["null"] is None

    conf = "spark.sql.execution.arrow.useLargeVarTypes"
    spark.conf.set(conf, str(large_var_types).lower())
    try:
        content = {r.conv_id: r for r in extract_with_metadata(df, passthrough_cols=passthrough).collect()}
        columns = {r.conv_id: r for r in extract_metadata_columns(df, passthrough_cols=passthrough).collect()}
    finally:
        spark.conf.unset(conf)

    expected_ts = {r[0]: r[3] for r in rows}
    for out in (content, columns):
        assert sorted(out) == sorted(expected_ts)
        assert {key: r.ts for key, r in out.items()} == expected_ts
        assert {key: r.turn_idx for key, r in out.items()} == {r[0]: r[1] for r in rows}
    for key, m in meta.items():
        assert columns[key].categories == (m.categories if m else None), key
        assert columns[key].tags == (m.tags if m else None), key
        assert columns[key].title == (m.title if m else None), key
    assert columns["tagged"].categories == ["Science"]
    options = DEFAULT_OPTIONS.copy(with_metadata=True)
    for key, _, text, _ in rows:
        local = extract_one_result(text, options)
        assert (content[key].extracted_text, content[key].tier, content[key].chars_kept) == (
            local.text, local.tier, local.chars_kept), key
    assert content["null"].extracted_text is None and content["null"].tier == "null_input"
    assert content["tagged"].tags_joined == ",".join(meta["tagged"].tags)
    assert content["plain"].chars_kept == len(content["plain"].extracted_text) > 0

    # chars_kept crosses as int32, the Arrow type of the IntegerType map_turns declares
    batch = pa.RecordBatch.from_arrays([pa.array([r[2] for r in rows])], names=["text"])
    (out,) = make_extract_batch_fn()(iter([batch]))
    assert out.schema.field("chars_kept").type == pa.int32()
