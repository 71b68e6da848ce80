"""Distributed per-turn extraction: the Spark face of the kernel.

Design (SURVEY.md §7 P1, BASELINE.json north_rule):
- input: transcripts DataFrame (conv_id, turn_idx, role, text, tool, ts)
- per-turn completeness: every input turn yields one output row.  The
  reference CLI's null and file-size gates (utils.py:405-413) run in the
  batch function and label the turn (tier null_input / discarded_size,
  extracted_text NULL) instead of dropping it; only the passthrough
  columns and `text` are selected, so column pruning reaches the scan.
- the operators never repartition: whoever knows the input decides.  A
  caller whose input is skewed (one million-turn conversation in one
  split) applies `salted_repartition`, `hash(conv_id, pmod(turn_idx,
  salt))`, first (AQE balances bytes, not lxml-CPU; salting balances
  work).
- mapInArrow over Arrow record batches: Spark sees only columnar Arrow;
  the per-document DOM work happens inside the batch loop (no per-row
  Python crossing the JVM boundary).  Every operator runs the one loop
  `map_batches` of arrow_batches.py; an output column is one entry of a
  column spec (CONTENT_COLUMNS here, METADATA_COLUMNS /
  JOINED_METADATA_COLUMNS in metadata_op.py) that drives both the Arrow
  column builder and the mapInArrow schema (`map_turns`).  Passthrough
  columns go back to Spark as the input's own Arrow arrays.  Nothing on
  this path loads pandas.
- preemptive per-document deadline replacing the reference CLI's 30 s/file
  process kill (cli_utils.py / settings.cfg:37): a SIGALRM timer interrupts
  the kernel wherever it is (HTML or PDF), yielding tier='timeout'.
- worker memory is one Arrow batch (spark.sql.execution.arrow.maxBytesPerBatch)
  with the output columns built from it, plus the one document being
  extracted: map_batches drops each row's result and clears the kernel's
  string memos after the row.  A document's DOM trees are acyclic (a
  node's parent is a weak reference), so reference counting frees them
  there, with the rest of the row's objects.
- importing the package installs worker_setup's zip re-read guard in the
  worker: on CPython < 3.12 PySpark's per-task importlib.invalidate_caches()
  otherwise re-reads spark-core's jar and pyspark.zip in every task.
- importing arrow_batches, last, freezes the import-time heap (see its
  docstring): a worker imports this module when it unpickles any
  extraction batch function, before any batch exists.
"""

from __future__ import annotations

from operator import attrgetter
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType

from ..kernel import DEFAULT_OPTIONS, ExtractionResult, Options, bare_extract
from ..kernel.extract import serialize_result
from ..kernel.settings import ExtractionTimeout, arm_deadline, disarm_deadline
from .arrow_batches import map_batches, map_turns

# fixed wrapping convention (FIXTURES.md): load_html rejects bare
# single-block fragments, so turns are wrapped identically everywhere
WRAP_PREFIX = "<html><body>"
WRAP_SUFFIX = "</body></html>"

DEFAULT_TIMEOUT_SECS = 30.0
# turn_idx buckets per conv_id in salted_repartition
SALT_BUCKETS = 64

# Output column spec: (name, Spark type, nullable, getter of one row's
# result).  map_batches builds the Arrow columns from it, map_turns
# declares the mapInArrow schema from it.
CONTENT_COLUMNS = [
    ("extracted_text", StringType(), True, attrgetter("text")),
    ("tier", StringType(), False, attrgetter("tier")),
    ("chars_kept", IntegerType(), False, attrgetter("chars_kept")),
]


def wrap_turn(text: str) -> str:
    return f"{WRAP_PREFIX}{text}{WRAP_SUFFIX}"


def wrap_if_fragment(text: str) -> str:
    """Full documents pass through; bare fragments get the standard wrap.

    A page is a full document when it starts with `<html` OR a doctype
    declaration — re-wrapping a doctype-prefixed page would nest its real
    `<head>` inside a second `<html><body>` shell where the meta scanners
    don't look (reference load_html handles both, utils.py:234-278).
    PDF payloads (%PDF- magic, possibly whitespace-prefixed) also pass
    through: the kernel routes them to the content-stream text reader
    (kernel/pdftext.py), not the HTML parse."""
    head = text[:1024].lstrip()[:15]
    if not head:  # >1 KB of leading whitespace: fall back to a full strip
        head = text.lstrip()[:15]
    if head[:5] == "%PDF-":
        return text
    head = head.lower()
    if head.startswith("<html") or head.startswith("<!doctype"):
        return text
    return wrap_turn(text)


def extract_one_result(
    text: Optional[str], options: Options, timeout: float = DEFAULT_TIMEOUT_SECS
):
    """Extract a single turn; returns the kernel ExtractionResult (incl.
    the metadata object when options.with_metadata is set — extracted
    from the SAME parse as the content, kernel/extract.py bare_extract).

    The per-document bound is PREEMPTIVE: a SIGALRM timer armed around
    the kernel call (kernel/settings.py arm_deadline) interrupts it after
    ``timeout`` seconds of wall time, HTML or PDF, so a pathological
    document yields tier='timeout' instead of stalling an executor core —
    the reference CLI's hard 30 s/file kill (settings.cfg:37,
    cli_utils.py:431-437).  None = unbounded; main thread only."""
    if text is None:
        return ExtractionResult(None, "null_input", 0, 0)
    # size gate: the reference CLI's is_acceptable_length (utils.py:405-413,
    # settings.cfg:7-8) discards before extraction; keep the row, null the text
    wrapped = wrap_if_fragment(text)
    if len(wrapped) < options.min_file_size or len(wrapped) > options.max_file_size:
        return ExtractionResult(None, "discarded_size", 0, 0)
    if timeout is not None:
        if timeout <= 0:
            return ExtractionResult(None, "timeout", 0, 0)
        arm_deadline(timeout)
    try:
        result = bare_extract(wrapped, options)
        if options.format not in ("txt", "markdown") and result.text is not None:
            # non-text formats (xml/json/csv/html/xmltei) serialize through
            # the same dispatcher as the extract() facade, so a format job
            # on the cluster emits per-turn strings byte-identical to the
            # single-document API.  txt/markdown stay plain here even with
            # metadata: the operator surfaces metadata as COLUMNS
            # (extract_with_metadata), not YAML front matter.
            serialized = serialize_result(result, options)
            return ExtractionResult(
                serialized,
                result.tier,
                len(serialized) if serialized else 0,
                result.len_comments,
                metadata=result.metadata,
            )
        return result
    except ExtractionTimeout:
        tier = "timeout"  # the reference's 30 s/file kill yields no output
    except Exception:
        tier = "error"
    finally:
        if timeout is not None:
            disarm_deadline()
    # built once the timer is off: ExtractionResult.__init__ is kernel code
    return ExtractionResult(None, tier, 0, 0)


def make_extract_batch_fn(options: Options = DEFAULT_OPTIONS):
    "mapInArrow function emitting the passthrough columns + CONTENT_COLUMNS."
    return map_batches(lambda text: extract_one_result(text, options), CONTENT_COLUMNS)


def salted_repartition(df: DataFrame) -> DataFrame:
    """Repartition on hash(conv_id, turn-bucket) so heavy conversations
    spread across partitions (north_rule: conv_id-salted repartitioning);
    the partition count is Spark's (``spark.sql.shuffle.partitions``).

    Extraction is per-turn, so co-locating a conversation is unnecessary;
    the salt prevents the opposite failure (one giant conv_id in one
    partition when a later stage partitions by conv_id alone).  The
    extraction operators never call it: a caller that knows its input is
    skewed or badly split applies it in front of them.
    """
    salt = F.pmod(F.col("turn_idx"), F.lit(SALT_BUCKETS))
    return df.repartition(F.col("conv_id"), salt)


def extract_transcripts(
    df: DataFrame,
    options: Options = DEFAULT_OPTIONS,
    passthrough_cols: Optional[list] = None,
) -> DataFrame:
    """Full extraction operator: passthrough columns + CONTENT_COLUMNS,
    one output row per input turn (rows the reference would discard
    carry extracted_text=NULL plus a tier label)."""
    return map_turns(df, make_extract_batch_fn(options), CONTENT_COLUMNS, passthrough_cols)


def make_extract_with_metadata_batch_fn(options: Options = DEFAULT_OPTIONS):
    """Batch function emitting extraction AND metadata columns in one
    mapInArrow pass — the reference's bare_extraction(with_metadata=True)
    shape.  One table scan, one Arrow crossing, and ONE HTML PARSE per
    document serve both outputs: bare_extract runs with with_metadata set
    and returns the metadata object extracted from the same parsed tree
    (running the two standalone operators costs two of each)."""
    from .metadata_op import JOINED_METADATA_COLUMNS

    options = options.copy(with_metadata=True)
    return map_batches(lambda text: extract_one_result(text, options), CONTENT_COLUMNS + JOINED_METADATA_COLUMNS)


def extract_with_metadata(
    df: DataFrame,
    options: Options = DEFAULT_OPTIONS,
    passthrough_cols: Optional[list] = None,
) -> DataFrame:
    "Combined content + metadata extraction in a single Arrow stage."
    from .metadata_op import JOINED_METADATA_COLUMNS

    fn = make_extract_with_metadata_batch_fn(options)
    return map_turns(df, fn, CONTENT_COLUMNS + JOINED_METADATA_COLUMNS, passthrough_cols)


def assemble_conversations(extracted: DataFrame, role_col: str = None) -> DataFrame:
    """Assemble per-turn extraction output back into ONE training
    document per conversation — the last mile of the transcript
    pipeline: turns join in ``turn_idx`` order separated by blank lines,
    discarded turns (NULL text) are skipped but still counted, so
    (n_turns, n_kept) records how much of the conversation survived the
    cascade.

    ``role_col`` (the transcripts schema's role column, carried through
    extraction via passthrough_cols) prefixes each turn "role: text" —
    the chat-style training-document format.

    100 TB shape: one shuffle keyed by conv_id; ordering happens INSIDE
    each group via array_sort over (turn_idx, text) structs — no global
    sort, no window."""
    # A NULL role must not null out a kept turn via concat's
    # null-propagation (n_kept counts non-null TEXT, so the assembled
    # document would silently lose a counted turn): fall back to the
    # bare text when the role is missing.
    text = F.col("extracted_text")
    text_expr = (
        F.when(
            F.col(role_col).isNotNull(),
            F.concat(F.col(role_col), F.lit(": "), text),
        ).otherwise(text)
        if role_col
        else text
    )
    turns = F.array_sort(
        F.collect_list(F.struct(F.col("turn_idx").alias("i"), text_expr.alias("t")))
    )
    return (
        extracted.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.count(text).alias("n_kept"),
            turns.alias("_turns"),
        )
        .select(
            "conv_id",
            "n_turns",
            "n_kept",
            F.array_join(
                F.transform(
                    F.filter(F.col("_turns"), lambda s: s["t"].isNotNull()),
                    lambda s: s["t"],
                ),
                "\n\n",
            ).alias("conversation_text"),
        )
    )


def postprocess_conversations(
    convs: DataFrame,
    dedup_lines: int = 0,
    c4_clean: bool = False,
    scrub_pii: bool = False,
    text_col: str = "conversation_text",
    id_col: str = "conv_id",
) -> DataFrame:
    """Post-assembly cleaning pipeline over conversation documents, in
    the order a training pipeline runs them: corpus-level boilerplate
    line removal (``dedup_lines`` = min distinct-conversation frequency;
    the only shuffling stage) -> C4 line/document rules (adds the
    ``c4_keep`` verdict, rewrites the text to the surviving lines; rows
    are never dropped here — filter downstream) -> PII scrubbing (adds
    ``n_pii``, replaces emails/IPv4s/phones with typed placeholders).

    The C4 and PII stages are pure projections (zero extra shuffle); the
    exposed entrypoint flags --dedup-lines/--c4-clean/--scrub-pii map
    1:1 onto the arguments (tools/submit_extract.py)."""
    text = F.col(text_col)
    if dedup_lines:
        from .dedup import line_dedup

        # skip_empty: conversations join turns with '\n\n', so the blank
        # separator line occurs in EVERY multi-turn document — without the
        # exclusion it is censused as boilerplate once min_doc_freq
        # conversations exist and turn separation collapses to single '\n'
        dd = line_dedup(
            convs.select(F.col(id_col).alias("doc_id"), text.alias("text")),
            min_doc_freq=dedup_lines,
            skip_empty=True,
        )
        convs = convs.drop(text_col).join(
            dd.select(
                F.col("doc_id").alias(id_col),
                F.col("kept_text").alias(text_col),
                F.col("n_removed").alias("n_boilerplate_removed"),
            ),
            id_col,
        )
    if c4_clean:
        from .textstats import c4_clean_text, c4_keep

        convs = convs.withColumn("c4_keep", c4_keep(text)).withColumn(
            text_col, c4_clean_text(text)
        )
    if scrub_pii:
        from .textstats import pii_count, pii_scrubbed

        convs = convs.withColumn("n_pii", pii_count(text).cast("int")).withColumn(
            text_col, pii_scrubbed(text)
        )
    return convs

