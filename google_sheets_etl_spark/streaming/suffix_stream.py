"""Continuously-ingesting SUFFIX ADMISSION: the batch operator
``suffix.incremental_duplicate_spans`` driven per micro-batch, with
the admitted corpus itself as the accumulating state — the
variable-length-substring sibling of ``admission_stream`` (semantic)
and ``quality_gate_stream`` (exact + LM gate), completing the
admission matrix: every dedup family (exact, MinHash, embedding,
semantic, suffix) now has both a batch-vs-corpus operator and a
streaming driver over it.

The deployed shape for "find duplicated spans in the firehose
against everything ever admitted": each micro-batch of documents is
scanned for maximal spans whose ``min_len``-char windows occur >= 2
times against batch ∪ admitted-corpus (ONE narrow corpus probe pass
semi-joined with the batch's window hashes — no corpus shuffle while
that set is small, the incremental operator's contract); span
verdicts append to a spans
table, the batch's documents append to the corpus table, which the
NEXT batch then sees. Work per trigger is batch-proportional plus
the exact span pass over batch ∪ touched corpus, never corpus².

At-least-once contract, made harmless the admission_stream way:
- a REDELIVERED batch (file replayed after its corpus append landed)
  is emptied by the ``left_anti`` on already-admitted doc ids — no
  spans re-append, no corpus duplicates;
- a crash BETWEEN the spans append and the corpus append replays the
  batch against the same corpus and recomputes the IDENTICAL span
  rows (the operator is deterministic), so the duplicate physical
  span rows from that window are removed by the idempotent
  ``dropDuplicates`` the reader applies (``read_spans``);
- a crash before any append replays cleanly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.suffix import incremental_duplicate_spans
from .admission_stream import _corpus_exists


def suffix_admission_stream(
    stream_df: DataFrame,
    corpus_path: str,
    spans_path: str,
    checkpoint: str,
    min_len: int = 40,
    id_col: str = "doc_id",
    text_col: str = "text",
    trigger: dict | None = None,
):
    """Attach suffix-dedup admission to a streaming DataFrame of
    ``(id_col, text_col)`` rows. Duplicate-span verdicts for each
    batch's FRESH documents append to ``spans_path``; the documents
    themselves append to ``corpus_path``. Returns the started
    StreamingQuery."""
    spark = stream_df.sparkSession

    def _apply(batch: DataFrame, batch_id: int) -> None:
        batch = batch.select(id_col, text_col).dropDuplicates([id_col])
        if not batch.head(1):
            return
        if _corpus_exists(spark, corpus_path):
            corpus = (
                spark.read.parquet(corpus_path)
                .select(id_col, text_col)
                .dropDuplicates([id_col])  # append-then-crash healing
            )
        else:  # first trigger: no corpus yet
            corpus = batch.limit(0)
        # redelivery healing: documents already admitted contribute
        # nothing — their spans were computed when they were fresh
        fresh = batch.join(
            corpus.select(id_col), id_col, "left_anti"
        )
        if not fresh.head(1):
            return
        spans = incremental_duplicate_spans(
            corpus=corpus,
            batch=fresh,
            min_len=min_len,
            text_col=text_col,
            id_col=id_col,
        )
        spans.write.mode("append").parquet(spans_path)
        fresh.write.mode("append").parquet(corpus_path)

    return (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def read_spans(spark, spans_path: str) -> DataFrame:
    """The idempotent spans read: duplicate physical rows from the
    spans-append-then-crash window collapse (the rows are
    deterministic, so duplicates are exact copies)."""
    return spark.read.parquet(spans_path).dropDuplicates()
