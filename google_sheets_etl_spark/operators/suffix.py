"""Variable-length EXACT substring dedup — the Lee et al. 2021
("Deduplicating Training Data Makes Language Models Better",
arXiv:2107.06499) training-data pass the ``span_dedup`` family only
approximates: find every maximal span whose length-``min_len`` windows
all occur elsewhere in the corpus, at any alignment, across documents.

Reference parity note: the reference engine (PHP ETL, see
``GoogleSheetsAgent.php``) has no text surface — this module is part
of the training-data-pipeline extension set. ``cleaning.py:149``
documents that ``span_dedup`` trades away "suffix-array cost" by
fixing span boundaries; this module pays that cost, distributed.

Algorithm — Karp–Rabin window hashes, then an exact content verdict:

- one Arrow kernel pass (``mapInArrow``) turns each document's symbol
  sequence (the code points of a text, or a token-id array) into one
  ``(doc, pos, h)`` row per window start, 24 B a position and O(n)
  per document for ANY window length: with prefix sums
  ``P[j] = Σ_{i<j} (s_i + 1)·B^i`` in wrapping ``uint64`` arithmetic,
  the window at ``i`` hashes to ``(P[i+L] − P[i])·B^(−i)`` (``B`` is
  odd, so its inverse mod 2^64 exists). Equal windows hash equal;
- positions whose hash occurs >= ``min_count`` times corpus-wide
  survive. Only survivors get their window content, taken in one pass
  per document, and the content count decides: a hash admits a
  window, its content decides (a collision — mod-2^64 polynomial
  hashes have constructible ones, e.g. a Thue–Morse block and its
  complement — only admits windows the content count then drops);
- duplicated window starts merge into maximal spans per document
  (gaps-and-islands).

Why fixed-L window marking equals "duplicated substring of length
>= L": any substring of length M >= L occurring twice covers all its
L-windows twice, so both occurrences are marked end to end and merge
into one span; conversely every marked char sits inside some
duplicated L-window. This is exactly the byte-range-removal semantics
the Lee et al. pipeline applies (their suffix array also only feeds
"which byte ranges are covered by a >=L duplicate").

Scale shape (100 TB): the hash stream is one narrow pass over the
corpus, cut once; the hash and content counts partial-aggregate
map-side (a hot window collapses to one partial row per task), and
the planner and AQE choose each semi-join's physical form from real
sizes, so a duplicated set as large as the corpus is a shuffle
semi-join, not a broadcast. For token corpora run the same pass over
per-TOKEN rows (ids from ``token_vocabulary``) — 5-10x fewer rows for
the same dedup semantics (Lee et al. use 50 tokens).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

# Karp–Rabin base: odd, so it is a unit mod 2^64 and B^(-i) exists
_B = 0x9E3779B97F4A7C15
_B_INV = pow(_B, -1, 1 << 64)
# symbols hashed per numpy pass (a longer document is one pass alone):
# bounds a worker's prefix-sum and power arrays
_CHUNK = 1 << 20


def _validate(min_len: int, min_count: int) -> None:
    if min_len < 2:
        raise ValueError(f"duplicate_spans: min_len must be >= 2, got {min_len}")
    if min_count < 2:
        raise ValueError(
            f"duplicate_spans: min_count must be >= 2, got {min_count}"
        )


def _powers(base: int, n: int) -> np.ndarray:
    """``base^0 .. base^(n-1)`` mod 2^64."""
    out = np.ones(n, np.uint64)
    if n > 1:
        np.cumprod(np.full(n - 1, base, np.uint64), out=out[1:])
    return out


def _window_hashes(
    syms: np.ndarray, min_len: int, starts: np.ndarray
) -> np.ndarray:
    """Karp–Rabin hashes (``uint64``) of the length-``min_len`` windows
    of the flat ``uint64`` symbol array ``syms`` at index ``starts``:
    ``(P[i+L] − P[i])·B^(−i)`` = ``Σ_{j<L} (s_{i+j} + 1)·B^j``, which
    does not depend on ``i`` — so documents can be concatenated."""
    n = len(syms)
    p = np.zeros(n + 1, np.uint64)
    np.cumsum((syms + 1) * _powers(_B, n), out=p[1:])
    return (p[starts + min_len] - p[starts]) * _powers(_B_INV, n)[starts]


def _symbols(col: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(flat ``uint64`` symbols, per-row offsets) of a string column
    (code points — Python ``str`` indexing counts them as ``substr``
    does; NULL is empty) or a list-of-ids column."""
    if pa.types.is_string(col.type):
        texts = [t or "" for t in col.to_pylist()]
        lens = np.fromiter(map(len, texts), np.int64, len(texts))
        syms = np.frombuffer(
            "".join(texts).encode("utf-32-le"), "<u4"
        ).astype(np.uint64)
    else:
        lens = pc.list_value_length(col).fill_null(0).to_numpy()
        syms = pc.list_flatten(col).to_numpy().astype(np.uint64)
    offs = np.zeros(len(lens) + 1, np.int64)
    np.cumsum(lens, out=offs[1:])
    return syms, offs


def _hash_kernel(min_len: int):
    """``mapInArrow`` kernel: ``(doc, base, s)`` rows -> one
    ``(doc, pos, h)`` row per length-``min_len`` window, ``pos`` the
    window's first symbol counted from ``base``."""

    def kernel(batches):
        for rb in batches:
            syms, offs = _symbols(rb.column(2))
            base = rb.column(1).to_numpy()
            a = 0
            while a < rb.num_rows:
                b = max(a + 1, int(np.searchsorted(offs, offs[a] + _CHUNK, "right")) - 1)
                o = offs[a:b + 1] - offs[a]
                c = np.maximum(np.diff(o) - min_len + 1, 0)
                row = np.repeat(np.arange(a, b), c)
                # window starts, indexed into this chunk's symbols
                g = np.arange(c.sum()) + np.repeat(o[:-1] - np.cumsum(c) + c, c)
                h = _window_hashes(syms[offs[a]:offs[b]], min_len, g)
                yield pa.RecordBatch.from_arrays(
                    [
                        rb.column(0).take(row),
                        pa.array(g - (offs[row] - offs[a]) + base[row], pa.int64()),
                        pa.array(h.view(np.int64)),
                    ],
                    names=["doc", "pos", "h"],
                )
                a = b

    return kernel


def _hash_stream(seqs: DataFrame, min_len: int) -> DataFrame:
    doc = seqs.schema["doc"].dataType
    return seqs.mapInArrow(
        _hash_kernel(min_len),
        StructType([
            StructField("doc", doc), StructField("pos", LongType()),
            StructField("h", LongType()),
        ]),
    )


def _char_seqs(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return docs.select(
        F.col(id_col).alias("doc"),
        F.lit(1).cast("long").alias("base"),
        F.col(text_col).alias("s"),
    )


def duplicate_spans(
    docs: DataFrame,
    min_len: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
) -> DataFrame:
    """Maximal duplicated spans (window length ``min_len``, >=
    ``min_count`` occurrences corpus-wide) per document.

    Returns ``(doc_id, span_start, span_end, span_len)`` with 1-based
    INCLUSIVE character positions (``substr(text, span_start,
    span_len)`` is the span), MATERIALIZED via checkpoint (lineage
    truncated; span-table-sized, its blocks are reclaimed when the
    DataFrame is garbage-collected) — the intermediate cuts are
    released explicitly before return. Cuts use the reliable
    ``checkpoint()`` when ``sparkContext.setCheckpointDir`` is
    configured (survives executor loss — set it on a real cluster),
    else ``localCheckpoint``."""
    _validate(min_len, min_count)
    return _window_spans(
        _char_seqs(docs, text_col, id_col), min_len, min_count, id_col
    )


def duplicate_spans_tokens(
    tokens: DataFrame,
    min_len: int,
    id_col: str = "doc_id",
    pos_col: str = "pos",
    tok_col: str = "tok_id",
    min_count: int = 2,
) -> DataFrame:
    """:func:`duplicate_spans` over a TOKEN stream: one row per (doc,
    1-based token position, small integer token id), spans returned in
    TOKEN coordinates. This is the grain Lee et al. actually run (their
    50-token threshold): 5-10x fewer positions than the char pass for
    the same dedup semantics.

    Each document's id array is assembled once (one exchange, keyed
    doc); positions are the dense token grid from the document's first
    position. Token ids must lie in ``[0, 2^21)`` (true for any real
    vocabulary — 2M entries), enforced per row with a raise."""
    _validate(min_len, min_count)
    lim = (1 << 21) - 1
    syms = tokens.select(
        F.col(id_col).alias("doc"),
        F.col(pos_col).cast("long").alias("pos"),
        F.when(
            (F.col(tok_col) >= 0) & (F.col(tok_col) <= lim),
            F.col(tok_col).cast("long"),
        )
        .otherwise(
            F.raise_error(F.lit(
                "duplicate_spans_tokens: token id outside [0, 2^21)"
            ))
        )
        .alias("u"),
    )
    seqs = syms.groupBy("doc").agg(
        F.min("pos").alias("base"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "u"))),
            lambda s: s["u"],
        ).alias("s"),
    )
    return _window_spans(seqs, min_len, min_count, id_col)


def _window_spans(
    seqs: DataFrame, min_len: int, min_count: int, id_col: str
) -> DataFrame:
    """The one body behind both grains: ``seqs`` is ``(doc, base, s)``,
    ``s`` a document's text or id array and ``base`` its first
    position. Marks every window start whose content occurs >=
    ``min_count`` times corpus-wide, EXACTLY, and returns the merged
    spans.

    - ``hs``: the hash stream, computed once and cut (the hash count
      and the survivor probe both read it);
    - ``dup_h``: hashes with >= min_count occurrences — an 8-byte-key
      count whose partial aggregation absorbs hot keys task-locally.
      A collision only ADMITS a window (a truly duplicated window's
      hash class counts at least its own occurrences);
    - ``cont``: the survivors' window content, sliced per document
      from ``seqs`` joined with its survivor positions, and cut (the
      content count and the final mark both read it);
    - ``dup_w``: the EXACT verdict, the content count over survivors —
      partial aggregation again absorbs hot keys; collisions admitted
      by ``dup_h`` die here.

    No join side is hinted: the planner and AQE pick broadcast or
    shuffle from real sizes."""
    _cut, _free = _cut_tools(seqs)
    hs, hs_ids = _cut(_hash_stream(seqs, min_len))
    dup_h = hs.groupBy("h").count().filter(F.col("count") >= min_count)
    surv = (
        hs.join(dup_h, "h", "left_semi")
        .groupBy("doc")
        .agg(F.collect_list("pos").alias("ps"))
    )
    # the document's symbols as an array, projected once per document
    # (a string splits into code points) so that each survivor's
    # window is an O(L) slice of it
    chars = isinstance(seqs.schema["s"].dataType, StringType)
    sym = F.split("s", "") if chars else F.col("s")

    def window(p):
        w = F.slice("_a", (p - F.col("base") + 1).cast("int"), min_len)
        return F.struct(
            p.alias("pos"), (F.array_join(w, "") if chars else w).alias("w")
        )

    cont, cont_ids = _cut(
        seqs.join(surv, "doc")
        .select("doc", "base", "ps", sym.alias("_a"))
        .select("doc", F.inline(F.transform("ps", window)))
    )
    _free(hs_ids)
    dup_w = cont.groupBy("w").count().filter(F.col("count") >= min_count)
    marked = cont.join(dup_w, "w", "left_semi")
    out = _spans_from_marked(marked, min_len, id_col)
    _free(cont_ids)
    return out


def _cut_tools(df: DataFrame):
    """The checkpoint-cut machinery: returns ``(_cut, _free)`` where
    ``_cut`` materializes a DataFrame with TRUNCATED lineage and
    returns (df, the block ids it pinned) so a superseded cut can be
    freed deterministically (unpersist() is a
    no-op on checkpoint blocks — they belong to the RDD, not the
    cache manager), and ``_free`` releases those blocks."""
    sc = df.sparkSession.sparkContext
    jsc = sc._jsc.sc()
    use_reliable = sc.getCheckpointDir() is not None

    def _pids() -> set:
        m = jsc.getPersistentRDDs()
        it = m.keysIterator()
        out = set()
        while it.hasNext():
            out.add(it.next())
        return out

    def _cut(d: DataFrame) -> tuple[DataFrame, set]:
        before = _pids()
        cut = (d.checkpoint(eager=True) if use_reliable
               else d.localCheckpoint(eager=True))
        return cut, _pids() - before

    def _free(ids: set) -> None:
        for rid in ids:
            jsc.unpersistRDD(rid, False)

    return _cut, _free


def _spans_from_marked(
    marked: DataFrame, min_len: int, id_col: str
) -> DataFrame:
    """Duplicated-window start positions -> maximal disjoint spans,
    checkpoint-materialized.

    Gaps-and-islands per document on COVERAGE: two duplicated window
    starts whose covered char ranges overlap or touch (start delta
    <= min_len) belong to one span, so the output is the union of
    duplicated-window coverage as maximal disjoint intervals — every
    char inside a span is covered by at least one duplicated window,
    and no two spans overlap (emitting raw per-start islands would
    overlap whenever starts sit 2..min_len apart)."""
    w = Window.partitionBy("doc").orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(w) > min_len, 1
    ).otherwise(0)
    spans = (
        marked.withColumn("_grp", F.sum(brk).over(w))
        .groupBy("doc", "_grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + min_len - 1).alias("span_end"),
        )
        .select(
            F.col("doc").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
        )
    )
    _cut, _ = _cut_tools(spans)
    out, _ = _cut(spans)
    return out


def incremental_duplicate_spans(
    corpus: DataFrame,
    batch: DataFrame,
    min_len: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    touched: list | None = None,
) -> DataFrame:
    """INCREMENTAL admission for variable-length substring dedup
    (the batch-vs-corpus sibling of :func:`duplicate_spans`, matching
    ``incremental_exact_dedup`` / ``incremental_near_dup_admission``'s
    contract): find every duplicated span IN THE BATCH documents,
    counting occurrences against batch ∪ corpus — without running
    :func:`duplicate_spans` over the whole corpus.

    EXACTNESS argument: a batch window of length ``min_len`` is
    duplicated iff it occurs >= ``min_count`` times in batch ∪ corpus.
    Restricting the corpus to any SUPERSET of the documents containing
    a batch window verbatim preserves every occurrence that can
    co-count with a batch window, so running :func:`duplicate_spans`
    over batch ∪ touched-corpus and keeping batch rows is EQUAL to
    the from-scratch union run's batch rows (certified by the driver
    row's full-union oracle). The touched set here is the corpus
    documents sharing a Karp–Rabin ``min_len``-window hash with the
    batch: equal windows always hash equal (no false negative — the
    superset property holds unconditionally), a hash collision only
    admits a harmless extra document into the exact pass.
    Corpus-only duplicates are out of contract — the corpus is
    already deduplicated by the batch pipeline's own prior passes.

    Scale shape: ONE narrow corpus pass (the same window-hash kernel
    as :func:`duplicate_spans`) semi-joined with the batch's distinct
    window hashes — the planner and AQE broadcast that set when it is
    small; only matching positions' doc ids shuffle for the distinct.
    :func:`duplicate_spans` then runs over |batch| + |touched|
    documents only — touched is exactly the documents with REAL shared
    windows (modulo hash collisions), so the exact pass tracks the
    near-duplicate footprint, not the corpus. A standing
    window-hash→doc inverted index (the postings pattern) would remove
    even that one scan; this operator states the stateless contract.
    Pass ``touched`` (a list) to receive ``[n_corpus_docs_touched]``
    evidence."""
    _validate(min_len, min_count)

    def window_hashes(df: DataFrame) -> DataFrame:
        return _hash_stream(_char_seqs(df, text_col, id_col), min_len)

    seeds = window_hashes(batch).select("h").distinct()
    affected = (
        window_hashes(corpus)
        .join(seeds, "h", "left_semi")
        .select(F.col("doc").alias(id_col))
        .distinct()
    )
    touched_corpus = corpus.join(affected, id_col, "left_semi")
    if touched is not None:
        touched.append(touched_corpus.count())
    union = touched_corpus.select(id_col, text_col).unionByName(
        batch.select(id_col, text_col)
    )
    spans = duplicate_spans(
        union, min_len, text_col=text_col, id_col=id_col,
        min_count=min_count,
    )
    return spans.join(
        batch.select(id_col), id_col, "left_semi"
    )


def apply_span_removal(
    docs: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """APPLY the dedup: rewrite each document with its duplicated
    spans cut out — the byte-removal step the Lee et al. pipeline
    runs on :func:`duplicate_spans`' output. Returns
    ``(doc_id, text_clean, n_removed)``; documents without spans pass
    through with ``n_removed = 0``.

    Shape: spans collect_list per doc (bounded by spans-per-doc, not
    corpus), one join onto the document table (broadcast when the
    span table is small — the usual case; dedup output is sparse),
    then the rebuild is ONE JVM-side ``F.aggregate`` over the sorted
    span list (cursor + accumulated text) — no Python in the path,
    no shuffle beyond the join. Spans are disjoint and sorted by
    construction (coverage-union islands), which the fold relies on."""
    sp = spans.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("_sp")
    )
    joined = docs.select(id_col, text_col).join(sp, id_col, "left")
    rebuilt = F.aggregate(
        F.col("_sp"),
        F.struct(
            F.lit(1).cast("long").alias("cur"),
            F.lit("").alias("acc"),
        ),
        lambda a, s: F.struct(
            (s["span_end"] + 1).cast("long").alias("cur"),
            F.concat(
                a["acc"],
                F.col(text_col).substr(
                    a["cur"], s["span_start"] - a["cur"]
                ),
            ).alias("acc"),
        ),
        lambda a: F.concat(
            a["acc"],
            F.col(text_col).substr(
                a["cur"],
                (F.length(text_col) - a["cur"] + 1).cast("int"),
            ),
        ),
    )
    return joined.select(
        id_col,
        F.when(F.col("_sp").isNull(), F.col(text_col))
        .otherwise(rebuilt).alias("text_clean"),
        F.when(F.col("_sp").isNull(), F.lit(0).cast("long"))
        .otherwise(
            F.aggregate(
                "_sp", F.lit(0).cast("long"),
                lambda a, s: a + (s["span_end"] - s["span_start"] + 1),
            )
        ).alias("n_removed"),
    )
