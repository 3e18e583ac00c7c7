"""Query registry — dedup_q section (split from the former
queries.py; see queries/__init__.py for the package map
and _core for shared helpers)."""

from ._core import *  # noqa: F401,F403 — shared registry/helpers

@q(
    "dedup_exact_groups",
    """SELECT sha256(text) AS fp, COUNT(*) AS n_copies, MIN(doc_id) AS keep_id
       FROM documents GROUP BY 1""",
)
def dedup_exact_groups(spark: SparkSession, sf: str) -> DataFrame:
    return dedup.exact_dedup_groups(t(spark, sf, "documents"))


def _minhash_oracle() -> str:
    from ..operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P

    mh = ",\n       ".join(
        f"list_min(list_transform(h, x -> ({MINHASH_A[i]} * x + {MINHASH_B[i]})"
        f" % {MINHASH_P})) AS mh_{i}"
        for i in range(4)
    )
    return f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
), sh AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(words) - 1, 1)),
                        i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]) AS s
  FROM w
), bh AS (
  SELECT doc_id,
         list_transform(s, x -> ('0x' || substr(sha256(x), 1, 8))::BIGINT) AS h
  FROM sh
)
SELECT doc_id, {mh}
FROM bh"""


@q("minhash_signatures", _minhash_oracle())
def minhash_signatures(spark: SparkSession, sf: str) -> DataFrame:
    """Universal-hash minhash over sha256-derived base hashes (4
    permutations for the oracle check; the LSH path uses 8)."""
    return dedup.minhash_signatures(t(spark, sf, "documents"), num_hashes=4)


# Candidate prefilter via inverted shingle index — LOSSLESS for any
# positive threshold (jaccard > 0 ⟺ the pair shares a shingle), and
# ~7x faster than the quadratic cross join (2 s vs 13.5 s at sf0.01;
# the evaluation driver pays oracle time too).
_JACCARD_ORACLE = """
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(string_split(text,' ')) - 1, 1)),
           i -> (string_split(text,' '))[i] || ' ' ||
                (string_split(text,' '))[i+1] || ' ' ||
                (string_split(text,' '))[i+2])) AS s
  FROM documents
), inv AS (
  SELECT doc_id, unnest(s) AS g FROM sh
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
), pairs AS (
  SELECT c.id_a, c.id_b,
         ROUND(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
               CAST(len(list_distinct(list_concat(sa.s, sb.s))) AS DOUBLE), 6) AS jaccard
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b
  WHERE len(list_distinct(list_concat(sa.s, sb.s))) > 0
)
SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.5"""


@q(
    "near_dup_jaccard_exact",
    _JACCARD_ORACLE,
    unbenched="quadratic exact twin of the benched near_dup_lsh",
)
def near_dup_jaccard_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (the verify kernel of the
    LSH path, run exhaustively — correctness-scale only)."""
    return dedup.jaccard_pairs_bruteforce(t(spark, sf, "documents"), threshold=0.5)


@q(
    "doc_containment_pairs",
    """WITH sh AS (
         SELECT doc_id,
                list_distinct(list_transform(
                  range(1, greatest(len(string_split(text,' ')) - 1, 1)),
                  i -> (string_split(text,' '))[i] || ' ' ||
                       (string_split(text,' '))[i+1] || ' ' ||
                       (string_split(text,' '))[i+2])) AS s
         FROM documents),
       f AS (SELECT doc_id, s FROM sh WHERE len(s) >= 5),
       inv AS (SELECT doc_id, unnest(s) AS g FROM f),
       cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
                FROM inv a JOIN inv b
                  ON a.g = b.g AND a.doc_id <> b.doc_id),
       scored AS (SELECT c.ia AS contained_id, c.ib AS container_id,
                         CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT)
                           AS inter,
                         CAST(len(sa.s) AS BIGINT) AS n_contained
                  FROM cand c
                  JOIN f sa ON sa.doc_id = c.ia
                  JOIN f sb ON sb.doc_id = c.ib)
       SELECT contained_id, container_id, inter, n_contained
       FROM scored WHERE inter * 100 >= 90 * n_contained""",
)
def doc_containment_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """DIRECTIONAL containment (quote/excerpt) detection
    (operators/dedup.py doc_containment_pairs): a short doc inside a
    long one has tiny Jaccard (diluted by the container) but
    containment |A∩B|/|A| near 1 — the case symmetric dedup
    structurally misses. Candidates via the inverted 3-gram index
    (uniform-key equality join, never all-pairs), verify via the
    integer-exact rational test inter·100 ≥ 90·n (no float ratio to
    drift cross-engine), min-5-gram floor against trivial
    containment. One row per direction; mutual containment yields
    both."""
    return dedup.doc_containment_pairs(t(spark, sf, "documents"))


@q("near_dup_lsh", _JACCARD_ORACLE)
def near_dup_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash-LSH banded near-dup (the 100 TB path: candidates via
    band-bucket join, exact Jaccard only on candidates).

    Oracle legitimacy (containment + recall): every output row is an
    exact-Jaccard-verified candidate, so LSH pairs ⊆ exact pairs BY
    CONSTRUCTION; at these banding parameters on this corpus recall is
    1.0 (asserted in tests/test_extensions.py), so the containment
    check collapses to equality with the exact-pair oracle."""
    return dedup.near_dup_pairs(t(spark, sf, "documents"), threshold=0.5)


_CLUSTERS_ORACLE = """
WITH RECURSIVE sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(string_split(text,' ')) - 1, 1)),
           i -> (string_split(text,' '))[i] || ' ' ||
                (string_split(text,' '))[i+1] || ' ' ||
                (string_split(text,' '))[i+2])) AS s
  FROM documents
), inv AS (
  SELECT doc_id, unnest(s) AS g FROM sh
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
), pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b
  WHERE len(list_distinct(list_concat(sa.s, sb.s))) > 0
    AND CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
        CAST(len(list_distinct(list_concat(sa.s, sb.s))) AS DOUBLE) >= 0.5
), edges AS (
  SELECT id_a AS node, id_b AS nb FROM pairs
  UNION ALL
  SELECT id_b AS node, id_a AS nb FROM pairs
), reach(node, r) AS (
  SELECT node, node FROM (SELECT DISTINCT node FROM edges) nodes
  UNION
  SELECT e.node, reach.r FROM edges e JOIN reach ON reach.node = e.nb
)
SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node"""


@q(
    "dedup_clusters_exact",
    _CLUSTERS_ORACLE,
    unbenched="quadratic exact twin of the benched near_dup_clusters_lsh",
)
def dedup_clusters_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup cluster assignment over the exact Jaccard pair list:
    connected components, cluster_id = min doc_id in the component
    ("keep one per cluster" = filter(doc_id == cluster_id)). The
    DuckDB oracle computes the same fixpoint as a recursive CTE
    (transitive reachability → MIN per node) — a genuinely iterative
    operator, cross-checked exactly. Quadratic pair input: correctness
    scale only; the benched scale path is near_dup_clusters_lsh."""
    pairs = dedup.jaccard_pairs_bruteforce(
        t(spark, sf, "documents"), threshold=0.5
    )
    return dedup.connected_components(pairs)


@q("near_dup_clusters_lsh", _CLUSTERS_ORACLE)
def near_dup_clusters_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """The 100 TB cluster-dedup path: LSH candidate pairs (never
    O(n²)) → exact-Jaccard verify → connected components. Same
    clustering kernel as the oracled exact variant; the LSH pair list
    equals the exact pair list at these parameters (recall 1.0, see
    near_dup_lsh), so the recursive-CTE cluster oracle applies to this
    path too."""
    pairs = dedup.near_dup_pairs(t(spark, sf, "documents"), threshold=0.5)
    return dedup.connected_components(pairs)


@q("incremental_dedup_clusters", _CLUSTERS_ORACLE)
def incremental_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster maintenance under continuous ingest
    (operators/dedup.py incremental_connected_components): the
    near-dup pair list splits deterministically into a 'historical'
    ~70% (clustered into the standing assignment) and a 'new batch'
    ~30% merged in WITHOUT re-clustering history — star edges preserve
    each touched component's connectivity exactly, untouched
    components pass through on one anti-join, and CC rounds run only
    over (touched ∪ batch). The refreshed assignment must EQUAL the
    full recursive-CTE clustering over every edge ever seen — the
    incremental path certified against the from-scratch oracle. Same
    LSH pair list as near_dup_clusters_lsh (recall 1.0 at these
    parameters), so the exact-pair cluster oracle applies."""
    from ..operators.ckpt import make_ckpt

    pairs = make_ckpt(None)(
        dedup.near_dup_pairs(t(spark, sf, "documents"), threshold=0.5)
        .select("id_a", "id_b")
    )
    gate = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("id_a"), F.col("id_b"))),
                1, 8,
            ), 16, 10,
        ).cast("long") % 10
    )
    hist = pairs.filter(gate < 7)
    batch = pairs.filter(gate >= 7)
    assignment = dedup.connected_components(hist)
    return dedup.incremental_connected_components(assignment, batch)


@q(
    "dedup_keep_best_quality",
    _CLUSTERS_ORACLE.replace(
        "SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node",
        """, cc AS (SELECT node AS doc_id, MIN(r) AS cluster_id
              FROM reach GROUP BY node),
       qs AS (SELECT doc_id,
                     (1000 * len(list_filter(string_split(text, ' '),
                         w -> list_contains(['the','a','of','and','to','in',
                                             'is','that','it','for'], w)))
                      - 36 * len(string_split(text, ' '))
                      - 5 * len(string_split(text, ' ')) *
                        list_max(list_transform(string_split(text, ' '),
                                                w -> len(w))))::BIGINT
                       AS quality_score
              FROM documents),
       full_docs AS (
         SELECT q.doc_id, COALESCE(cc.cluster_id, q.doc_id) AS cluster_id,
                q.quality_score
         FROM qs q LEFT JOIN cc ON q.doc_id = cc.doc_id)
       SELECT doc_id, cluster_id, quality_score,
              ROW_NUMBER() OVER (PARTITION BY cluster_id
                                 ORDER BY quality_score DESC,
                                          doc_id ASC) = 1 AS kept
       FROM full_docs""",
    ),
)
def dedup_keep_best_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-aware SURVIVOR SELECTION over near-dup clusters: the
    policy real pipelines run instead of keep-lowest-id — per
    duplicate cluster keep the HIGHEST-quality member (integer
    classifier score, doc_id tie-break); singletons are their own
    cluster and always survive. Composes the LSH cluster kernel
    (recall 1.0 at these parameters, so the exact recursive-CTE
    cluster oracle applies) with the integer quality classifier and
    one per-cluster window — cluster keys are near-dup-bounded small
    groups, so the window shuffle is uniform. Output is the full
    verdict table (doc, cluster, score, kept), not just survivors,
    so the removal set is auditable."""
    docs = t(spark, sf, "documents")
    pairs = dedup.near_dup_pairs(docs, threshold=0.5)
    cc = dedup.connected_components(pairs)
    qs = text_ops.quality_classifier(docs).select("doc_id", "quality_score")
    full = qs.join(cc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        "quality_score",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    return full.select(
        "doc_id",
        "cluster_id",
        "quality_score",
        (F.row_number().over(w) == 1).alias("kept"),
    )


_SIMHASH_ORACLE = """
WITH tok AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents
), th AS (
  SELECT doc_id, len(toks) AS n,
         ('0x' || substr(md5(unnest(toks)), 1, 15))::BIGINT AS h
  FROM tok
), votes AS (
  SELECT doc_id, b,
         SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE 0 END) * 2 > ANY_VALUE(n) AS set_bit
  FROM th CROSS JOIN range(60) r(b)
  GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(SUM(CASE WHEN set_bit THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id"""


@q("simhash64", _SIMHASH_ORACLE)
def simhash64(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash fingerprints; md5-based token hashes make the exact
    bit pattern reproducible in ANSI SQL (60 bit-vote sums)."""
    return dedup.simhash64(t(spark, sf, "documents"))


@q(
    "simhash_near_dup",
    _SIMHASH_ORACLE.replace(
        "SELECT doc_id,\n       CAST(SUM(CASE WHEN set_bit THEN "
        "(1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash\n"
        "FROM votes GROUP BY doc_id",
        """, sh AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN set_bit THEN (1::BIGINT << b) ELSE 0 END)
              AS BIGINT) AS s
  FROM votes GROUP BY doc_id)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.s, b.s)) <= 3""",
    ),
)
def simhash_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup pairs (operators/dedup.py
    simhash_near_dup_pairs — Manku et al. 2007's banded-table
    composition over the Charikar fingerprint): 10 six-bit bands give
    pigeonhole recall 1 below 10 bit errors, the exact popcount
    verify makes the bounded join EQUAL the all-pairs hamming
    relation the oracle computes at distance ≤ 3. Completes SimHash
    from fingerprint row to full dedup path — the third independent
    near-dup family (token-set MinHash, gradient dHash, bit-vote
    SimHash) sharing the band-then-verify skeleton."""
    return dedup.simhash_near_dup_pairs(
        t(spark, sf, "documents"), max_dist=3
    )


def _entity_records(spark: SparkSession, sf: str) -> DataFrame:
    """Contact-style records for the RECORD-LINKAGE row: every
    customer gets a 10-char formula name (char j =
    ``chr(97 + (k·13 + j²·5 + k·j·3) % 26)``) and its nation as the
    blocking key. Planted ground truth: every fourth customer has a
    TWIN record (id + 500000) with one name character deleted at
    position k % 10 and the SAME nation — a true duplicate entity;
    every (4t+1)-th customer has a DECOY (id + 600000) with the same
    one-edit name but a DIFFERENT nation — which blocking must
    exclude (matching typo names across nations is the classic
    record-linkage false positive)."""
    c = t(spark, sf, "customer").select(
        F.col("c_custkey").alias("k"), F.col("c_nationkey").alias("nat")
    )

    def name_col(k, dropped: bool):
        js = F.sequence(F.lit(0).cast("long"), F.lit(9).cast("long"))
        kept = F.filter(js, lambda j: F.lit(not dropped) | (j != k % 10))
        return F.concat_ws(
            "",
            F.transform(
                kept,
                lambda j: F.char(
                    F.lit(97) + (k * 13 + j * j * 5 + k * j * 3) % 26
                ),
            ),
        )

    base = c.select(
        F.col("k").alias("rec_id"), "nat",
        name_col(F.col("k"), False).alias("name"),
    )
    twins = c.filter(F.col("k") % 4 == 0).select(
        (F.col("k") + 500_000).alias("rec_id"), "nat",
        name_col(F.col("k"), True).alias("name"),
    )
    decoys = c.filter(F.col("k") % 4 == 1).select(
        (F.col("k") + 600_000).alias("rec_id"),
        ((F.col("nat") + 1) % 25).alias("nat"),
        name_col(F.col("k"), True).alias("name"),
    )
    return base.unionByName(twins).unionByName(decoys)


@q(
    "entity_match_pairs",
    """WITH c AS (SELECT c_custkey AS k, c_nationkey AS nat
                  FROM customer),
       base AS (
         SELECT k AS rec_id, nat,
                string_agg(chr(CAST(97 + (k*13 + j*j*5 + k*j*3) % 26
                                    AS INT)), '' ORDER BY j) AS name
         FROM c, range(0, 10) t(j) GROUP BY 1, 2),
       twin AS (
         SELECT k + 500000 AS rec_id, nat,
                string_agg(chr(CAST(97 + (k*13 + j*j*5 + k*j*3) % 26
                                    AS INT)), '' ORDER BY j) AS name
         FROM c, range(0, 10) t(j)
         WHERE k % 4 = 0 AND j <> k % 10 GROUP BY 1, 2),
       decoy AS (
         SELECT k + 600000 AS rec_id, (nat + 1) % 25 AS nat,
                string_agg(chr(CAST(97 + (k*13 + j*j*5 + k*j*3) % 26
                                    AS INT)), '' ORDER BY j) AS name
         FROM c, range(0, 10) t(j)
         WHERE k % 4 = 1 AND j <> k % 10 GROUP BY 1, 2),
       r AS (SELECT * FROM base UNION ALL SELECT * FROM twin
             UNION ALL SELECT * FROM decoy)
       SELECT a.rec_id AS id_a, b.rec_id AS id_b,
              CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
       FROM r a JOIN r b ON a.rec_id < b.rec_id AND a.nat = b.nat
       WHERE levenshtein(a.name, b.name) <= 1""",
)
def entity_match_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """RECORD LINKAGE (operators/dedup.py edit_distance_near_dup with
    ``block_cols`` — the blocking-key × fuzzy-field composition every
    entity-resolution pipeline runs): candidates must agree EXACTLY
    on the nation block and within edit distance 1 on the name, via
    deletion-neighborhood signatures extended with the block columns
    in the join key (blocking restricts the relation AND shrinks
    candidate fan-out). Every planted same-nation twin matches; every
    cross-nation decoy with the identical typo name is excluded — the
    false positive blocking exists to prevent, demonstrated not
    asserted. Oracle: all-pairs levenshtein within nations over
    formula-regenerated records."""
    return dedup.edit_distance_near_dup(
        _entity_records(spark, sf),
        id_col="rec_id", text_col="name", max_dist=1,
        block_cols=["nat"],
    )


def _typo_titles(spark: SparkSession, sf: str) -> DataFrame:
    """Planted-typo short strings for the fuzzy-match row: doc pairs
    (2t, 2t+1) — the even partner is a 12-char formula title (char j
    = ``chr(97 + ((base·7) % 97 + j²·3 + base·j) % 26)``, base =
    doc_id // 2; the base·j cross term keeps titles across bases from
    colliding), the odd partner is the SAME title with ONE character
    deleted at position ``base % 12`` — a planted single-edit typo.
    The oracle regenerates every title from the formula and runs
    all-pairs levenshtein — candidate generation certified against
    the full relation, not against itself."""
    d = t(spark, sf, "documents").select("doc_id")
    base = ((F.col("doc_id") - F.col("doc_id") % 2) / 2).cast("long")
    is_odd = F.col("doc_id") % 2 == 1
    js = F.sequence(F.lit(0).cast("long"), F.lit(11).cast("long"))
    kept = F.filter(js, lambda j: ~is_odd | (j != base % 12))
    title = F.concat_ws(
        "",
        F.transform(
            kept,
            lambda j: F.char(
                F.lit(97) + ((base * 7) % 97 + j * j * 3 + base * j) % 26
            ),
        ),
    )
    return d.select("doc_id", title.alias("title"))


@q(
    "fuzzy_title_near_dup",
    """WITH titles AS (
         SELECT doc_id,
                string_agg(
                  chr(CAST(97 + ((doc_id // 2) * 7 % 97 + j*j*3
                                 + (doc_id // 2) * j) % 26 AS INT)),
                  '' ORDER BY j) AS title
         FROM documents, range(0, 12) t(j)
         WHERE doc_id % 2 = 0 OR j <> (doc_id // 2) % 12
         GROUP BY doc_id)
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              CAST(levenshtein(a.title, b.title) AS BIGINT) AS dist
       FROM titles a JOIN titles b ON a.doc_id < b.doc_id
       WHERE levenshtein(a.title, b.title) <= 1""",
)
def fuzzy_title_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Fuzzy-string near-dup at edit distance ≤ 1
    (operators/dedup.py edit_distance_near_dup — FastSS deletion
    neighborhoods): each title emits itself + every single-deletion
    variant, candidates pair on signature equality (recall 1 by the
    neighborhood-intersection theorem), and the exact JVM levenshtein
    verify makes the bounded join EQUAL the all-pairs edit-distance
    relation the oracle computes. Every planted typo pair (2t, 2t+1)
    surfaces at dist 1. Entirely JVM-side — transform/explode/substr
    + one uniform-key self-join; never n²."""
    return dedup.edit_distance_near_dup(
        _typo_titles(spark, sf), id_col="doc_id", text_col="title",
        max_dist=1,
    )


@q(
    "split_leakage_audit",
    _CLUSTERS_ORACLE.replace(
        "SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node",
        """, cl AS (SELECT node AS doc_id, MIN(r) AS cluster_id
              FROM reach GROUP BY node),
       sp AS (SELECT doc_id,
                     CASE WHEN b < 98 THEN 'train'
                          WHEN b < 99 THEN 'val'
                          ELSE 'test' END AS split
              FROM (SELECT doc_id,
                           ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))
                             ::BIGINT % 100 AS b
                    FROM documents))
       SELECT cl.cluster_id,
              COUNT(*)::BIGINT AS n_docs,
              CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_train,
              CAST(SUM(CASE WHEN split <> 'train' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_eval,
              (SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) > 0 AND
               SUM(CASE WHEN split <> 'train' THEN 1 ELSE 0 END) > 0)
                AS leaked
       FROM cl JOIN sp USING (doc_id)
       GROUP BY cl.cluster_id""",
    ),
)
def split_leakage_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Train/eval LEAKAGE audit — the Dodge-et-al C4 finding as a
    first-class check: a near-duplicate cluster whose members land on
    BOTH sides of the train/eval split is test-set contamination that
    per-document dedup and n-gram decontamination each miss when run
    in the wrong order (dedup keeps one member per cluster, but if
    the kept member is in train and a dropped member's near-twin
    survives in test, the eval is compromised). Composes two
    certified operators — the LSH near-dup clustering
    (near_dup_clusters_lsh's kernel) and the deterministic md5
    hash_split — into per-cluster split occupancy with a ``leaked``
    verdict. Scale shape: adds ONE broadcast-sized join (split labels
    project from doc_id, no data movement) and one cluster-key
    aggregate on top of the already-benched clustering pass."""
    docs = t(spark, sf, "documents")
    clusters = dedup.connected_components(
        dedup.near_dup_pairs(docs, threshold=0.5)
    )
    sp = sampling.hash_split(docs.select("doc_id")).select(
        "doc_id", "split"
    )
    is_train = (F.col("split") == "train").cast("long")
    return (
        clusters.join(sp, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(is_train).alias("n_train"),
            F.sum(F.lit(1) - is_train).alias("n_eval"),
        )
        .withColumn(
            "leaked", (F.col("n_train") > 0) & (F.col("n_eval") > 0)
        )
    )


@q(
    "incremental_simhash_admission",
    _SIMHASH_ORACLE.replace(
        "SELECT doc_id,\n       CAST(SUM(CASE WHEN set_bit THEN "
        "(1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash\n"
        "FROM votes GROUP BY doc_id",
        """, sh AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN set_bit THEN (1::BIGINT << b) ELSE 0 END)
              AS BIGINT) AS s
  FROM votes GROUP BY doc_id)
SELECT b.doc_id FROM sh b
WHERE b.doc_id % 10 >= 8
  AND NOT EXISTS (SELECT 1 FROM sh c
                  WHERE c.doc_id % 10 < 8
                    AND bit_count(xor(b.s, c.s)) <= 3)""",
    ),
)
def incremental_simhash_admission(spark: SparkSession, sf: str) -> DataFrame:
    """Batch-vs-corpus SimHash admission (operators/dedup.py
    incremental_simhash_admission) — the LAST missing cell of the
    admission matrix: exact, MinHash, SimHash, embedding, semantic
    and suffix dedup now ALL have batch-vs-corpus increments
    (plus streaming drivers where registered). A new batch
    (doc_id%10 ∈ {8,9}) is admitted unless a corpus (doc_id%10 < 8)
    fingerprint sits within hamming 3 — banded-table candidates
    (pigeonhole recall 1) + exact popcount verify, so the admitted
    set EQUALS the all-pairs NOT-EXISTS relation the oracle runs
    over the same md5 bit-vote fingerprints."""
    docs = t(spark, sf, "documents")
    return dedup.incremental_simhash_admission(
        corpus=docs.filter(F.col("doc_id") % 10 < 8),
        batch=docs.filter(F.col("doc_id") % 10 >= 8),
        max_dist=3,
    )
