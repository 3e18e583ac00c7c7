"""The word n-gram LM family (``operators/text.py``) against a
pure-Python reference written straight from the formulas: add-k,
interpolated Kneser-Ney at orders 2 and 3, and the Moore-Lewis
difference; plus the knob validation every public entry point does."""

from __future__ import annotations

import math
import random
from collections import Counter

import pytest

from google_sheets_etl_spark.operators import text as text_ops

WORDS = ["a", "b", "c", "d", "the", "cat"]


def _corpus(seed: int = 7):
    """A seeded train split and a doc set covering NULL text, the
    empty string (one empty token), 1-, 2- and 3+-token docs, repeated
    words and words (hence contexts) the train split never saw."""
    rng = random.Random(seed)
    train = [
        " ".join(rng.choice(WORDS) for _ in range(rng.randint(1, 8)))
        for _ in range(40)
    ] + [None]
    docs = [(1, None), (2, ""), (3, "a"), (4, "a b"), (5, "zz a b"),
            (6, "a zz b c"), (7, "the the the the"), (8, "zz yy xx")]
    docs += [
        (i, " ".join(rng.choice(WORDS + ["zz"])
                     for _ in range(rng.randint(0, 9))))
        for i in range(9, 60)
    ]
    return train, docs


def _grams(text, n):
    if text is None:
        return []
    t = text.split(" ")
    return [tuple(t[i:i + n]) for i in range(len(t) - n + 1)]


def _vocab(train):
    return len({w for x in train if x is not None for w in x.split(" ")})


def _by_context(counts):
    """Σ count and distinct follow types per context (all words but
    the last)."""
    total, types = Counter(), Counter()
    for g, c in counts.items():
        total[g[:-1]] += c
        types[g[:-1]] += 1
    return total, types


def _add_k(train, k):
    c2 = Counter(g for x in train for g in _grams(x, 2))
    c1, _ = _by_context(c2)
    v = _vocab(train)
    return lambda g: (c2[g] + k) / (c1.get(g[:1], 0) + k * v)


def _kneser_ney(train, n, d):
    """Interpolated KN (Chen & Goodman 1999): raw counts at the top,
    continuation counts (distinct left extensions) below, the add-0.5
    continuation unigram at the bottom."""
    counts = {n: Counter(g for x in train for g in _grams(x, n))}
    for j in range(n - 1, 1, -1):
        counts[j] = Counter(g[1:] for g in counts[j + 1])
    ctx = {j: _by_context(counts[j]) for j in counts}
    precede = Counter(g[-1] for g in counts[2])
    t, v = len(counts[2]), _vocab(train)

    def p(gram):
        prob = (precede[gram[-1]] + 0.5) / (t + 0.5 * v)
        for j in range(2, n + 1):
            g = gram[-j:]
            total, types = ctx[j]
            if g[:-1] in total:
                prob = (max(counts[j][g] - d, 0) / total[g[:-1]]
                        + d * types[g[:-1]] / total[g[:-1]] * prob)
        return prob

    return p


def _reference(docs, n, bits):
    """{id: (n_grams, mean bits)} for docs with at least one n-gram."""
    out = {}
    for i, x in docs:
        gs = _grams(x, n)
        if gs:
            out[i] = (len(gs), sum(bits(g) for g in gs) / len(gs))
    return out


def _check(rows, ref, n_col, bits_col):
    got = {r[0]: (r[n_col], r[bits_col]) for r in rows}
    assert set(got) == set(ref)
    for i, (n, b) in ref.items():
        assert got[i][0] == n, i
        assert abs(got[i][1] - b) < 1e-4, (i, got[i][1], b)


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_lm_family_equals_reference(spark):
    """Every public LM entry point equals the reference on the n-gram
    counts, and on the bits within 1e-4 (4-decimal rounding plus the
    per-n-gram micro-unit rounding); outputs are identical with the
    docs in 1 and in 7 partitions."""
    train_rows, doc_rows = _corpus()
    train = spark.createDataFrame([(x,) for x in train_rows], "text string")
    docs = spark.createDataFrame(doc_rows, "doc_id long, text string")
    target = train.filter("instr(text, 'cat') > 0")
    raw = train.filter("instr(text, 'cat') = 0")
    tgt = [x for x in train_rows if x is not None and "cat" in x]
    rw = [x for x in train_rows if x is not None and "cat" not in x]

    def bits(p):
        return lambda g: -math.log2(p(g))

    cases = [
        (lambda d: text_ops.bigram_lm_bits(d, train),
         _reference(doc_rows, 2, bits(_add_k(train_rows, 0.5))),
         "n_bigrams", "bits_per_bigram"),
        (lambda d: text_ops.bigram_lm_score(
            d, text_ops.bigram_lm_fit(train, k_smooth=2.0)),
         _reference(doc_rows, 2, bits(_add_k(train_rows, 2.0))),
         "n_bigrams", "bits_per_bigram"),
        (lambda d: text_ops.kn_bigram_lm_bits(d, train),
         _reference(doc_rows, 2, bits(_kneser_ney(train_rows, 2, 0.75))),
         "n_bigrams", "bits_per_bigram_kn"),
        (lambda d: text_ops.kn_bigram_lm_bits(d, train, discount=1.0),
         _reference(doc_rows, 2, bits(_kneser_ney(train_rows, 2, 1.0))),
         "n_bigrams", "bits_per_bigram_kn"),
        (lambda d: text_ops.kn_trigram_lm_bits(d, train),
         _reference(doc_rows, 3, bits(_kneser_ney(train_rows, 3, 0.75))),
         "n_trigrams", "bits_per_trigram_kn"),
        (lambda d: text_ops.kn_trigram_lm_bits(d, train, discount=0.25),
         _reference(doc_rows, 3, bits(_kneser_ney(train_rows, 3, 0.25))),
         "n_trigrams", "bits_per_trigram_kn"),
    ]
    for fn, ref, n_col, bits_col in cases:
        out = fn(docs)
        _check(out.collect(), ref, n_col, bits_col)
        assert _sorted(fn(docs.repartition(1))) == _sorted(out)
        assert _sorted(fn(docs.repartition(7))) == _sorted(out)

    pt, pr = _add_k(tgt, 0.5), _add_k(rw, 0.5)
    ref = _reference(
        doc_rows, 2, lambda g: math.log2(pt(g)) - math.log2(pr(g))
    )
    ml = text_ops.moore_lewis_bits(docs, target, raw)
    rows = ml.collect()
    _check(rows, ref, "n_bigrams", "ml_bits_per_bigram")
    for r in rows:
        n, b = ref[r["doc_id"]]
        # each n-gram's difference of rounded micro-units is within 1
        # of the unrounded difference
        assert abs(r["ml_u6"] - b * n * 1e6) <= n
    assert _sorted(text_ops.moore_lewis_bits(
        docs.repartition(1), target, raw)) == _sorted(ml)
    assert _sorted(text_ops.moore_lewis_bits(
        docs.repartition(7), target, raw)) == _sorted(ml)


def _call(spark, fn, train_rows, **knobs):
    train = spark.createDataFrame([(x,) for x in train_rows], "text string")
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    if fn == "bigram_lm_fit":
        return text_ops.bigram_lm_fit(train, **knobs)
    if fn == "moore_lewis_bits":  # the split under test is the target
        raw = spark.createDataFrame([("a b c",)], "text string")
        return text_ops.moore_lewis_bits(docs, train, raw, **knobs)
    return getattr(text_ops, fn)(docs, train, **knobs)


TRAIN = ["a b c a b c", "x y z"]


@pytest.mark.parametrize("fn, train_rows, knobs, message", [
    ("kn_bigram_lm_bits", TRAIN, {"discount": 0.0}, "discount must be in"),
    ("kn_bigram_lm_bits", TRAIN, {"discount": -0.5}, "discount must be in"),
    ("kn_bigram_lm_bits", TRAIN, {"discount": 2.0}, "discount must be in"),
    ("kn_bigram_lm_bits", TRAIN, {"discount": math.nan}, "discount must be in"),
    ("kn_trigram_lm_bits", TRAIN, {"discount": 0.0}, "discount must be in"),
    ("kn_trigram_lm_bits", TRAIN, {"discount": 1.5}, "discount must be in"),
    ("bigram_lm_bits", TRAIN, {"k_smooth": 0.0}, "k_smooth must be > 0"),
    ("bigram_lm_fit", TRAIN, {"k_smooth": -1.0}, "k_smooth must be > 0"),
    ("moore_lewis_bits", TRAIN, {"k_smooth": 0.0}, "k_smooth must be > 0"),
    ("bigram_lm_bits", [], {}, "no tokens"),
    ("bigram_lm_fit", [None], {}, "no tokens"),
    ("kn_bigram_lm_bits", [], {}, "no tokens"),
    ("kn_trigram_lm_bits", [], {}, "no tokens"),
    ("moore_lewis_bits", [], {}, "no tokens"),
])
def test_lm_knobs_validated(spark, fn, train_rows, knobs, message):
    """A knob outside the range where the model is normalized, or a
    train split with no tokens, raises ValueError naming the public
    function instead of returning wrong numbers or failing inside an
    executor task."""
    with pytest.raises(ValueError, match=f"^{fn}: .*{message}"):
        _call(spark, fn, train_rows, **knobs)
