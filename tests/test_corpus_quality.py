"""Corpus-statistical quality operators (operators/corpus_quality.py):
exact values on hand-computable documents. Oracle parity at sf0.01 rides
tools/check_oracle.py (q46–q48)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_unigram_lm_exact_probs(spark):
    from politics_crawler_spark.operators.corpus_quality import unigram_lm

    # corpus tokens: a a a b b c  -> N=6, V=3
    d = _docs(spark, [(0, "a a a"), (1, "b b c")])
    lm = {r["tok"]: r for r in unigram_lm(d).collect()}
    assert set(lm) == {"a", "b", "c"}
    assert lm["a"]["c"] == 3 and lm["b"]["c"] == 2 and lm["c"]["c"] == 1
    # Laplace: p(a)=(3+1)/(6+3), p(c)=(1+1)/9
    assert lm["a"]["logp"] == pytest.approx(math.log2(4 / 9))
    assert lm["c"]["logp"] == pytest.approx(math.log2(2 / 9))


def test_lm_score_mean_surprisal_and_empty_doc(spark):
    from politics_crawler_spark.operators.corpus_quality import (
        lm_score,
        unigram_lm,
    )

    d = _docs(spark, [(0, "a a a"), (1, "b b c"), (2, "")])
    lm = unigram_lm(d)
    out = {r["doc_id"]: r for r in lm_score(d, lm).collect()}
    assert len(out) == 3  # every doc survives, including the empty one
    # doc0 = 3 tokens of 'a': bits = -log2(4/9)
    assert out[0]["bits_per_token"] == pytest.approx(
        round(-math.log2(4 / 9), 6)
    )
    # doc1 = mean of two 'b' and one 'c' surprisals
    expect = -(2 * math.log2(3 / 9) + math.log2(2 / 9)) / 3
    assert out[1]["bits_per_token"] == pytest.approx(round(expect, 6))
    assert out[2]["n_tokens"] == 0 and out[2]["bits_per_token"] == 0.0


def test_lm_score_oov_floor(spark):
    from politics_crawler_spark.operators.corpus_quality import (
        lm_score,
        oov_logp,
        unigram_lm,
    )

    lm = unigram_lm(_docs(spark, [(0, "a a a b b c")]))  # N=6, V=3
    assert oov_logp(lm) == pytest.approx(math.log2(1 / 9))
    # 'd' is out of vocabulary: it scores at the floor 1/(N+V)
    scored = _docs(spark, [(0, "a a a b b d")])
    out = {r["doc_id"]: r for r in lm_score(scored, lm).collect()}
    expect = -(
        3 * math.log2(4 / 9) + 2 * math.log2(3 / 9) + math.log2(1 / 9)
    ) / 6
    assert out[0]["bits_per_token"] == pytest.approx(round(expect, 6))


def test_ccnet_bucket_thresholds(spark):
    from politics_crawler_spark.operators.corpus_quality import ccnet_bucket

    df = spark.range(1).select(
        ccnet_bucket(F.lit(1.0), 2.0, 3.0).alias("h"),
        ccnet_bucket(F.lit(2.5), 2.0, 3.0).alias("m"),
        ccnet_bucket(F.lit(3.0), 2.0, 3.0).alias("t"),
    )
    r = df.first()
    assert (r["h"], r["m"], r["t"]) == ("head", "middle", "tail")


def test_dup_ngram_coverage_exact(spark):
    from politics_crawler_spark.operators.corpus_quality import (
        dup_ngram_coverage,
    )

    # docs 0 and 1 share the 5-gram 'a b c d e' (cross-doc dup); doc 2 is
    # clean; doc 3 too short for any 5-gram.
    d = _docs(
        spark,
        [
            (0, "a b c d e x y z"),      # 'a b c d e' dup -> covers pos 0-4
            (1, "w v a b c d e u z q"),  # covers pos 2-6
            (2, "p q r s t u"),          # no dup gram
            (3, "u v w x"),              # shorter than n
        ],
    )
    out = {
        r["doc_id"]: r for r in dup_ngram_coverage(d).collect()
    }
    assert len(out) == 4
    assert out[0]["n_covered"] == 5 and out[0]["dup_coverage"] == 0.625
    assert out[1]["n_covered"] == 5 and out[1]["dup_coverage"] == 0.5
    assert out[2]["n_covered"] == 0 and out[2]["dup_coverage"] == 0.0
    assert out[3]["n_tokens"] == 4 and out[3]["n_covered"] == 0


def test_dup_ngram_coverage_overlapping_spans_dedup(spark):
    from politics_crawler_spark.operators.corpus_quality import (
        dup_ngram_coverage,
    )

    # 'a b c d e f' appears in both docs: doc0 has overlapping dup grams
    # 'a b c d e' and 'b c d e f' -> covered positions {0..5} counted ONCE.
    d = _docs(spark, [(0, "a b c d e f g h"), (1, "x a b c d e f")])
    out = {
        r["doc_id"]: r for r in dup_ngram_coverage(d).collect()
    }
    assert out[0]["n_covered"] == 6 and out[0]["dup_coverage"] == 0.75


def test_dup_ngram_min_docs_counts_distinct_docs(spark):
    from politics_crawler_spark.operators.corpus_quality import (
        dup_ngram_coverage,
    )

    # 'a b c d e' occurs twice WITHIN doc 0 but in no other doc: with
    # DUP_MIN_DOCS=2 the within-doc repeat is NOT cross-document
    # duplication.
    d = _docs(spark, [(0, "a b c d e z a b c d e"), (1, "p q r s t u")])
    out = {
        r["doc_id"]: r for r in dup_ngram_coverage(d).collect()
    }
    assert out[0]["n_covered"] == 0


def test_drop_dup_ngram_spans_rebuild(spark):
    from politics_crawler_spark.operators.corpus_quality import (
        drop_dup_ngram_spans,
    )

    # 'a b c d e' is shared -> positions covered in both docs; the rest
    # of each doc survives in original order.
    d = _docs(
        spark,
        [
            (0, "x a b c d e y"),   # drop pos 1-5 -> 'x y'
            (1, "a b c d e"),       # fully covered -> ''
            (2, "p q r s t"),       # untouched
        ],
    )
    out = {
        r["doc_id"]: r
        for r in drop_dup_ngram_spans(d).collect()
    }
    assert len(out) == 3
    assert out[0]["text_clean"] == "x y" and out[0]["n_kept"] == 2
    assert out[1]["text_clean"] == "" and out[1]["n_kept"] == 0
    assert out[2]["text_clean"] == "p q r s t" and out[2]["n_kept"] == 5


def test_drop_spans_consistent_with_coverage(spark):
    from politics_crawler_spark.operators.corpus_quality import (
        drop_dup_ngram_spans,
        dup_ngram_coverage,
    )

    d = _docs(
        spark,
        [
            (0, "a b c d e f g h"),
            (1, "z a b c d e f w"),
            (2, "m n o p q r"),
        ],
    )
    cov = {r["doc_id"]: r for r in dup_ngram_coverage(d).collect()}
    rem = {r["doc_id"]: r for r in drop_dup_ngram_spans(d).collect()}
    for i in cov:
        # measure and transform must agree: kept = total - covered
        assert rem[i]["n_kept"] == cov[i]["n_tokens"] - cov[i]["n_covered"]
        assert len(rem[i]["text_clean"].split()) == (
            rem[i]["n_kept"] if rem[i]["n_kept"] else 0
        )


def test_source_quality_profile_and_gate(spark):
    from politics_crawler_spark.operators.corpus_quality import (
        source_quality_profile,
    )

    rows = []
    # good source: SOURCE_MIN_DOCS = 5 docs, fluent (stopword 'the'
    # present), no punct
    for i in range(5):
        rows.append((i, "the quick brown fox jumps over the lazy dog", "good"))
    # spammy source: 5 docs, zero stopwords
    for i in range(5, 10):
        rows.append((i, "buy cheap pills buy cheap pills", "spam"))
    # tiny source: fluent but one doc below SOURCE_MIN_DOCS
    for i in range(10, 14):
        rows.append((i, "the cat sat on the mat", "tiny"))
    d = spark.createDataFrame(rows, "doc_id long, text string, source string")
    prof = source_quality_profile(d, min_mean_stop=0.1)
    p = {r["source"]: r for r in prof.collect()}
    assert p["good"]["keep_source"] is True
    assert p["spam"]["keep_source"] is False  # mean_stop = 0
    assert p["tiny"]["keep_source"] is False  # n_docs < SOURCE_MIN_DOCS
    # 'the' is 2 of 9 tokens
    assert p["good"]["mean_stop"] == pytest.approx(round(2 / 9, 6))


# ---------------------------------------------------------------------------
# Property test: Spark span removal vs a pure-Python reference
# ---------------------------------------------------------------------------

def _py_drop_dup_spans(corpus, n, min_docs):
    """Reference implementation: independent of Spark AND of the DuckDB
    oracle formulation (direct set arithmetic, no joins)."""
    toks = {i: t.split() for i, t in corpus}
    gram_docs = {}
    for i, ts in toks.items():
        for p in range(len(ts) - n + 1):
            gram_docs.setdefault(tuple(ts[p : p + n]), set()).add(i)
    dup = {g for g, ds in gram_docs.items() if len(ds) >= min_docs}
    out = {}
    for i, ts in toks.items():
        covered = set()
        for p in range(len(ts) - n + 1):
            if tuple(ts[p : p + n]) in dup:
                covered.update(range(p, p + n))
        kept = [t for p, t in enumerate(ts) if p not in covered]
        out[i] = (len(ts), len(kept), " ".join(kept))
    return out


def test_drop_dup_spans_property_matches_python(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from politics_crawler_spark.operators.corpus_quality import (
        DUP_MIN_DOCS,
        DUP_NGRAM_N,
        drop_dup_ngram_spans,
    )

    word = st.sampled_from(list("abc"))  # tiny alphabet -> many dups
    doc = st.lists(word, min_size=0, max_size=16).map(" ".join)

    @settings(max_examples=8, deadline=None)
    @given(st.lists(doc, min_size=1, max_size=6))
    def run(texts):
        corpus = list(enumerate(texts))
        exp = _py_drop_dup_spans(corpus, n=DUP_NGRAM_N, min_docs=DUP_MIN_DOCS)
        d = spark.createDataFrame(corpus, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["n_tokens"], r["n_kept"], r["text_clean"])
            for r in drop_dup_ngram_spans(d).collect()
        }
        assert got == exp

    run()


def test_unigram_lm_releases_storage(spark):
    """VERDICT r5 #4: repeated unigram_lm calls in one session must not
    accumulate cached vocab tables. The count table is localCheckpointed
    (blocks released by the ContextCleaner once the lm frame dies), not
    persisted into the CacheManager."""
    import gc

    from politics_crawler_spark.operators.corpus_quality import unigram_lm

    d = spark.createDataFrame(
        [(i, f"tok{i % 50} common word") for i in range(500)],
        "doc_id long, text string",
    )
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    was_empty = cache_mgr.isEmpty()
    for _ in range(3):
        lm = unigram_lm(d)
        lm.count()
        # the internal count-table persist is released inside unigram_lm;
        # the RETURNED lm is the only persisted frame and the caller owns
        # its lifetime (VERDICT r5 #4)
        lm.unpersist(blocking=True)
        del lm
        gc.collect()
    assert cache_mgr.isEmpty() == was_empty, (
        "unigram_lm left cached plans behind after the caller released the lm"
    )
