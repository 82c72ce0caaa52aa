"""Webtext quality filters (operators/webquality.py): exact values on
hand-computable documents, plus non-degeneracy of the q36 keep split on
the sf0.001 corpus. Oracle parity at sf0.01 rides tools/check_oracle.py
(q36–q39)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        # 8 tokens, 'go go' twice; distinct = {go, stop, the, fast, now} = 5
        (0, "go go stop the go go fast now"),
        (1, "a"),                      # single token -> no bigrams
        (2, ""),                       # empty -> n_words 0, all fractions 0
        (3, "alpha beta gamma delta"),  # all distinct
        (4, "x1 y2 9 9 9"),            # numeric-ish tokens
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_repetition_profile_exact(spark, docs):
    from politics_crawler_spark.operators.webquality import repetition_profile

    out = {r["doc_id"]: r for r in repetition_profile(docs).collect()}
    r0 = out[0]
    assert r0["n_words"] == 8
    assert r0["dup_word_frac"] == pytest.approx(1 - 5 / 8, abs=1e-6)
    # bigrams: go-go, go-stop, stop-the, the-go, go-go, go-fast, fast-now
    # -> 'go go' count 2 of 7 bigrams
    assert r0["top_bigram_frac"] == pytest.approx(2 / 7, abs=1e-6)
    # mean word length: (2+2+4+3+2+2+4+3)/8 = 22/8
    assert r0["mean_word_len"] == pytest.approx(22 / 8, abs=1e-6)
    assert out[1]["n_words"] == 1 and out[1]["top_bigram_frac"] == 0.0
    assert out[2]["n_words"] == 0
    assert out[2]["dup_word_frac"] == 0.0 and out[2]["mean_word_len"] == 0.0
    assert out[3]["dup_word_frac"] == 0.0
    # '9 9' appears twice among 4 bigrams
    assert out[4]["dup_word_frac"] == pytest.approx(1 - 3 / 5, abs=1e-6)
    assert out[4]["top_bigram_frac"] == pytest.approx(2 / 4, abs=1e-6)


def test_c4_doc_gate_rules(spark, docs):
    from politics_crawler_spark.operators.webquality import c4_doc_gate

    # docs 5 and 6 sit on either side of the C4_MIN_WORDS = 20 floor
    words = ["the", "go"] * 10
    extra = spark.createDataFrame(
        [(5, " ".join(words)), (6, " ".join(words[:-1]))], docs.schema
    )
    out = {r["doc_id"]: r for r in c4_doc_gate(docs.union(extra)).collect()}
    # doc 0 has stopword 'the'; doc 3 has none
    assert out[0]["ok_stopword"] is True
    assert out[3]["ok_stopword"] is False
    assert out[2]["ok_min_words"] is False  # empty
    assert out[0]["ok_min_words"] is False  # 8 words
    # doc 4: tokens x1 y2 9 9 9 -> alpha fraction 2/5 < 0.8
    assert out[4]["ok_alpha"] is False and out[4]["keep"] is False
    assert out[5]["keep"] is True
    assert out[6]["ok_min_words"] is False and out[6]["keep"] is False


def test_pii_redaction_exact(spark):
    from politics_crawler_spark.operators.webquality import pii_profile

    rows = [
        (0, "mail me at a.b+c@test.org or admin@x.co thanks"),
        (1, "call 010-1234-5678 now"),
        (2, "mixed bob@ex.com and 010-999-0000 here"),
        (3, "no pii at all"),
        (4, "not a phone 12-3456-7890 not an email a@b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in pii_profile(df).collect()}
    assert (out[0]["n_emails"], out[0]["n_phones"]) == (2, 0)
    assert out[0]["redacted"] == "mail me at <EMAIL> or <EMAIL> thanks"
    assert (out[1]["n_emails"], out[1]["n_phones"]) == (0, 1)
    assert out[1]["redacted"] == "call <PHONE> now"
    assert out[2]["redacted"] == "mixed <EMAIL> and <PHONE> here"
    assert (out[3]["n_emails"], out[3]["n_phones"]) == (0, 0)
    assert out[3]["redacted"] == "no pii at all"
    # guards: bare 'a@b' (no TLD) and non-01x prefix must NOT match
    assert (out[4]["n_emails"], out[4]["n_phones"]) == (0, 0)


def test_ngram_freq_exact(spark, docs):
    from politics_crawler_spark.operators.webquality import ngram_freq

    out = {r["ngram"]: r for r in ngram_freq(docs).collect()}
    # 'go go' twice in doc 0; '9 9' twice in doc 4 — the only repeats
    assert set(out) == {"go go", "9 9"}
    assert (out["go go"]["n_docs"], out["go go"]["total"]) == (1, 2)
    assert (out["9 9"]["n_docs"], out["9 9"]["total"]) == (1, 2)


def test_gopher_keep_splits_corpus(spark):
    """The q36 thresholds must actually split the synthetic corpus —
    a gate that keeps (or drops) everything grades nothing."""
    import __spark_entry__ as m

    agg = (
        m.q36_gopher_repetition(spark, "/root/testdata/sf0.001")
        .agg(
            F.sum(F.col("keep").cast("int")).alias("kept"),
            F.count("*").alias("n"),
        )
        .first()
    )
    assert 0 < agg["kept"] < agg["n"], (agg["kept"], agg["n"])


def test_tokens_and_ngrams_match_python_reference(spark, pages_pdf):
    """tokens() is Python ``re.findall(TOKEN_RE, s, re.ASCII)`` per doc and
    ngrams() is a Python window over those tokens, on ASCII text, the
    crawl's own (mostly Korean) page texts, a Korean-only doc, a doc
    shorter than n and a NULL text. The hashed grams keep the string
    grams' length and distinct count (no 64-bit collision here)."""
    import re

    from politics_crawler_spark.operators.textstats import TOKEN_RE, ngrams, tokens

    crawl = [t for t in pages_pdf["text"] if t][:40]
    texts = [
        "go go stop the go go fast now",
        "x1 y2_z 9, a-b.c",
        "정치 국회 법안",
        "one two",
        None,
    ] + crawl
    ns = (1, 2, 3, 8)
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    ).select("doc_id", tokens(F.col("text")).alias("_t"))
    rows = df.select(
        "doc_id",
        "_t",
        *[ngrams(F.col("_t"), n, hashed=False).alias(f"s{n}") for n in ns],
        *[ngrams(F.col("_t"), n).alias(f"h{n}") for n in ns],
    ).collect()
    assert len(rows) == len(texts)
    n_crawl_tokens = 0
    for r in rows:
        text = texts[r["doc_id"]]
        want = None if text is None else re.findall(TOKEN_RE, text, re.ASCII)
        assert r["_t"] == want, (text, r["_t"])
        toks = want or []
        if r["doc_id"] >= 5:
            n_crawl_tokens += len(toks)
        for n in ns:
            grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
            assert r[f"s{n}"] == grams, (n, text)
            assert len(r[f"h{n}"]) == len(grams)
            assert len(set(r[f"h{n}"])) == len(set(grams))
    assert rows[2]["_t"] == []  # Korean-only: no ASCII word characters
    assert n_crawl_tokens > 0
