"""Corpus-curation operators (operators/curation.py): exact values on
hand-computable documents. Oracle parity at sf0.01 rides
tools/check_oracle.py (q41–q44)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_decontaminate_exact(spark):
    from politics_crawler_spark.operators.curation import decontaminate_profile

    # eval doc = "a b c d e f g h i j"; 8-grams: {a..h, b..i, c..j}
    evalset = spark.createDataFrame(
        [(100, "a b c d e f g h i j")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            (0, "x a b c d e f g h i y"),            # a..h and b..i -> 2
            (1, "a c b d e f g h i j"),              # no eval 8-gram -> 0
            (2, "c d e f g h i j"),                  # exactly c..j -> 1
            (3, "a b c d e f g"),                    # too short -> 0
            (4, "a b c d e f g h a b c d e f g h"),  # a..h twice, DISTINCT -> 1
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in decontaminate_profile(train, evalset).collect()
    }
    assert len(out) == 5
    assert out[0]["n_contam_grams"] == 2 and out[0]["contaminated"]
    assert out[1]["n_contam_grams"] == 0 and not out[1]["contaminated"]
    assert out[2]["n_contam_grams"] == 1
    assert out[3]["n_contam_grams"] == 0
    # doc 4 grams: a..h, b..a, ..., h..g, a..h -> only 'a..h' matches
    assert out[4]["n_contam_grams"] == 1


def test_drop_boilerplate_lines_exact(spark):
    from politics_crawler_spark.operators.curation import drop_boilerplate_lines

    # 'cookie banner' sits in exactly BOILERPLATE_MIN_DOCS = 10 docs
    rows = [(i, f"unique content {i}\ncookie banner") for i in range(9)]
    rows.append((9, "cookie banner"))           # boilerplate-only doc
    rows.append((10, "solo line\nrare footer"))  # nothing repeated enough
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r for r in drop_boilerplate_lines(df).collect()
    }
    assert len(out) == 11
    for i in range(9):
        assert out[i]["n_lines"] == 2 and out[i]["n_kept"] == 1
        assert out[i]["text_clean"] == f"unique content {i}"
    # boilerplate-only doc survives as a row with empty text
    assert out[9]["n_lines"] == 1 and out[9]["n_kept"] == 0
    assert out[9]["text_clean"] == ""
    # below-threshold lines all survive, order preserved
    assert out[10]["n_kept"] == 2
    assert out[10]["text_clean"] == "solo line\nrare footer"


def test_drop_boilerplate_line_frequency_is_per_doc(spark):
    from politics_crawler_spark.operators.curation import drop_boilerplate_lines

    # one doc repeating a line 10x: 10 occurrences would reach
    # BOILERPLATE_MIN_DOCS, but count_distinct(doc) == 1, so within-doc
    # repetition alone must NOT trigger the drop
    df = spark.createDataFrame(
        [(0, "\n".join(["echo"] * 10))], "doc_id long, text string"
    )
    r = drop_boilerplate_lines(df).collect()[0]
    assert r["n_kept"] == 10


def test_mixture_sample_profile_exact(spark):
    from politics_crawler_spark.operators.curation import (
        _MIX_MOD,
        _MIX_MULT,
        mixture_sample_profile,
    )

    # src3 -> rate20 = 5 + (3*7) % 16 = 10 -> target 0.5
    # src0 -> rate20 = 5 -> target 0.25
    df = spark.createDataFrame(
        [(i, "src3") for i in range(200)] + [(i, "src0") for i in range(200)],
        "doc_id long, source string",
    )
    out = {r["source"]: r for r in mixture_sample_profile(df).collect()}
    assert out["src3"]["target_rate"] == pytest.approx(0.5)
    assert out["src0"]["target_rate"] == pytest.approx(0.25)
    for src, r20 in (("src3", 10), ("src0", 5)):
        expect = sum(
            1
            for i in range(200)
            if (i * _MIX_MULT) % _MIX_MOD * 20 < r20 * _MIX_MOD
        )
        assert out[src]["n_kept"] == expect
        assert out[src]["n_total"] == 200
        assert out[src]["realized_rate"] == pytest.approx(
            round(expect / 200, 6)
        )
        # the multiplicative hash should land near the target rate
        assert abs(out[src]["n_kept"] / 200 - r20 / 20) < 0.1


def test_token_budget_shards_matches_global_cumsum(spark):
    from politics_crawler_spark.operators.curation import token_budget_shards

    # words of deterministic pseudo-random counts; enough docs to force
    # the two-pass path across many SHARD_BUCKET_DOCS-doc buckets
    rows = [(i, " ".join(["w"] * ((i * 13) % 29 + 1))) for i in range(1037)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in token_budget_shards(df, budget=50).collect()
    }
    cum = 0
    max_shard = 0
    for i in range(1037):
        n = (i * 13) % 29 + 1
        assert out[i]["n_tokens"] == n
        assert out[i]["shard_id"] == cum // 50
        max_shard = max(max_shard, cum // 50)
        cum += n
    assert max_shard > 10  # many shards -> the bucket offsets really chain


def test_token_budget_shards_monotone_and_bounded(spark):
    from politics_crawler_spark.operators.curation import token_budget_shards

    # 7-doc shards straddle the 100-doc bucket boundaries
    rows = [(i, "a b c d") for i in range(350)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        token_budget_shards(df, budget=28).collect(),
        key=lambda r: r["doc_id"],
    )
    shards = [r["shard_id"] for r in got]
    assert shards == sorted(shards)  # monotone in doc order
    # every shard holds exactly 7 docs of 4 tokens (budget 28)
    from collections import Counter

    assert set(Counter(shards).values()) == {7}


def test_c4_filter_matches_gate_keep_set(spark):
    from politics_crawler_spark.operators.webquality import c4_doc_gate, c4_filter

    rows = [
        (i, "src1", "the quick brown fox jumps over a lazy dog again and " * 3)
        for i in range(10)
    ] + [
        (10, "src1", "no stop word here"),               # fails stopword+len
        (11, "src1", "x" * 40 + " the " + "word " * 25),  # giant token
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    gate_ids = {
        r["doc_id"] for r in c4_doc_gate(df).collect() if r["keep"]
    }
    filt = c4_filter(df)
    assert set(filt.columns) == {"doc_id", "source", "text"}  # passthrough
    assert {r["doc_id"] for r in filt.collect()} == gate_ids


def test_mixture_keep_matches_profile(spark):
    from politics_crawler_spark.operators.curation import (
        mixture_keep,
        mixture_sample_profile,
    )

    df = spark.createDataFrame(
        [(i, f"src{i % 4}") for i in range(400)],
        "doc_id long, source string",
    )
    kept = df.filter(mixture_keep(F.col("doc_id"), F.col("source")))
    by_src = {
        r["source"]: r["n_kept"] for r in mixture_sample_profile(df).collect()
    }
    got = {
        r["source"]: r["cnt"]
        for r in kept.groupBy("source").agg(F.count("*").alias("cnt")).collect()
    }
    for src, n in by_src.items():
        assert got.get(src, 0) == n


def test_curation_pipeline_invariants(spark):
    import __spark_entry__ as E
    from politics_crawler_spark.operators.curation import (
        contaminated_ids,
        mixture_keep,
    )
    from politics_crawler_spark.operators.webquality import c4_doc_gate

    sf = "/root/testdata/sf0.001"
    out = sorted(
        E.queries()["q45_curation_pipeline"](spark, sf).collect(),
        key=lambda r: r["doc_id"],
    )
    assert out, "pipeline should keep a non-degenerate survivor set"
    d = spark.read.parquet(f"{sf}/documents.parquet")
    gate_ids = {r["doc_id"] for r in c4_doc_gate(d).collect() if r["keep"]}
    mix_ids = {
        r["doc_id"]
        for r in d.filter(mixture_keep(F.col("doc_id"), F.col("source"))).collect()
    }
    contam = {
        r["doc_id"]
        for r in contaminated_ids(
            d, d.filter(F.col("doc_id") % 19 == 0), n=8
        ).collect()
    }
    ids = [r["doc_id"] for r in out]
    assert set(ids) <= gate_ids and set(ids) <= mix_ids
    assert not (set(ids) & contam)
    # shards: monotone in doc order and consistent with the running total
    cum = 0
    for r in out:
        assert r["shard_id"] == cum // 500
        cum += r["n_tokens"]
