"""Ranked keyword retrieval and corpus-cardinality profiling for
training-data pipelines (task directive — "beyond the reference's own
operators"): a corpus being curated for LLM training needs ranked search
(inspect what a filter kept, find contamination candidates, pull topical
slices) and cheap distinct-counting (vocabulary growth, dedup-rate
monitoring) long before anything is trained on it.

Public provenance (methods, not code):
- BM25 — Robertson & Walker's Okapi weighting (TREC-3, 1994); the idf
  form used here, ln(1 + (N − df + 0.5)/(df + 0.5)), is the
  non-negative variant popularized by Lucene's BM25Similarity.
- Cardinality sketching — HyperLogLog++ (Heule et al., EDBT 2013) as
  exposed by Spark's `approx_count_distinct`.

Scale notes (100 TB):
- bm25_topk: the corpus-side explode is filtered to QUERY TERMS before
  any exchange — the posting shuffle carries only (doc_id, term, tf) for
  terms that actually appear in some query, a vanishing fraction of the
  token stream (the full-corpus token explode itself is scan-side,
  row-local, never shuffled). Document length is row-local; the corpus
  scalars (N, avgdl) come from one fixed-size aggregate cross-joined
  back (broadcast of a single row). Query-term df/idf is an aggregate
  over the already-filtered postings, keyed by term — bounded by the
  query vocabulary — and joined back broadcast. The final top-k per
  query is a rank-truncated window (Spark inserts WindowGroupLimit:
  partial top-k before the exchange), so the only full-width exchange
  carries ≤ k·|queries| rows.
- cardinality_profile: per-source distinct-token counting via
  HyperLogLog++ partial aggregation — the per-partition sketch is fixed
  size (2^p registers), so the exchange carries one sketch per
  (source × partition) regardless of token volume. Exact distinct at
  100 TB would shuffle every distinct token string; the sketch is the
  scale path, and its 1% relative standard deviation bounds the error a
  monitoring dashboard tolerates.

Input columns: the corpus is read as ``doc_id`` and ``text`` (plus
``source`` for the cardinality profile).

The reference has no search or cardinality surface (per-site CSV append
only, crawler_schedule.py:150-179); this module is engine-added surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import tokens

# BM25 free parameters (Robertson's recommended defaults).
BM25_K1 = 1.2
BM25_B = 0.75
# Documents returned per query.
BM25_TOP_K = 10


def bm25_topk(corpus: DataFrame, queries: list[tuple[int, str]]) -> DataFrame:
    """Top-BM25_TOP_K documents per query under BM25.

    `queries` is a small in-memory list of (query_id, query_text) — the
    interactive-search shape. Scores are rounded to 4 decimals BEFORE
    ranking so the ordering is reproducible across engines (ties broken
    by ascending doc id).

    Returns (query_id, doc_id, score, rank) with rank ≤ BM25_TOP_K.
    """
    # The query list as an inline VALUES table, i.e. a LocalRelation:
    # collecting its tokens below runs on the driver, with no Spark job (a
    # createDataFrame'd list is a Python RDD, measured ~0.2 s per collect).
    args = {}
    for i, (qid, qtext) in enumerate(queries):
        args[f"id{i}"], args[f"q{i}"] = qid, qtext
    qtoks = corpus.sparkSession.sql(
        "SELECT * FROM VALUES "
        + ", ".join(f"(:id{i}, :q{i})" for i in range(len(queries)))
        + " AS q(query_id, query_text)",
        args=args,
    ).select(
        F.col("query_id").cast("long"), tokens(F.col("query_text")).alias("terms")
    )
    qterms = qtoks.select("query_id", F.explode("terms").alias("term")).distinct()

    toks = corpus.select(F.col("doc_id"), tokens(F.col("text")).alias("t"))
    # corpus scalars: one fixed-size aggregate, broadcast back as a
    # single-row cross join (never collected to the driver)
    stats = toks.agg(
        F.count("*").alias("n_docs"), F.avg(F.size("t")).alias("avgdl")
    )

    # Postings computed ROW-LOCALLY against the literal query-term list
    # (r6, guide §2.3/§2.4): `queries` is a small in-memory list by this
    # function's contract, so the distinct term set is known on the driver
    # — per document, tf of each query term is one array scan inside the
    # scan stage, and only (doc_id, term, tf, dl) rows with tf > 0 are
    # emitted. The old shape exploded EVERY corpus token (~54×N rows),
    # broadcast-joined the term filter, then paid a (doc_id, term)-keyed
    # aggregation exchange for tf; all of that is now shuffle-free scan
    # work, identical output (tf = occurrence count, same inner-join
    # semantics: tf=0 pairs never existed). At 100 TB the same plan holds:
    # per-doc cost is |terms| array scans, no corpus-wide exchange at all
    # before the bounded per-query top-k.
    # tf per term = size(t) − size(array_remove(t, term)): ArrayRemove is a
    # plain codegen expression — NOT a higher-order function, whose
    # per-element interpreted lambdas measured several× slower than the
    # exploded original here. The term list is the query side tokenized
    # by the same tokens() as the corpus.
    term_list = sorted({term for r in qtoks.collect() for term in r.terms})
    t = F.col("t")
    structs = [
        F.struct(
            F.lit(term).alias("term"),
            (F.size(t) - F.size(F.array_remove(t, term)))
            .cast("long")
            .alias("tf"),
        )
        for term in term_list
    ]
    postings = (
        toks.select(
            "doc_id",
            F.size(t).alias("dl"),
            F.explode(F.array(*structs)).alias("_p"),
        )
        .filter(F.col("_p.tf") > 0)
        .select(
            "doc_id", F.col("_p.term").alias("term"),
            F.col("_p.tf").alias("tf"), "dl",
        )
    )

    # df/idf per query term: aggregate of the filtered postings (bounded
    # by the query vocabulary), joined back broadcast
    df_term = postings.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        postings.join(F.broadcast(df_term), "term")
        .join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "w",
            F.col("idf")
            * (F.col("tf") * (BM25_K1 + 1))
            / (
                F.col("tf")
                + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("w"), 4).alias("score"))
    )

    from pyspark.sql import Window

    win = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= BM25_TOP_K)
        .select("query_id", "doc_id", "score", "rank")
    )


def cardinality_profile(corpus: DataFrame) -> DataFrame:
    """Per-source corpus cardinality monitor: document count, token
    volume, and APPROXIMATE distinct tokens (HyperLogLog++ at 1% relative
    standard deviation, fixed-size sketch exchange — the only
    distinct-counting strategy that survives 100 TB without shuffling
    every distinct string).

    Returns (source, n_docs, n_tokens, approx_distinct_tokens).
    """
    # ONE corpus pass: posexplode_outer keeps a row for empty documents
    # (tok null, pos null), so doc count = rows at pos 0-or-null and
    # token volume = non-null tok rows — no second scan, no join.
    exploded = corpus.select(
        F.col("source").alias("grp"),
        F.posexplode_outer(tokens(F.col("text"))).alias("pos", "tok"),
    )
    return (
        exploded.groupBy("grp")
        .agg(
            F.count_if(
                F.col("pos").isNull() | (F.col("pos") == 0)
            ).alias("n_docs"),
            F.count("tok").alias("n_tokens"),
            F.approx_count_distinct("tok", 0.01).alias(
                "approx_distinct_tokens"
            ),
        )
        .select(
            F.col("grp").alias("source"),
            "n_docs",
            "n_tokens",
            "approx_distinct_tokens",
        )
    )
