"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship crawl pipeline (frontier → politeness →
bloom seen-filter → extraction) over a deterministically synthesized pages
snapshot (BASELINE.json: the pages table is synthesized at small scale — the
driver's sf directories carry the relational/training-data tables, which the
``queries()`` registry exercises against DuckDB oracles).

Numeric-compare convention: double aggregations go through
``cast(... as decimal(18,2))`` BEFORE summing in BOTH engines — decimal sums
are exact and order-insensitive, so Spark's partial aggregation and DuckDB's
serial sum produce bit-identical results; the final value is cast back to
double for a stable comparable type.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------

def _graded_extracted(extracted: DataFrame) -> DataFrame:
    """Driver-gradable projection of the EXTRACTED schema: the ArrayType
    ``images`` column is serialized to JSON (K6 semantics, exactly what the
    reference's DB loader does — crawler_schedule.py:271-277) because the
    driver's result canonicalizer hashes flat values only."""
    cols = [c for c in extracted.columns if c != "images"]
    return extracted.select(
        *cols,
        F.when(F.col("images").isNull(), F.lit("[]"))
        .otherwise(F.to_json(F.col("images")))
        .alias("images_json"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full crawl engine on a synthetic pages snapshot."""
    from politics_crawler_spark.plans.crawl import run_crawl
    from politics_crawler_spark.sources.synthetic_pages import synthesize_pages

    pages = synthesize_pages(spark, 1500).cache()
    res = run_crawl(spark, pages, n_shards=8)
    return _graded_extracted(res.extracted)


# --------------------------------------------------------------------------
# queries (operator registry) + DuckDB oracles
# --------------------------------------------------------------------------

def q01_filter_project(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & (F.col("l_returnflag") == "N")
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            F.round(
                (
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
                ).cast("double"),
                4,
            ).alias("net_price"),
        )
    )


def q02_agg_lineitem(spark, sf):
    li = _t(spark, sf, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(
                dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))
            ).cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q03_join_agg(spark, sf):
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        )
        .orderBy("n_name")
    )


def q04_topk_per_group(spark, sf):
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("c_mktsegment", "o_orderkey", "o_totalprice", "rk")
        .orderBy("c_mktsegment", "rk")
    )


def q05_sort_limit(spark, sf):
    e = _t(spark, sf, "events")
    return (
        e.orderBy(F.col("ts").desc(), F.col("event_id").asc())
        .select("event_id", "ts", "user_id", "event_type")
        .limit(100)
    )


def q06_latest_per_user(spark, sf):
    """Upsert/D3 semantics: latest event per user (window dedup)."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type", "value")
    )


def _noisy_documents(spark, sf):
    """documents ∪ exact copies of every 7th doc (shifted ids) — the base
    table has no duplicate texts, so dedup queries need injected dups to
    demonstrate collapse."""
    d = _t(spark, sf, "documents")
    dups = d.filter(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    return d.unionByName(dups)


def q07_exact_dedup(spark, sf):
    from politics_crawler_spark.operators.dedup import exact_dedup

    return exact_dedup(_noisy_documents(spark, sf)).select("doc_id", "dup_count")


def q08_token_count(spark, sf):
    from politics_crawler_spark.operators.textstats import n_chars, token_count

    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        n_chars(F.col("text")).alias("len_chars"),
    )


def q09_quality(spark, sf):
    from politics_crawler_spark.operators.textstats import punct_ratio, stopword_ratio

    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.round(punct_ratio(F.col("text")), 6).alias("punct_ratio"),
        F.round(stopword_ratio(F.col("text")), 6).alias("stop_ratio"),
    )


def q10_lang_id(spark, sf):
    from politics_crawler_spark.operators.textstats import lang_id

    d = _t(spark, sf, "documents")
    return (
        d.select(lang_id(F.col("text")).alias("pred_lang"))
        .groupBy("pred_lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("pred_lang")
    )


def q11_fingerprint_dups(spark, sf):
    from politics_crawler_spark.operators.textstats import fingerprint

    d = _noisy_documents(spark, sf)
    return (
        d.select("doc_id", fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("rep_id"))
        .filter(F.col("n") > 1)
        .select("fp", "n", "rep_id")
    )


def q12_null_community_normalize(spark, sf):
    """K4+K5: null-token normalization and community-code regex rules."""
    d = _t(spark, sf, "documents")
    code = F.regexp_extract(F.col("lang"), r"^([a-z]+)$", 1)
    return d.select(
        "doc_id",
        F.when(F.col("source").isin("nan", "NaN", "None"), None)
        .otherwise(F.col("source"))
        .alias("source_norm"),
        F.when(code == "", None).otherwise(F.concat(code, F.lit("p"))).alias("lang_code"),
    )


def q13_hourly_rollup(spark, sf):
    e = _t(spark, sf, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .orderBy("hour", "event_type")
    )


def q14_ann_cosine(spark, sf):
    from politics_crawler_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return cosine_topk(emb, queries).orderBy("query_id", "rank")


def q15_minhash_pairs(spark, sf):
    """MinHash+LSH candidate generation, graded on its VERIFIED output:
    banded-bucket equi-join proposes pairs, exact char-5-gram Jaccard
    re-scores them, and the oracle is the exact all-pairs computation —
    so a recall miss by the LSH stage fails the gate. The cascade is
    ``near_dup_pairs``, the same one ``minhash_dedup`` (q33) collapses."""
    from politics_crawler_spark.operators.dedup import near_dup_pairs

    out = near_dup_pairs(_t(spark, sf, "documents"), threshold=0.5)
    # localCheckpoint before orderBy: the range-partitioner's sampling
    # pass would otherwise re-execute the whole broadcast-join pipeline
    # (verified set is ~hundreds of rows; measured +21 s at sf0.1). NOT
    # persist: a plan-matched persist would hand later bench trials the
    # cached RESULT and best-of-N would measure the cache, not the query.
    return out.localCheckpoint(eager=True).orderBy("id_a", "id_b")


def q16_simhash_pairs(spark, sf):
    """SimHash near-dup pairs via 8×8-bit banding (guaranteed capture of
    Hamming<=7), exact-Jaccard-verified — same oracle as q15, so the two
    independent sketches cross-validate against one exact ground truth.

    r6: the banded candidate set is Hamming-close but mostly NOT Jaccard-
    close on a template corpus (measured sf1.0: 1.60M candidates, 9.6k
    with full-sig est >= 0.35, 2.5k truly >= 0.5) — running the exact
    char-gram verify on all of them shipped two corpus-wide gram-array
    relations and was ~60 s of the 72 s wall. The q15 cascade applies
    verbatim: a full-minhash-signature precision gate 2.4σ under the
    decision threshold (recall-safe, see sig_jaccard_refine) prunes the
    chance collisions for the price of one signature pass + two narrow
    joins; the exact verify still decides every emitted pair.

    Recall bound of the minhash gate: the 64-slot agreement count of a
    pair with true Jaccard J is Binomial(64, J), and ``min_est=0.35``
    keeps the pair iff at least 23 slots agree (0.35 · 64 = 22.4). At
    the decision threshold J = 0.5 a true pair is dropped with
    P[Binomial(64, 0.5) <= 22] ≈ 0.84%; at J = 0.55 with ≈ 0.07%.

    Recall AT the threshold is the banding's, not the gate's: Hamming <= 7
    captures near-identical texts only. On the boundary fixture of
    tests/test_dedup_ops.py (400 pairs, exact J in [0.45, 0.60)) it
    recovered 0/152 pairs at J in [0.50, 0.55) and 3/132 at [0.55, 0.60),
    where q15's 16×4 banding recovered 66% and 86%."""
    from politics_crawler_spark.operators.dedup import (
        exact_jaccard_verify,
        hamming_band_pairs,
        minhash_signatures,
        sig_jaccard_refine,
    )

    d = _t(spark, sf, "documents")
    # ONE sketch pass (r6): the simhash (banding) and the 64-perm minhash
    # signature (precision refine) come from the same mapInPandas pass, so
    # the text is scanned and FNV-shingle-hashed once instead of once per
    # sketch (~3.5 s/pass at sf1.0/50k docs). The localCheckpointed
    # (id, sig, sim) table feeds the banded self-join's two sides AND both
    # refine joins.
    sk = minhash_signatures(d, simhash=True).localCheckpoint(eager=True)
    cands = hamming_band_pairs(
        sk.select("doc_id", "sim"), "doc_id", max_hamming=7, bands=8
    )
    ref = sig_jaccard_refine(cands, sk.select("doc_id", "sig"), min_est=0.35)
    return exact_jaccard_verify(ref, d, threshold=0.5).orderBy("id_a", "id_b")


_ANN_GT_ROWS: list | None = None

# Session-keyed shared INPUT tables for the ANN/near-dup query family.
# q17/q32/q34 grade three access paths over the SAME deterministic corpus
# (that sameness is the point of the comparison); synthesizing and
# persisting it per query PER TRIAL both accumulated dead cache copies
# across best-of-N trials (ADVICE r4) and charged each query a fresh
# corpus build — input loading, not operator work. One persisted copy per
# (session, corpus) is the moral equivalent of all three queries reading
# the same parquet file through the OS page cache. The .persist() on every
# access is a no-op while cached and transparently re-registers after a
# bench clearCache.
_CORPUS_CACHE: dict = {}


def _cached_input(spark, key, build):
    k = (id(spark), key)
    df = _CORPUS_CACHE.get(k)
    if df is None:
        df = build()
        _CORPUS_CACHE[k] = df
    return df.persist()


def _ann_ground_truth(spark):
    """Exact top-10 per query on the clustered embeddings, computed by an
    INDEPENDENT numpy brute force (sources/synthetic_embeddings.py — never
    touches the Spark operators) and shipped in as a tiny literal frame.

    MEMOIZED (r5): the ground truth is a fixed deterministic constant of
    the corpus (pure function of the seed), but it was recomputed on the
    driver at plan-build time on EVERY q17/q32 trial — 2-5 s of numpy on
    this contended host, inside the bench timer, while the q34 exact scan
    they are compared against pays nothing. That asymmetry — not the LSH
    plan — was round 4's "index loses to brute force" inversion. Caching
    the row list makes repeated trials measure the operator, not the
    oracle; the first call still computes it from scratch."""
    global _ANN_GT_ROWS
    if _ANN_GT_ROWS is None:
        from politics_crawler_spark.sources.synthetic_embeddings import (
            exact_topk_np,
        )

        _ANN_GT_ROWS = [(q, n) for q, n, _, _ in exact_topk_np()]
    return spark.createDataFrame(
        _ANN_GT_ROWS, "query_id long, neighbor_id long"
    )


def _mean_recall_contract(spark, approx, n_queries: int, k: int = 10):
    """mean recall@k over ``n_queries`` vs the independent numpy exact
    top-k (the ann-benchmarks metric) → one graded row
    (n_queries, mean_recall_ok)."""
    hits = approx.join(
        F.broadcast(_ann_ground_truth(spark)),
        on=["query_id", "neighbor_id"],
        how="left_semi",
    )
    return hits.agg(
        F.count_distinct("query_id").cast("long").alias("n_queries"),
        ((F.count("*") / F.lit(float(n_queries * k))) >= 0.9).alias(
            "mean_recall_ok"
        ),
    )


def q17_lsh_ann(spark, sf):
    """Hyperplane-LSH ANN graded SCALE-HONESTLY: clustered synthetic
    embeddings (Gaussian mixture — real embedding corpora cluster; uniform
    random is the degenerate case where no partition index can prune), a
    PRUNING config (bits=10 × 6 tables ⇒ measured candidate volume ≈5.8%
    of N·Q distinct pairs, 12.2% collision rows — tests/test_ann_clustered.py
    bounds the collision rows of candidate_pairs; numpy-measured mean
    recall 0.982), and a mean-recall@10 ≥ 0.9 contract over 100 queries
    against the independent numpy exact top-k. The dataset is
    self-synthesized (100k × 32, deterministic), so the gate is
    scale-factor-independent."""
    from politics_crawler_spark.operators.similarity import lsh_topk
    from politics_crawler_spark.sources.synthetic_embeddings import (
        DEFAULT_QUERIES,
        synthesize_embeddings,
    )

    emb = _cached_input(spark, "emb", lambda: synthesize_embeddings(spark))
    queries = emb.filter(F.col("vec_id") < DEFAULT_QUERIES)
    approx = lsh_topk(emb, queries, bits=10, tables=6)
    return _mean_recall_contract(spark, approx, DEFAULT_QUERIES)


def q18_crawl_flagship(spark, sf):
    """Flagship crawl graded as a PER-SITE INVARIANT CONTRACT (the full
    extracted rows stay the smoke surface via ``entry()``): the reference
    SIMULATOR (tests/ref_simulator.py — an independent straight-line replay
    of the reference's serial page loops, fmkorea_politics.py:105-300) fixes
    the ground-truth selected-URL set per site for this deterministic
    snapshot, and the generator fixes each page's expected text. The oracle
    states those as literal truth: extracted count per site, zero duplicate
    urls (D1), byte-identical content (E1-E11), all-ok status (F6). Any
    frontier / politeness / staleness / bloom / extraction regression flips
    a value."""
    from politics_crawler_spark.operators.extract import site_expr
    from politics_crawler_spark.plans.crawl import run_crawl
    from politics_crawler_spark.sources.synthetic_pages import synthesize_pages

    pages = synthesize_pages(spark, 1500)
    ext = run_crawl(spark, pages, n_shards=8).extracted
    ext = ext.withColumn(
        "site", site_expr(F.parse_url(F.col("url"), F.lit("HOST")))
    ).join(pages.select("url", F.col("text").alias("_expected")), on="url", how="left")
    return (
        ext.groupBy("site")
        .agg(
            F.count("*").cast("long").alias("n_extracted"),
            (F.count_distinct("url") == F.count("*")).alias("no_dup_urls"),
            F.min(F.col("content") == F.col("_expected")).alias("all_byte_identical"),
            F.min(F.col("status") == "ok").alias("all_ok"),
        )
        .orderBy("site")
    )


def q19_extract_fullscan(spark, sf):
    """Full-scan extraction over every detail page (no frontier), graded as
    a per-site byte-identity CONTRACT: the pages generator computes each
    page's expected text independently of the engine parsers (non-circular,
    sources/synthetic_pages.py docstring), so `all_byte_identical` per site
    is a ground-truth assertion the oracle can state as literal truth — any
    parser regression on any of the 11 site families flips a row."""
    from politics_crawler_spark.operators.extract import site_expr, with_extraction
    from politics_crawler_spark.sources.synthetic_pages import synthesize_pages

    pages = synthesize_pages(spark, 1500).filter(F.col("text") != "")
    pages = pages.withColumn(
        "site", site_expr(F.parse_url(F.col("url"), F.lit("HOST")))
    )
    out = with_extraction(pages)
    return (
        out.groupBy("site")
        .agg(
            F.min(F.col("content") == F.col("text")).alias("all_byte_identical"),
            F.min(F.col("status") == "ok").alias("all_ok"),
        )
        .orderBy("site")
    )


def q20_merge_batches(spark, sf):
    """K2/D3 cross-run upsert, relationally: two event batches merge on
    (user_id, event_type); the newer run's row wins per key."""
    e = _t(spark, sf, "events")
    cutoff = "2024-02-01"
    old = e.filter(F.col("ts") < cutoff)
    new = e.filter(F.col("ts") >= cutoff)
    merged = old.unionByName(new)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        merged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts", "value")
    )


def q21_set_ops(spark, sf):
    """A4 set ops: user-days with a click but no error (EXCEPT/distinct)."""
    e = _t(spark, sf, "events")
    day = F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day")
    clickers = e.filter(F.col("event_type") == "click").select("user_id", day).distinct()
    erroring = e.filter(F.col("event_type") == "error").select("user_id", day).distinct()
    return clickers.exceptAll(erroring).distinct().orderBy("user_id", "day")


def q22_token_explode(spark, sf):
    """Explode analog of the images array (K6/A4): top-50 tokens."""
    d = _t(spark, sf, "documents")
    tok = d.select(
        F.explode(F.split(F.col("text"), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    return (
        tok.groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(50)
    )


def q23_rollup(spark, sf):
    """A7 rollup: lineitem counts at (flag, status), (flag), ()."""
    li = _t(spark, sf, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("qty"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


def q24_anti_semi_join(spark, sf):
    """A6: customers with no orders (anti) + count of those with (semi)."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    big = o.filter(F.col("o_totalprice") > 400000)
    no_big = c.join(big, c.c_custkey == big.o_custkey, "left_anti")
    return no_big.select("c_custkey", "c_name").orderBy("c_custkey")


def q25_median(spark, sf):
    o = _t(spark, sf, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("median_price"),
            F.count("*").alias("n"),
        )
        .orderBy("o_orderpriority")
    )


def q26_monthly(spark, sf):
    o = _t(spark, sf, "orders")
    return (
        o.groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("month"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        )
        .orderBy("month")
    )


def q27_conditional_agg(spark, sf):
    e = _t(spark, sf, "events")
    return (
        e.groupBy("user_id")
        .agg(
            # BIGINT pin on both sides: Spark sum(int)→BIGINT but DuckDB
            # sum(int)→HUGEINT/int128; the driver's value hash is
            # type-sensitive (CORRECTNESS_r01 q27 hash_match=false).
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long").alias("clicks"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long").alias("errors"),
            F.max("ts").alias("last_seen"),
        )
        .orderBy("user_id")
    )


def q28_images_json(spark, sf):
    """K6: array → JSON string encode."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.to_json(F.array(F.col("source"), F.col("lang"))).alias("tags_json"),
    )


def q29_text_cleanup(spark, sf):
    """L8 cleanup composition: trim/normalize/case/category-tag strip."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")).alias("norm_text_head")
        .substr(1, 80).alias("norm_head"),
        F.upper(F.col("lang")).alias("lang_uc"),
    )


def q30_lag_window(spark, sf):
    """Window lag: mean inter-event gap per user (seconds)."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gaps = e.withColumn(
        "gap_us",
        F.unix_micros(F.col("ts").cast("timestamp"))
        - F.unix_micros(F.lag(F.col("ts")).over(w).cast("timestamp")),
    ).filter(F.col("gap_us").isNotNull())
    return (
        gaps.groupBy("user_id")
        .agg(
            F.round(
                (F.sum("gap_us").cast("double") / F.lit(1_000_000.0)) / F.count("*"),
                4,
            ).alias("avg_gap_s"),
            F.count("*").alias("n_gaps"),
        )
        .orderBy("user_id")
    )


def q31_ngram_jaccard(spark, sf):
    """Exact word-3-gram Jaccard near-dup pairs on a bounded slice
    (operators/dedup.py::ngram_jaccard_pairs), oracle-verified."""
    from politics_crawler_spark.operators.dedup import ngram_jaccard_pairs

    base = _t(spark, sf, "documents").filter(F.col("doc_id") < 120).select("doc_id", "text")
    dups = base.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.lit("dup marker "), F.col("text")).alias("text"),
    )
    d = base.unionByName(dups)
    return ngram_jaccard_pairs(d, threshold=0.5).orderBy("id_a", "id_b")


def q33_minhash_dedup(spark, sf):
    """End-to-end near-dup COLLAPSE: LSH proposes, exact char-5-gram
    Jaccard decides (>= 0.5), min-id representative survives. The oracle
    recomputes survivors from the exact all-pairs ground truth — the full
    dedup pipeline (not just the pair list) is graded."""
    from politics_crawler_spark.operators.dedup import minhash_dedup

    d = _t(spark, sf, "documents")
    return minhash_dedup(d, threshold=0.5).select("doc_id").orderBy("doc_id")


def q32_ivf_ann(spark, sf):
    """IVF ANN under the same scale-honest contract as q17: clustered
    embeddings, pruning config (64 cells, n_probe=4 ⇒ candidate volume ≈7%
    of N·Q; numpy-measured mean recall 0.993), mean-recall@10 ≥ 0.9 over
    100 queries vs the independent numpy exact top-k. The two index styles
    (data-adaptive IVF vs data-oblivious hyperplane LSH) are held to one
    ground truth."""
    from politics_crawler_spark.operators.similarity import ivf_topk
    from politics_crawler_spark.sources.synthetic_embeddings import (
        DEFAULT_QUERIES,
        synthesize_embeddings,
    )

    emb = _cached_input(spark, "emb", lambda: synthesize_embeddings(spark))
    queries_df = emb.filter(F.col("vec_id") < DEFAULT_QUERIES)
    approx = ivf_topk(emb, queries_df, n_cells=64)
    return _mean_recall_contract(spark, approx, DEFAULT_QUERIES)


def q34_ann_exact_clustered(spark, sf):
    """Brute-force exact top-k on the SAME clustered embeddings q17/q32
    prune — the bench baseline the approximate indexes must beat (they
    examine ~6-7% of the 100k×100 pair space; this scans all of it), and a
    value-level parity check of cosine_topk against the independent numpy
    ground truth (sim omitted from the graded projection; rank order pins
    it through the rounded-sim window)."""
    from politics_crawler_spark.operators.similarity import cosine_topk
    from politics_crawler_spark.sources.synthetic_embeddings import (
        DEFAULT_QUERIES,
        synthesize_embeddings,
    )

    emb = _cached_input(spark, "emb", lambda: synthesize_embeddings(spark))
    queries_df = emb.filter(F.col("vec_id") < DEFAULT_QUERIES)
    return (
        cosine_topk(emb, queries_df)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))
        .orderBy("query_id", "rank")
    )


def q35_embedding_neardup_dedup(spark, sf):
    """Embedding-cosine near-dup dedup (task directive), graded as an
    exact-survivor contract on a SELF-SYNTHESIZED corpus (the provided
    embeddings tables have no pair above cos 0.61 at any sf — a dedup gate
    there would grade the empty set): 20k near-orthogonal bases + 3
    planted duplicates of each of the first 1k (cos >= 0.996 within a
    family by construction). The operator — hyperplane signatures, banded
    Hamming candidates (family edges sit at Hamming <= 7, inside the
    bands=8 pigeonhole guarantee), exact-cosine verify, connected-component
    collapse — must return EXACTLY the 20k base ids. The survivor set is
    independently recomputed by numpy all-pairs + union-find in
    tests/test_embedding_dedup.py (neardup_survivors_np == range(20000));
    the contract row states (n_vectors, n_survivors, gt_match)."""
    from politics_crawler_spark.operators.similarity import (
        embedding_neardup_dedup,
    )
    from politics_crawler_spark.sources.synthetic_embeddings import (
        NEARDUP_BASE,
        NEARDUP_TOTAL,
        synthesize_neardup_embeddings,
    )

    corpus = _cached_input(
        spark, "neardup", lambda: synthesize_neardup_embeddings(spark)
    )
    surv = embedding_neardup_dedup(corpus).select("vec_id")
    gt = spark.range(NEARDUP_BASE).select(F.col("id").alias("vec_id"))
    j = gt.withColumn("g", F.lit(1)).join(
        surv.withColumn("s", F.lit(1)), on="vec_id", how="full_outer"
    )
    return j.agg(
        F.lit(NEARDUP_TOTAL).cast("long").alias("n_vectors"),
        F.coalesce(F.sum("s"), F.lit(0)).cast("long").alias("n_survivors"),
        (
            F.coalesce(
                F.sum(
                    F.when(F.col("g").isNull() | F.col("s").isNull(), 1).otherwise(0)
                ),
                F.lit(0),
            )
            == 0
        ).alias("gt_match"),
    )


def q36_gopher_repetition(spark, sf):
    """Gopher-style repetition filter (arXiv:2112.11446 App. A1.1 rules,
    re-expressed): per-doc duplicate-word fraction, mean word length, and
    most-common-bigram fraction, plus the keep decision. Array stats are
    shuffle-free codegen; the bigram mode is two narrow fixed-width-key
    aggregations (operators/webquality.py). Thresholds chosen to split
    this corpus non-degenerately (the paper's assume real prose)."""
    from politics_crawler_spark.operators.webquality import (
        gopher_keep,
        repetition_profile,
    )

    p = repetition_profile(_t(spark, sf, "documents"))
    return p.select(
        "doc_id",
        "n_words",
        "dup_word_frac",
        "mean_word_len",
        "top_bigram_frac",
        gopher_keep(
            F.col("n_words"),
            F.col("dup_word_frac"),
            F.col("mean_word_len"),
            F.col("top_bigram_frac"),
        ).alias("keep"),
    )


def q37_pii_redact(spark, sf):
    """PII detection + redaction over deterministically PLANTED PII (the
    corpus itself contains none — the same planting pattern q07 uses for
    duplicates, mirrored exactly in the oracle SQL): emails appended to
    doc_id%7 rows, phone numbers to doc_id%11 rows. Patterns live in the
    RE2 ∩ Java-regex common dialect so DuckDB reproduces the exact
    redacted strings; graded value-for-value including the text."""
    from politics_crawler_spark.operators.webquality import pii_profile

    d = _t(spark, sf, "documents")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0, F.lit(" tel 010-9876-5432")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_profile(planted)


def q38_c4_doc_gate(spark, sf):
    """C4-style document-shape gate (arXiv:1910.10683 heuristics adapted
    to doc granularity): word-count floor, no giant tokens, alphabetic-
    token fraction, stopword-presence fluency proxy — each rule's boolean
    plus the conjunction, all whole-stage codegen with zero shuffles."""
    from politics_crawler_spark.operators.webquality import c4_doc_gate

    return c4_doc_gate(_t(spark, sf, "documents"))


def q39_ngram_freq(spark, sf):
    """Corpus-wide bigram frequency table (vocabulary / boilerplate
    discovery): one aggregation keyed by the n-gram; map-side partial agg
    collapses the Zipf head before the exchange, which carries only
    (ngram, doc_id) partials — never the text."""
    from politics_crawler_spark.operators.webquality import ngram_freq

    return ngram_freq(_t(spark, sf, "documents"))


def q40_media_header_decode(spark, sf):
    """Multimodal plumbing, driver-verifiable end-to-end: plant PNG/GIF/
    JPEG file headers as binary columns with pure JVM expressions (unhex
    of hex-assembled headers, dims derived from doc_id), then decode them
    with the REAL stdlib header parser behind the Arrow mapInPandas media
    path (operators/multimodal.py) and emit the typed metadata. The
    DuckDB oracle recomputes the planted dims arithmetically — matching
    hashes prove the binary round-trip (JVM expression → Arrow batch →
    struct parse) is byte-exact for all three header formats. Media
    payloads never shuffle: decode runs where the scan runs and only the
    slim typed metadata reaches the final sort exchange.

    Reference surface: the crawlers collect image URL lists only
    (dcinside_politics.py:52-53); header decode is engine-added surface.
    """
    from politics_crawler_spark.operators.multimodal import extract_media_features

    did = F.col("doc_id")
    w = (did % 1024 + 16).cast("long")
    h = ((did * 7) % 768 + 16).cast("long")

    def hx(c, nibbles):
        return F.lpad(F.hex(c), nibbles, "0")

    def le16(c):  # little-endian u16 (GIF logical screen descriptor)
        return F.concat(hx(c % 256, 2), hx(F.shiftright(c, 8) % 256, 2))

    png = F.concat(F.lit("89504E470D0A1A0A0000000D49484452"), hx(w, 8), hx(h, 8))
    gif = F.concat(F.lit("474946383961"), le16(w), le16(h))
    jpg = F.concat(F.lit("FFD8FFC0001108"), hx(h, 4), hx(w, 4))  # SOF0 frame
    media = _t(spark, sf, "documents").select(
        did.alias("media_id"),
        F.lit("image").alias("kind"),
        F.unhex(
            F.when(did % 3 == 0, png).when(did % 3 == 1, gif).otherwise(jpg)
        ).alias("payload"),
    )
    return (
        extract_media_features(media)
        .select("media_id", "n_bytes", "width", "height", "status")
        .orderBy("media_id")
    )


_BOILER = [
    "subscribe to our newsletter for daily updates",
    "all rights reserved copyright site network",
    "cookie policy accept terms and conditions",
]


def _planted_lines(spark, sf):
    """Documents with a boilerplate second line planted on doc_id%5 rows
    (cycling three fixed strings) — the corpus has no newlines of its own,
    so cross-document line dedup needs a deterministic multi-line plant,
    mirrored exactly in the oracle SQL (same pattern as q07/q37 plants)."""
    d = _t(spark, sf, "documents")
    b = F.element_at(
        F.array(*[F.lit(s) for s in _BOILER]),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit("\n"), b)).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )


def q41_decontaminate(spark, sf):
    """GPT-3-style benchmark decontamination (arXiv:2005.14165 App C):
    flag training docs sharing any token 8-gram with the eval set. The
    eval set is the doc_id%19 slice of the corpus itself — exact train/
    test leakage, the very thing decontamination exists to catch — so
    every slice member is contaminated by construction and chance 8-gram
    collisions over the 29-word vocabulary add a deterministic tail.
    Plan: eval grams deduped + broadcast; the only post-scan exchange is
    the (doc_id)-keyed count (operators/curation.py)."""
    from politics_crawler_spark.operators.curation import decontaminate_profile

    d = _t(spark, sf, "documents")
    return decontaminate_profile(d, d.filter(F.col("doc_id") % 19 == 0))


def q42_line_dedup(spark, sf):
    """CCNet-style cross-document boilerplate-line removal (arXiv:
    1911.00359 §3.1): hash lines, count distinct docs per line, drop
    lines in ≥10 docs, rebuild text in order. Planted boilerplate (three
    fixed lines on doc_id%5 rows) is removed; every unique content line
    survives. Frequency agg keyed xxhash64(line) — fixed-width exchange,
    map-side combine collapses the hot boilerplate keys; survivors join
    back broadcast (operators/curation.py)."""
    from politics_crawler_spark.operators.curation import drop_boilerplate_lines

    return drop_boilerplate_lines(_planted_lines(spark, sf))


def q43_mixture_sample(spark, sf):
    """Deterministic hash-Bernoulli mixture sampling by source (the
    per-source rate sampling of every published LLM data recipe, made
    reproducible): keep iff (doc_id*40503) mod 65536 under the source's
    target rate, exact integer arithmetic both engines. Returns the
    per-source audit table (target vs realized rate). Pure codegen
    predicate + one narrow source-keyed agg (operators/curation.py)."""
    from politics_crawler_spark.operators.curation import mixture_sample_profile

    return mixture_sample_profile(_t(spark, sf, "documents"))


def q44_token_shards(spark, sf):
    """Token-budget shard assignment (pre-training shard layout): running
    token total in doc_id order, shard = floor(start_offset/2000).
    Implemented as the two-pass distributed prefix sum — per-bucket
    subtotals, exclusive offsets over the tiny bucket table (the ONLY
    sequential window), broadcast back, intra-bucket windows partition-
    parallel — identical to the global window the oracle states
    (operators/curation.py)."""
    from politics_crawler_spark.operators.curation import token_budget_shards

    return token_budget_shards(_t(spark, sf, "documents"), budget=2000)


def q45_curation_pipeline(spark, sf):
    """End-to-end curation pipeline — the composition a 100 TB run
    actually executes, as ONE Catalyst plan: C4 document gate (row-local,
    fused into the scan) → mixture-sampling keep predicate (row-local,
    fused into the same filter) → benchmark decontamination (left_anti
    against the broadcast contaminated-id set) → token-budget shard
    assignment over the survivors (two-pass prefix sum). One scan of the
    corpus for the survivor side; the only exchanges are the tiny
    contamination count and the shard machinery's bucket aggregates
    (operators/webquality.py c4_filter, operators/curation.py)."""
    from politics_crawler_spark.operators.curation import (
        contaminated_ids,
        mixture_keep,
        token_budget_shards,
    )
    from politics_crawler_spark.operators.webquality import c4_filter

    d = _t(spark, sf, "documents")
    surv = c4_filter(d).filter(
        mixture_keep(F.col("doc_id"), F.col("source"))
    )
    contam = contaminated_ids(d, d.filter(F.col("doc_id") % 19 == 0))
    clean = surv.join(F.broadcast(contam), "doc_id", "left_anti")
    return token_budget_shards(clean, budget=500)


def q46_lm_score_buckets(spark, sf):
    """CCNet-style unigram-LM quality scoring (arXiv:1911.00359 §3.3,
    re-expressed): train a Laplace-smoothed unigram model on the corpus
    (one token-keyed aggregation), score every document with mean token
    surprisal (bits/token = log2 perplexity), and bucket head/middle/tail
    at fixed thresholds (CCNet uses per-language constants; the
    thresholds are row-local so bucketing fuses into the scan — no global
    quantile sort). LM broadcast; only exchange after the token explode
    is the (doc_id)-keyed mean (operators/corpus_quality.py)."""
    from politics_crawler_spark.operators.corpus_quality import (
        ccnet_bucket,
        lm_score,
        unigram_lm,
    )

    d = _t(spark, sf, "documents")
    lm = unigram_lm(d)
    scored = lm_score(d, lm)
    return scored.select(
        "doc_id",
        "n_tokens",
        "bits_per_token",
        ccnet_bucket(F.col("bits_per_token"), 4.905, 4.912).alias("bucket"),
    )


def q47_dup_ngram_coverage(spark, sf):
    """Cross-document duplicated-n-gram coverage (Gopher arXiv:2112.11446
    A1.1 / Dolma, re-expressed): fraction of each doc's token positions
    covered by a 5-gram occurring in ≥2 distinct documents, plus the
    integer-exact keep gate (covered ≤ half the tokens). Gram occurrences
    keyed by xxhash64 — 8-byte exchange keys, gram strings never shuffle;
    the dup set joins back by shuffle equi-join (NOT broadcast — at
    100 TB boilerplate grams are legion) (operators/corpus_quality.py)."""
    from politics_crawler_spark.operators.corpus_quality import dup_ngram_coverage

    d = _t(spark, sf, "documents")
    cov = dup_ngram_coverage(d)
    return cov.select(
        "doc_id",
        "n_tokens",
        "n_covered",
        "dup_coverage",
        (F.col("n_covered") * 2 <= F.col("n_tokens")).alias("keep"),
    )


def q48_source_quality_gate(spark, sf):
    """Source-level aggregate quality gate (RefinedWeb arXiv:2306.01116 /
    Dolma domain filtering, re-expressed): judge each source on its MEAN
    document quality (punctuation + stopword-fluency ratios), keep only
    sources with ≥5 docs, mean punct ≤0.05, mean stopword ratio ≥0.06 —
    the stage that drops whole spam domains whose individual pages pass
    per-document gates. One aggregation keyed by source (one row per
    domain); the keep set broadcast-joins back to gate rows
    (operators/corpus_quality.py)."""
    from politics_crawler_spark.operators.corpus_quality import (
        source_quality_profile,
    )

    d = _t(spark, sf, "documents")
    return source_quality_profile(d, min_mean_stop=0.06).orderBy("source")


def q49_drop_dup_spans(spark, sf):
    """Cross-document duplicated-span REMOVAL with text rebuild — the
    transform counterpart of q47 (C4's duplicated-span discard rule,
    arXiv:1910.10683 §2.2; Lee et al. exact substring dedup,
    arXiv:2107.06499, at token-window granularity): drop every token
    position covered by a 5-gram occurring in ≥2 distinct documents,
    rebuild the surviving text in original token order. Covered
    positions from the shared xxhash64-keyed machinery; the rebuild is
    one (doc_id)-keyed aggregation (operators/corpus_quality.py)."""
    from politics_crawler_spark.operators.corpus_quality import (
        drop_dup_ngram_spans,
    )

    d = _t(spark, sf, "documents")
    return drop_dup_ngram_spans(d)


_BM25_QUERIES = [
    (0, "spark query table"),
    (1, "fast scan filter"),
    (2, "stream window agg"),
]


def q50_bm25_search(spark, sf):
    """BM25 ranked keyword retrieval over the documents corpus (Okapi
    BM25, Robertson & Walker TREC-3; Lucene's non-negative idf variant)
    — the inspect/search surface a curation pipeline needs. Corpus-side
    explode is filtered to query terms before any exchange; corpus
    scalars ride a broadcast single-row cross join; per-query top-k is a
    rank-truncated window (WindowGroupLimit partial top-k). The
    reference has no search surface (operators/retrieval.py)."""
    from politics_crawler_spark.operators.retrieval import bm25_topk

    d = _t(spark, sf, "documents")
    return bm25_topk(d, _BM25_QUERIES).orderBy("query_id", "rank")


def q51_cardinality_contract(spark, sf):
    """Per-source corpus cardinality monitor with an accuracy CONTRACT:
    exact doc/token counts plus HyperLogLog++ approximate distinct
    tokens (Heule et al. 2013 via approx_count_distinct, relative_sd
    0.01). The sketch estimate cannot be equated to an exact oracle, so
    the graded row carries `within_tol` — |approx − exact|/exact ≤ 0.05
    (5σ; HLL++ is deterministic/seed-free) — and the oracle asserts the
    contract plus the exact counts. The exact distinct here exists only
    to grade the sketch; at 100 TB only the fixed-width sketch path runs
    (operators/retrieval.py)."""
    from politics_crawler_spark.operators.retrieval import cardinality_profile
    from politics_crawler_spark.operators.textstats import tokens

    d = _t(spark, sf, "documents")
    # r6 negative result: folding the grading-only exact distinct into the
    # sketch aggregation (one tokenize pass, count_distinct alongside
    # approx_count_distinct) measured SLOWER (3.4 s vs 2.2 s interleaved
    # at sf1.0) — the mixed-distinct aggregation plans an Expand that
    # doubles the exploded token stream through the partial aggregates,
    # which costs more than the second lightweight scan it saves. The
    # two-scan shape stands.
    prof = cardinality_profile(d)
    exact = (
        d.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("source")
        .agg(F.count_distinct("tok").alias("exact_distinct"))
    )
    return (
        prof.join(exact, "source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            (
                F.abs(F.col("approx_distinct_tokens") - F.col("exact_distinct"))
                / F.col("exact_distinct")
                <= 0.05
            ).alias("within_tol"),
        )
        .orderBy("source")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_filter_project": q01_filter_project,
        "q02_agg_lineitem": q02_agg_lineitem,
        "q03_join_agg": q03_join_agg,
        "q04_topk_per_group": q04_topk_per_group,
        "q05_sort_limit": q05_sort_limit,
        "q06_latest_per_user": q06_latest_per_user,
        "q07_exact_dedup": q07_exact_dedup,
        "q08_token_count": q08_token_count,
        "q09_quality": q09_quality,
        "q10_lang_id": q10_lang_id,
        "q11_fingerprint_dups": q11_fingerprint_dups,
        "q12_null_community_normalize": q12_null_community_normalize,
        "q13_hourly_rollup": q13_hourly_rollup,
        "q14_ann_cosine": q14_ann_cosine,
        "q15_minhash_pairs": q15_minhash_pairs,
        "q16_simhash_pairs": q16_simhash_pairs,
        "q17_lsh_ann": q17_lsh_ann,
        "q18_crawl_flagship": q18_crawl_flagship,
        "q19_extract_fullscan": q19_extract_fullscan,
        "q20_merge_batches": q20_merge_batches,
        "q21_set_ops": q21_set_ops,
        "q22_token_explode": q22_token_explode,
        "q23_rollup": q23_rollup,
        "q24_anti_semi_join": q24_anti_semi_join,
        "q25_median": q25_median,
        "q26_monthly": q26_monthly,
        "q27_conditional_agg": q27_conditional_agg,
        "q28_images_json": q28_images_json,
        "q29_text_cleanup": q29_text_cleanup,
        "q30_lag_window": q30_lag_window,
        "q31_ngram_jaccard": q31_ngram_jaccard,
        "q32_ivf_ann": q32_ivf_ann,
        "q33_minhash_dedup": q33_minhash_dedup,
        "q34_ann_exact_clustered": q34_ann_exact_clustered,
        "q35_embedding_neardup_dedup": q35_embedding_neardup_dedup,
        "q36_gopher_repetition": q36_gopher_repetition,
        "q37_pii_redact": q37_pii_redact,
        "q38_c4_doc_gate": q38_c4_doc_gate,
        "q39_ngram_freq": q39_ngram_freq,
        "q40_media_header_decode": q40_media_header_decode,
        "q41_decontaminate": q41_decontaminate,
        "q42_line_dedup": q42_line_dedup,
        "q43_mixture_sample": q43_mixture_sample,
        "q44_token_shards": q44_token_shards,
        "q45_curation_pipeline": q45_curation_pipeline,
        "q46_lm_score_buckets": q46_lm_score_buckets,
        "q47_dup_ngram_coverage": q47_dup_ngram_coverage,
        "q48_source_quality_gate": q48_source_quality_gate,
        "q49_drop_dup_spans": q49_drop_dup_spans,
        "q50_bm25_search": q50_bm25_search,
        "q51_cardinality_contract": q51_cardinality_contract,
    }


_EN = "(the|and|of|to|a|in|is|it)"
_ES = "(el|la|de|que|y|en)"

_ANN_RECALL_ORACLE = """
    SELECT CAST(100 AS BIGINT) AS n_queries, true AS mean_recall_ok
"""


def _ann_exact_oracle() -> str:
    """VALUES literal of the independent numpy exact top-k (query_id,
    neighbor_id, rank) on the clustered embeddings."""
    from politics_crawler_spark.sources.synthetic_embeddings import exact_topk_np

    rows = ", ".join(
        f"(CAST({q} AS BIGINT), CAST({n} AS BIGINT), CAST({r} AS BIGINT))"
        for q, n, _, r in exact_topk_np()
    )
    return (
        f"SELECT * FROM (VALUES {rows}) AS t(query_id, neighbor_id, rank) "
        "ORDER BY query_id, rank"
    )

# Exact all-pairs character-5-gram Jaccard (ground truth for q15/q16).
_EXACT_JACCARD_ORACLE = """
    WITH g AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, length(text) - 3),
                                            i -> substring(text, i, 5))) AS grams
        FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.grams, b.grams))), 6) AS jaccard
    FROM g a JOIN g b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
          / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5
    ORDER BY id_a, id_b
"""


def oracle_sql() -> dict[str, str]:
    return {
        "q01_filter_project": """
            SELECT l_orderkey, l_linenumber, l_quantity,
                   round(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                         * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE), 4) AS net_price
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
              AND l_returnflag = 'N'
        """,
        "q02_agg_lineitem": """
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q03_join_agg": """
            SELECT n_name, count(*) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name ORDER BY n_name
        """,
        "q04_topk_per_group": """
            SELECT c_mktsegment, o_orderkey, o_totalprice, rk FROM (
                SELECT c_mktsegment, o_orderkey, o_totalprice,
                       row_number() OVER (PARTITION BY c_mktsegment
                                          ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
                FROM orders JOIN customer ON o_custkey = c_custkey
            ) WHERE rk <= 3 ORDER BY c_mktsegment, rk
        """,
        "q05_sort_limit": """
            SELECT event_id, ts, user_id, event_type
            FROM events ORDER BY ts DESC, event_id ASC LIMIT 100
        """,
        "q06_latest_per_user": """
            SELECT user_id, event_id, ts, event_type, value FROM (
                SELECT *, row_number() OVER (PARTITION BY user_id
                                             ORDER BY ts DESC, event_id DESC) AS rn
                FROM events
            ) WHERE rn = 1
        """,
        "q07_exact_dedup": """
            SELECT min(doc_id) AS doc_id, count(*) AS dup_count
            FROM (SELECT doc_id, text FROM documents
                  UNION ALL
                  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0)
            GROUP BY md5(text)
        """,
        "q08_token_count": r"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '\w+')) AS BIGINT) AS n_tokens,
                   CAST(length(text) AS BIGINT) AS len_chars
            FROM documents
        """,
        "q09_quality": r"""
            SELECT doc_id,
                   round(CASE WHEN length(text) > 0
                         THEN (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                              / CAST(length(text) AS DOUBLE)
                         ELSE 0.0 END, 6) AS punct_ratio,
                   round(CASE WHEN len(regexp_extract_all(text, '\w+')) > 0
                         THEN len(regexp_extract_all(lower(text), '\b%EN%\b'))
                              / CAST(len(regexp_extract_all(text, '\w+')) AS DOUBLE)
                         ELSE 0.0 END, 6) AS stop_ratio
            FROM documents
        """.replace("%EN%", _EN),
        "q10_lang_id": r"""
            SELECT pred_lang, count(*) AS n_docs FROM (
                SELECT CASE
                    WHEN len(regexp_extract_all(lower(text), '\b%EN%\b')) = 0
                     AND len(regexp_extract_all(lower(text), '\b%ES%\b')) = 0 THEN 'unknown'
                    WHEN len(regexp_extract_all(lower(text), '\b%EN%\b'))
                      >= len(regexp_extract_all(lower(text), '\b%ES%\b')) THEN 'en'
                    ELSE 'es' END AS pred_lang
                FROM documents
            ) GROUP BY pred_lang ORDER BY pred_lang
        """.replace("%EN%", _EN).replace("%ES%", _ES),
        "q11_fingerprint_dups": r"""
            SELECT fp, n, rep_id FROM (
                SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
                       count(*) AS n, min(doc_id) AS rep_id
                FROM (SELECT doc_id, text FROM documents
                      UNION ALL
                      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0)
                GROUP BY 1
            ) WHERE n > 1
        """,
        "q12_null_community_normalize": """
            SELECT doc_id,
                   CASE WHEN source IN ('nan','NaN','None') THEN NULL ELSE source END AS source_norm,
                   CASE WHEN regexp_extract(lang, '^([a-z]+)$', 1) = '' THEN NULL
                        ELSE regexp_extract(lang, '^([a-z]+)$', 1) || 'p' END AS lang_code
            FROM documents
        """,
        "q13_hourly_rollup": """
            SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
            FROM events GROUP BY 1, 2 ORDER BY hour, event_type
        """,
        "q14_ann_cosine": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
            pairs AS (
                SELECT q.query_id, v.vec_id AS neighbor_id,
                       round(
                         list_sum(list_transform(range(1, len(qv)+1),
                                  i -> CAST(qv[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE)))
                         / (sqrt(list_sum(list_transform(range(1, len(qv)+1),
                                  i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
                          * sqrt(list_sum(list_transform(range(1, len(v.embedding)+1),
                                  i -> CAST(v.embedding[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE)))))
                       , 4) AS sim
                FROM embeddings v, q WHERE v.vec_id <> q.query_id
            )
            SELECT query_id, neighbor_id, sim, rk AS rank FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                                             ORDER BY sim DESC, neighbor_id ASC) AS rk
                FROM pairs
            ) WHERE rk <= 10 ORDER BY query_id, rank
        """,
        # q15/q16 share one exact ground truth: all-pairs character-5-gram
        # Jaccard >= 0.5. The Spark side reaches it through two different
        # approximate candidate generators (MinHash LSH / SimHash banding)
        # plus exact verification — a recall miss in either sketch fails
        # the row-count match.
        "q15_minhash_pairs": _EXACT_JACCARD_ORACLE,
        "q16_simhash_pairs": _EXACT_JACCARD_ORACLE,
        # Recall ≥ 0.9 contracts on self-synthesized CLUSTERED embeddings
        # (scale-factor-independent; pruning configs, not near-exhaustive
        # ones — candidate volume is asserted ≪ N·Q in
        # tests/test_ann_clustered.py).
        "q17_lsh_ann": _ANN_RECALL_ORACLE,
        "q32_ivf_ann": _ANN_RECALL_ORACLE,
        # Exact brute-force parity on the same clustered set: the literal
        # rows come from the independent numpy ground truth (computed fresh
        # inside oracle_sql(), no pasted constants to go stale).
        "q34_ann_exact_clustered": _ann_exact_oracle(),
        # Exact-survivor contract on the planted near-dup corpus: by
        # construction (and by the independent numpy all-pairs+union-find
        # in tests/test_embedding_dedup.py) the >=0.99 components are
        # exactly the 1k planted families, so the survivors are the 20k
        # base ids and every dup collapses onto its family minimum.
        "q35_embedding_neardup_dedup": """
            SELECT CAST(23000 AS BIGINT) AS n_vectors,
                   CAST(20000 AS BIGINT) AS n_survivors,
                   true AS gt_match
        """,
        # Survivors of the exact ground-truth collapse under the
        # CONNECTED-COMPONENT rule (community-standard transitive dedup):
        # a doc is dropped iff a SMALLER-id doc is reachable through the
        # ≥-threshold exact-Jaccard pair graph (recursive closure), i.e.
        # exactly one survivor — the min id — per component.
        "q33_minhash_dedup": """
            WITH RECURSIVE g AS (
                SELECT doc_id,
                       list_distinct(list_transform(range(1, length(text) - 3),
                                                    i -> substring(text, i, 5))) AS grams
                FROM documents
            ),
            p AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM g a JOIN g b ON a.doc_id < b.doc_id
                WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                      / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5
            ),
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM p
                UNION ALL
                SELECT id_b AS src, id_a AS dst FROM p
            ),
            reach AS (
                SELECT src, dst FROM edges
                UNION
                SELECT r.src, e.dst FROM reach r
                JOIN edges e ON r.dst = e.src AND e.dst <> r.src
            )
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT src FROM reach WHERE dst < src)
            ORDER BY doc_id
        """,
        # q18 invariant contract: per-site counts fixed by the independent
        # reference simulator on the same deterministic snapshot (310 total
        # — recomputed by tools/check_oracle's --regen-q18 helper); the
        # boolean invariants are ground truth by construction (generator
        # text, D1 no-dup, F6 all-ok).
        "q18_crawl_flagship": """
            SELECT * FROM (VALUES
                ('82cook',     CAST(12 AS BIGINT), true, true, true),
                ('bobaedream', CAST(25 AS BIGINT), true, true, true),
                ('clien',      CAST(11 AS BIGINT), true, true, true),
                ('dcinside',   CAST(161 AS BIGINT), true, true, true),
                ('fmkorea',    CAST(19 AS BIGINT), true, true, true),
                ('instiz',     CAST(8 AS BIGINT), true, true, true),
                ('inven',      CAST(6 AS BIGINT), true, true, true),
                ('mlbpark',    CAST(21 AS BIGINT), true, true, true),
                ('ppomppu',    CAST(18 AS BIGINT), true, true, true),
                ('ruliweb',    CAST(19 AS BIGINT), true, true, true),
                ('theqoo',     CAST(10 AS BIGINT), true, true, true)
            ) AS t(site, n_extracted, no_dup_urls, all_byte_identical, all_ok)
            ORDER BY site
        """,
        # Byte-identity contract: the generator's expected text is computed
        # independently of the engine parsers, so "every page of every site
        # family extracted byte-identically" is a fixed truth the oracle
        # states literally; any E1-E11 regression flips a boolean.
        "q19_extract_fullscan": """
            SELECT * FROM (VALUES
                ('82cook', true, true), ('bobaedream', true, true),
                ('clien', true, true), ('dcinside', true, true),
                ('fmkorea', true, true), ('instiz', true, true),
                ('inven', true, true), ('mlbpark', true, true),
                ('ppomppu', true, true), ('ruliweb', true, true),
                ('theqoo', true, true)
            ) AS t(site, all_byte_identical, all_ok) ORDER BY site
        """,
        "q20_merge_batches": """
            SELECT user_id, event_type, event_id, ts, value FROM (
                SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                             ORDER BY ts DESC, event_id DESC) AS rn
                FROM events
            ) WHERE rn = 1
        """,
        "q21_set_ops": """
            SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day FROM events WHERE event_type = 'click'
            EXCEPT
            SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day FROM events WHERE event_type = 'error'
            ORDER BY user_id, day
        """,
        "q22_token_explode": r"""
            SELECT token, count(*) AS n FROM (
                SELECT unnest(string_split_regex(text, '\s+')) AS token FROM documents
            ) WHERE token <> ''
            GROUP BY token ORDER BY n DESC, token ASC LIMIT 50
        """,
        "q23_rollup": """
            SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
            ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
        """,
        "q24_anti_semi_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
            ORDER BY c_custkey
        """,
        "q25_median": """
            SELECT o_orderpriority,
                   round(quantile_cont(o_totalprice, 0.5), 2) AS median_price,
                   count(*) AS n
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "q26_monthly": """
            SELECT date_trunc('month', o_orderdate) AS month, count(*) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
            FROM orders GROUP BY 1 ORDER BY month
        """,
        "q27_conditional_agg": """
            SELECT user_id,
                   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
                   CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
                   max(ts) AS last_seen
            FROM events GROUP BY user_id ORDER BY user_id
        """,
        "q28_images_json": """
            SELECT doc_id, to_json([source, lang]) AS tags_json FROM documents
        """,
        "q29_text_cleanup": r"""
            SELECT doc_id,
                   substring(trim(regexp_replace(text, '\s+', ' ', 'g')), 1, 80) AS norm_head,
                   upper(lang) AS lang_uc
            FROM documents
        """,
        "q30_lag_window": """
            SELECT user_id,
                   round((CAST(sum(gap_us) AS DOUBLE) / 1000000.0) / count(*), 4) AS avg_gap_s,
                   count(*) AS n_gaps
            FROM (
                SELECT user_id,
                       epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                                             ORDER BY ts ASC, event_id ASC)) AS gap_us
                FROM events
            ) WHERE gap_us IS NOT NULL
            GROUP BY user_id ORDER BY user_id
        """,
        "q31_ngram_jaccard": r"""
            WITH g AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           range(1, greatest(len(w) - 3, 0) + 2),
                           i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS grams,
                       CAST(length(text) // 100 AS INT) AS lb
                FROM (
                    SELECT doc_id, text, string_split_regex(text, '\s+') AS w FROM (
                        SELECT doc_id, text FROM documents WHERE doc_id < 120
                        UNION ALL
                        SELECT doc_id + 2000000, 'dup marker ' || text
                        FROM documents WHERE doc_id < 120 AND doc_id % 13 = 0
                    )
                )
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                         / len(list_distinct(list_concat(a.grams, b.grams))), 6) AS jaccard
            FROM g a JOIN g b ON a.lb = b.lb AND a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5
            ORDER BY id_a, id_b
        """,
        "q36_gopher_repetition": r"""
            WITH toks AS (
                SELECT doc_id, regexp_extract_all(text, '\w+') AS t FROM documents
            ),
            bg AS (
                SELECT doc_id, t[i] || ' ' || t[i+1] AS bg
                FROM toks, unnest(range(1, len(t))) AS u(i)
                WHERE len(t) >= 2
            ),
            top AS (
                SELECT doc_id, max(c) AS top_c FROM (
                    SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2
                ) GROUP BY doc_id
            ),
            s AS (
                SELECT doc_id, CAST(len(t) AS BIGINT) AS n_words,
                       round(CASE WHEN len(t) > 0
                             THEN 1.0 - len(list_distinct(t)) / CAST(len(t) AS DOUBLE)
                             ELSE 0.0 END, 6) AS dup_word_frac,
                       round(CASE WHEN len(t) > 0
                             THEN list_sum(list_transform(t, x -> CAST(length(x) AS DOUBLE))) / len(t)
                             ELSE 0.0 END, 6) AS mean_word_len
                FROM toks
            )
            SELECT s.doc_id, s.n_words, s.dup_word_frac, s.mean_word_len,
                   round(coalesce(top.top_c / CAST(s.n_words - 1 AS DOUBLE), 0.0), 6)
                       AS top_bigram_frac,
                   (s.n_words BETWEEN 30 AND 100000
                    AND s.dup_word_frac <= 0.55
                    AND s.mean_word_len BETWEEN 3.0 AND 10.0
                    AND round(coalesce(top.top_c / CAST(s.n_words - 1 AS DOUBLE), 0.0), 6) <= 0.10)
                       AS keep
            FROM s LEFT JOIN top ON s.doc_id = top.doc_id
        """,
        "q37_pii_redact": r"""
            WITH planted AS (
                SELECT doc_id,
                       text
                       || CASE WHEN doc_id % 7 = 0
                          THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                          ELSE '' END
                       || CASE WHEN doc_id % 11 = 0
                          THEN ' tel 010-9876-5432' ELSE '' END AS text
                FROM documents
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
                       AS n_emails,
                   CAST(len(regexp_extract_all(text,
                        '\b01[0-9]-[0-9]{3,4}-[0-9]{4}\b')) AS BIGINT) AS n_phones,
                   regexp_replace(
                       regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g'),
                       '\b01[0-9]-[0-9]{3,4}-[0-9]{4}\b', '<PHONE>', 'g')
                       AS redacted
            FROM planted
        """,
        "q38_c4_doc_gate": r"""
            WITH s AS (
                SELECT doc_id,
                       regexp_extract_all(text, '\w+') AS t,
                       len(regexp_extract_all(lower(text), '\b%EN%\b')) > 0 AS ok_stopword
                FROM documents
            ),
            r AS (
                SELECT doc_id,
                       CAST(len(t) AS BIGINT) AS n_words,
                       len(t) >= 20 AS ok_min_words,
                       coalesce(list_max(list_transform(t, x -> length(x))), 0) <= 30
                           AS ok_word_len,
                       round(CASE WHEN len(t) > 0
                             THEN len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]')))
                                  / CAST(len(t) AS DOUBLE)
                             ELSE 0.0 END, 6) >= 0.8 AS ok_alpha,
                       ok_stopword
                FROM s
            )
            SELECT doc_id, n_words, ok_min_words, ok_word_len, ok_alpha, ok_stopword,
                   (ok_min_words AND ok_word_len AND ok_alpha AND ok_stopword) AS keep
            FROM r
        """.replace("%EN%", _EN),
        "q39_ngram_freq": r"""
            WITH toks AS (
                SELECT doc_id, regexp_extract_all(text, '\w+') AS t FROM documents
            ),
            g AS (
                SELECT doc_id, t[i] || ' ' || t[i+1] AS ngram
                FROM toks, unnest(range(1, len(t))) AS u(i)
                WHERE len(t) >= 2
            )
            SELECT ngram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   CAST(count(*) AS BIGINT) AS total
            FROM g GROUP BY ngram HAVING count(*) >= 2
        """,
        # q40: the oracle recomputes the PLANTED dims arithmetically; a
        # hash match proves the Spark side's expression-built binaries
        # were decoded byte-exactly by the stdlib header parser.
        "q40_media_header_decode": r"""
            SELECT doc_id AS media_id,
                   CAST(CASE doc_id % 3 WHEN 0 THEN 24 WHEN 1 THEN 10
                        ELSE 11 END AS BIGINT) AS n_bytes,
                   CAST(doc_id % 1024 + 16 AS INTEGER) AS width,
                   CAST((doc_id * 7) % 768 + 16 AS INTEGER) AS height,
                   'ok' AS status
            FROM documents ORDER BY media_id
        """,
        "q41_decontaminate": r"""
            WITH toks AS (
                SELECT doc_id, regexp_extract_all(text, '\w+') AS t FROM documents
            ),
            g AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           range(1, len(t) - 6),
                           i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3],
                                          t[i+4], t[i+5], t[i+6], t[i+7]))) AS grams
                FROM toks WHERE len(t) >= 8
            ),
            eg AS (
                SELECT DISTINCT gram FROM (
                    SELECT unnest(grams) AS gram FROM g WHERE doc_id % 19 = 0
                )
            ),
            tg AS (SELECT doc_id, unnest(grams) AS gram FROM g),
            hits AS (
                SELECT tg.doc_id, count(*) AS c
                FROM tg JOIN eg USING (gram) GROUP BY tg.doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(hits.c, 0) AS BIGINT) AS n_contam_grams,
                   coalesce(hits.c, 0) > 0 AS contaminated
            FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
        """,
        "q42_line_dedup": r"""
            WITH planted AS (
                SELECT doc_id,
                       text || CASE WHEN doc_id % 5 = 0
                           THEN chr(10) || CASE doc_id % 3
                                WHEN 0 THEN 'subscribe to our newsletter for daily updates'
                                WHEN 1 THEN 'all rights reserved copyright site network'
                                ELSE 'cookie policy accept terms and conditions' END
                           ELSE '' END AS text
                FROM documents
            ),
            l0 AS (
                SELECT doc_id, string_split(text, chr(10)) AS ls FROM planted
            ),
            lines AS (
                SELECT doc_id, i AS pos, ls[i] AS line
                FROM l0, unnest(range(1, len(ls) + 1)) AS u(i)
            ),
            boiler AS (
                SELECT line FROM lines
                GROUP BY line HAVING count(DISTINCT doc_id) >= 10
            ),
            kept AS (
                SELECT * FROM lines
                WHERE line NOT IN (SELECT line FROM boiler)
            ),
            reb AS (
                SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                       string_agg(line, chr(10) ORDER BY pos) AS text_clean
                FROM kept GROUP BY doc_id
            )
            SELECT l0.doc_id,
                   CAST(len(ls) AS BIGINT) AS n_lines,
                   CAST(coalesce(reb.n_kept, 0) AS BIGINT) AS n_kept,
                   coalesce(reb.text_clean, '') AS text_clean
            FROM l0 LEFT JOIN reb ON l0.doc_id = reb.doc_id
        """,
        "q43_mixture_sample": r"""
            WITH s AS (
                SELECT source, doc_id,
                       5 + (CAST(regexp_extract(source, '(\d+)$', 1) AS BIGINT)
                            * 7) % 16 AS r20,
                       CASE WHEN ((doc_id * 40503) % 65536) * 20
                                 < (5 + (CAST(regexp_extract(source, '(\d+)$', 1)
                                              AS BIGINT) * 7) % 16) * 65536
                            THEN 1 ELSE 0 END AS keep
                FROM documents
            )
            SELECT source,
                   round(CAST(min(r20) AS DOUBLE) / 20.0, 6) AS target_rate,
                   CAST(count(*) AS BIGINT) AS n_total,
                   CAST(sum(keep) AS BIGINT) AS n_kept,
                   round(CAST(sum(keep) AS DOUBLE) / count(*), 6) AS realized_rate
            FROM s GROUP BY source
        """,
        "q44_token_shards": r"""
            WITH t AS (
                SELECT doc_id,
                       CAST(len(regexp_extract_all(text, '\w+')) AS BIGINT)
                           AS n_tokens
                FROM documents
            )
            SELECT doc_id, n_tokens,
                   CAST((sum(n_tokens) OVER (ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         - n_tokens) // 2000 AS BIGINT) AS shard_id
            FROM t
        """,
        "q45_curation_pipeline": r"""
            WITH toks AS (
                SELECT doc_id, source, regexp_extract_all(text, '\w+') AS t,
                       len(regexp_extract_all(lower(text), '\b%EN%\b')) > 0
                           AS ok_stop
                FROM documents
            ),
            gate AS (
                SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks
                WHERE len(t) >= 20
                  AND coalesce(list_max(list_transform(t, x -> length(x))), 0)
                      <= 30
                  AND round(CASE WHEN len(t) > 0
                        THEN len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]')))
                             / CAST(len(t) AS DOUBLE)
                        ELSE 0.0 END, 6) >= 0.8
                  AND ok_stop
                  AND ((doc_id * 40503) % 65536) * 20
                      < (5 + (CAST(regexp_extract(source, '(\d+)$', 1) AS BIGINT)
                              * 7) % 16) * 65536
            ),
            g AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           range(1, len(t) - 6),
                           i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3],
                                          t[i+4], t[i+5], t[i+6], t[i+7]))) AS grams
                FROM toks WHERE len(t) >= 8
            ),
            eg AS (
                SELECT DISTINCT gram FROM (
                    SELECT unnest(grams) AS gram FROM g WHERE doc_id % 19 = 0
                )
            ),
            contam AS (
                SELECT DISTINCT tg.doc_id FROM (
                    SELECT doc_id, unnest(grams) AS gram FROM g
                ) tg JOIN eg USING (gram)
            ),
            surv AS (
                SELECT doc_id, n_tokens FROM gate
                WHERE doc_id NOT IN (SELECT doc_id FROM contam)
            )
            SELECT doc_id, n_tokens,
                   CAST((sum(n_tokens) OVER (ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         - n_tokens) // 500 AS BIGINT) AS shard_id
            FROM surv
        """.replace("%EN%", _EN),
        "q46_lm_score_buckets": r"""
            WITH tok AS (
                SELECT doc_id, unnest(regexp_extract_all(text, '\w+')) AS tok
                FROM documents
            ),
            cnt AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
            tot AS (SELECT sum(c) AS n, count(*) AS v FROM cnt),
            scored AS (
                SELECT t.doc_id,
                       count(*) AS n_tokens,
                       avg(-log2((cnt.c + 1.0) / (tot.n + tot.v))) AS bpt
                FROM tok t JOIN cnt USING (tok) CROSS JOIN tot
                GROUP BY t.doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
                   round(coalesce(s.bpt, 0.0), 6) AS bits_per_token,
                   CASE WHEN round(coalesce(s.bpt, 0.0), 6) < 4.905 THEN 'head'
                        WHEN round(coalesce(s.bpt, 0.0), 6) < 4.912 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
        """,
        "q47_dup_ngram_coverage": r"""
            WITH t AS (
                SELECT doc_id, regexp_extract_all(text, '\w+') AS toks
                FROM documents
            ),
            g AS (
                SELECT doc_id, i.i AS gpos,
                       array_to_string(toks[i.i + 1 : i.i + 5], ' ') AS gram
                FROM t, LATERAL (SELECT unnest(generate_series(0, len(toks) - 5)) AS i) i
                WHERE len(toks) >= 5
            ),
            dupg AS (
                SELECT gram FROM g GROUP BY gram
                HAVING count(DISTINCT doc_id) >= 2
            ),
            cov AS (
                SELECT DISTINCT g.doc_id, p.p
                FROM g JOIN dupg USING (gram),
                     LATERAL (SELECT unnest(generate_series(g.gpos, g.gpos + 4)) AS p) p
            ),
            percov AS (SELECT doc_id, count(*) AS n_cov FROM cov GROUP BY doc_id)
            SELECT t.doc_id,
                   CAST(len(t.toks) AS BIGINT) AS n_tokens,
                   CAST(coalesce(p.n_cov, 0) AS BIGINT) AS n_covered,
                   round(CASE WHEN len(t.toks) > 0
                         THEN coalesce(p.n_cov, 0) / CAST(len(t.toks) AS DOUBLE)
                         ELSE 0.0 END, 6) AS dup_coverage,
                   coalesce(p.n_cov, 0) * 2 <= len(t.toks) AS keep
            FROM t LEFT JOIN percov p USING (doc_id)
        """,
        "q48_source_quality_gate": r"""
            WITH stats AS (
                SELECT source,
                       CASE WHEN length(text) > 0
                            THEN (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                                 / CAST(length(text) AS DOUBLE)
                            ELSE 0.0 END AS p,
                       CASE WHEN len(regexp_extract_all(text, '\w+')) > 0
                            THEN len(regexp_extract_all(lower(text), '\b%EN%\b'))
                                 / CAST(len(regexp_extract_all(text, '\w+')) AS DOUBLE)
                            ELSE 0.0 END AS s
                FROM documents
            ),
            prof AS (
                SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                       round(avg(p), 6) AS mean_punct,
                       round(avg(s), 6) AS mean_stop
                FROM stats GROUP BY source
            )
            SELECT source, n_docs, mean_punct, mean_stop,
                   n_docs >= 5 AND mean_punct <= 0.05 AND mean_stop >= 0.06
                       AS keep_source
            FROM prof ORDER BY source
        """.replace("%EN%", _EN),
        "q49_drop_dup_spans": r"""
            WITH t AS (
                SELECT doc_id, regexp_extract_all(text, '\w+') AS toks
                FROM documents
            ),
            g AS (
                SELECT doc_id, i.i AS gpos,
                       array_to_string(toks[i.i + 1 : i.i + 5], ' ') AS gram
                FROM t, LATERAL (SELECT unnest(generate_series(0, len(toks) - 5)) AS i) i
                WHERE len(toks) >= 5
            ),
            dupg AS (
                SELECT gram FROM g GROUP BY gram
                HAVING count(DISTINCT doc_id) >= 2
            ),
            cov AS (
                SELECT DISTINCT g.doc_id, p.p
                FROM g JOIN dupg USING (gram),
                     LATERAL (SELECT unnest(generate_series(g.gpos, g.gpos + 4)) AS p) p
            ),
            pos AS (
                SELECT t.doc_id, u.p AS p, toks[u.p + 1] AS tok
                FROM t, LATERAL (SELECT unnest(generate_series(0, len(toks) - 1)) AS p) u
                WHERE len(toks) > 0
            ),
            kept AS (
                SELECT pos.doc_id, pos.p, pos.tok
                FROM pos LEFT JOIN cov ON pos.doc_id = cov.doc_id AND pos.p = cov.p
                WHERE cov.p IS NULL
            ),
            reb AS (
                SELECT doc_id, count(*) AS n_kept,
                       string_agg(tok, ' ' ORDER BY p) AS text_clean
                FROM kept GROUP BY doc_id
            )
            SELECT t.doc_id,
                   CAST(len(t.toks) AS BIGINT) AS n_tokens,
                   CAST(coalesce(reb.n_kept, 0) AS BIGINT) AS n_kept,
                   coalesce(reb.text_clean, '') AS text_clean
            FROM t LEFT JOIN reb USING (doc_id)
        """,
        # q50: literal BM25 in SQL — same idf form, same rounding, same
        # (score DESC, doc_id) tie-break. Query terms mirror
        # _BM25_QUERIES verbatim.
        "q50_bm25_search": r"""
            WITH toks AS (
                SELECT doc_id, regexp_extract_all(text, '\w+') AS t FROM documents
            ),
            stats AS (
                SELECT count(*) AS n_docs, avg(len(t)) AS avgdl FROM toks
            ),
            qt AS (
                SELECT DISTINCT * FROM (VALUES
                    (0, 'spark'), (0, 'query'), (0, 'table'),
                    (1, 'fast'), (1, 'scan'), (1, 'filter'),
                    (2, 'stream'), (2, 'window'), (2, 'agg')
                ) AS q(query_id, term)
            ),
            posting AS (
                SELECT toks.doc_id, len(toks.t) AS dl, u.term
                FROM toks, LATERAL (SELECT unnest(t) AS term) u
            ),
            p AS (
                SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
                FROM posting
                WHERE term IN (SELECT DISTINCT term FROM qt)
                GROUP BY 1, 2
            ),
            dft AS (SELECT term, count(*) AS df FROM p GROUP BY 1),
            scored AS (
                SELECT qt.query_id, p.doc_id,
                       round(sum(
                           ln(1 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                           * p.tf * (1.2 + 1)
                           / (p.tf + 1.2 * (1 - 0.75 + 0.75 * p.dl / s.avgdl))
                       ), 4) AS score
                FROM p JOIN dft USING (term) JOIN qt USING (term), stats s
                GROUP BY 1, 2
            )
            SELECT query_id, doc_id, score, rank FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY score DESC, doc_id ASC
                ) AS rank FROM scored
            ) WHERE rank <= 10 ORDER BY query_id, rank
        """,
        # q51: the HLL estimate has no SQL equal — the oracle asserts the
        # CONTRACT (within_tol TRUE) plus the exact doc/token counts.
        "q51_cardinality_contract": r"""
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len(regexp_extract_all(text, '\w+'))) AS BIGINT)
                       AS n_tokens,
                   TRUE AS within_tol
            FROM documents GROUP BY source ORDER BY source
        """,
    }
