"""Scale-honesty tests for the ANN gates: on clustered embeddings the
pruning configs (q17: bits=10 × 6 tables; q32: 64 cells × 4 probes) must
(a) keep MEAN recall@10 ≥ 0.9 over 100 queries against the independent
numpy exact top-k (the ann-benchmarks metric) and (b) examine a small
fraction of N·Q candidates — an "approximate" index doing near-exhaustive
work demonstrates nothing (round-2 verdict). The volume is counted on
``candidate_pairs``, the collision stream lsh_topk/ivf_topk rank: one row
per exact cosine the query computes."""

from pyspark.sql import functions as F

from politics_crawler_spark.sources.synthetic_embeddings import (
    DEFAULT_N,
    DEFAULT_QUERIES,
    exact_topk_np,
    synthesize_embeddings,
)

N = DEFAULT_N          # 100_000
N_QUERIES = DEFAULT_QUERIES  # 100


def _ground_truth():
    gt = {}
    for q, n, _, _ in exact_topk_np(N):
        gt.setdefault(q, set()).add(n)
    return gt


def _mean_recall(approx_rows, gt):
    got = {}
    for r in approx_rows:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(got.get(q, set()) & gt[q]) for q in range(N_QUERIES))
    return hits / (10 * N_QUERIES)


def test_lsh_candidate_volume_and_recall(spark):
    from politics_crawler_spark.operators.similarity import (
        candidate_pairs,
        lsh_keys,
        lsh_topk,
    )

    emb = synthesize_embeddings(spark, N).persist()
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    n_cands = candidate_pairs(emb, queries, lsh_keys(bits=10, tables=6)).count()
    frac = n_cands / (N * N_QUERIES)
    assert frac < 0.15, f"LSH candidate volume not pruned: {frac:.3f} of N·Q"

    approx = lsh_topk(emb, queries, bits=10, tables=6)
    recall = _mean_recall(approx.collect(), _ground_truth())
    assert recall >= 0.9, f"LSH mean recall {recall}"
    emb.unpersist()


def test_ivf_candidate_volume_and_recall(spark):
    from politics_crawler_spark.operators.similarity import (
        candidate_pairs,
        ivf_keys,
        ivf_topk,
    )

    emb = synthesize_embeddings(spark, N).persist()
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    keys = ivf_keys(emb, n_cells=64, n_probe=4)
    n_cands = candidate_pairs(emb, queries, keys).count()
    frac = n_cands / (N * N_QUERIES)
    assert frac < 0.15, f"IVF candidate volume not pruned: {frac:.3f} of N·Q"

    approx = ivf_topk(emb, queries, n_cells=64)
    recall = _mean_recall(approx.collect(), _ground_truth())
    assert recall >= 0.9, f"IVF mean recall {recall}"
    emb.unpersist()


def test_spark_numpy_generator_parity(spark):
    """The distributed generator and the numpy oracle path must produce
    bit-identical vectors (same (seed, i) → same float32 row)."""
    import numpy as np

    from politics_crawler_spark.sources.synthetic_embeddings import embeddings_np

    rows = (
        synthesize_embeddings(spark, 64)
        .orderBy("vec_id")
        .collect()
    )
    expect = embeddings_np(64)
    got = np.asarray([r.embedding for r in rows], dtype=np.float32)
    assert np.array_equal(got, expect)
