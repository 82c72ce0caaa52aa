"""Similarity search over embedding columns (task directive).

- cosine_topk: brute-force exact top-k — the correctness baseline (query
  side broadcast, zip_with/aggregate cosine, per-query window). O(Q×N) but
  embarrassingly parallel: the right baseline even at scale when Q is small.
- lsh_topk / ivf_topk: ANN over ONE collision path. An index is a pair of
  key functions (vectors, queries → array<long>); :func:`candidate_pairs`
  explodes and broadcast-joins them, the exact cosine re-ranks each
  collision, :func:`_topk_from_collisions` keeps k. :func:`lsh_keys` are
  random-hyperplane buckets per table (data-oblivious); :func:`ivf_keys`
  are k-means cells, a query probing its ``n_probe`` nearest
  (data-adaptive).
- hyperplane_codes: the one sign-bit kernel — the LSH keys and the 64-bit
  signature of embedding near-dup dedup (signature → pigeonhole Hamming
  banding → exact cosine verify → ``dedup.drop_near_dups``).

Input columns: vector and query frames are read as ``vec_id`` and
``embedding`` (an array of numbers).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# IVF quantizer training: a bounded sample (one ``limit`` collect —
# O(sample) driver bytes, independent of N) and a fixed k-means seed;
# ivf_topk re-ranks inside each query's IVF_PROBES cells. Every top-k
# search here returns the TOP_K nearest neighbours per query.
IVF_SAMPLE_N = 2048
IVF_SEED = 23
IVF_PROBES = 4
TOP_K = 10


def _sum(arr) -> "F.Column":
    return F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)


def _cosine(a, b) -> "F.Column":
    def norm(c):
        return F.sqrt(_sum(F.transform(c, lambda x: x.cast("double") * x.cast("double"))))

    dot = _sum(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")))
    return dot / (norm(a) * norm(b))


def cosine_topk(vectors: DataFrame, queries: DataFrame) -> DataFrame:
    """Exact top-TOP_K cosine neighbors per query (query ≠ neighbor), sim
    rounded to 4 places."""
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    joined = vectors.alias("v").join(
        F.broadcast(q), on=F.col("query_id") != F.col("vec_id")
    )
    sim = F.round(_cosine(F.col("q_vec"), F.col("embedding")), 4)
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        joined.select("query_id", F.col("vec_id").alias("neighbor_id"), sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def hyperplane_codes(planes_for_dim):
    """Sign-bit codes of every vector in ONE Arrow pass → array<long>.

    ``planes_for_dim(d)`` returns the planes for width-``d`` vectors as a
    ``(groups, bits, d)`` array. Code ``g`` of vector ``x`` is
    ``g·2^bits + Σ_j [x · planes[g, j] > 0]·2^j``: each group packs its
    sign bits into its own key range, so codes from different groups never
    collide in one join key. With one 64-bit group the code is the packed
    sign word itself, viewed as int64 (bit 63 set ⇒ negative). The planes
    are a pure function of ``d`` — any worker regenerates them — so no
    driver-side action sniffs the embedding width; signs are scale-
    invariant, so vectors need no prior normalization."""
    cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}

    def _planes(d: int):
        if d not in cache:
            planes = np.asarray(planes_for_dim(d), dtype=np.float64)
            groups, bits, _ = planes.shape
            offsets = np.array([g << bits for g in range(groups)], dtype=np.uint64)
            cache[d] = planes.reshape(groups * bits, d), offsets
        return cache[d]

    @pandas_udf(T.ArrayType(T.LongType()))
    def codes_udf(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="object")
        X = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        P, offsets = _planes(X.shape[1])
        signs = ((X @ P.T) > 0).reshape(len(X), len(offsets), -1)
        weights = np.uint64(1) << np.arange(signs.shape[2], dtype=np.uint64)
        packed = (signs.astype(np.uint64) * weights).sum(axis=2, dtype=np.uint64)
        return pd.Series(list((packed + offsets).view(np.int64)))

    return codes_udf


def lsh_keys(bits: int, tables: int):
    """Random-hyperplane LSH keys: table ``t``'s ``bits`` planes are seeded
    ``100 + t``; key = ``t·2^bits + bucket``. The same key function serves
    vectors and queries."""

    def planes(d: int) -> np.ndarray:
        return np.stack([
            np.random.default_rng(100 + t).standard_normal((d, bits)).T
            for t in range(tables)
        ])

    udf = hyperplane_codes(planes)
    return udf, udf


def _kmeans(sample: np.ndarray, n_cells: int, seed: int, iters: int = 15) -> np.ndarray:
    """Tiny deterministic Lloyd's k-means on (normalized) sample rows."""
    rng = np.random.default_rng(seed)
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    x = sample / np.where(norms == 0, 1.0, norms)
    cent = x[rng.choice(len(x), size=min(n_cells, len(x)), replace=False)].copy()
    for _ in range(iters):
        assign = (x @ cent.T).argmax(axis=1)
        for c in range(len(cent)):
            m = assign == c
            if m.any():
                v = x[m].mean(axis=0)
                nv = np.linalg.norm(v)
                if nv > 0:
                    cent[c] = v / nv
    return cent


def make_cell_udf(centroids: np.ndarray, n_probe: int = 1):
    """Assign each vector its ``n_probe`` nearest coarse cells (by cosine)."""

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def cells_udf(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="object")
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        mat = mat / np.where(norms == 0, 1.0, norms)
        sims = mat @ centroids.T
        top = np.argsort(-sims, axis=1)[:, :n_probe]
        return pd.Series([row.astype("int32").tolist() for row in top])

    return cells_udf


def ivf_keys(vectors: DataFrame, n_cells: int, n_probe: int):
    """IVF keys: train the coarse quantizer on the first ``IVF_SAMPLE_N``
    vectors (one bounded collect), then key each vector by its nearest
    cell and each query by its ``n_probe`` nearest. Candidate volume ≈
    N · n_probe / n_cells per query."""
    sample = np.asarray(
        [r[0] for r in vectors.select("embedding").limit(IVF_SAMPLE_N).collect()],
        dtype=np.float64,
    )
    cent = _kmeans(sample, n_cells, IVF_SEED)
    return make_cell_udf(cent, n_probe=1), make_cell_udf(cent, n_probe=n_probe)


def candidate_pairs(vectors: DataFrame, queries: DataFrame, keys) -> DataFrame:
    """Collision rows ``(query_id, neighbor_id, sim)``: every (vector,
    query) pair sharing a key of ``keys = (vector_keys, query_keys)``, with
    its exact cosine rounded to 4 places. A pair sharing m keys yields m
    identical rows; :func:`_topk_from_collisions` dedupes them.

    Exchange discipline (r5): the vectors NEVER shuffle. The exploded key
    rows stream map-side into the broadcast join with the keyed queries,
    and the exact cosine is computed per collision row in the same stage
    (a pair seen under m keys costs m cosines — measured 2.1× the
    distinct-pair work at q17's 10 bits × 6 tables, 1.22M collision rows
    for 0.58M distinct pairs; the r5 walls bought it back by skipping a
    pair-dedup exchange and both vector join-backs). At 100 TB the broadcast side is
    Q × keys-per-query rows; with a huge query set the same plan holds with
    the key join as a shuffle equi-join."""
    v_keys, q_keys = keys
    v = vectors.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("n_vec"),
        F.explode(v_keys(F.col("embedding"))).alias("key"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        F.explode(q_keys(F.col("embedding"))).alias("key"),
    )
    sim = F.round(_cosine(F.col("q_vec"), F.col("n_vec")), 4)
    return (
        v.join(F.broadcast(q), on="key")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim.alias("sim"))
    )


def _topk_from_collisions(collisions: DataFrame, k: int) -> DataFrame:
    """Per-query dedupe + top-k over raw collision rows
    ``(query_id, neighbor_id, sim)`` in ONE narrow exchange — the plan's
    only exchange.

    A pair colliding under several keys yields IDENTICAL rows (sim is
    deterministic per pair), so ``collect_set`` of (−sim, id) structs
    dedupes them inside the aggregate — no separate dropDuplicates
    exchange and no window exchange. ``array_sort`` on the struct orders
    (sim desc, id asc) — the same deterministic tiebreak row_number used —
    and ``slice`` keeps k. The per-group state is bounded by the query's
    candidate count (bucket-size bound), and partial aggregation dedupes
    map-side before the exchange."""
    item = F.struct((-F.col("sim")).alias("nsim"), F.col("neighbor_id").alias("nid"))
    return (
        collisions.groupBy("query_id")
        .agg(F.slice(F.array_sort(F.collect_set(item)), 1, k).alias("_top"))
        .select("query_id", F.posexplode("_top").alias("_pos", "_it"))
        .select(
            "query_id",
            F.col("_it.nid").alias("neighbor_id"),
            (-F.col("_it.nsim")).alias("sim"),
            (F.col("_pos") + 1).alias("rank"),
        )
    )


def lsh_topk(vectors: DataFrame, queries: DataFrame, bits: int = 8, tables: int = 4) -> DataFrame:
    """Approximate top-TOP_K over random-hyperplane buckets × several tables."""
    keys = lsh_keys(bits, tables)
    return _topk_from_collisions(candidate_pairs(vectors, queries, keys), TOP_K)


def ivf_topk(vectors: DataFrame, queries: DataFrame, n_cells: int = 16) -> DataFrame:
    """IVF ANN: exact cosine top-``TOP_K`` re-rank inside each query's
    ``IVF_PROBES`` probed cells."""
    keys = ivf_keys(vectors, n_cells, IVF_PROBES)
    return _topk_from_collisions(candidate_pairs(vectors, queries, keys), TOP_K)


# --------------------------------------------------------------------------
# Embedding-cosine near-dup dedup (task directive "embedding-cosine
# near-dup"): hyperplane signature → pigeonhole Hamming banding → exact
# cosine verify → transitive collapse.
# --------------------------------------------------------------------------

# Hyperplane seed and band count of the near-dup signature: 8 bands of 8
# bits give the pigeonhole radius below. NEARDUP_COS is the exact-cosine
# bar a pair must reach to count as a near-duplicate.
HYPERPLANE_SEED = 424242
NEARDUP_BANDS = 8
NEARDUP_COS = 0.99


def hyperplane_signature():
    """64-bit hyperplane signature column function: bit j = sign(v ·
    plane_j), planes drawn as
    ``default_rng(HYPERPLANE_SEED).standard_normal((64, d))``."""
    udf = hyperplane_codes(
        lambda d: np.random.default_rng(HYPERPLANE_SEED).standard_normal((1, 64, d))
    )
    return lambda col: udf(col)[0]


def embedding_neardup_pairs(df: DataFrame) -> DataFrame:
    """``(id_a, id_b, cos)`` pairs with exact cosine >= NEARDUP_COS, found at
    scale: 64-bit hyperplane signatures band into ``NEARDUP_BANDS`` buckets
    (pigeonhole: any pair within Hamming ``NEARDUP_BANDS - 1`` is guaranteed
    a candidate — at cosine 0.99 the expected signature Hamming is ~1-2
    bits, far inside the radius), candidates get the EXACT cosine
    (zip_with/aggregate, JVM codegen) and the sketch never decides a drop.
    The only joins are bucketed equi-joins; vectors join back once per
    side onto the (small) candidate set."""
    from .dedup import hamming_band_pairs

    sigs = df.select("vec_id", hyperplane_signature()(F.col("embedding")).alias("sim"))
    cand = hamming_band_pairs(sigs, "vec_id", NEARDUP_BANDS - 1, NEARDUP_BANDS)
    a = df.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"))
    b = df.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"))
    j = cand.select("id_a", "id_b").join(a, on="id_a").join(b, on="id_b")
    cos = _cosine(F.col("_va"), F.col("_vb"))
    return (
        j.select("id_a", "id_b", cos.alias("_cos"))
        .filter(F.col("_cos") >= NEARDUP_COS)  # unrounded, oracle-exact
        .select("id_a", "id_b", F.round("_cos", 6).alias("cos"))
    )


def embedding_neardup_dedup(df: DataFrame) -> DataFrame:
    """Drop every vector whose embedding is a near-duplicate of a
    lower-id vector, transitively (``dedup.drop_near_dups``, the same
    collapse as minhash_dedup). ``df`` is consumed several times
    (signature pass + two vector joins + final anti-join) — callers
    should persist it."""
    from .dedup import drop_near_dups

    return drop_near_dups(df, embedding_neardup_pairs(df), "vec_id")
