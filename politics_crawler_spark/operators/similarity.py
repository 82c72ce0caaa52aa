"""Similarity search over embedding columns (task directive).

- cosine_topk: brute-force exact top-k — the correctness baseline. Query
  side broadcast; similarity via zip_with/aggregate (JVM, codegen); per-query
  top-k via window. O(Q×N) but embarrassingly parallel — the right baseline
  even at scale when Q is small.
- lsh_topk: random-hyperplane LSH bucketing — the scale path. Vectors only
  meet within matching buckets (equi-join), cutting the candidate set by
  ~2^bits per table; probes several hash tables to keep recall.
- ivf_topk: IVF (inverted-file) ANN — k-means coarse quantizer over a
  bounded sample, centroid assignment as a pandas UDF, query probes its
  n_probe nearest cells, exact re-rank inside probed cells. The standard
  data-adaptive alternative to data-oblivious hyperplane LSH.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


def _cosine(a, b) -> "F.Column":
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    nb = F.sqrt(
        F.aggregate(
            F.transform(b, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return dot / (na * nb)


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (query ≠ neighbor)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    joined = vectors.alias("v").join(
        F.broadcast(q), on=F.col("query_id") != F.col(id_col)
    )
    sim = F.round(_cosine(F.col("q_vec"), F.col(vec_col)), round_to)
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        joined.select("query_id", F.col(id_col).alias("neighbor_id"), sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def make_multitable_bucket_udf(
    bits: int, tables: int, seed_base: int = 100, dim: int | None = None
):
    """All ``tables`` hyperplane buckets of a vector in ONE Arrow pass
    (array<long>, one bucket per table) — a per-table UDF would rescan the
    vector column ``tables`` times. Table ``t``'s planes are seeded
    ``seed_base + t`` and sized from the Arrow batch's vector width
    (deterministic: seed + dim fix the planes), so no driver-side action
    is needed to sniff the embedding dim."""
    planes_cache: dict[int, np.ndarray] = {}

    def _planes(d: int) -> np.ndarray:
        if d not in planes_cache:
            planes_cache[d] = np.stack(
                [
                    np.random.default_rng(seed_base + t).standard_normal((d, bits))
                    for t in range(tables)
                ]
            )  # (tables, d, bits)
        return planes_cache[d]

    if dim is not None:
        _planes(dim)

    @pandas_udf(T.ArrayType(T.LongType()))
    def buckets_udf(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="object")
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        pl = _planes(mat.shape[1])
        signs = np.einsum("nd,tdb->ntb", mat, pl) > 0
        vals = (signs * (1 << np.arange(bits))).sum(axis=2)  # (n, tables)
        return pd.Series([row.astype(np.int64).tolist() for row in vals])

    return buckets_udf


def lsh_candidates(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int | None = None,
    bits: int = 8,
    tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Candidate (q_id, n_id, q_vec, n_vec) pairs from random-hyperplane
    bucketing — the prune stage of :func:`lsh_topk`, exposed so tests can
    assert candidate volume ≪ N·Q for a given config.

    Exchange discipline (r5, the same fix the r3 round applied to the
    minhash banded join): the exploded bucket rows and the candidate
    dedup carry BARE IDS — the embedding vectors do not ride the
    tables×N exploded exchange (32 floats × tables per doc of dead
    width; measured ~200 MB of shuffle at the 100k corpus, and the
    reason the r4 bench's q17 walls were noise-dominated). Vectors join
    back once per side onto the deduped candidate set."""
    udf = make_multitable_bucket_udf(bits, tables, dim=dim)

    def bucketize(df, prefix):
        return df.select(
            F.col(id_col).alias(f"{prefix}_id"),
            F.posexplode(udf(F.col(vec_col))).alias("table", "bucket"),
        )

    cand = (
        bucketize(vectors, "n")
        .join(F.broadcast(bucketize(queries, "q")), on=["table", "bucket"])
        .filter(F.col("n_id") != F.col("q_id"))
        .select("q_id", "n_id")
        .dropDuplicates(["q_id", "n_id"])
    )
    return cand.join(
        vectors.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec")),
        on="n_id",
    ).join(
        F.broadcast(
            queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
        ),
        on="q_id",
    )


def _topk_from_collisions(collisions: DataFrame, k: int) -> DataFrame:
    """Per-query dedupe + top-k over raw bucket-collision rows
    ``(query_id, neighbor_id, sim)`` in ONE narrow exchange.

    A pair colliding in several tables/cells yields IDENTICAL rows (sim is
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


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int | None = None,
    k: int = 10,
    bits: int = 8,
    tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: random-hyperplane buckets × several tables.

    Exchange discipline (r5): the vectors NEVER shuffle. The exploded
    bucket rows stream map-side into the broadcast join with the
    bucketized queries, the exact cosine is computed per COLLISION row in
    the same stage (a pair seen by t tables costs t cosines — ~1.2× the
    distinct-pair work, bought back many times over by skipping the
    pair-dedup exchange and both vector join-backs), and the single
    exchange of the whole plan is the narrow (query_id, neighbor_id, sim)
    aggregate of :func:`_topk_from_collisions`. At 100 TB the broadcast
    side is Q×tables rows; with a huge query set the same plan holds with
    the bucket join as a shuffle equi-join on (table, bucket).
    """
    udf = make_multitable_bucket_udf(bits, tables, dim=dim)
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("n_vec"),
        F.posexplode(udf(F.col(vec_col))).alias("table", "bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.posexplode(udf(F.col(vec_col))).alias("table", "bucket"),
    )
    sim = F.round(_cosine(F.col("q_vec"), F.col("n_vec")), 4)
    collisions = (
        v.join(F.broadcast(q), on=["table", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim.alias("sim"))
    )
    return _topk_from_collisions(collisions, k)


# ---------------------------------------------------------------------------
# IVF (inverted file with coarse k-means quantizer)
# ---------------------------------------------------------------------------

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
    cent = centroids

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def cells_udf(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="object")
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        mat = mat / np.where(norms == 0, 1.0, norms)
        sims = mat @ cent.T
        top = np.argsort(-sims, axis=1)[:, :n_probe]
        return pd.Series([row.astype("int32").tolist() for row in top])

    return cells_udf


def ivf_candidates(
    vectors: DataFrame,
    queries: DataFrame,
    n_cells: int = 16,
    n_probe: int = 4,
    sample_n: int = 2048,
    seed: int = 23,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Candidate (q_id, n_id, q_vec, n_vec) pairs from probed IVF cells —
    the prune stage of :func:`ivf_topk`, exposed for candidate-volume
    assertions. Same exchange discipline as :func:`lsh_candidates` (r5):
    the cell-exploded rows and the pair dedup ship bare ids; vectors join
    back once per side after the dedup."""
    sample = np.asarray(
        [r[0] for r in vectors.select(vec_col).limit(sample_n).collect()],
        dtype=np.float64,
    )
    cent = _kmeans(sample, n_cells, seed)
    v_cells = make_cell_udf(cent, n_probe=1)
    q_cells = make_cell_udf(cent, n_probe=n_probe)

    v = vectors.select(
        F.col(id_col).alias("n_id"),
        F.explode(v_cells(F.col(vec_col))).alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.explode(q_cells(F.col(vec_col))).alias("cell"),
    )
    cand = (
        v.join(F.broadcast(q), on="cell")
        .filter(F.col("n_id") != F.col("q_id"))
        .select("q_id", "n_id")
        .dropDuplicates(["q_id", "n_id"])
    )
    return cand.join(
        vectors.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec")),
        on="n_id",
    ).join(
        F.broadcast(
            queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
        ),
        on="q_id",
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    sample_n: int = 2048,
    seed: int = 23,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: train a coarse quantizer on a BOUNDED sample (one
    ``limit(sample_n)`` collect — O(sample) driver bytes, independent of N),
    broadcast the centroid matrix inside a pandas UDF, assign every vector
    its cell and every query its ``n_probe`` nearest cells, equi-join on
    cell, exact cosine re-rank.

    Candidate volume ≈ N * n_probe / n_cells. Data-adaptive (centroids
    follow the distribution), unlike hyperplane LSH. Same exchange
    discipline as :func:`lsh_topk` (r5): vectors never shuffle — the cell
    join is a map-side broadcast against the probed query cells, the
    exact cosine is computed per collision row in the scan stage, and the
    plan's one exchange is the narrow top-k aggregate.
    """
    sample = np.asarray(
        [r[0] for r in vectors.select(vec_col).limit(sample_n).collect()],
        dtype=np.float64,
    )
    cent = _kmeans(sample, n_cells, seed)
    v_cells = make_cell_udf(cent, n_probe=1)
    q_cells = make_cell_udf(cent, n_probe=n_probe)
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("n_vec"),
        F.explode(v_cells(F.col(vec_col))).alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(q_cells(F.col(vec_col))).alias("cell"),
    )
    sim = F.round(_cosine(F.col("q_vec"), F.col("n_vec")), 4)
    collisions = (
        v.join(F.broadcast(q), on="cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim.alias("sim"))
    )
    return _topk_from_collisions(collisions, k)


# --------------------------------------------------------------------------
# Embedding-cosine near-dup dedup (task directive "embedding-cosine
# near-dup"): hyperplane signature → pigeonhole Hamming banding → exact
# cosine verify → transitive collapse.
# --------------------------------------------------------------------------

def make_hyperplane_sig_udf(seed: int = 424242):
    """64-bit hyperplane signature: bit j = sign(v · plane_j). Planes are a
    pure function of (seed, dim) — any worker regenerates them identically;
    signs are scale-invariant, so vectors need no prior normalization. One
    vectorized numpy pass per Arrow batch."""
    state = {}

    @pandas_udf(T.LongType())
    def sig_udf(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        X = np.array(list(vecs), dtype=np.float64)
        P = state.get(X.shape[1])
        if P is None:
            P = np.random.default_rng(seed).standard_normal((64, X.shape[1]))
            state[X.shape[1]] = P
        bits = (X @ P.T) > 0
        packed = (
            bits.astype(np.uint64) << np.arange(64, dtype=np.uint64)[None, :]
        ).sum(axis=1)
        return pd.Series(packed.view(np.int64))

    return sig_udf


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.99,
    bands: int = 8,
    max_hamming: int | None = None,
    seed: int = 424242,
) -> DataFrame:
    """``(id_a, id_b, cos)`` pairs with exact cosine >= threshold, found at
    scale: 64-bit hyperplane signatures band into ``bands`` buckets
    (pigeonhole: any pair within Hamming ``bands - 1`` is guaranteed a
    candidate — at threshold 0.99 the expected signature Hamming is ~1-2
    bits, far inside the radius), candidates get the EXACT cosine
    (zip_with/aggregate, JVM codegen) and the sketch never decides a drop.
    The only joins are bucketed equi-joins; vectors join back once per
    side onto the (small) candidate set."""
    from .dedup import hamming_band_pairs

    max_hamming = bands - 1 if max_hamming is None else max_hamming
    sig_udf = make_hyperplane_sig_udf(seed)
    sigs = df.select(id_col, sig_udf(F.col(vec_col)).alias("sim"))
    cand = hamming_band_pairs(sigs, "sim", id_col, max_hamming, bands)
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    j = cand.select("id_a", "id_b").join(a, on="id_a").join(b, on="id_b")
    cos = _cosine(F.col("_va"), F.col("_vb"))
    return (
        j.select("id_a", "id_b", cos.alias("_cos"))
        .filter(F.col("_cos") >= threshold)  # unrounded, oracle-exact
        .select("id_a", "id_b", F.round("_cos", 6).alias("cos"))
    )


def embedding_neardup_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.99,
    bands: int = 8,
    seed: int = 424242,
) -> DataFrame:
    """Drop every vector whose embedding is a near-duplicate of a
    lower-id vector, transitively: representative = min id of each
    connected component of the >=-threshold pair graph (same collapse
    semantics as minhash_dedup). ``df`` is consumed several times
    (signature pass + two vector joins + final anti-join) — callers
    should persist it."""
    from .dedup import connected_min_reps

    pairs = embedding_neardup_pairs(df, vec_col, id_col, threshold, bands,
                                    seed=seed)
    reps = connected_min_reps(pairs)
    dropped = reps.filter(F.col("rep") < F.col("node")).select(
        F.col("node").alias(id_col)
    )
    return df.join(dropped, on=id_col, how="left_anti")
