"""Near-dup operator tests: sketch kernels vs a per-doc reference, MinHash+LSH
recall, SimHash locality, n-gram Jaccard exactness, ANN brute-force vs LSH
recall."""

import numpy as np
import pytest
from pyspark.sql import functions as F

_FNV_BASIS = 0xCBF29CE484222325
_FNV_PRIME = 0x100000001B3
_U64 = (1 << 64) - 1
_MERS = (1 << 61) - 1


def _docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the committee "
        "debates the annual budget report in the press room today"
    )
    near = base.replace("annual", "yearly").replace("today", "tonight")
    far = "completely different content about spark query engines and shuffles"
    rows = [
        (1, base),
        (2, near),          # near-dup of 1
        (3, base),          # exact dup of 1
        (4, far),
        (5, far + " with an extra tail sentence appended here"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_lsh_finds_near_dups(spark):
    from politics_crawler_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    sigs = minhash_signatures(_docs(spark))
    pairs = lsh_candidate_pairs(sigs, est_threshold=0.5)
    got = {(r.id_a, r.id_b): r.jaccard_est for r in pairs.collect()}
    assert (1, 3) in got and got[(1, 3)] == 1.0  # exact dup → all minhashes equal
    assert (1, 2) in got and got[(1, 2)] >= 0.5  # near dup above threshold
    assert (1, 4) not in got and (2, 4) not in got


def test_minhash_dedup_collapses(spark):
    from politics_crawler_spark.operators.dedup import minhash_dedup

    out = minhash_dedup(_docs(spark), threshold=0.9)
    ids = {r.doc_id for r in out.collect()}
    assert 1 in ids and 3 not in ids  # exact dup collapsed to min id
    assert 4 in ids


def test_minhash_dedup_reads_input_once(spark):
    """``minhash_dedup`` cuts its input once: the sketch, the exact verify
    and the survivors' anti-join all read that cut, so neither the call nor
    later actions on its result re-run the plan that produced ``df``."""
    from pyspark.sql.types import StringType

    from politics_crawler_spark.operators.dedup import minhash_dedup

    evals = spark.sparkContext.accumulator(0)

    def tap(text):
        evals.add(1)
        return text

    tap_udf = F.udf(tap, StringType()).asNondeterministic()
    df = _docs(spark).select("doc_id", tap_udf("text").alias("text"))
    out = minhash_dedup(df, threshold=0.9)
    assert out.count() == 4
    assert {r.doc_id for r in out.collect()} == {1, 2, 4, 5}
    assert evals.value == 5


def _reference_lsh_pairs(sigs: dict, bands: int = 16, r: int = 4) -> dict:
    """Pure-Python banding: a pair is a candidate when at least one band of
    ``r`` slots agrees exactly; with m agreeing bands its estimate is
    round((m/bands)^(1/r), 6)."""
    ids = sorted(sigs)
    out = {}
    for x, a in enumerate(ids):
        for b in ids[x + 1:]:
            m = sum(
                sigs[a][i * r:(i + 1) * r] == sigs[b][i * r:(i + 1) * r]
                for i in range(bands)
            )
            if m:
                out[(a, b)] = round((m / bands) ** (1 / r), 6)
    return out


def test_lsh_candidate_pairs_match_python_banding(spark):
    """The banded bucket join emits exactly the pairs a pure-Python banding
    of the same signatures finds, with the same band-agreement estimate —
    on exact dups, near dups at and around J = 0.5, and unrelated docs."""
    from politics_crawler_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    rows, _ = _boundary_pairs(30)
    rows += [(100 + r.doc_id, r.text) for r in _docs(spark).collect()]
    rows += [(200, rows[0][1]), (201, rows[1][1])]  # exact dups across blocks
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(docs).localCheckpoint(eager=True)
    ref = _reference_lsh_pairs({r.doc_id: list(r.sig) for r in sigs.collect()})
    got = {
        (r.id_a, r.id_b): r.jaccard_est
        for r in lsh_candidate_pairs(sigs, est_threshold=0.0).collect()
    }
    assert got == ref
    # the corpus spans the estimator's range: exact dups, partial agreement
    assert 1.0 in got.values() and min(got.values()) < 0.75


def test_hamming_band_pairs_match_python_banding(spark):
    """The simhash side of the shared banded join: exactly the pairs that
    share one of 8 exact 8-bit bands AND lie within Hamming 7, with their
    distance — the pure-Python pigeonhole banding of the same sims."""
    from politics_crawler_spark.operators.dedup import (
        hamming_band_pairs,
        minhash_signatures,
    )

    rows, _ = _boundary_pairs(30)
    rows += [(200, rows[0][1]), (201, rows[1][1])]  # exact dups across blocks
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sims = minhash_signatures(docs, simhash=True).select("doc_id", "sim")
    sims = sims.localCheckpoint(eager=True)
    sim = {r.doc_id: r.sim & _U64 for r in sims.collect()}
    ids = sorted(sim)
    ref = {}
    for x, a in enumerate(ids):
        for b in ids[x + 1:]:
            ham = bin(sim[a] ^ sim[b]).count("1")
            if ham <= 7 and any((sim[a] >> s) & 255 == (sim[b] >> s) & 255
                                for s in range(0, 64, 8)):
                ref[(a, b)] = ham
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in hamming_band_pairs(sims, "doc_id", max_hamming=7, bands=8).collect()
    }
    assert got == ref
    assert ref[(0, 200)] == ref[(1, 201)] == 0


def test_connected_min_reps_chain(spark):
    """Component labeling must be TRANSITIVE: in pairs (10,50),(30,50) the
    min-id single-hop rule would keep 30 (it never appears as id_b), but all
    three are one component — only 10 survives."""
    from politics_crawler_spark.operators.dedup import connected_min_reps

    pairs = spark.createDataFrame(
        [(10, 50), (30, 50), (70, 80), (80, 90)], "id_a long, id_b long"
    )
    reps = {r.node: r.rep for r in connected_min_reps(pairs).collect()}
    assert reps == {10: 10, 50: 10, 30: 10, 70: 70, 80: 70, 90: 70}


def _union_find_reps(edges) -> dict:
    """Pure-Python union-find: each node's component minimum (the smaller
    root always wins a union, so every root is its component's min id)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _graphs():
    import random

    rng = random.Random(5)
    graphs = {}
    for seed in (1, 2, 3):
        g = random.Random(seed)
        graphs[f"random{seed}"] = [
            tuple(g.sample(range(1, 80), 2)) for _ in range(g.randint(20, 70))
        ]
    path = [1] + rng.sample(range(2, 200), 29)  # 30 nodes, min at one end
    graphs["path30"] = list(zip(path, path[1:]))
    graphs["star"] = [(50, leaf) for leaf in (7, 60, 61, 62, 3, 90, 91)]
    graphs["empty"] = []
    return graphs


@pytest.mark.parametrize("name", sorted(_graphs()))
def test_connected_min_reps_matches_union_find(spark, name):
    """Every node's label is its component's min id, as a pure-Python
    union-find computes it: random multi-component graphs (either edge
    orientation, repeated edges), a 30-node path whose min sits at one end
    (29 propagation hops), a star whose centre is not the min, and an
    empty edge set (no rows)."""
    from politics_crawler_spark.operators.dedup import connected_min_reps

    edges = _graphs()[name]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.node: r.rep for r in connected_min_reps(pairs).collect()}
    assert got == _union_find_reps(edges)


def test_connected_min_reps_raises_unconverged(spark):
    """A 10-node path needs more than two propagation steps: with
    ``max_iters=2`` the labels are still moving, and that is an error."""
    from politics_crawler_spark.operators.dedup import connected_min_reps

    pairs = spark.createDataFrame([(i, i + 1) for i in range(10)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_min_reps(pairs, max_iters=2)


def test_drop_near_dups_reads_pairs_once(spark):
    """``drop_near_dups`` evaluates each ``pairs`` row exactly once — the
    call plus an action on its result — since ``pairs`` is usually a whole
    pair cascade, and an undirected union of two branches over it would
    run that cascade twice."""
    from pyspark.sql.types import LongType

    from politics_crawler_spark.operators.dedup import drop_near_dups

    evals = spark.sparkContext.accumulator(0)

    def tap(x):
        evals.add(1)
        return x

    tap_udf = F.udf(tap, LongType()).asNondeterministic()
    edges = [(1, 4), (4, 9), (2, 3), (5, 6), (6, 7)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long").select(
        tap_udf("id_a").alias("id_a"), "id_b"
    )
    docs = spark.range(1, 11).select(F.col("id").alias("doc_id"))
    out = drop_near_dups(docs, pairs)
    assert {r.doc_id for r in out.collect()} == {1, 2, 5, 8, 10}
    assert evals.value == len(edges)


def test_minhash_dedup_transitive_chain(spark):
    """A~B~C with A≁C (overlapping word windows): the connected-component
    collapse keeps only A; the old single-hop rule would have kept C too
    whenever C only paired 'upward'."""
    from politics_crawler_spark.operators.dedup import minhash_dedup

    words = [f"tok{i:03d}" for i in range(60)]
    a = " ".join(words[0:40])
    b = " ".join(words[10:50])   # J(a,b) ≈ 0.6 by word overlap
    c = " ".join(words[20:60])   # J(b,c) ≈ 0.6, J(a,c) ≈ 0.33 < 0.5
    far = "entirely unrelated content words xylophone quartz bumblebee"
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (9, far)], "doc_id long, text string"
    )
    out = {r.doc_id for r in minhash_dedup(df, threshold=0.5).collect()}
    assert out == {1, 9}, f"expected component collapse to min id, got {out}"


def _shingle_hashes(text: str, k: int) -> np.ndarray:
    """Per-doc reference: unique FNV-1a hashes of all character (code
    point) k-grams, one code point folded in per step."""
    if text is None:
        return np.zeros(0, dtype=np.uint64)
    n = len(text) - k + 1
    if n <= 0:
        return np.zeros(0, dtype=np.uint64)
    arr = np.fromiter(map(ord, text), dtype=np.uint64, count=len(text))
    windows = np.lib.stride_tricks.sliding_window_view(arr, k).astype(np.uint64)
    h = np.full(n, _FNV_BASIS, dtype=np.uint64)
    for i in range(k):
        h ^= windows[:, i]
        h *= _FNV_PRIME
    return np.unique(h)


def _reference_sketches(text: str, k: int = 5):
    """Plain per-doc (sig, sim) in Python ints: slot p of the minhash is
    min over shingles x of ((a_p·x + b_p) mod 2^64) mod (2^61 − 1); bit i of
    the simhash is set iff more than half the DISTINCT shingles have bit i
    set. No shingles → all-zero sig and sim 0."""
    from politics_crawler_spark.operators.dedup import NUM_PERM, SEED

    rng = np.random.default_rng(SEED)
    a = [int(v) for v in rng.integers(1, _MERS, size=NUM_PERM, dtype=np.uint64)]
    b = [int(v) for v in rng.integers(0, _MERS, size=NUM_PERM, dtype=np.uint64)]
    xs = [int(x) for x in _shingle_hashes(text, k)]
    if not xs:
        return [0] * NUM_PERM, 0
    sig = [min(((ap * x + bp) & _U64) % _MERS for x in xs) for ap, bp in zip(a, b)]
    sim = sum(1 << i for i in range(64) if 2 * sum((x >> i) & 1 for x in xs) > len(xs))
    return sig, sim - (1 << 64) if sim >= 1 << 63 else sim


def test_sketch_kernels_match_per_doc_reference(spark):
    """Every doc's batched-kernel ``sig`` and ``sim`` equal the per-doc
    reference — ASCII, Korean (one shingle step per syllable, not per
    UTF-8 byte), a text shorter than k, and a NULL text."""
    from politics_crawler_spark.operators.dedup import minhash_signatures

    rows = [(r.doc_id, r.text) for r in _docs(spark).collect()] + [
        (6, "국회 본회의에서 정부 예산안과 정치 개혁 법안을 두고 여야가 토론했다"),
        (7, "abc"),
        (8, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (list(r.sig), r.sim)
        for r in minhash_signatures(df, simhash=True).collect()
    }
    assert set(got) == {i for i, _ in rows}
    for doc_id, text in rows:
        assert got[doc_id] == _reference_sketches(text), doc_id
    assert got[7] == got[8] == ([0] * 64, 0)


def test_minhash_estimates_char_gram_jaccard_on_crawl_text(spark, pages_pdf):
    """The sketches and the exact verify share one shingle: on the crawl's
    own text (about a third Hangul, 3 UTF-8 bytes per syllable) the 64-slot
    agreement is an unbiased estimate of the exact character-SHINGLE_K-gram
    Jaccard. Over 300 random pairs the mean signed error is within ±0.02;
    sketches of UTF-8 byte grams read about +0.1 here."""
    import random

    from politics_crawler_spark.operators.dedup import SHINGLE_K, minhash_signatures

    texts = [t for t in pages_pdf["text"] if len(t) >= 20]
    hangul = sum(1 for t in texts for c in t if "가" <= c <= "힣")
    assert hangul > 0.2 * sum(map(len, texts))
    rng = random.Random(5)
    ids = rng.sample(range(len(texts)), 200)
    df = spark.createDataFrame([(i, texts[i]) for i in ids], "doc_id long, text string")
    sig = {r.doc_id: np.array(r.sig) for r in minhash_signatures(df).collect()}

    def grams(t):
        return {t[p : p + SHINGLE_K] for p in range(len(t) - SHINGLE_K + 1)}

    errs = []
    for _ in range(300):
        a, b = rng.sample(ids, 2)
        ga, gb = grams(texts[a]), grams(texts[b])
        errs.append(np.mean(sig[a] == sig[b]) - len(ga & gb) / len(ga | gb))
    assert abs(np.mean(errs)) <= 0.02, np.mean(errs)


@pytest.mark.parametrize("id_type", ["int", "string"])
def test_minhash_signatures_keeps_id_type(spark, id_type):
    from politics_crawler_spark.operators.dedup import minhash_signatures

    df = _docs(spark).withColumn("doc_id", F.col("doc_id").cast(id_type))
    out = minhash_signatures(df, simhash=True)
    assert out.schema["doc_id"].dataType == df.schema["doc_id"].dataType
    assert sorted(r.doc_id for r in out.collect()) == sorted(r.doc_id for r in df.collect())


def test_simhash_locality(spark):
    from politics_crawler_spark.operators.dedup import minhash_signatures

    sigs = {r.doc_id: r.sim for r in minhash_signatures(_docs(spark), simhash=True).collect()}
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")
    assert sigs[1] == sigs[3]
    assert ham(sigs[1], sigs[2]) < ham(sigs[1], sigs[4])


def test_ngram_jaccard_exact_values(spark):
    from politics_crawler_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "a b c x y")],
        "doc_id long, text string",
    )
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(df, threshold=0.0).collect()
    }
    assert pairs[(1, 2)] == 1.0
    # grams(1) = {abc,bcd,cde}, grams(3) = {abc,bcx,cxy}: 1 of 5
    assert abs(pairs[(1, 3)] - 0.2) < 1e-9


def test_lsh_ann_recall_vs_bruteforce(spark):
    from politics_crawler_spark.operators.similarity import cosine_topk, lsh_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    exact = cosine_topk(emb, queries)
    # random embeddings are the worst case for LSH (no cluster structure);
    # low bits + many tables trades candidate volume for recall
    approx = lsh_topk(emb, queries, bits=3, tables=8)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def _boundary_pairs(n_pairs: int, seed: int = 11):
    """``n_pairs`` doc pairs whose exact char-5-gram Jaccard lies in
    [0.45, 0.60): a shared random-word prefix plus a fresh suffix per doc,
    the suffix length aimed at a uniform target J. Returns (rows, J by
    pair)."""
    import random

    rng = random.Random(seed)
    vocab = [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(3, 9)))
        for _ in range(3000)
    ]

    def words(n):
        return " ".join(rng.choice(vocab) for _ in range(n))

    def grams(t):
        return {t[i:i + 5] for i in range(len(t) - 4)}

    rows, jac = [], {}
    while len(jac) < n_pairs:
        target = rng.uniform(0.45, 0.60)
        n_prefix = rng.randint(40, 80)
        n_suffix = max(1, round(n_prefix * (1 - target) / (2 * target)))
        prefix = words(n_prefix)
        a, b = f"{prefix} {words(n_suffix)}", f"{prefix} {words(n_suffix)}"
        ga, gb = grams(a), grams(b)
        j = len(ga & gb) / len(ga | gb)
        if 0.45 <= j < 0.60:
            i = 2 * len(jac)
            rows += [(i, a), (i + 1, b)]
            jac[(i, i + 1)] = j
    return rows, jac


def test_cascades_at_the_jaccard_boundary(spark):
    """q15's cascade (``near_dup_pairs``) and q16's on ~400 pairs straddling
    the 0.5 decision threshold. Neither emits a pair under J = 0.5 (the exact verify
    decides), and q15's recall per J bucket tracks the 16×4 banding
    S-curve 1 − (1 − J⁴)¹⁶: at least its mean over the bucket minus 3σ."""
    import math

    from politics_crawler_spark.operators.dedup import (
        exact_jaccard_verify,
        hamming_band_pairs,
        minhash_signatures,
        near_dup_pairs,
        sig_jaccard_refine,
    )

    rows, jac = _boundary_pairs(400)
    texts = dict(rows)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    q15 = {(r.id_a, r.id_b) for r in near_dup_pairs(docs, threshold=0.5).collect()}
    sk = minhash_signatures(docs, simhash=True).localCheckpoint(eager=True)
    cands = hamming_band_pairs(
        sk.select("doc_id", "sim"), "doc_id", max_hamming=7, bands=8
    )
    ref = sig_jaccard_refine(cands, sk.select("doc_id", "sig"), min_est=0.35)
    q16 = {
        (r.id_a, r.id_b)
        for r in exact_jaccard_verify(ref, docs, threshold=0.5).collect()
    }

    def grams(t):
        return {t[i:i + 5] for i in range(len(t) - 4)}

    for a, b in q15 | q16:
        ga, gb = grams(texts[a]), grams(texts[b])
        assert len(ga & gb) / len(ga | gb) >= 0.5, (a, b)

    for lo, hi in ((0.50, 0.55), (0.55, 0.60)):
        bucket = [p for p, j in jac.items() if lo <= j < hi]
        probs = [1 - (1 - jac[p] ** 4) ** 16 for p in bucket]
        mean = sum(probs) / len(probs)
        sigma = math.sqrt(sum(q * (1 - q) for q in probs)) / len(probs)
        recall = sum(p in q15 for p in bucket) / len(bucket)
        assert len(bucket) >= 50
        assert recall >= mean - 3 * sigma, (lo, recall, mean, sigma)
