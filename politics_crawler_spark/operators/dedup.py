"""Deduplication operators — exact and near-dup — for training-data scale.

- exact_dedup: hash-groupBy on content (or any key); one shuffle, map-side
  partial agg. 100 TB-safe: dedup key is a fixed-width digest, not the text.
- minhash_signatures: the one text-sketch operator — character-shingle
  hashes → 64-perm minhash (and optionally a 64-bit simhash), vectorized
  numpy in one mapInPandas pass.
- lsh_candidate_pairs / hamming_band_pairs: candidate generators over one
  banded self-join (``_banded_self_join``): each doc explodes into one
  (band, bucket) row per band and only docs sharing a bucket meet — no
  O(n²) cross join. The MinHash banding estimates Jaccard from band
  agreement; the simhash banding gates on Hamming distance (pigeonhole).
- sig_jaccard_refine / exact_jaccard_verify: full-signature precision gate,
  then exact shingle-Jaccard decides.
- near_dup_pairs: the one pair cascade — sketch → banding → refine → exact
  verify — behind minhash_dedup and the graded q15.
- drop_near_dups: the one transitive collapse — keep the min id of each
  connected component of a verified pair graph (text and embedding dedup).

Input columns: documents are read as ``doc_id`` and ``text``; signature
frames carry ``doc_id`` with ``sig`` (and ``sim``); pair frames are
``(id_a, id_b)``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --------------------------------------------------------------------------
# exact dedup (built-ins only)
# --------------------------------------------------------------------------

def exact_dedup(df: DataFrame) -> DataFrame:
    """Keep the lowest-id representative of each exact text duplicate set.

    The shuffle key is ``md5(text)`` — a fixed-width 32-byte digest — NOT the
    text itself: at 100 TB, grouping on raw document text would shuffle the
    whole corpus. md5 (not xxhash64) so the DuckDB oracle can reproduce the
    grouping exactly; collision risk at 2^64 docs is ~2^-64 per pair and the
    reference's own seen-set is likewise hash-keyed (SURVEY.md §2.4 D1).
    """
    return (
        df.groupBy(F.md5(F.col("text")).alias("_digest"))
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("dup_count"))
        .select("doc_id", "dup_count")
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

_MERS = np.uint64((1 << 61) - 1)
_FNV_BASIS = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(0x100000001B3)

# MinHash permutation count and seed. 64 slots are what lsh_candidate_pairs'
# LSH_BANDS × LSH_ROWS banding and sig_jaccard_refine's error bound
# (sd ≈ sqrt(j(1-j)/64)) are sized for; the seed fixes the (a, b)
# coefficients, so signatures are reproducible across runs and workers.
# Every sketch and the exact verify shingle the same character (code
# point) SHINGLE_K-grams, so the sketches estimate the Jaccard the verify
# decides on, on Hangul as on ASCII.
NUM_PERM = 64
SEED = 7
LSH_BANDS, LSH_ROWS = 16, 4
SHINGLE_K = 5
assert LSH_BANDS * LSH_ROWS <= NUM_PERM
_rng = np.random.default_rng(SEED)
_PERM_A = _rng.integers(1, (1 << 61) - 1, size=NUM_PERM, dtype=np.uint64)
_PERM_B = _rng.integers(0, (1 << 61) - 1, size=NUM_PERM, dtype=np.uint64)
del _rng

# Bound on shingles hashed per (a*x+b) matrix chunk: 64 perms × 2^18
# shingles × 8 B ≈ 134 MB of temporary — fits comfortably in an Arrow
# worker while keeping the chunk loop to a handful of iterations per batch.
_MINHASH_CHUNK_SHINGLES = 1 << 18


def _batch_shingle_hashes(texts, k: int):
    """Hash EVERY doc's character k-gram shingles in one numpy pass over the
    whole Arrow batch (VERDICT r3 #3: the per-doc loop was the q15/q16
    bottleneck — thousands of tiny sliding_window_view calls per batch).

    All texts concatenate into one UTF-32 buffer, one uint32 per code
    point; one vectorized FNV-1a sweep hashes every window of the buffer,
    one code point per step (k-1 boundary-crossing windows per doc are
    computed then dropped by the segment gather — cheaper than splitting
    the buffer). On ASCII each step folds in the same value a byte-wise
    FNV-1a would, so ASCII hashes equal UTF-8 byte-gram hashes.

    Returns ``(h, starts, counts)``: doc d's shingle hashes are
    ``h[starts[d] : starts[d] + counts[d]]``, NOT deduplicated — minhash is
    dedup-invariant (min over a multiset == min over its set); simhash
    dedupes segment-wise downstream.
    """
    strs = [t or "" for t in texts]
    lens = np.fromiter((len(t) for t in strs), dtype=np.int64, count=len(strs))
    data = "".join(strs).encode("utf-32-le", "surrogatepass")
    arr = np.frombuffer(data, dtype=np.uint32)
    n_win = len(arr) - k + 1
    if n_win > 0:
        h_all = np.full(n_win, _FNV_BASIS, dtype=np.uint64)
        for i in range(k):
            h_all ^= arr[i : i + n_win].astype(np.uint64)
            h_all *= _FNV_PRIME
    else:
        h_all = np.zeros(0, dtype=np.uint64)
    offs = np.zeros(len(strs), dtype=np.int64)
    np.cumsum(lens[:-1], out=offs[1:])
    counts = np.maximum(lens - (k - 1), 0)
    starts = np.zeros(len(strs), dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    # grouped-arange gather: positions offs[d] .. offs[d]+counts[d]-1 per doc
    total = int(counts.sum())
    idx = np.repeat(offs - starts, counts) + np.arange(total, dtype=np.int64)
    return h_all[idx], starts, counts


def _parallelize_input(df: DataFrame) -> DataFrame:
    """Spread a narrow input across the cluster before a CPU-bound stage.

    A small parquet table often arrives as ONE scan split (single file /
    row group), which would serialize every shingle-hash and gram build
    onto one core regardless of cluster size. Only repartitions when the
    scan is under-split (fewer partitions than defaultParallelism) — at
    100 TB the scan already yields thousands of splits and this is a
    no-op, so the exchange is paid exactly when it buys parallelism.
    """
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism, "doc_id")
    return df


def _minhash_kernel(h, starts, counts) -> np.ndarray:
    """Vectorized NUM_PERM-slot minhash over pre-hashed shingles."""
    n_docs = len(counts)
    sigs = np.zeros((n_docs, NUM_PERM), dtype=np.int64)  # empty doc → [0]*p
    nz = np.nonzero(counts)[0]
    # chunk the (perm × shingle) matrix by whole docs so each
    # minimum.reduceat segment stays contiguous within its chunk
    lo = 0
    while lo < len(nz):
        hi = lo
        tot = 0
        while hi < len(nz) and (tot == 0 or tot + counts[nz[hi]] <= _MINHASH_CHUNK_SHINGLES):
            tot += counts[nz[hi]]
            hi += 1
        docs = nz[lo:hi]
        seg_starts = np.zeros(len(docs), dtype=np.int64)
        np.cumsum(counts[docs][:-1], out=seg_starts[1:])
        gather = np.repeat(starts[docs] - seg_starts, counts[docs]) + np.arange(
            int(tot), dtype=np.int64
        )
        sh = h[gather]
        # (a*x + b) mod mersenne61 (a*x + b wraps mod 2^64 first), min per
        # doc-segment per permutation. The mod uses the Mersenne fold —
        # y ≡ (y >> 61) + (y & M) (mod 2^61-1) with one conditional
        # subtract — instead of uint64 division, which costs ~10× more per
        # element and dominated the sketch pass.
        vals = sh[None, :] * _PERM_A[:, None]
        vals += _PERM_B[:, None]
        hi61 = vals >> np.uint64(61)
        vals &= _MERS
        vals += hi61
        vals[vals >= _MERS] -= _MERS
        mins = np.minimum.reduceat(vals, seg_starts, axis=1)
        sigs[docs] = mins.T.astype(np.int64)
        lo = hi
    return sigs


def _simhash_kernel(h, counts) -> np.ndarray:
    """Vectorized 64-bit simhash over pre-hashed shingles: bit i is the
    majority vote of bit i over the doc's DISTINCT shingle hashes."""
    n_docs = len(counts)
    out = np.zeros(n_docs, dtype=np.int64)  # empty doc → 0
    nz = np.nonzero(counts)[0]
    if len(nz):
        # segment-wise np.unique: sort by (doc, hash) in one lexsort, then
        # mask first-occurrences.
        doc_of = np.repeat(np.arange(n_docs, dtype=np.int64), counts)
        order = np.lexsort((h, doc_of))
        hs, ds = h[order], doc_of[order]
        first = np.ones(len(hs), dtype=bool)
        first[1:] = (hs[1:] != hs[:-1]) | (ds[1:] != ds[:-1])
        hu, du = hs[first], ds[first]
        u_counts = np.bincount(du, minlength=n_docs)[nz]
        u_starts = np.searchsorted(du, nz)
        # per-bit +1/-1 votes: 64 reduceat sums over the packed
        # unique-hash array — vectorized across every doc in the batch
        val = np.zeros(len(nz), dtype=np.uint64)
        for i in range(64):
            ones = np.add.reduceat(
                ((hu >> np.uint64(i)) & np.uint64(1)).astype(np.int64),
                u_starts,
            )
            score = ones * 2 - u_counts
            val |= (score > 0).astype(np.uint64) << np.uint64(i)
        out[nz] = val.astype(np.int64)
    return out


def minhash_signatures(df: DataFrame, simhash: bool = False) -> DataFrame:
    """Text sketches of every doc's character ``SHINGLE_K``-grams, the
    shingles ``exact_jaccard_verify`` compares: ``(doc_id, sig
    array<long>)`` — the NUM_PERM-slot minhash — plus ``sim long``, the
    64-bit simhash, when ``simhash=True``. A NULL text or one shorter than
    ``SHINGLE_K`` characters has no shingles: all-zero ``sig``,
    ``sim = 0``.

    One mapInPandas pass: each Arrow batch is FNV-shingle-hashed once and
    both kernels read the same hashes, so q16 (simhash banding + minhash
    refine) scans and hashes the text once. ``doc_id`` passes through
    with its input type — the output schema takes ``df.schema["doc_id"]``.

    Shape note (r6, measured): the output columns are FLAT top-level
    columns, not a struct — the pandas→Arrow conversion of a struct column
    embedding an array<long> measured ~20× slower than the same data as a
    top-level list column (98.7 s vs ~5 s for the 50k-doc sketch pass)."""

    def _run(batches):
        for pdf in batches:
            h, starts, counts = _batch_shingle_hashes(pdf["text"], SHINGLE_K)
            out = {
                "doc_id": pdf["doc_id"],
                "sig": pd.Series(list(_minhash_kernel(h, starts, counts)), index=pdf.index),
            }
            if simhash:
                out["sim"] = pd.Series(_simhash_kernel(h, counts), index=pdf.index, dtype="int64")
            yield pd.DataFrame(out)

    fields = [df.schema["doc_id"], T.StructField("sig", T.ArrayType(T.LongType()))]
    if simhash:
        fields.append(T.StructField("sim", T.LongType()))
    src = _parallelize_input(df.select("doc_id", "text"))
    return src.mapInPandas(_run, schema=T.StructType(fields))


def _banded_self_join(sigs: DataFrame, id_col: str, buckets: list,
                      *carry: str) -> DataFrame:
    """The one banded self-join behind both candidate generators: each doc
    of ``sigs`` explodes into one ``(band, bucket)`` row per element of
    ``buckets`` (one Column per band, its position the band index), and
    docs meet on ``(band, bucket, l.id < r.id)`` — one row per (pair,
    shared band), sides aliased ``l``/``r``. Only ``id_col`` and the
    ``carry`` columns ride the exchange beside the bucket."""
    banded = sigs.select(
        id_col, *carry,
        F.posexplode(F.array(*buckets)).alias("band", "bucket"),
    )
    return banded.alias("l").join(banded.alias("r"), on=[
        F.col("l.band") == F.col("r.band"),
        F.col("l.bucket") == F.col("r.bucket"),
        F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
    ])


def lsh_candidate_pairs(sigs: DataFrame, est_threshold: float = 0.5) -> DataFrame:
    """Band the signature, bucket-join on (band, hash(band slice)),
    estimate Jaccard from BAND AGREEMENT; keep pairs over the threshold.

    The signature splits into ``b = LSH_BANDS`` bands of ``r = LSH_ROWS``
    slots (16×4). Band ``i`` (0-based) of a doc is the slice
    ``sig[i*r : (i+1)*r]``, and its bucket is ``xxhash64`` of that
    ``array<long>`` slice. Only bucket EQUALITY matters: two docs meet in
    band i when their slices hash alike, i.e. (up to a 2^-64 hash
    collision) when all r slots agree.

    Scale: the only joins are equi-joins. The banded self-join's shuffle
    carries (id, band, bucket) ONLY — the bucket hash is computed in the
    projection feeding the exchange and the 64-perm signature never rides
    the b×N exploded rows (VERDICT r3 #3: banding WITH the sig shipped
    ~8 KB/doc of dead shuffle width).

    The Jaccard estimate is computed INSIDE the pair aggregation (VERDICT
    r4 #2): a pair meeting in m of the b buckets has observed band-match
    fraction m/b, and P(band match) = j^r for true Jaccard j, so
    ``(m/b)^(1/r)`` is the moment estimator — exact dups score 1.0 and
    the estimate is monotone in m.
    The same groupBy that dedupes multi-band pair hits produces it, so the
    full-signature join-backs of the previous design (two extra shuffles,
    sigs consumed three times → callers had to persist) are gone: ``sigs``
    is consumed ONCE and needs no persist.

    Recall is the banding S-curve: a pair with true Jaccard J shares at
    least one bucket with probability 1 − (1 − J^r)^b — at 16×4 0.64 at
    J = 0.5, 0.78 at 0.55 and 0.99 at 0.7 (tests/test_dedup_ops.py checks
    per-bucket recall against it on pairs straddling J = 0.5).

    The floor of the estimator is (1/b)^(1/r) — 0.5 at 16×4 — so
    thresholds at or below the floor gate nothing beyond the bucket join
    itself. This stage is therefore a RECALL stage (the
    LSH OR-construction): on template-heavy corpora most of its output is
    single-band chance collisions. Run :func:`sig_jaccard_refine` next to
    prune those with the full-signature estimate BEFORE the expensive
    exact verify — measured at sf0.1 (5k docs, 170k banded candidates,
    169k of them single-band), skipping the refine makes the exact
    char-gram verify the bottleneck at ~27 s, while the refine's two
    fixed-width broadcast joins cost well under a second.
    """
    # one xxhash64 per band over its array<long> slice: b Columns in all,
    # since each Column built in Python is a py4j round trip (~1 ms on a
    # 4-vCPU host)
    buckets = [
        F.xxhash64(F.slice("sig", i * LSH_ROWS + 1, LSH_ROWS))
        for i in range(LSH_BANDS)
    ]
    # one row per (pair, band) — band is unique per side, so count(*) is
    # exactly the number of agreeing bands m
    est = F.pow(F.col("_m") / F.lit(float(LSH_BANDS)), 1.0 / LSH_ROWS)
    return (
        _banded_self_join(sigs, "doc_id", buckets)
        .groupBy(F.col("l.doc_id").alias("id_a"), F.col("r.doc_id").alias("id_b"))
        .agg(F.count("*").alias("_m"))
        .filter(est >= est_threshold)  # unrounded, like the verify stages
        .select("id_a", "id_b", F.round(est, 6).alias("jaccard_est"))
    )


def _sig_agreement_est(sig_a, sig_b):
    """Full-signature agreement fraction via zip_with + aggregate.

    TWO NEGATIVE RESULTS, kept for the record (r6, guide §1 "measure,
    don't assume"):
    - Unrolling the 64-term positional comparison into explicit
      get()+equality+Add codegen expressions measured ~7× SLOWER on the
      19M-row collision stream (q15 11.4 s → 83 s): the 64-deep
      expression tree drops out of efficient whole-stage codegen and
      evaluates as an interpreted Add chain with per-element boxing,
      while the higher-order zip_with/aggregate runs one tight loop over
      primitive array data.
    - FUSING this estimate into the banded-collision stage (est-filter
      the raw 19M collisions before any pair exchange, dedup the ~271k
      survivors after — on paper removing a ~430 MB exchange) measured
      ~3× slower end-to-end (q15 → 28-48 s): the HOF est is a
      codegen-fallback expression, and placing it in the same stage as
      the band join + two sig join probes forces THAT WHOLE STAGE off
      the codegen path. The two-stage shape (pair-dedup exchange first,
      est in its own light post-exchange stage) is the fast one.
    """
    a = F.col(sig_a) if isinstance(sig_a, str) else sig_a
    b = F.col(sig_b) if isinstance(sig_b, str) else sig_b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.size(a)


def sig_jaccard_refine(pairs: DataFrame, sigs: DataFrame,
                       min_est: float = 0.35) -> DataFrame:
    """Precision gate between the banded candidate generator and the exact
    verify: re-score ``(id_a, id_b)`` pairs with the FULL NUM_PERM
    signature agreement and keep those >= ``min_est``.

    Why this stage exists (measured, r5): the banded join is the LSH
    RECALL stage — at sf0.1 it emits 170k candidates of which only ~256
    survive exact verification, and running the exact char-gram Jaccard
    (array_intersect over ~300-string arrays) on all 170k costs ~27 s.
    The 64-perm estimate has sd ~ sqrt(j(1-j)/64) ≈ 0.06, so a gate 2.5σ
    under the decision threshold is recall-safe and prunes the chance
    collisions for the price of two equi-joins against the fixed-width
    sigs table (8×64 B/doc — broadcast at small N; at 100 TB a shuffle on
    the id key, still narrow). Decisions still come from
    :func:`exact_jaccard_verify` downstream — the cascade is
    sketch-recall → sketch-precision → exact.

    ``sigs`` is consumed by the banding AND both refine joins: callers
    should cut or persist it, as :func:`near_dup_pairs` does.
    """
    withsigs = pairs.select("id_a", "id_b").join(
        sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a")),
        on="id_a",
    ).join(
        sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b")),
        on="id_b",
    )
    est = _sig_agreement_est("sig_a", "sig_b")
    return (
        withsigs.select("id_a", "id_b", est.alias("_est"))
        .filter(F.col("_est") >= min_est)
        .select("id_a", "id_b", F.round("_est", 6).alias("jaccard_est"))
    )


def connected_min_reps(pairs: DataFrame, max_iters: int = 50) -> DataFrame:
    """Connected components over near-dup ``(id_a, id_b)`` edges by min-id
    label propagation to FIXED POINT → ``(node, rep)`` with ``rep`` = the
    smallest id in the node's component.

    Scale: label propagation is the standard distributed CC algorithm — each
    iteration is one equi-join + min-aggregate on the (small) edge set, and
    the iteration count is the component diameter (near-dup clusters are
    shallow: dup families chain a handful of hops, not thousands). Lineage is
    cut per iteration (``localCheckpoint``) so plans stay constant-size, and
    the convergence check rides the SAME job as the checkpoint via
    ``Dataset.observe`` — the changed-label sum resolves when the eager
    localCheckpoint materializes, so there is no separate per-iteration
    action.

    ``pairs`` is read ONCE: one ``explode`` emits both directions of each
    edge and that undirected list is cut before the loop. ``pairs`` is
    usually the tail of a whole pair cascade (sketch → refine → exact
    verify), and a union of a forward and a reversed branch ran that
    cascade twice in one job. The first labelling stays lazy: the first
    iteration's checkpoint materializes it. Iteration width is left to the
    session's AQE partition coalescing, which sizes each shuffle to the
    edge set.
    """
    from pyspark.sql import Observation

    und = pairs.select(F.explode(F.array(
        F.struct(F.col("id_a").alias("node"), F.col("id_b").alias("nb")),
        F.struct(F.col("id_b").alias("node"), F.col("id_a").alias("nb")),
    )).alias("e")).select("e.node", "e.nb").localCheckpoint(eager=True)
    labels = und.groupBy("node").agg(F.least("node", F.min("nb")).alias("rep"))
    for _ in range(max_iters):
        neigh = (
            und.join(
                labels.select(F.col("node").alias("nb"), F.col("rep").alias("nrep")),
                on="nb",
            )
            .groupBy("node")
            .agg(F.min("nrep").alias("min_nrep"))
        )
        new = labels.join(neigh, on="node", how="left").select(
            "node",
            F.least(F.col("rep"), F.coalesce("min_nrep", "rep")).alias("rep"),
            (F.coalesce("min_nrep", "rep") < F.col("rep")).alias("_changed"),
        )
        obs = Observation()
        new = new.observe(obs, F.sum(F.col("_changed").cast("int")).alias("n"))
        new = new.localCheckpoint(eager=True)
        changed = obs.get["n"] or 0  # sum over zero rows → None
        labels = new.drop("_changed")
        if changed == 0:
            break
    else:
        # Exited via max_iters with labels still moving: the returned
        # components are NOT converged — multiple survivors per component.
        # Loud failure beats silently under-deduping (ADVICE r3).
        raise RuntimeError(
            f"connected_min_reps did not converge in {max_iters} iterations "
            f"({changed} labels still changing); component diameter exceeds "
            "max_iters — raise max_iters for this edge set"
        )
    return labels


def drop_near_dups(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Transitive near-dup collapse: keep the min id of each CONNECTED
    COMPONENT of the verified ``(id_a, id_b)`` pair graph
    (:func:`connected_min_reps`, eager) and left-anti-join every other
    member out of ``df``. In a chain A~B~C with A≁C, only A survives even
    though A and C never paired directly."""
    reps = connected_min_reps(pairs)
    dropped = reps.filter(F.col("rep") < F.col("node")).select(
        F.col("node").alias(id_col)
    )
    return df.join(dropped, on=id_col, how="left_anti")


def near_dup_pairs(df: DataFrame, threshold: float = 0.5) -> DataFrame:
    """The near-dup pair cascade: ``(id_a, id_b, jaccard)`` for every pair
    whose exact character-``SHINGLE_K``-gram Jaccard is >= ``threshold``
    AND that the sketch proposes. :func:`minhash_signatures` →
    :func:`lsh_candidate_pairs` (recall, banded OR-construction) →
    :func:`sig_jaccard_refine` at ``0.7 · threshold`` (the full-signature
    precision gate, recall-safe — without it every chance collision hits
    the exact verify, measured 27 s at sf0.1) → :func:`exact_jaccard_verify`
    (decides). The sketch decides nothing; what is emitted is exact.

    The signatures are cut once (eager ``localCheckpoint``): the banding
    and both refine joins read that cut. ``df`` is read by the sketch and
    again by the exact verify, so callers cut or persist it."""
    sigs = minhash_signatures(df).localCheckpoint(eager=True)
    cands = lsh_candidate_pairs(sigs, est_threshold=0.0)
    pairs = sig_jaccard_refine(cands, sigs, min_est=threshold * 0.7)
    return exact_jaccard_verify(pairs, df, threshold=threshold)


def minhash_dedup(df: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Near-dup collapse: :func:`drop_near_dups` over the
    :func:`near_dup_pairs` graph — the sketch only bounds what gets
    compared; what gets dropped is exact.

    ``df`` is read ONCE: it is cut at entry (eager ``localCheckpoint``) and
    that cut feeds the sketch, the exact verify's texts and the survivors'
    anti-join, so callers need not persist it. The returned frame's lineage
    starts at the cut — downstream consumers (decontamination, a shard
    write) do not re-run the plan that produced ``df`` (a C4 gate, say).
    Same rule as ``write_jsonl_shards`` and ``token_budget_shards``: an
    operator that reads its input more than once cuts it once."""
    df = df.localCheckpoint(eager=True)
    return drop_near_dups(df, near_dup_pairs(df, threshold))


def hamming_band_pairs(sigs: DataFrame, id_col: str = "doc_id",
                       max_hamming: int = 3, bands: int = 4) -> DataFrame:
    """Candidate pairs within ``max_hamming`` of the 64-bit ``sim`` column
    by pigeonhole banding: split the 64 bits into ``bands`` keys of
    ``64//bands`` bits — any pair within Hamming distance ``bands - 1``
    shares at least one exact band, so ``max_hamming <= bands - 1`` gives a
    recall GUARANTEE. More bands = wider guaranteed radius but coarser
    buckets (more candidates to verify). Shared by simhash (text) and
    hyperplane-signature (embedding) near-dup; the banded exchange carries
    (id, 8-byte sig, band, bucket) only."""
    assert 64 % bands == 0
    width = 64 // bands
    mask = (1 << width) - 1
    buckets = [
        F.shiftrightunsigned(F.col("sim"), i * width).bitwiseAND(F.lit(mask))
        for i in range(bands)
    ]
    return (
        _banded_self_join(sigs, id_col, buckets, "sim")
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("l.sim").bitwiseXOR(F.col("r.sim"))
            ).alias("hamming"),
        )
        # Hamming gate BEFORE the pair dedup: hamming is a pure function of
        # the pair (both sides' sigs), so filter∘distinct ≡ distinct∘filter —
        # but the band join emits ~N²·bands/2^width chance-collision rows
        # (almost all far beyond max_hamming), and filtering first means the
        # dropDuplicates exchange carries only true near-dup pairs instead of
        # the entire collision stream (guide §2.3; measured at sf1.0/50k docs:
        # the dedup exchange was the whole q16 wall).
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# --------------------------------------------------------------------------
# exact character-n-gram Jaccard verification of candidate pairs
# --------------------------------------------------------------------------

def _char_grams(text_col, k: int):
    """Distinct character k-gram set of a string column — pure JVM
    (sequence/transform/substr), byte-compatible with DuckDB's
    ``list_transform(range(1, length(t)-k+2), i -> substring(t, i, k))``
    on ASCII text."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.array_distinct(
        F.when(
            F.length(c) >= k,
            F.transform(
                F.sequence(F.lit(1), F.length(c) - (k - 1)),
                lambda i: c.substr(i, F.lit(k)),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )


def exact_jaccard_verify(pairs: DataFrame, docs: DataFrame,
                         threshold: float = 0.5) -> DataFrame:
    """Re-score candidate ``(id_a, id_b)`` pairs with EXACT
    character-``SHINGLE_K``-gram Jaccard and keep those >= threshold.

    This is the verification stage after an approximate candidate generator
    (MinHash LSH or SimHash banding): the candidate set is small (bucketed
    equi-join output), so joining the two texts back in and computing the
    exact set overlap is cheap — and the result is independent of the
    sketch, hence oracle-checkable by an exact all-pairs SQL query.
    """
    g = _parallelize_input(docs.select("doc_id", "text")).select(
        F.col("doc_id"), _char_grams("text", SHINGLE_K).alias("grams")
    )
    out = (
        pairs.select("id_a", "id_b")
        .join(g.select(F.col("doc_id").alias("id_a"), F.col("grams").alias("g_a")), on="id_a")
        .join(g.select(F.col("doc_id").alias("id_b"), F.col("grams").alias("g_b")), on="id_b")
    )
    jac = F.size(F.array_intersect("g_a", "g_b")) / F.size(F.array_union("g_a", "g_b"))
    # threshold the UNROUNDED ratio (exactly what the all-pairs SQL oracle
    # does); round only the reported column — rounding first would admit
    # e.g. 0.4999996 at threshold 0.5
    return (
        out.select("id_a", "id_b", jac.alias("_jac"))
        .filter(F.col("_jac") >= threshold)
        .select("id_a", "id_b", F.round("_jac", 6).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# n-gram Jaccard (exact, for verification / small candidate sets)
# --------------------------------------------------------------------------

def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.3) -> DataFrame:
    """Exact word-trigram Jaccard over candidate pairs from a same-length
    bucket prefilter (length band ±bucket) — built-ins only, oracle-able."""
    words = F.split(F.col("text"), r"\s+")
    grams = df.select(
        F.col("doc_id"),
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(words) - 3, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(words, i + 1, 3)),
            )
        ).alias("grams"),
        (F.length("text") / 100).cast("int").alias("len_bucket"),
    )
    l, r = grams.alias("l"), grams.alias("r")
    pairs = l.join(
        r,
        on=[
            F.col("l.len_bucket") == F.col("r.len_bucket"),
            F.col("l.doc_id") < F.col("r.doc_id"),
        ],
    )
    inter = F.size(F.array_intersect("l.grams", "r.grams"))
    union = F.size(F.array_union("l.grams", "r.grams"))
    return (
        pairs.select(
            F.col("l.doc_id").alias("id_a"),
            F.col("r.doc_id").alias("id_b"),
            (inter / union).alias("_jac"),
        )
        .filter(F.col("_jac") >= threshold)  # unrounded, oracle-exact
        .select("id_a", "id_b", F.round("_jac", 6).alias("jaccard"))
    )
