"""Cross-run upsert sink — the reference's MySQL insert/update/skip loop
(crawler_schedule.py:210-370) as ONE set-based merge (SURVEY.md §2.2 K2-K6).

The reference runs a SELECT per row, then INSERT / UPDATE / skip-if-identical
(crawler_schedule.py:306,308-314,325-346). At scale that's a merge:

    MERGE INTO extracted t USING batch s
    ON <composite key>                  -- K3: (post_id, community), fallback
                                        --     (title, writer) when post_id empty
    WHEN MATCHED AND <any compared field differs> THEN UPDATE
    WHEN NOT MATCHED THEN INSERT

Without an Iceberg runtime in-sandbox, the same semantics are implemented
as a full-outer-join rewrite over a parquet-snapshot table (write-new-
version-then-swap); on Iceberg the generated MERGE (see ``merge_sql``) runs
as-is. Normalizations applied to the batch first:
  K4 community-code rule (regex ^(\\d+)(p)?$, bare digits get 'p', invalid
     rows dropped — crawler_schedule.py:253-262)
  K5 null tokens ('nan','NaN','None' → NULL — :232-237)
  K6 images list → JSON string (:271-277)

Input columns: batches and targets are rows of the extracted-posts schema;
:func:`upsert_partitioned`'s target is partitioned by ``community``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# fields compared by the reference's skip-if-identical check
# (crawler_schedule.py:325-335)
COMPARED_FIELDS = [
    "date", "views", "recommend", "content", "images_json", "category",
    "title", "link", "writer",
]


def normalize_batch(batch: DataFrame) -> DataFrame:
    """K4 + K5 + K6 on an EXTRACTED-shaped batch."""
    null_tokens = ("nan", "NaN", "None")

    def k5(c):
        return F.when(F.col(c).isin(*null_tokens), None).otherwise(F.col(c))

    code = F.regexp_extract(F.col("community"), r"^(\d+)(p)?$", 0)
    community = F.when(
        F.col("community").rlike(r"^\d+$"), F.concat(F.col("community"), F.lit("p"))
    ).otherwise(F.col("community"))

    return (
        batch.filter(code != "")  # K4: invalid codes dropped
        .withColumn("community", community)
        .withColumn("title", k5("title"))
        .withColumn("writer", k5("writer"))
        .withColumn("category", k5("category"))
        .withColumn("content", k5("content"))
        .withColumn(
            "images_json",
            F.when(F.col("images").isNull(), F.lit("[]")).otherwise(
                F.to_json(F.col("images"))
            ),
        )
        .drop("images")
    )


def merge_key(df: DataFrame) -> DataFrame:
    """K3 composite key: (post_id, community) normally; rows with empty
    post_id key on (title, writer); rows with neither are dropped
    (crawler_schedule.py:295-304)."""
    has_pid = F.col("post_id").isNotNull() & (F.col("post_id") != "") & (
        F.col("post_id") != "N/A"
    )
    # \x01 field separator: delimiter-less concat would collide distinct
    # pairs (pid '1'+'23p' vs '12'+'3p'); the reference's MySQL match is
    # column-wise (crawler_schedule.py:306).
    key = F.when(
        has_pid, F.concat_ws("\x01", F.lit("pid"), F.col("post_id"), F.col("community"))
    ).otherwise(
        F.concat_ws("\x01", F.lit("tw"), F.col("title"), F.col("writer"))
    )
    return df.filter(
        has_pid
        | (
            F.col("title").isNotNull() & (F.col("title") != "")
            & F.col("writer").isNotNull() & (F.col("writer") != "")
        )
    ).withColumn("_key", key)


def upsert(target: DataFrame, batch: DataFrame) -> DataFrame:
    """Set-based merge: returns the new target state.

    - rows only in target: kept
    - rows only in batch: inserted
    - matched rows: batch version wins iff any compared field differs
      (skip-if-identical), else target row kept (its metadata untouched)
    Batch-internal duplicates collapse to the last-by-date version first.
    """
    t = merge_key(target)
    b = merge_key(normalize_batch(batch)) if "images" in batch.columns else merge_key(batch)

    from pyspark.sql import Window

    w = Window.partitionBy("_key").orderBy(F.col("date").desc_nulls_last(), F.col("url").desc())
    b = b.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")

    cols = [c for c in t.columns if c != "_key"]
    tt = t.select("_key", *[F.col(c).alias(f"t_{c}") for c in cols])
    bb = b.select("_key", *[F.col(c).alias(f"b_{c}") for c in cols])
    j = tt.join(bb, on="_key", how="full_outer")

    changed = F.lit(False)
    for f in COMPARED_FIELDS:
        if f"t_{f}" in j.columns:
            changed = changed | ~(
                F.col(f"t_{f}").eqNullSafe(F.col(f"b_{f}"))
            )

    take_batch = F.col("t_url").isNull() | (F.col("b_url").isNotNull() & changed)
    out = j.select(
        *[
            F.when(take_batch, F.col(f"b_{c}")).otherwise(F.col(f"t_{c}")).alias(c)
            for c in cols
        ]
    )
    return out


def upsert_partitioned(spark, target_path: str, batch: DataFrame) -> list[str]:
    """Partition-scoped merge over a ``partitionBy("community")`` parquet
    target: only partitions containing batch keys are joined and rewritten
    (Spark dynamic partition overwrite); untouched partition files stay
    byte-identical on disk.

    Rationale: the plain :func:`upsert` full-outer-join rewrites the WHOLE
    target every run — at a 100 TB accumulated ``extracted`` table that is a
    full-table shuffle+rewrite per batch. Scoping to touched partitions
    bounds the work by the batch's key spread (a crawl run touches ~19
    communities regardless of history size). On Iceberg the same semantics
    run natively via :func:`merge_sql`'s MERGE INTO (copy-on-write also
    rewrites only matched files).

    Returns the list of touched partition values.

    LOCAL-FILESYSTEM ONLY: the two-rename swap relies on POSIX directory
    renames, so object stores / HDFS URIs are rejected up front — on those
    deployments use an Iceberg table and :func:`merge_sql` (MERGE INTO has
    real snapshot atomicity; this sink is the no-catalog fallback).
    """
    import os
    import shutil

    if "://" in target_path and not target_path.startswith("file:"):
        raise ValueError(
            f"upsert_partitioned swaps directories with os.rename and only "
            f"works on a local filesystem; got {target_path!r} — use an "
            f"Iceberg table with merge_sql() for non-local stores"
        )
    if target_path.startswith("file:"):
        # Spark emits both 'file:///p' and the single-slash 'file:/p';
        # stripping only 'file://' would leave the latter as a bogus
        # relative path for os.listdir/os.rename (ADVICE r4) — urlparse
        # yields the bare filesystem path for every file: spelling.
        from urllib.parse import urlparse

        target_path = urlparse(target_path).path

    # Recover any .bak left by a crash in a previous run's swap window:
    # dst present  → the swap completed, the .bak is a stale safety copy
    #                (and would ENOTEMPTY-brick the next rename) — drop it;
    # dst missing  → crashed BETWEEN the two renames — the .bak IS the
    #                live data: restore it.
    for d in os.listdir(target_path) if os.path.isdir(target_path) else []:
        if not d.endswith(".bak"):
            continue
        bak = os.path.join(target_path, d)
        dst = bak[: -len(".bak")]
        if os.path.isdir(dst):
            shutil.rmtree(bak)
        else:
            os.rename(bak, dst)

    b = normalize_batch(batch) if "images" in batch.columns else batch
    # O(#communities) collect — the partition *values*, never row data
    parts = [r[0] for r in b.select("community").distinct().collect()]
    target = spark.read.parquet(target_path)
    merged = upsert(target.filter(F.col("community").isin(parts)), b)
    # STAGING-THEN-SWAP (ADVICE r2): the merge is fully written to a side
    # path first — the live target is untouched until every merged byte is
    # durable — then each touched partition dir is swapped in via two
    # renames with a .bak safety copy. A crash mid-write leaves the target
    # exactly as it was; a crash mid-swap leaves at most one partition as a
    # recoverable .bak (vs dynamic partition overwrite, which DELETES the
    # live partitions and repopulates them task-by-task). On Iceberg,
    # merge_sql()'s MERGE INTO gives true snapshot atomicity.
    staging = target_path.rstrip("/") + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    merged.write.mode("overwrite").partitionBy("community").parquet(staging)
    # Swap the partition dirs SPARK WROTE (directory listing), not
    # f-string-formatted values: Spark escapes special characters in
    # partition paths and writes NULL as __HIVE_DEFAULT_PARTITION__, so a
    # formatted name can miss the real directory (ADVICE r3).
    for sub in sorted(os.listdir(staging)):
        if not sub.startswith("community="):
            continue  # _SUCCESS & friends
        src, dst = os.path.join(staging, sub), os.path.join(target_path, sub)
        bak = dst + ".bak"
        if not os.path.isdir(src):
            continue
        if os.path.isdir(dst):
            os.rename(dst, bak)
        os.rename(src, dst)
        shutil.rmtree(bak, ignore_errors=True)
    shutil.rmtree(staging, ignore_errors=True)
    return parts


def merge_sql(target_table: str = "extracted", source_view: str = "batch") -> str:
    """The equivalent Iceberg MERGE (emitted for spark-submit deployments
    where an Iceberg catalog is configured)."""
    comparisons = " OR ".join(
        f"NOT (t.{f} <=> s.{f})" for f in COMPARED_FIELDS
    )
    return f"""
MERGE INTO {target_table} t
USING {source_view} s
ON ((s.post_id IS NOT NULL AND s.post_id NOT IN ('', 'N/A')
     AND t.post_id = s.post_id AND t.community = s.community)
    OR ((s.post_id IS NULL OR s.post_id IN ('', 'N/A'))
        AND t.title = s.title AND t.writer = s.writer))
WHEN MATCHED AND ({comparisons}) THEN UPDATE SET *
WHEN NOT MATCHED THEN INSERT *
""".strip()
