"""Per-partition checkpointing with lineage + metrics; idempotent resume.

North-rule requirement: the 10^12-row job must checkpoint per Iceberg
partition and resume idempotently. Mechanics (SURVEY.md §4.2):

- work is keyed by a partition column ``part`` (in production: the Iceberg
  partition value, e.g. a crawl-date/bucket; here: an explicit column or
  ``pmod(xxhash64(doc_id), n_parts)``);
- a **manifest table** records one row per finished partition:
  (part, status, n_docs, n_errors, lineage_hash, finished_at). The lineage
  hash is order-insensitive (XOR of xxhash64(doc_id)) so reruns verify they
  processed the same input slice;
- resume = ``input LEFT ANTI JOIN manifest ON part`` — the manifest is tiny
  (one row per partition, ≤ tens of thousands at 10^12 docs), so the join
  side is **broadcast** and the anti-join costs one map-side probe, no
  shuffle of the input;
- output per partition is written with dynamic partition overwrite
  (parquet here, ``writeTo(...).overwritePartitions()`` on Iceberg), which
  makes a rerun of a half-written partition idempotent.

In this sandbox the manifest + output live in parquet directories; the
Iceberg calls are the same shape.
"""

from __future__ import annotations

import os
import threading
import time
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from .session import giant_doc_scan
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

__all__ = [
    "MANIFEST_SCHEMA",
    "with_part",
    "read_manifest",
    "resume_filter",
    "mark_partition_done",
    "run_checkpointed",
]

MANIFEST_SCHEMA = StructType(
    [
        StructField("part", LongType(), nullable=False),
        StructField("n_parts", LongType()),
        StructField("status", StringType()),
        StructField("n_docs", LongType()),
        StructField("n_errors", LongType()),
        StructField("total_bytes", LongType()),
        StructField("avg_prune_ratio", DoubleType()),
        StructField("lineage_hash", LongType()),
        StructField("finished_at", DoubleType()),
    ]
)


def with_part(df: DataFrame, n_parts: int, col: str = "doc_id") -> DataFrame:
    """Derive a stable partition key when the table has none."""
    return df.withColumn("part", F.pmod(F.xxhash64(F.col(col)), F.lit(n_parts)))


def read_manifest(spark: SparkSession, manifest_dir: str) -> DataFrame:
    if os.path.isdir(manifest_dir) and any(
        f.endswith(".parquet") for _, _, fs in os.walk(manifest_dir) for f in fs
    ):
        return spark.read.parquet(manifest_dir)
    return spark.createDataFrame([], MANIFEST_SCHEMA)


def resume_filter(input_df: DataFrame, manifest: DataFrame) -> DataFrame:
    """Drop partitions already marked done — broadcast anti-join."""
    done = manifest.filter(F.col("status") == "done").select("part").distinct()
    return input_df.join(F.broadcast(done), "part", "left_anti")


def _lineage_and_counts(extracted_part: DataFrame) -> dict:
    row = extracted_part.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("n_errors"),
        F.sum("doc_bytes").alias("total_bytes"),
        F.avg("metrics.prune_ratio").alias("avg_prune_ratio"),
        # bit_xor: order-insensitive and overflow-free under ANSI mode
        # (doc_ids are unique, so XOR cancellation needs identical dupes)
        F.expr("bit_xor(xxhash64(doc_id))").alias("lineage_hash"),
    ).collect()[0]
    return row.asDict()


def mark_partition_done(
    spark: SparkSession, manifest_dir: str, part: int, stats: dict,
    n_parts: int = 0,
) -> None:
    row = {
        "part": int(part),
        "n_parts": int(n_parts),
        "status": "done",
        "n_docs": int(stats.get("n_docs") or 0),
        "n_errors": int(stats.get("n_errors") or 0),
        "total_bytes": int(stats.get("total_bytes") or 0),
        "avg_prune_ratio": float(stats.get("avg_prune_ratio") or 0.0),
        "lineage_hash": int(stats.get("lineage_hash") or 0),
        "finished_at": time.time(),
    }
    spark.createDataFrame([row], MANIFEST_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(manifest_dir)


def run_checkpointed(
    spark: SparkSession,
    documents: DataFrame,
    out_dir: str,
    manifest_dir: str,
    n_parts: int = 8,
    options=None,
    num_partitions: Optional[int] = None,
    concurrency: int = 1,
) -> DataFrame:
    """Extract ``documents`` partition-by-partition with checkpointing.

    Already-done partitions (per the manifest) are skipped via broadcast
    anti-join; each pending partition is extracted, written to its own
    hive-style ``part=N`` directory (full-directory overwrite — idempotent
    on rerun, exactly the guarantee Iceberg's ``overwritePartitions()``
    gives per partition), and marked done with lineage + metrics. Returns
    the full output DataFrame.

    ``concurrency > 1`` runs that many partitions as concurrent Spark
    jobs from a driver thread pool — the scheduler interleaves their
    stages, so at 10⁴ parts the pipeline is not serialized through one
    driver loop. Safe because (a) each part writes under its own output
    root, so the Hadoop committer's ``_temporary`` staging dirs never
    collide, and (b) manifest appends are tiny and serialized by a
    driver-side lock. Failed parts don't block the others; the first
    failure is re-raised after the pool drains (finished parts are in
    the manifest, so a rerun resumes past them).

    The RUN itself pins the giant-document columnar read batch
    (plans.giant_doc_scan), but the RETURNED DataFrame plans lazily
    under the caller's session conf — an action that re-reads the
    giant-document output from a default-conf library session should
    wrap itself in ``giant_doc_scan`` too, as job.py does around the
    run and its rollup.
    """
    from ..operators.extract import extract_documents

    manifest = read_manifest(spark, manifest_dir)
    # the part key is pmod(hash, n_parts): resuming with a DIFFERENT
    # n_parts would anti-join new-scheme part ids against old-scheme done
    # ids — silent loss AND duplication. Refuse instead.
    prior = [
        r["n_parts"]
        for r in manifest.select("n_parts").distinct().collect()
        if r["n_parts"]
    ]
    if prior and set(prior) != {n_parts}:
        raise ValueError(
            f"manifest at {manifest_dir} was written with n_parts={prior}; "
            f"resume must use the same value (got {n_parts})"
        )

    # Pending parts. For the hash-derived scheme the universe is
    # 0..n_parts-1 by construction (pmod), known without touching the
    # input — checked BEFORE any staging work so a fully-done rerun is
    # a manifest read and nothing else. An input that brings its OWN
    # part column (the Iceberg-partitioned production shape) has
    # arbitrary part values, so pending comes from the input's distinct
    # parts via the broadcast anti-join (no separate done-set job).
    has_own_part = "part" in documents.columns
    if has_own_part:
        pending_parts = [
            int(r["part"])
            for r in resume_filter(documents, manifest)
            .select("part")
            .distinct()
            .collect()
        ]
    else:
        done_parts: set[int] = set()
        if manifest.columns:
            done_parts = {
                int(r["part"])
                for r in manifest.filter(F.col("status") == "done")
                .select("part")
                .distinct()
                .collect()
            }
        pending_parts = [p for p in range(n_parts) if p not in done_parts]
    if not pending_parts:
        # a kill can land between the last mark_partition_done and the
        # staging cleanup below — sweep the leftover staged copy here
        # so the leak is one-rerun-bounded, not permanent
        import shutil

        shutil.rmtree(out_dir + "__staging", ignore_errors=True)
        return _read_output(spark, out_dir)

    # STAGE the part-keyed input as hive-partitioned parquet, then let
    # every per-part job DIRECTORY-PRUNE to its own 1/n_parts slice.
    # This replaces the round-4 full-input persist: a cached DataFrame
    # cannot prune blocks by filter, so each of the 64 part jobs re-read
    # the ENTIRE corpus from the block store — 64 × 16 GB = 1 TB of
    # reads at the 600k-doc scale run (≈11 s/part of pure rescan,
    # SCALE.md §13); at 10^12 rows that rescan is the job. Staging costs
    # one extra full write+read of the corpus, is reused across resume
    # attempts (_SUCCESS-gated, so a kill during staging restages), and
    # is deleted when the run completes. A real Iceberg input already
    # partitioned on the checkpoint key skips this entirely — the
    # "part" column prunes at the source scan (the production path this
    # directory layout simulates).
    staging = os.path.join(out_dir + "__staging", f"n{n_parts}")
    # The staging scan and the per-part extraction scans read giant-
    # document rows: pin the small columnar read batch for the whole
    # run (library sessions default to 4096, which fails these scans —
    # measured ladder on plans.session.giant_doc_scan). Under job.py's
    # own scope this one is a no-op.
    with giant_doc_scan(spark):
        if has_own_part:
            parts_src = documents
            staged = False
        else:
            if not os.path.exists(os.path.join(staging, "_SUCCESS")):
                with_part(documents, n_parts).write.partitionBy(
                    "part"
                ).mode("overwrite").parquet(staging)
            # explicit schema: a zero-row input stages to a _SUCCESS-only
            # directory, which schema inference cannot read (empty input
            # must return the documented empty result, not crash) — and
            # skipping inference is free speed on the non-empty path
            parts_src = spark.read.schema(
                with_part(documents, n_parts).schema
            ).parquet(staging)
            staged = True

        manifest_lock = threading.Lock()

        def process_part(part: int) -> None:
            slice_df = parts_src.filter(F.col("part") == part).drop("part")
            extracted = extract_documents(
                slice_df, options=options, num_partitions=num_partitions
            )
            part_dir = os.path.join(out_dir, f"part={int(part)}")
            extracted.write.mode("overwrite").parquet(part_dir)
            stats = _lineage_and_counts(spark.read.parquet(part_dir))
            with manifest_lock:
                mark_partition_done(
                    spark, manifest_dir, part, stats, n_parts=n_parts
                )

        if concurrency <= 1:
            for part in sorted(pending_parts):
                process_part(part)
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=concurrency) as pool:
                futures = {
                    part: pool.submit(process_part, part)
                    for part in sorted(pending_parts)
                }
            errors = [
                (part, f.exception())
                for part, f in futures.items()
                if f.exception() is not None
            ]
            if errors:
                part, exc = errors[0]
                raise RuntimeError(
                    f"{len(errors)} partition(s) failed; first: part={part}"
                ) from exc
    if staged:
        import shutil

        shutil.rmtree(os.path.dirname(staging), ignore_errors=True)

    return _read_output(spark, out_dir)


def _read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    if not os.path.isdir(out_dir):
        # nothing was ever written (empty input, or fully-done manifest
        # with a cleaned output dir): return an empty result, not a crash
        from ..schemas import EXTRACTED_SCHEMA

        # a new StructType: StructType.add would mutate the shared schema
        schema = StructType(
            EXTRACTED_SCHEMA.fields + [StructField("part", LongType())]
        )
        return spark.createDataFrame([], schema)
    return spark.read.parquet(out_dir)
