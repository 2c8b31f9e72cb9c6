"""Per-partition checkpointing with lineage + metrics; idempotent resume.

North-rule requirement: the 10^12-row job must checkpoint per Iceberg
partition and resume idempotently. Mechanics (SURVEY.md §4.2):

- work is keyed by a partition column ``part`` (in production: the Iceberg
  partition value, e.g. a crawl-date/bucket; here: an explicit column or
  ``pmod(xxhash64(doc_id), n_parts)``);
- a **manifest table** records one row per finished partition:
  (part, n_parts, status, n_docs, n_errors, total_bytes, avg_prune_ratio,
  lineage_hash, finished_at). The stats are observed on the part's own
  write job (``DataFrame.observe``), so no part is read back. The lineage
  hash is order-insensitive (XOR of xxhash64(doc_id)) so reruns verify they
  processed the same input slice;
- the manifest is a parquet dataset of one file per finished part,
  ``part=<N>.parquet``, written by the driver with pyarrow (no Spark job)
  and published by renaming a fsynced dot-named temp file onto that name.
  Parquet readers skip names that start with ``.`` or ``_``, so a
  half-written record is never read, and each part owning its file needs
  no lock. Marking a part again replaces its record;
- resume skips the parts the manifest marks done. The manifest is tiny
  (one row per partition, ≤ tens of thousands at 10^12 docs), so it is
  collected once to the driver;
- output per partition is written with dynamic partition overwrite
  (parquet here, ``writeTo(...).overwritePartitions()`` on Iceberg), which
  makes a rerun of a half-written partition idempotent.

In this sandbox the manifest + output live in parquet directories; the
Iceberg calls are the same shape.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from typing import Optional

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

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
        # explicit schema: no footer-inference job before the real read
        return spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_dir)
    return spark.createDataFrame([], MANIFEST_SCHEMA)


def _lineage_and_counts(extracted_part: DataFrame) -> tuple[DataFrame, Observation]:
    """Attach the part's manifest stats to ``extracted_part``: they are
    computed by whatever action runs the returned DataFrame (the part's
    write) and read from the Observation's ``get`` after it. An empty
    part observes ``n_docs=0`` and ``None`` for the other stats."""
    obs = Observation()
    observed = extracted_part.observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("n_errors"),
        F.sum("doc_bytes").alias("total_bytes"),
        F.avg("metrics.prune_ratio").alias("avg_prune_ratio"),
        # bit_xor: order-insensitive and overflow-free under ANSI mode
        # (doc_ids are unique, so XOR cancellation needs identical dupes)
        F.expr("bit_xor(xxhash64(doc_id))").alias("lineage_hash"),
    )
    return observed, obs


def mark_partition_done(
    spark: SparkSession, manifest_dir: str, part: int, stats: dict,
    n_parts: int = 0,
) -> None:
    """Publish ``part``'s manifest record as ``manifest_dir/part=<N>.parquet``.

    The row is written on the driver with pyarrow to a dot-named temp
    file, fsynced and renamed onto the final name, so the record appears
    whole or not at all. ``spark`` is unused; it stays first because
    callers and wrappers pass this signature by position."""
    # imported here: every Python worker imports this module through
    # ``plans``, and only the driver writes records
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

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
    table = pa.Table.from_pylist([row], schema=to_arrow_schema(MANIFEST_SCHEMA))
    name = f"part={int(part)}.parquet"
    os.makedirs(manifest_dir, exist_ok=True)
    tmp = os.path.join(manifest_dir, f".{name}.{os.getpid()}.tmp")
    with open(tmp, "wb") as f:
        pq.write_table(table, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(manifest_dir, name))


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

    Already-done partitions (per the manifest, read once) are skipped;
    each pending partition is extracted, written to its own hive-style
    ``part=N`` directory (full-directory overwrite — idempotent on rerun,
    exactly the guarantee Iceberg's ``overwritePartitions()`` gives per
    partition), and marked done with the lineage + metrics observed on
    that write. Returns the full output DataFrame.

    The parts run on a driver thread pool of ``max(concurrency, 1)``
    threads, so up to ``concurrency`` parts are concurrent Spark jobs —
    the scheduler interleaves their stages, so at 10⁴ parts the pipeline
    is not serialized through one driver loop. Safe because (a) each part
    writes under its own output root, so the Hadoop committer's
    ``_temporary`` staging dirs never collide, and (b) each part's
    manifest record is its own file. Every part job runs
    under the caller's local properties, so a job group (or description,
    scheduler pool, job tag) set on the calling thread covers them. One
    failure rule at every ``concurrency``, 1 included: a failed part does
    not block the others, and after the pool drains the first failure
    (lowest part) is re-raised as ``RuntimeError(... part=N)``. Finished
    parts are in the manifest and the staged input is kept, so a rerun
    processes only the failed parts.

    The RUN itself pins the giant-document columnar read batch
    (plans.giant_doc_scan), but the RETURNED DataFrame plans lazily
    under the caller's session conf — an action that re-reads the
    giant-document output from a default-conf library session should
    wrap itself in ``giant_doc_scan`` too, as job.py does around the
    run and its rollup.
    """
    from ..operators.extract import extract_documents

    # a process killed between a record's write and its rename leaves
    # the temp file behind; this function is the manifest's only writer,
    # so none is in flight when a run starts
    for tmp in glob.glob(
        os.path.join(glob.escape(manifest_dir), ".part=*.parquet.*.tmp")
    ):
        os.remove(tmp)

    manifest = read_manifest(spark, manifest_dir).select(
        "part", "n_parts", "status"
    ).collect()
    # the part key is pmod(hash, n_parts): resuming with a DIFFERENT
    # n_parts would skip new-scheme part ids by old-scheme done ids —
    # silent loss AND duplication. Refuse instead.
    prior = sorted({r["n_parts"] for r in manifest if r["n_parts"]})
    if prior and prior != [n_parts]:
        raise ValueError(
            f"manifest at {manifest_dir} was written with n_parts={prior}; "
            f"resume must use the same value (got {n_parts})"
        )
    done = {int(r["part"]) for r in manifest if r["status"] == "done"}

    # Pending parts. For the hash-derived scheme the universe is
    # 0..n_parts-1 by construction (pmod), known without touching the
    # input — checked BEFORE any staging work, so a fully-done rerun
    # runs one Spark job: the manifest collect above (the returned
    # output is read lazily). An input that brings its OWN part column
    # (the Iceberg-partitioned production shape) has arbitrary part
    # values, so the universe is the input's distinct parts.
    has_own_part = "part" in documents.columns
    if has_own_part:
        universe = [
            int(r["part"]) for r in documents.select("part").distinct().collect()
        ]
    else:
        universe = range(n_parts)
    pending_parts = sorted(p for p in universe if p not in done)
    if not pending_parts:
        # a kill can land between the last mark_partition_done and the
        # staging cleanup below — sweep the leftover staged copy here
        # so the leak is one-rerun-bounded, not permanent
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

        # Pool threads do not inherit the caller's local properties (job
        # group, description, scheduler pool, job tags): each part sets a
        # fresh clone of them. A clone, not the caller's object: every SQL
        # execution writes spark.sql.execution.id into the Properties of
        # its thread, so concurrent parts must not share one.
        jsc = spark.sparkContext._jsc.sc()
        caller_props = jsc.getLocalProperties()

        def process_part(part: int) -> None:
            jsc.setLocalProperties(caller_props.clone())
            slice_df = parts_src.filter(F.col("part") == part).drop("part")
            extracted, stats = _lineage_and_counts(
                extract_documents(
                    slice_df, options=options, num_partitions=num_partitions
                )
            )
            part_dir = os.path.join(out_dir, f"part={int(part)}")
            extracted.write.mode("overwrite").parquet(part_dir)
            mark_partition_done(
                spark, manifest_dir, part, stats.get, n_parts=n_parts
            )

        with ThreadPoolExecutor(max_workers=max(concurrency, 1)) as pool:
            futures = {part: pool.submit(process_part, part) for part in pending_parts}
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
        shutil.rmtree(os.path.dirname(staging), ignore_errors=True)

    return _read_output(spark, out_dir)


def _read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    from ..schemas import EXTRACTED_SCHEMA

    # a new StructType: StructType.add would mutate the shared schema
    schema = StructType(EXTRACTED_SCHEMA.fields + [StructField("part", LongType())])
    if not os.path.isdir(out_dir):
        # nothing was ever written (empty input, or fully-done manifest
        # with a cleaned output dir): return an empty result, not a crash
        return spark.createDataFrame([], schema)
    # explicit schema: no footer-inference job, so returning it is lazy
    return spark.read.schema(schema).parquet(out_dir)
