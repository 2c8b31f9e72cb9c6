"""SparkSession builder with the pipeline's tuned defaults.

``get_spark`` is the only SparkSession builder in the repo: the library,
job.py (under spark-submit or launched directly), bench.py, the tools
and the tests all get their session from it (SURVEY.md §3 Spark
lifecycle). Its confs are set for the extraction workload: Arrow batches
sized for documents (not rows of scalars), AQE on, shuffle partitions
matched to core count. ``giant_doc_scan`` scopes the small parquet read
batch that giant-document scans need.

``lazy_zip_invalidation`` is the worker-side half of the runtime set-up:
every Python UDF body calls it first.
"""

from __future__ import annotations

import contextlib
import functools
import os
import sys

from pyspark.sql import SparkSession

__all__ = [
    "get_spark",
    "giant_doc_scan",
    "lazy_zip_invalidation",
]


def get_spark(
    app_name: str = "go-readability-spark", cores: int | None = None
) -> SparkSession:
    """Build (or fetch) a SparkSession: the one place the repo builds one.

    Workload confs, set on every launch:

    - Arrow ``maxRecordsPerBatch`` 256: an Arrow batch of average
      (~10 KiB) docs is a few MiB; skew_partitioned() hash-spreads giant
      docs across all partitions so a batch never aggregates many
      multi-MiB documents (SURVEY.md §4.2).
    - AQE coalesces the small shuffles of metrics rollups; the extraction
      stage itself is map-side only (no shuffle after the repartition).
    - Arrow for pandas conversion, and a UTC session time zone.

    Local-resource confs (master, driver memory, shuffle partitions, UI
    off, warehouse) are set only when this process was not started by
    spark-submit (no ``PYSPARK_GATEWAY_PORT``): a builder master would
    override the launcher's ``--master``. Under spark-submit the launcher
    owns the resources and ``cores`` is ignored.

    Cores: an explicit ``cores`` is used exactly. Otherwise the count is
    ``SPARK_GRAFT_CPUS``, else the usable CPUs, capped at 16: the 32-CPU
    host delivers ~16 effective cores (BENCH.md host-capacity control)
    and 16 threads beat 32 (3,028 vs 2,395 docs/s), and 32 concurrent
    giant-document scan tasks overwhelm the column-vector buffers
    whatever the heap (SCALE.md §13). The cap holds for
    ``SPARK_GRAFT_CPUS`` too, which is often set to the full CPU count.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        cores = cores or min(
            int(os.environ.get("SPARK_GRAFT_CPUS") or 0)
            or len(os.sched_getaffinity(0)),
            16,
        )
        builder = (
            builder.master(f"local[{cores}]")
            .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
            # the default 1g driver heap cannot run a giant-document
            # corpus: the 16 GB/600k checkpoint run OOMs on it (SCALE.md §13)
            .config(
                "spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
            )
            .config("spark.ui.enabled", "false")
            .config(
                "spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/gr_warehouse"),
            )
        )
    return builder.getOrCreate()


@contextlib.contextmanager
def giant_doc_scan(spark: SparkSession):
    """Scope for parquet scans over giant-document span tables: pins the
    vectorized reader to 256 rows per columnar batch, restoring the prior
    value (or unsetting it) on exit.

    At the default 4,096 rows per columnar read batch, a row group dense
    with multi-MiB span documents asks the vectorized reader for >100 MB
    of contiguous column buffer and the scan fails outright ("Cannot
    reserve additional contiguous bytes") — first hit at the 600k-doc /
    16 GB corpus (3,000 giants; SCALE.md §10). Measured ladder on that
    scan: 4096 fails, 1024 OOMs the executor heap, 256 completes. The
    small batch costs ~10-15% on scan-heavy narrow-row relational
    queries, so it is scoped here rather than set session-wide
    (round-4 VERDICT "what's wrong" #2); narrow tables keep the default.

    The batch size is read at *physical planning* time, i.e. when an
    action runs — NOT when ``spark.read`` builds the lazy DataFrame.
    Every action whose scan should see 256 must therefore execute INSIDE
    the block; a DataFrame returned out of it plans under the session
    default. job.py runs all of its actions inside one block. The conf
    is the session's, so concurrent callers on one session share it.
    """
    key = "spark.sql.parquet.columnarReaderBatchSize"
    prior = spark.conf.get(key, None)  # None: not set on this session
    spark.conf.set(key, "256")
    try:
        yield spark
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def lazy_zip_invalidation() -> None:
    """Make ``importlib.invalidate_caches()`` skip zip archives whose stat
    is unchanged. Call it first in every function that runs in a Python
    worker; never on the driver.

    PySpark calls ``importlib.invalidate_caches()`` at the start of every
    task (``worker_util.setup_spark_files``). Before CPython 3.13, each
    ``zipimport.zipimporter`` then re-parses its whole archive's central
    directory, and a worker running pyspark from ``pyspark.zip`` holds one
    importer per imported sub-package: ~115-140 ms of CPU per task before
    any row is touched. 3.13 made this invalidation lazy; this installs
    the same laziness on older interpreters. An archive whose
    (mtime_ns, size, inode) matches the last read keeps its cached
    directory; a changed, missing or unreadable archive goes to the
    original method, so a rewritten zip is still re-read. Idempotent."""
    if sys.version_info >= (3, 13):
        return
    import zipimport

    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_stat_guarded", False):
        return
    read_at: dict[str, tuple[int, int, int]] = {}

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            read_at.pop(self.archive, None)
            return original(self)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_at.get(self.archive) == key:
            self._files = files
            return
        # stat before the read: a rewrite racing the read changes the
        # stat, so the next call reads again
        original(self)
        read_at[self.archive] = key

    invalidate_caches._stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
