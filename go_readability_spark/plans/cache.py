"""Persist-lifecycle ownership for operators that eagerly persist.

Several dedup/similarity operators persist AND eagerly materialize
intermediates their returned plans reference (shingle tables, LSH
buckets, fingerprints). Both halves are required for correctness and
speed: a lazily-persisted DataFrame that is self-joined computes its
full upstream once per join side concurrently (the round-1 58.8 s
minhash outlier), so the persist must be populated before the join —
and it must then OUTLIVE the returned DataFrame until the caller
materializes it, so the operator itself can never free it.

This module gives consumers that ownership:

    from go_readability_spark.plans import persist_scope

    with persist_scope(spark):
        pairs = minhash_lsh_candidates(docs)
        rows = pairs.collect()          # materialize INSIDE the scope
    # every persist/localCheckpoint created inside is now freed

``spark.catalog.clearCache()`` is NOT a substitute: localCheckpoint
blocks (dedup_components' per-round lineage truncation) live in the
persistent-RDD registry, outside the catalog cache, and clearCache
also frees caches the caller did not create. The scope frees exactly
the delta it observed — persists that existed before entry (e.g. an
upstream table the caller cached on purpose) are left alone.

NOT safe under concurrent scopes on one SparkSession: the registry is
session-global, so a scope exiting while another thread's operator is
mid-flight would free that thread's still-in-use persists (and a
self-join whose persist vanishes recomputes its upstream once per join
side — the exact race the eager persist exists to prevent). Use one
scope at a time per session; concurrent partition jobs
(plans.checkpoint.run_checkpointed(concurrency=N)) do NOT use scopes
for this reason — run_checkpointed persists nothing (each part job
reads its slice of the staged input and writes its results straight
out), so nothing there needs a scope.
"""

from __future__ import annotations

from contextlib import contextmanager


def persistent_rdd_ids(sc) -> set:
    """Ids of currently persisted RDDs (includes localCheckpoint blocks,
    which live outside the catalog cache — clearCache never frees them)."""
    return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}


def unpersist_rdd_ids(sc, ids) -> None:
    """Non-blocking unpersist of the given RDD ids (missing ids ignored)."""
    m = sc._jsc.getPersistentRDDs()
    for k in list(m.keySet().toArray()):
        if int(k) in ids:
            m.get(k).unpersist(False)


@contextmanager
def persist_scope(spark):
    """Free every persist/localCheckpoint created inside the scope.

    Materialize results before the scope exits — the returned plans
    reference the persisted intermediates."""
    sc = spark.sparkContext
    before = persistent_rdd_ids(sc)
    try:
        yield
    finally:
        unpersist_rdd_ids(sc, persistent_rdd_ids(sc) - before)
