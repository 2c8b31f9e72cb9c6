"""Skew handling: native doc-size pre-pass, size bucketing, salted spread.

The north rule requires explicit handling of giant-document skew. Strategy
(SURVEY.md §4.2):

1. ``with_doc_bytes`` — compute per-doc byte size with **native Catalyst
   expressions only** (``aggregate(transform(...))``), no Python, so the
   pre-pass is whole-stage-codegen'd and costs one scan column.
2. ``with_size_bucket`` — small / medium / giant buckets.
3. ``skew_partitioned`` — one scan, one shuffle: every doc is hash-spread
   by an explicit full-width salt (``xxhash64(doc_id)``), so giants land
   about n_giants/N per partition and no partition — and therefore no
   Arrow batch — aggregates many multi-MiB documents. At 1000 executors
   the same code holds: partition counts derive from the cluster's
   parallelism, never from data-dependent collect()s.

Docs above ``MAX_DOC_BYTES`` are not parsed at all — the extraction UDF
emits an error row (never kills the job; the count surfaces in metrics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = [
    "GIANT_DOC_BYTES",
    "MAX_DOC_BYTES",
    "with_doc_bytes",
    "with_reassembled_html",
    "with_size_bucket",
    "skew_partitioned",
]

# >1 MiB of source HTML = "giant" (size_bucket 2)
GIANT_DOC_BYTES = 1 * 1024 * 1024
# per-doc hard cutoff: above this the UDF emits an error row without parsing
MAX_DOC_BYTES = 64 * 1024 * 1024

# Counts ALL span payload bytes (text of every span + media_ref): the
# reassembled document includes media placeholders built from alt text
# and refs, so a media-heavy doc with little kind='text' content must
# still trip the size cap and the giant bucket — scoping to
# kind='text' only let such docs bypass both.
# coalesce: a NULL spans array must yield doc_bytes 0, not NULL — a NULL
# doc_bytes would fall through with_size_bucket's comparisons into the
# giant bucket.
_DOC_BYTES_EXPR = (
    "coalesce(aggregate(transform({col}, "
    "s -> coalesce(octet_length(s.text), 0) "
    "+ coalesce(octet_length(s.media_ref), 0)), "
    "0L, (acc, x) -> acc + x), 0L)"
)


def with_doc_bytes(df: DataFrame, spans_col: str = "spans") -> DataFrame:
    """Add ``doc_bytes`` (sum of UTF-8 span text bytes) — pure Catalyst."""
    if "doc_bytes" in df.columns:
        return df
    return df.withColumn(
        "doc_bytes", F.expr(_DOC_BYTES_EXPR.format(col=spans_col))
    )


# Native escape chain replicating spans.escape_html exactly (format.go
# order: & first, then U+00A0, <, >, ", \')
_ESC_STEPS = (
    ("&", "&amp;"),
    ("\u00a0", "&nbsp;"),
    ("<", "&lt;"),
    (">", "&gt;"),
    ('"', "&quot;"),
    ("'", "&#039;"),
)


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _esc_sql(expr: str) -> str:
    out = f"coalesce({expr}, '')"
    for src, dst in _ESC_STEPS:
        out = f"replace({out}, {_sql_str(src)}, {_sql_str(dst)})"
    return out


# malformed arrays (null elements / null offsets) yield NULL, the cases
# extraction turns into "null spans" error rows
_REASSEMBLE_EXPR = (
    "CASE WHEN {col} IS NULL "
    "OR exists({col}, s -> s IS NULL OR s.offset IS NULL) "
    "THEN NULL ELSE "
    "concat_ws('', transform("
    "array_sort({col}, (a, b) -> CASE WHEN a.offset < b.offset THEN -1 "
    "WHEN a.offset > b.offset THEN 1 ELSE 0 END), "
    "s -> CASE WHEN s.kind = 'media' THEN "
    "concat('<x-media ref=\"', " + _esc_sql("s.media_ref") + ", "
    "'\" alt=\"', " + _esc_sql("s.text") + ", '\"/>') "
    "ELSE coalesce(s.text, '') END)) END"
)


def with_reassembled_html(df: DataFrame, spans_col: str = "spans") -> DataFrame:
    """Add ``html`` — the document reassembled from its spans entirely in
    the JVM (sort by offset, media → escaped ``<x-media/>`` placeholder,
    concat). Value-identical to spans.spans_to_html for well-formed spans
    (parity-tested); malformed spans (null entries/offsets) yield NULL."""
    return df.withColumn("html", F.expr(_REASSEMBLE_EXPR.format(col=spans_col)))


def with_size_bucket(
    df: DataFrame,
    small: int = 64 * 1024,
    giant: int = GIANT_DOC_BYTES,
) -> DataFrame:
    """Add ``size_bucket`` 0=small, 1=medium, 2=giant from ``doc_bytes``."""
    df = with_doc_bytes(df)
    return df.withColumn(
        "size_bucket",
        F.when(F.col("doc_bytes") < small, F.lit(0))
        .when(F.col("doc_bytes") < giant, F.lit(1))
        .otherwise(F.lit(2)),
    )


def skew_partitioned(df: DataFrame, num_partitions: int) -> DataFrame:
    """Return df repartitioned so extraction tasks are size-balanced.

    ONE scan, ONE shuffle — an explicit full-width ``xxhash64(doc_id)``
    salt hashed into ``num_partitions``. Millions of distinct salt values
    give uniform partitions (a coarse modded salt space hashed into N
    buckets is balls-into-bins lumpy); giants land ~n_giants/num per
    partition and Arrow batching bounds their memory.
    """
    df = with_doc_bytes(df)
    salted = df.withColumn("salt", F.xxhash64(F.col("doc_id")))
    return salted.repartition(num_partitions, F.col("salt")).drop("salt")
