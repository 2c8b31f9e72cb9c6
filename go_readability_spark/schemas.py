"""Spark schemas for the extraction pipeline.

Input shape is fixed by BASELINE.json ``input_hint``; output shape by
FIXTURES.md §2 (``documents_golden``). All nested data is
array<struct>/struct — MapType is avoided in UDF I/O (SURVEY.md §1.3).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

__all__ = [
    "SPAN_IN_TYPE",
    "SPAN_OUT_TYPE",
    "DOCUMENTS_SCHEMA",
    "META_TYPE",
    "METRICS_TYPE",
    "EXTRACTED_SCHEMA",
    "EXTRACTED_AND_RENDERED_SCHEMA",
]

SPAN_IN_TYPE = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

# north-rule input table: (doc_id, spans) — BASELINE.json input_hint
DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), nullable=False),
        StructField("spans", ArrayType(SPAN_IN_TYPE)),
    ]
)

SPAN_OUT_TYPE = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("order", IntegerType()),
    ]
)

# mirrors ReadabilityArticle (/root/reference/article.go:12-26) + the CLI
# metadata JSON (cmd/readability/main.go:52-64)
META_TYPE = StructType(
    [
        StructField("title", StringType()),
        StructField("byline", StringType()),
        StructField("page_type", StringType()),
        StructField("node_count", IntegerType()),
    ]
)

METRICS_TYPE = StructType(
    [
        StructField("candidate_count", IntegerType()),
        StructField("pruned_nodes", IntegerType()),
        StructField("prune_ratio", DoubleType()),
        StructField("top_score", DoubleType()),
        StructField("link_density", DoubleType()),
        StructField("is_probably_content", BooleanType()),
    ]
)

EXTRACTED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), nullable=False),
        StructField("spans_out", ArrayType(SPAN_OUT_TYPE)),
        StructField("meta", META_TYPE),
        StructField("metrics", METRICS_TYPE),
        StructField("doc_bytes", LongType()),
        StructField("error", StringType()),
        # per-doc UDF wall time — straggler/skew diagnosis at the row level
        StructField("elapsed_ms", DoubleType()),
    ]
)

# extraction + the CLI sink renderings (extract_documents(render=True))
EXTRACTED_AND_RENDERED_SCHEMA = StructType(
    EXTRACTED_SCHEMA.fields
    + [
        StructField(name, StringType())
        for name in ("html", "markdown", "text", "metadata_json")
    ]
)
