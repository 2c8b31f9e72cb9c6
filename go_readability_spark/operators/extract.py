"""The extraction operator: one Arrow-batched mapInArrow over span documents.

This is the Spark face of the per-document pure function (SURVEY.md §3
"Spark lifecycle"): scan (doc_id, spans) → native doc_bytes pre-pass →
salted repartition → mapInArrow(extract_batch_rows) → extracted rows
(doc_id, spans_out, meta, metrics, doc_bytes, error, elapsed_ms).

Design notes for 100 TB scale:
- the only shuffle is the explicit skew repartition; extraction itself is
  map-only and the metrics rollup is a partial-agg hash aggregate;
- all per-doc work happens JVM→Arrow→Python batch-wise, never per-row
  Python UDF calls (input_hint requirement);
- ``extract_documents`` is the one entry point and builds the one plan;
  ``render=True`` adds the CLI sink renderings to the same pass, and a
  streaming input skips the repartition (a micro-batch is already
  bounded). ``extract_batch_rows`` is the one per-document loop behind
  its Arrow adapter;
- the adapter's worker-side body first calls
  ``plans.session.lazy_zip_invalidation``, so a reused Python worker does
  not re-read ``pyspark.zip`` at every task start;
- failures never kill the job: per-doc try/except emits an error row and
  the error count is a first-class metric;
- docs above MAX_DOC_BYTES are refused before parsing (skew.py).
"""

from __future__ import annotations

import time
from typing import Optional

from pyspark.sql import DataFrame, functions as F

from ..readability.extract import (
    ExtractionMetrics,
    ReadabilityOptions,
    extract_content,
)
from ..readability.parser import parse_html
from ..readability.preprocess import preprocess_document
from ..schemas import EXTRACTED_AND_RENDERED_SCHEMA, EXTRACTED_SCHEMA
from ..spans import element_to_spans, spans_to_html
from ..plans.session import lazy_zip_invalidation
from ..plans.skew import MAX_DOC_BYTES, skew_partitioned, with_doc_bytes
from .render import render_article

__all__ = ["extract_documents", "extract_batch_rows", "metrics_rollup"]

def extract_batch_rows(
    doc_ids,
    spans_lists,
    doc_bytes_list,
    options: Optional[ReadabilityOptions] = None,
    render: bool = False,
) -> list[dict]:
    """Extract one batch of documents; pure Python, testable without Spark.

    Every document yields exactly one row. The size cap (a ``doc_bytes``
    above ``MAX_DOC_BYTES``) is checked first (over-cap docs are never
    reassembled), then malformed spans (a null array, null span entries
    or null offsets), then any exception from extraction — each becomes
    an error row with ``page_type='error'``. ``render=True`` additionally
    produces the CLI sink formats (html / markdown / text /
    metadata_json) from the SAME parsed article, so a pipeline wanting
    extraction + renderings pays the parse+score once; error rows carry
    empty renderings."""
    out: list[dict] = []
    for doc_id, spans, doc_bytes in zip(doc_ids, spans_lists, doc_bytes_list):
        t0 = time.perf_counter()
        doc_bytes = int(doc_bytes or 0)
        row = {
            "doc_id": doc_id,
            "spans_out": [],
            "meta": {"title": "", "byline": "", "page_type": "error",
                     "node_count": 0},
            "metrics": dict(vars(ExtractionMetrics())),
            "doc_bytes": doc_bytes,
            "error": None,
        }
        if render:
            row.update(html="", markdown="", text="", metadata_json="")
        if doc_bytes > MAX_DOC_BYTES:
            row["error"] = f"doc_bytes {doc_bytes} > cap {MAX_DOC_BYTES}"
        elif spans is None or any(
            s is None or s.get("offset") is None for s in spans
        ):
            row["error"] = "null spans"
        else:
            try:
                doc = parse_html(spans_to_html(spans), "")
                nodes, pruned = preprocess_document(doc)
                article = extract_content(doc, options)
                m = article.metrics
                m.pruned_nodes = pruned
                m.prune_ratio = pruned / nodes
                # built in full before update: a failing render leaves the
                # error-row defaults untouched
                row.update(
                    spans_out=element_to_spans(article.root),
                    meta={
                        "title": article.title,
                        "byline": article.byline,
                        "page_type": article.page_type,
                        "node_count": article.node_count,
                    },
                    metrics=dict(vars(m)),
                    **(render_article(article) if render else {}),
                )
            except Exception as exc:  # noqa: BLE001 — never kill the job
                row["error"] = f"{type(exc).__name__}: {exc}"
        row["elapsed_ms"] = round((time.perf_counter() - t0) * 1000, 3)
        out.append(row)
    return out


def _decode_spans(spans) -> list:
    """``spans.to_pylist()`` for a list<struct> column, built per field:
    one ``to_pylist`` per struct child, zipped into the same dicts, then
    sliced by the list offsets. A null list and a null struct entry stay
    ``None``. ``.values`` (not ``.flatten()``, which drops the values
    behind null lists) keeps ``.offsets`` absolute into it."""
    offsets = spans.offsets.to_pylist()
    start = offsets[0]
    structs = spans.values.slice(start, offsets[-1] - start)
    names = [field.name for field in structs.type]
    decoded = [
        dict(zip(names, values))
        for values in zip(*(structs.field(i).to_pylist() for i in range(len(names))))
    ]
    if structs.null_count:
        decoded = [
            span if valid else None
            for span, valid in zip(decoded, structs.is_valid().to_pylist())
        ]
    valid = spans.is_valid().to_pylist()
    return [
        decoded[offsets[k] - start:offsets[k + 1] - start] if valid[k] else None
        for k in range(len(spans))
    ]


def _arrow_batches(options: Optional[ReadabilityOptions], render: bool):
    """The mapInArrow adapter: (doc_id, spans, doc_bytes) record batches
    in, one ``extract_batch_rows`` call per batch, its rows out."""

    def run(batches):
        lazy_zip_invalidation()
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        out_schema = to_arrow_schema(
            EXTRACTED_AND_RENDERED_SCHEMA if render else EXTRACTED_SCHEMA
        )
        for batch in batches:
            rows = extract_batch_rows(
                batch.column("doc_id").to_pylist(),
                _decode_spans(batch.column("spans")),
                batch.column("doc_bytes").to_pylist(),
                options,
                render,
            )
            yield pa.RecordBatch.from_pylist(rows, schema=out_schema)

    return run


def extract_documents(
    df: DataFrame,
    options: Optional[ReadabilityOptions] = None,
    num_partitions: Optional[int] = None,
    render: bool = False,
) -> DataFrame:
    """documents(doc_id, spans) → extracted(doc_id, spans_out, meta, metrics,
    doc_bytes, error, elapsed_ms), plus (html, markdown, text,
    metadata_json) when ``render=True``.

    The plan: doc_bytes pre-pass → salted repartition into
    ``num_partitions`` (default: the cluster's parallelism) → one
    mapInArrow. A streaming input keeps its partitioning, since a
    micro-batch is already bounded."""
    df = with_doc_bytes(df)
    if not df.isStreaming:
        num = num_partitions or df.sparkSession.sparkContext.defaultParallelism
        df = skew_partitioned(df, num)
    return df.select("doc_id", "spans", "doc_bytes").mapInArrow(
        _arrow_batches(options, render),
        EXTRACTED_AND_RENDERED_SCHEMA if render else EXTRACTED_SCHEMA,
    )


def metrics_rollup(extracted: DataFrame) -> DataFrame:
    """Aggregate extraction metrics per page type (SURVEY.md §4.2: plain
    hash-agg with map-side partials — Catalyst handles partial
    aggregation for free)."""
    return extracted.groupBy(F.col("meta.page_type").alias("page_type")).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("n_errors"),
        F.sum("doc_bytes").alias("total_bytes"),
        F.avg("metrics.candidate_count").alias("avg_candidates"),
        F.avg("metrics.prune_ratio").alias("avg_prune_ratio"),
        F.avg("metrics.link_density").alias("avg_link_density"),
        F.avg(F.size("spans_out")).alias("avg_spans_out"),
        F.sum(
            F.when(F.col("metrics.is_probably_content"), 1).otherwise(0)
        ).alias("n_probably_content"),
        F.max("elapsed_ms").alias("max_elapsed_ms"),
        F.avg("elapsed_ms").alias("avg_elapsed_ms"),
    )
