"""Table sources.

Production reads an Iceberg table of (doc_id, spans) — ``spark.table(name)``
or ``spark.read.format("iceberg")`` — with Catalyst handling partition
pruning and column pruning for free (SURVEY.md §4.2). This sandbox has no
Iceberg catalog or warehouse, so the same shape is produced three ways:

1. ``corpus_df``       — the synthetic interleaved corpus, generated
                         *executor-side* (ids are parallelized; spans are a
                         pure function of the id) so a 50k-doc bench corpus
                         never materializes on the driver;
2. ``documents_as_spans_df`` — the driver's plain-text ``documents.parquet``
                         re-shaped into the north-rule spans schema with
                         **native expressions only** (no Python);
3. plain parquet of DOCUMENTS_SCHEMA written by tests.
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..corpus import corpus_doc_ids, generate_doc
from ..plans.session import lazy_zip_invalidation
from ..schemas import DOCUMENTS_SCHEMA

__all__ = ["load_table", "corpus_df", "documents_as_spans_df"]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (TESTDATA.md)."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _gen_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    lazy_zip_invalidation()
    for pdf in batches:
        rows = [
            {"doc_id": doc_id, "spans": generate_doc(doc_id)}
            for doc_id in pdf["doc_id"]
        ]
        yield pd.DataFrame(rows, columns=["doc_id", "spans"])


def corpus_df(
    spark: SparkSession,
    n_docs: int,
    include_fixture: bool = True,
    giant_every: int = 0,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Distributed deterministic corpus: parallelize ids, generate spans in
    Arrow-batched Python on the executors."""
    ids = corpus_doc_ids(n_docs, include_fixture, giant_every)
    num = num_partitions or spark.sparkContext.defaultParallelism
    id_df = spark.createDataFrame(
        [(i,) for i in ids], "doc_id string"
    ).repartition(num, F.col("doc_id"))
    return id_df.mapInPandas(_gen_batches, DOCUMENTS_SCHEMA)


def documents_as_spans_df(
    spark: SparkSession,
    sf_dir: str,
    chunk_chars: int = 2048,
    media_every: int = 3,
) -> DataFrame:
    """Reshape the driver's documents table (doc_id, text, lang, source,
    n_chars) into the north-rule spans schema — pure Catalyst, no Python.

    Each document becomes a small article page whose paragraphs are the
    text split on newlines; the HTML is chunked into ``chunk_chars`` text
    spans; every ``media_every``-th doc gets a trailing media span. The
    construction is deterministic so the DuckDB oracle can rebuild the
    identical table in SQL (FIXTURES.md §4).
    """
    docs = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title></head><body><article><h1>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.regexp_replace(F.col("text"), "\n", "</p><p>"),
        F.lit("</p></article></body></html>"),
    )
    with_html = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"), html.alias("html")
    )
    spans_expr = F.expr(
        f"""
        concat(
          transform(
            sequence(0, cast(ceil(length(html) / {chunk_chars}) as int) - 1),
            i -> named_struct(
              'kind', 'text',
              'text', substring(html, i * {chunk_chars} + 1, {chunk_chars}),
              'media_ref', '',
              'offset', i
            )
          ),
          CASE WHEN cast(doc_id as bigint) % {media_every} = 0 THEN
            array(named_struct(
              'kind', 'media',
              'text', concat('figure for doc ', doc_id),
              'media_ref', concat('media://doc/', doc_id),
              'offset', cast(ceil(length(html) / {chunk_chars}) as int)
            ))
          ELSE array() END
        )
        """
    )
    return with_html.select(
        "doc_id", spans_expr.cast(DOCUMENTS_SCHEMA["spans"].dataType).alias("spans")
    )
