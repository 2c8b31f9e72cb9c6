"""Rendered-output operator: the reference CLI's sinks as a DataFrame op.

The reference CLI (cmd/readability/main.go:17-84) emits the extracted
article as clean HTML (``--format html``, format.go:76-139), Markdown
(``--format markdown``, markdown.go:536-551) or a metadata JSON map
(``--metadata``, main.go:52-64). This operator produces the same four
renderings as columns next to the extraction output — the same
Arrow-batched pass as extract_documents, rendering from the article it
already parsed.
"""

from __future__ import annotations

import json
from typing import Optional

from pyspark.sql import DataFrame

from ..plans.skew import MAX_DOC_BYTES
from ..readability.extract import ReadabilityOptions
from ..schemas import EXTRACTED_AND_RENDERED_SCHEMA
from .extract import _map_documents

__all__ = [
    "extract_and_render",
    "EXTRACTED_AND_RENDERED_SCHEMA",
    "render_article",
]


def render_article(article) -> dict:
    """Render one extracted article into the CLI's output formats."""
    from ..readability.fmt import format_document, stringify, to_html
    from ..readability.markdown import to_markdown

    # metadata JSON mirrors cmd/readability/main.go:52-64
    metadata = {
        "title": article.title,
        "byline": article.byline,
        "nodeCount": article.node_count,
        "pageType": article.page_type,
    }
    return {
        "html": to_html(article.root),
        "markdown": to_markdown(article.root),
        "text": format_document(stringify(article.root)),
        "metadata_json": json.dumps(metadata, ensure_ascii=False),
    }


def extract_and_render(
    df: DataFrame,
    options: Optional[ReadabilityOptions] = None,
    num_partitions: Optional[int] = None,
    max_doc_bytes: int = MAX_DOC_BYTES,
) -> DataFrame:
    """Extraction + CLI sink renderings in ONE UDF pass.

    Renders from the same parsed article inside the extraction batch loop
    (extract.extract_batch_rows(render=True)), so the readability core
    runs once per document. Output = EXTRACTED_SCHEMA columns + (html,
    markdown, text, metadata_json); error rows carry empty renderings."""
    return _map_documents(df, options, num_partitions, max_doc_bytes, render=True)
