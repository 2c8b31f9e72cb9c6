"""The reference CLI's sinks, rendered from one extracted article.

The reference CLI (cmd/readability/main.go:17-84) emits the extracted
article as clean HTML (``--format html``, format.go:76-139), Markdown
(``--format markdown``, markdown.go:536-551) or a metadata JSON map
(``--metadata``, main.go:52-64). ``render_article`` produces the same
four renderings; ``extract.extract_documents(render=True)`` adds them as
columns in the extraction's own Arrow-batched pass, rendering from the
article it already parsed.
"""

from __future__ import annotations

import json

__all__ = ["render_article"]


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
