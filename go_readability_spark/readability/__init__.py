"""Pure-Python readability core (no Spark imports).

A from-scratch reimplementation of the extraction semantics of
mackee/go-readability (/root/reference, snapshot 2025-07-18), structured to
run inside Arrow-batched Spark UDFs. Ship with ``--py-files``.
"""

from .aria import (  # noqa: F401
    AriaNode,
    AriaTree,
    aria_tree_to_string,
    build_aria_node,
    build_aria_tree,
    compress_aria_tree,
    count_aria_nodes,
    get_accessible_name,
    get_aria_node_type,
    get_aria_role,
)
from .classify import (  # noqa: F401
    PAGE_TYPE_ARTICLE,
    PAGE_TYPE_OTHER,
    classify_page_type,
    get_expected_page_type_by_url,
    is_semantic_tag,
    is_significant_node,
)
from .dom import (  # noqa: F401
    DocIndex,
    get_elements_by_tag_name,
    get_inner_text,
    get_link_density,
    get_node_ancestors,
    get_text_density,
    has_ancestor_tag,
    is_probably_visible,
)
from .extract import (  # noqa: F401
    ExtractionMetrics,
    ReadabilityArticle,
    ReadabilityOptions,
    add_significant_elements_by_class_or_id,
    create_extractor,
    extract,
    extract_content,
    find_structural_elements,
)
from .fmt import (  # noqa: F401
    count_nodes,
    escape_html,
    extract_text_content,
    format_document,
    stringify,
    to_html,
)
from .markdown import escape_markdown, to_markdown  # noqa: F401
from .metadata import (  # noqa: F401
    ReadabilityMetadata,
    get_article_byline,
    get_article_title,
    get_jsonld,
    is_url,
    text_similarity,
    unescape_html_entities,
)
from .parser import (  # noqa: F401
    parse_html,
    serialize_document_to_html,
    serialize_to_html,
)
from .preprocess import is_likely_ad, preprocess_document  # noqa: F401
from .scoring import (  # noqa: F401
    find_main_candidates,
    get_class_weight,
    initialize_node,
    is_probably_content,
)
from .vdom import (  # noqa: F401
    VDocument,
    VElement,
    VText,
    create_element,
    create_text_node,
)
