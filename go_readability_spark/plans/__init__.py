"""Physical-plan helpers: session config, skew handling, checkpoint/resume."""

from .cache import persist_scope  # noqa: F401
from .checkpoint import (  # noqa: F401
    mark_partition_done,
    read_manifest,
    run_checkpointed,
)
from .session import get_spark, giant_doc_scan  # noqa: F401
from .skew import (  # noqa: F401
    GIANT_DOC_BYTES,
    MAX_DOC_BYTES,
    skew_partitioned,
    with_doc_bytes,
    with_reassembled_html,
    with_size_bucket,
)
