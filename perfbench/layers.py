"""Traced-run instrumentation: the single-process layer pass, the Spark
ladder rungs, and the wrappers around ``plans.checkpoint`` calls.

The layer pass calls each readability / spans layer function in turn on a
fixed sample of the workload's documents, in the benchmark process, so
its per-layer times are interpreter cost per document with no engine cost
mixed in. The ladder runs scan, scan + doc_bytes pre-pass, and scan +
pre-pass + salted repartition as separate Spark actions, so each rung's
extra wall time is that layer's engine cost.
"""

from __future__ import annotations

import contextlib
import sys
import threading
from statistics import median

from pyspark.sql import functions as F

import go_readability_spark.operators.extract as extract_mod
import go_readability_spark.plans.checkpoint as ckpt
import go_readability_spark.readability.fmt as fmt_mod
import go_readability_spark.readability.markdown as md_mod
from go_readability_spark.operators.render import render_article
from go_readability_spark.plans.skew import skew_partitioned, with_doc_bytes
from go_readability_spark.readability import ReadabilityOptions
from go_readability_spark.readability.extract import extract_content
from go_readability_spark.readability.fmt import count_nodes
from go_readability_spark.readability.parser import parse_html
from go_readability_spark.readability.preprocess import preprocess_document
from go_readability_spark.spans import element_to_spans, spans_to_html

from . import sqlmetrics

# to_markdown is quadratic in the article length (a 4 MiB giant takes
# minutes), so the render layers run only on documents up to this size;
# the long articles (inputs.long_articles) are below it
RENDER_MAX_BYTES = 512 * 1024
LAYER_PASSES = 3
_RECURSION_LIMIT = 20000


@contextlib.contextmanager
def patched(module, name: str, make):
    """Replace ``module.name`` by ``make(original)`` inside the block."""
    original = getattr(module, name)
    setattr(module, name, make(original))
    try:
        yield
    finally:
        setattr(module, name, original)


def _timed(tracer, span_name: str):
    """Wrap a function in a span; recursive calls stay inside the outer one."""
    def make(fn):
        active = threading.local()

        def wrapper(*args, **kwargs):
            if getattr(active, "on", False):
                return fn(*args, **kwargs)
            active.on = True
            try:
                with tracer.span(span_name):
                    return fn(*args, **kwargs)
            finally:
                active.on = False
        return wrapper
    return make


# span name -> per-layer metric holding its summed time over the sample
_LAYER_SPANS = {
    "spans.spans_to_html": "spans.decode_ms",
    "readability.parser.parse_html": "readability.parser.parse_ms",
    "readability.fmt.count_nodes": "readability.fmt.count_nodes_ms",
    "readability.preprocess.preprocess_document": "readability.preprocess.ms",
    "readability.scoring.extract_content": "readability.scoring.ms",
    "spans.element_to_spans": "spans.encode_ms",
    "render.render_article": "render.ms",
    "readability.fmt.to_html": "readability.fmt.to_html_ms",
    "readability.markdown.to_markdown": "readability.markdown.to_markdown_ms",
}


def _one_pass(span, docs, opts) -> dict:
    """Every layer on every document, each call inside ``span(name)``."""
    nodes = pruned = out_spans = 0
    mb = 0.0
    for doc_id, spans in docs:
        with span("layers.doc", doc_id):
            with span("spans.spans_to_html"):
                html = spans_to_html(spans)
            size = len(html.encode("utf-8"))
            mb += size / 1e6
            with span("readability.parser.parse_html"):
                doc = parse_html(html, "")
            with span("readability.fmt.count_nodes"):
                n_before = count_nodes(doc.document_element)
            with span("readability.preprocess.preprocess_document"):
                preprocess_document(doc)
            with span("readability.fmt.count_nodes"):
                n_after = count_nodes(doc.document_element)
            with span("readability.scoring.extract_content"):
                article = extract_content(doc, opts)
            with span("spans.element_to_spans"):
                emitted = element_to_spans(article.root)
            if size <= RENDER_MAX_BYTES:
                with span("render.render_article"):
                    render_article(article)
        nodes += n_before
        pruned += n_before - n_after
        out_spans += len(emitted)
    return {"parser.nodes": nodes, "preprocess.pruned_nodes": pruned,
            "spans.out_spans": out_spans, "mb": mb}


def _traced_pass(tracer, docs, opts) -> dict:
    before = {name: tracer.total(name)[1] for name in _LAYER_SPANS}
    with contextlib.ExitStack() as stack:
        stack.enter_context(patched(fmt_mod, "to_html",
                                    _timed(tracer, "readability.fmt.to_html")))
        stack.enter_context(patched(md_mod, "to_markdown",
                                    _timed(tracer, "readability.markdown.to_markdown")))
        with tracer.span("layers.pass"):
            out = _one_pass(tracer.span, docs, opts)
    mb = out.pop("mb")
    out.update({metric: (tracer.total(name)[1] - before[name]) * 1e3
                for name, metric in _LAYER_SPANS.items()})
    for metric in ("readability.parser.parse_ms", "readability.preprocess.ms",
                   "readability.scoring.ms"):
        out[metric + "_per_mb"] = out[metric] / mb
    return out


def layer_pass(tracer, docs) -> dict:
    """Run every per-document layer on ``docs`` [(doc_id, spans)] in this
    process, LAYER_PASSES times; each time is the median over the passes
    of that layer's time summed over the sample."""
    if sys.getrecursionlimit() < _RECURSION_LIMIT:
        sys.setrecursionlimit(_RECURSION_LIMIT)
    opts = ReadabilityOptions(forced_page_type="")
    passes = [_traced_pass(tracer, docs, opts) for _ in range(LAYER_PASSES)]
    return {k: median(p[k] for p in passes) for k in passes[0]}


def ladder(tracer, df, partitions: int) -> dict:
    """Scan, + doc_bytes pre-pass, + salted repartition, each one action."""
    with tracer.span("ladder.scan"):
        scan = df.agg(F.sum(F.size("spans.text")))
        scan.collect()
    with tracer.span("ladder.prepass"):
        with_doc_bytes(df).agg(F.sum("doc_bytes")).collect()
    with tracer.span("ladder.repartition"):
        # size(spans) after the exchange keeps the span payload in the
        # shuffle; column pruning would otherwise shuffle doc_bytes only
        part = skew_partitioned(df, partitions).groupBy(
            F.spark_partition_id().alias("p")
        ).agg(F.sum("doc_bytes").alias("bytes"), F.sum(F.size("spans")).alias("spans"))
        per_part = [r["bytes"] for r in part.collect()]
    scan_m = sqlmetrics.summed(sqlmetrics.plan_nodes(scan), ("Scan",))
    shuffle = sqlmetrics.summed(
        [n for n in sqlmetrics.plan_nodes(part) if n[0] == "Exchange"][-1:], ("Exchange",)
    )
    walls = {k: tracer.durations(f"ladder.{k}")[-1] for k in ("scan", "prepass", "repartition")}
    mean = sum(per_part) / partitions
    return {
        "scan.bytes": scan_m.get("filesSize", 0),
        "scan.time_ms": scan_m.get("scanTime", 0),
        "skew.prepass_s": walls["prepass"] - walls["scan"],
        "skew.shuffle_bytes": shuffle.get("shuffleBytesWritten", 0),
        "skew.shuffle_write_ms": shuffle.get("shuffleWriteTime", 0) / 1e6,
        # fetchWaitTime stays 0 in local mode (blocks are read locally), so
        # the rung's extra wall stands in for the shuffle's read side
        "skew.repartition_s": walls["repartition"] - walls["prepass"],
        "skew.part_bytes_max_over_mean": max(per_part) / mean if mean else 0.0,
    }


def udf_metrics(plan_df) -> dict:
    """Python UDF operator metrics of the action that ran on ``plan_df``;
    zeros for an action that wrote through ``df.write`` (``plan_df`` None),
    whose plan metrics cannot be read."""
    m = {} if plan_df is None else sqlmetrics.summed(
        sqlmetrics.plan_nodes(plan_df), ("MapInArrow", "MapInPandas"))
    return {
        "extract.arrow_sent_bytes": m.get("pythonDataSent", 0),
        "extract.arrow_received_bytes": m.get("pythonDataReceived", 0),
        "extract.python_boot_ms": m.get("pythonBootTime", 0),
        "extract.python_init_ms": m.get("pythonInitTime", 0),
        "extract.python_total_ms": m.get("pythonTotalTime", 0),
    }


def doc_metrics(rows, wall_s: float, cores: int) -> dict:
    """Layer metrics from the per-document output columns."""
    elapsed = sorted(r["elapsed_ms"] for r in rows)
    busy: dict = {}
    for r in rows:
        busy[r["part"]] = busy.get(r["part"], 0.0) + r["elapsed_ms"]
    total_s = sum(elapsed) / 1e3
    mean = sum(busy.values()) / len(busy)
    return {
        "extract.udf_busy_core_s": total_s,
        "extract.udf_utilization": total_s / (wall_s * cores),
        "extract.doc_ms_p50": median(elapsed),
        "extract.doc_ms_p99": elapsed[min(len(elapsed) - 1, int(0.99 * len(elapsed)))],
        "extract.part_busy_max_over_mean": max(busy.values()) / mean if mean else 0.0,
        "extract.error_rows": sum(r["error"] is not None for r in rows),
    }


@contextlib.contextmanager
def checkpoint_spans(tracer, on_staged=None):
    """Time the calls ``run_checkpointed`` makes, from outside it.

    A part job starts when it calls ``extract_documents`` and ends when
    ``mark_partition_done`` returns, on the same pool thread. Staging is
    the write between the first ``with_part`` call (which builds the
    staged frame) and the second (which reads its schema back);
    ``on_staged`` is called at that point, while the staged copy exists."""
    local = threading.local()
    with_part_calls: list = []

    def make_extract(fn):
        def wrapper(*args, **kwargs):
            if getattr(local, "part", None) is None:
                local.part = tracer.begin("checkpoint.part")
            return fn(*args, **kwargs)
        return wrapper

    def make_done(fn):
        def wrapper(spark, manifest_dir, part, *args, **kwargs):
            with tracer.span("checkpoint.mark_partition_done", part):
                fn(spark, manifest_dir, part, *args, **kwargs)
            rec, local.part = local.part, None
            if rec is not None:
                tracer.end(rec, item=int(part))
        return wrapper

    def make_with_part(fn):
        def wrapper(*args, **kwargs):
            start = tracer.now()
            if len(with_part_calls) == 1 and on_staged is not None:
                on_staged()
            out = fn(*args, **kwargs)
            with_part_calls.append((start, tracer.now()))
            return out
        return wrapper

    with contextlib.ExitStack() as stack:
        stack.enter_context(patched(extract_mod, "extract_documents", make_extract))
        stack.enter_context(patched(ckpt, "mark_partition_done", make_done))
        stack.enter_context(patched(ckpt, "with_part", make_with_part))
        stack.enter_context(patched(ckpt, "_lineage_and_counts",
                                    _timed(tracer, "checkpoint.lineage_reread")))
        stack.enter_context(patched(ckpt, "read_manifest",
                                    _timed(tracer, "checkpoint.read_manifest")))
        yield with_part_calls


def traced_checkpoint_run(tracer, run, span_name: str, on_staged=None):
    """Call ``run()`` (one run_checkpointed) under checkpoint_spans."""
    with checkpoint_spans(tracer, on_staged) as with_part_calls:
        with tracer.span(span_name) as rec:
            tracer.thread_root = rec["id"]
            try:
                run()
            finally:
                tracer.thread_root = None
    if len(with_part_calls) >= 2:
        tracer.add("checkpoint.staging", with_part_calls[0][1],
                   with_part_calls[1][0], rec["id"])


def checkpoint_metrics(tracer, written: tuple[int, int], input_bytes: int) -> dict:
    parts = tracer.durations("checkpoint.part")
    runs = tracer.durations("checkpoint.run")
    n = max(len(runs), 1)
    return {
        "checkpoint.staging_s": tracer.total("checkpoint.staging")[1] / n,
        "checkpoint.part_s_sum": sum(parts) / n,
        "checkpoint.part_s_max": max(parts, default=0.0),
        "checkpoint.lineage_reread_s": tracer.total("checkpoint.lineage_reread")[1] / n,
        "checkpoint.manifest_s": (tracer.total("checkpoint.mark_partition_done")[1]
                                  + tracer.total("checkpoint.read_manifest")[1]) / n,
        "checkpoint.rerun_s": median(tracer.durations("checkpoint.rerun") or [0.0]),
        "checkpoint.bytes_written_per_input_byte": written[0] / input_bytes,
        "checkpoint.files_written": written[1],
    }
