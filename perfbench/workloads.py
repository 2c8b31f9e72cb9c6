"""The benchmark workloads: the measured action, and the checks that count
failed documents.

Each workload drives the system only through its public functions. The
measured action is what a user of the library runs; the checks run after
it, outside the timed region:

- every iteration's result must match the first one's (and, for the
  checkpoint workload, its own manifest and output);
- at the default seed the output digest must equal the value pinned in
  ``digests.json``;
- at any seed a fixed sample of documents must equal the pure
  ``extract_batch_rows``.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from go_readability_spark.operators.extract import (
    extract_batch_rows,
    extract_documents,
    metrics_rollup,
)
from go_readability_spark.plans.checkpoint import run_checkpointed
from go_readability_spark.plans.skew import with_doc_bytes

from . import inputs
from .layers import traced_checkpoint_run

DEFAULT_SEED = 1
CHECKPOINT_PARTS = 3
CHECKPOINT_CONCURRENCY = 3

_HERE = os.path.dirname(os.path.abspath(__file__))
# per-document output hash; bit_xor of it over a table is order-free
EXTRACT_HASH = "xxhash64(doc_id, spans_out, meta)"


def pinned_digest(name: str):
    with open(os.path.join(_HERE, "digests.json")) as fh:
        return json.load(fh).get(name)


@dataclass
class Ctx:
    spark: object
    cores: int
    seed: int
    work: str
    kind: str
    input: str
    ids: list
    sample: list
    partitions: int = 0
    reference: dict = field(default_factory=dict)

    def read(self):
        return self.spark.read.parquet(self.input)


@dataclass
class Outcome:
    """What one run of the measured action produced."""

    failed: int
    plan_df: object = None
    info: dict = field(default_factory=dict)


def _xor(values) -> int:
    out = 0
    for v in values:
        out ^= v
    return out


def _sample_inputs(ctx: Ctx):
    rows = (
        with_doc_bytes(ctx.read())
        .filter(F.col("doc_id").isin(ctx.sample))
        .collect()
    )
    rows.sort(key=lambda r: r["doc_id"])
    return (
        [r["doc_id"] for r in rows],
        [[s.asDict() for s in r["spans"]] for r in rows],
        [r["doc_bytes"] for r in rows],
    )


def _plain(value):
    if hasattr(value, "asDict"):
        return {k: _plain(v) for k, v in value.asDict().items()}
    if isinstance(value, list):
        return [_plain(v) for v in value]
    return value


def _sample_mismatches(ctx: Ctx, got: dict) -> list[str]:
    """Doc ids of the sample whose Spark output differs from the pure
    ``extract_batch_rows`` on the same input. ``got`` maps doc_id to the
    compared columns of the Spark output row."""
    ids, spans, sizes = _sample_inputs(ctx)
    pure = extract_batch_rows(ids, spans, sizes)
    cols = ("spans_out", "meta", "metrics")
    bad = [d for d in ctx.sample if d not in got]
    for row in pure:
        have = got.get(row["doc_id"])
        if have is not None and any(_plain(have[c]) != row[c] for c in cols):
            bad.append(row["doc_id"])
    return bad


class ExtractWorkload:
    """``extract_documents`` + ``metrics_rollup``, collected to the Spark
    driver."""

    def __init__(self, name: str, kind: str, giant_docs: bool):
        self.name, self.kind, self.giant_docs = name, kind, giant_docs

    def extracted(self, ctx: Ctx):
        return extract_documents(ctx.read(), num_partitions=ctx.partitions)

    def action(self, ctx: Ctx, i) -> Outcome:
        roll = metrics_rollup(self.extracted(ctx))
        rows = roll.collect()
        sig = sorted(
            (r["page_type"], r["n_docs"], r["n_errors"], r["total_bytes"],
             r["n_probably_content"])
            for r in rows
        )
        n = sum(r["n_docs"] for r in rows)
        errors = sum(r["n_errors"] for r in rows)
        return Outcome(failed=max(0, len(ctx.ids) - n) + errors,
                       plan_df=roll, info={"sig": sig})

    def check_iteration(self, ctx: Ctx, out: Outcome, first: Outcome) -> int:
        if out.info["sig"] != first.info["sig"]:
            return len(ctx.ids)
        return 0

    def digest_rows(self, ctx: Ctx):
        ext = self.extracted(ctx)
        full = F.struct("spans_out", "meta", "metrics")
        return ext.select(
            "doc_id", "error", F.expr(EXTRACT_HASH).alias("h"),
            F.when(F.col("doc_id").isin(ctx.sample), full).alias("full"),
        ).collect()

    def verify(self, ctx: Ctx, outcomes: list) -> tuple[int, dict]:
        """Failed documents found by the final checks, and what they saw."""
        rows = self.digest_rows(ctx)
        digest = _xor(r["h"] for r in rows)
        ctx.reference["digest"] = digest
        seen = {r["doc_id"] for r in rows}
        failed = set(d for d in ctx.ids if d not in seen)
        failed |= {r["doc_id"] for r in rows if r["error"] is not None}
        got = {r["doc_id"]: r["full"] for r in rows if r["full"] is not None}
        failed |= set(_sample_mismatches(ctx, got))
        pin_ok = ctx.seed != DEFAULT_SEED or pinned_digest(self.name) == digest
        if not pin_ok:
            failed = set(ctx.ids)
        return len(failed), {"digest": digest, "pin_ok": pin_ok}

    def doc_rows(self, ctx: Ctx, outcomes: list):
        """Per-document (partition, elapsed_ms, error, candidates) rows of
        one more extraction, for the traced run's layer metrics."""
        ext = self.extracted(ctx)
        return ext.select(
            "doc_id", F.spark_partition_id().alias("part"), "elapsed_ms",
            "error", F.col("metrics.candidate_count").alias("candidates"),
        ).collect()

    def cleanup(self, outcomes: list) -> None:
        """Remove what the outcomes left on disk."""


class CheckpointWorkload(ExtractWorkload):
    """``run_checkpointed`` into fresh directories, then an idempotent
    rerun that must write nothing. Its layers are timed by wrapping the
    ``plans.checkpoint`` calls (layers.checkpoint_spans)."""

    def _dirs(self, ctx: Ctx, i):
        base = os.path.join(ctx.work, "checkpoint", f"run{os.getpid()}-{i}")
        return base, os.path.join(base, "out"), os.path.join(base, "manifest")

    @staticmethod
    def _listing(*dirs):
        out = []
        for d in dirs:
            for root, _, names in os.walk(d):
                for n in names:
                    st = os.stat(os.path.join(root, n))
                    out.append((os.path.join(root, n), st.st_size, st.st_mtime_ns))
        return sorted(out)

    def run(self, ctx: Ctx, out_dir: str, manifest: str):
        return run_checkpointed(
            ctx.spark, ctx.read(), out_dir, manifest,
            n_parts=CHECKPOINT_PARTS, concurrency=CHECKPOINT_CONCURRENCY,
        )

    def action(self, ctx: Ctx, i, tracer=None) -> Outcome:
        base, out_dir, manifest = self._dirs(ctx, i)
        shutil.rmtree(base, ignore_errors=True)
        staged = {}

        def run(span_name):
            if tracer is None:
                return self.run(ctx, out_dir, manifest)

            def on_staged():
                staged["stats"] = inputs.dir_stats(out_dir + "__staging")

            traced_checkpoint_run(
                tracer, lambda: self.run(ctx, out_dir, manifest), span_name, on_staged
            )

        run("checkpoint.run")
        before = self._listing(out_dir, manifest)
        run("checkpoint.rerun")
        rerun_wrote = self._listing(out_dir, manifest) != before
        return Outcome(failed=0,
                       info={"base": base, "out": out_dir, "manifest": manifest,
                             "rerun_wrote": rerun_wrote,
                             "staged": staged.get("stats", (0, 0))})

    def _reference_digest(self, ctx: Ctx) -> int:
        """Digest of the plain extract_documents output of this corpus."""
        if "digest" not in ctx.reference:
            ctx.reference["digest"] = _xor(
                r["h"] for r in ExtractWorkload.digest_rows(self, ctx))
        if "lineage" not in ctx.reference:
            ctx.reference["lineage"] = ctx.read().agg(
                F.expr("bit_xor(xxhash64(doc_id))")).collect()[0][0]
        return ctx.reference["digest"]

    def check_iteration(self, ctx: Ctx, out: Outcome, first: Outcome) -> int:
        """Rerun wrote nothing, the manifest's lineage XOR equals the
        input's, and the output equals the plain extraction's digest."""
        import pyarrow.parquet as pq

        want = self._reference_digest(ctx)
        manifest = pq.read_table(out.info["manifest"]).to_pylist()
        row = ctx.spark.read.parquet(out.info["out"]).agg(
            F.count("*").alias("n"),
            F.sum(F.col("error").isNotNull().cast("int")).alias("errors"),
            F.expr(f"bit_xor({EXTRACT_HASH})").alias("digest"),
        ).collect()[0]
        ok = (
            not out.info["rerun_wrote"]
            and len(manifest) == CHECKPOINT_PARTS
            and sum(m["n_docs"] for m in manifest) == len(ctx.ids)
            and _xor(m["lineage_hash"] for m in manifest) == ctx.reference["lineage"]
            and row["digest"] == want
        )
        out.info["digest"] = row["digest"]
        if not ok:
            return len(ctx.ids)
        return max(0, len(ctx.ids) - row["n"]) + row["errors"]

    def verify(self, ctx: Ctx, outcomes: list) -> tuple[int, dict]:
        last = outcomes[-1].info
        full = F.struct("spans_out", "meta", "metrics")
        rows = ctx.spark.read.parquet(last["out"]).filter(
            F.col("doc_id").isin(ctx.sample)).select("doc_id", full.alias("full")).collect()
        bad = _sample_mismatches(ctx, {r["doc_id"]: r["full"] for r in rows})
        return len(bad), {"digest": last.get("digest"),
                          "pin_ok": ctx.seed != DEFAULT_SEED
                          or last.get("digest") == pinned_digest("extract_small")}

    def doc_rows(self, ctx: Ctx, outcomes: list):
        return ctx.spark.read.parquet(outcomes[-1].info["out"]).select(
            "doc_id", "part", "elapsed_ms", "error",
            F.col("metrics.candidate_count").alias("candidates"),
        ).collect()

    def cleanup(self, outcomes: list) -> None:
        for o in outcomes:
            shutil.rmtree(o.info["base"], ignore_errors=True)


# why each workload exists: README.md
WORKLOADS = {
    w.name: w
    for w in (
        ExtractWorkload("extract_small", "small", False),
        ExtractWorkload("extract_skewed", "skewed", True),
        CheckpointWorkload("checkpoint_resume", "small", False),
    )
}
