"""Bench harness: extraction throughput + per-query timings.

Prints a detail JSON line (per-query timings, quality block, raw walls)
followed by a compact headline JSON as the FINAL line:
  {"metric": "...", "value": <extraction wall sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "docs_per_sec": ...}

The split exists because the driver captures only the tail of stdout:
round 4's single line grew past that window (per-query timings for 40
queries + the nested quality block) and the machine-readable headline
was lost (BENCH_r04.json parsed: null). The final line is kept compact
(2-decimal timings, no nested blocks) so it always fits; the full
detail rides the earlier line and a sidecar BENCH_DETAIL.json.

Env:
  SPARK_GRAFT_SF_DIR      input tables (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS        core count, capped at 16 (default: usable
                          CPUs, capped the same; plans.session.get_spark)
  SPARK_GRAFT_BENCH_DOCS  synthetic corpus size (default 6000)
  SPARK_GRAFT_BENCH_SKIP_QUERIES  "1" → only the extraction benchmark

The headline number is the synthetic-corpus extraction: N interleaved
span documents (every population, one giant per 200 docs for skew)
through the full pipeline — native doc_bytes pre-pass, salted size-aware
repartition, Arrow-batched extraction UDF, metrics rollup. Scaling
evidence across core counts is produced by tools/scaling_bench.py, which
calls main(cores=N) to run at exactly N threads, past the cap.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main(cores: int | None = None) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_bench = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "6000"))
    skip_queries = os.environ.get("SPARK_GRAFT_BENCH_SKIP_QUERIES") == "1"
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from go_readability_spark.operators.extract import (
        extract_documents,
        metrics_rollup,
    )
    from go_readability_spark.plans.session import get_spark, giant_doc_scan
    from go_readability_spark.queries import queries
    from go_readability_spark.sources.tables import corpus_df

    spark = get_spark(app_name=f"bench-sf{sf}", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism

    # Materialize the corpus once (parquet, like the production Iceberg
    # scan; cached under TMPDIR, so side-by-side checkouts can keep apart)
    # so the headline times scan → extract, not synthesis.
    # Fixed 64-way layout regardless of the session's core count: the
    # file count caps scan/shuffle-map parallelism, and scaling runs at
    # different core counts must read the identical table.
    from go_readability_spark.corpus import CORPUS_VERSION

    corpus_path = os.path.join(
        tempfile.gettempdir(), f"gr_bench_corpus_{n_bench}_v{CORPUS_VERSION}"
    )
    if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
        corpus_df(spark, n_bench, giant_every=200, num_partitions=64).write.mode(
            "overwrite"
        ).parquet(corpus_path)

    corpus = spark.read.parquet(corpus_path)

    # Warm-up run with the IDENTICAL stage shape: the first execution of a
    # python-UDF stage pays worker spawn + module import for every task
    # slot (measured: 2-3x the steady-state wall). A tiny warmup doesn't
    # cover it — empty partitions never launch workers. The steady-state
    # number is the one that projects to a long-running cluster job.
    # The bench corpus contains giant documents (1 per 200); pin the
    # small columnar read batch around these scans only (the measured
    # ladder and the planning-time caveat live on giant_doc_scan) so the
    # narrow-row registry queries below keep the fast 4096 default.
    with giant_doc_scan(spark):
        extract_documents(corpus, num_partitions=cpus * 2).count()

        # --- headline: extraction throughput over the interleaved corpus
        # Repeated, min taken: this sandbox shows bursty external CPU
        # interference (identical runs vary 4-20x); the minimum is the
        # standard robust estimator of true cost under noise.
        repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
        walls = []
        for _ in range(max(repeats, 1)):
            t0 = time.time()
            ext = extract_documents(corpus, num_partitions=cpus * 2)
            roll = metrics_rollup(ext).collect()
            walls.append(time.time() - t0)
    extract_sec = min(walls)
    n_docs = sum(r["n_docs"] for r in roll)
    n_errors = sum(r["n_errors"] for r in roll)
    total_bytes = sum(r["total_bytes"] for r in roll)

    timings: dict[str, float] = {}
    # quality numbers worth trending across rounds, captured from the
    # same runs the timing loop performs (collect instead of count for
    # these tiny result sets; values are deterministic, so any repeat's
    # rows are THE rows)
    quality_queries = {
        "ann_recall",
        "ann_recall_clustered",
        "embedding_pair_recall",
        "embedding_pair_recall_planted",
    }
    quality: dict[str, object] = {}
    if not skip_queries:
        # min of 2 runs per query: the sandbox's bursty external CPU
        # interference can inflate a single run several-fold (round 1
        # recorded one query at 15x its quiet-window cost); the minimum
        # is the standard robust estimator under asymmetric noise
        q_repeats = int(os.environ.get("SPARK_GRAFT_QUERY_REPEATS", "2"))
        from go_readability_spark.plans import persist_scope

        for name, fn in queries().items():
            best = None
            for _ in range(max(q_repeats, 1)):
                t = time.time()
                try:
                    # operators persist intermediates (shingles, LSH
                    # buckets, checkpoint blocks) their plans reference;
                    # the scope frees them — including localCheckpoint
                    # blocks clearCache never touches — so the loop's
                    # storage footprint stays bounded and repeats start
                    # cold
                    with persist_scope(spark):
                        if name in quality_queries:
                            rows = fn(spark, sf_dir).collect()
                            if name.startswith("ann_recall"):
                                quality[name] = {
                                    r["variant"]: {
                                        "recall_at_k": round(
                                            r["recall_at_k"], 4
                                        ),
                                        "candidate_frac": round(
                                            r["candidate_frac"], 4
                                        ),
                                    }
                                    for r in rows
                                }
                            else:
                                quality[name] = round(
                                    rows[0]["pair_recall"], 4
                                )
                        else:
                            fn(spark, sf_dir).count()
                    el = round(time.time() - t, 3)
                    best = el if best is None else min(best, el)
                except Exception as exc:  # noqa: BLE001
                    # keep an earlier successful minimum — only report
                    # failure when NO repeat produced a measurement
                    best = best if best is not None else -1.0
                    print(f"# query {name} failed: {exc}", file=sys.stderr)
                    break
            timings[name] = best

    detail = {
        "metric": "extraction_wall_sec",
        "value": round(extract_sec, 3),
        "unit": "sec",
        "queries": timings,
        "quality": quality,
        "sf": sf,
        # every figure in this JSON (headline + per-query) was measured
        # at cpus_used executor threads
        "cpus_used": cpus,
        "extraction": {
            "walls_sec": [round(w, 2) for w in walls],
            "n_docs": n_docs,
            "n_errors": n_errors,
            "total_mb": round(total_bytes / 1e6, 1),
            "docs_per_sec": round(n_docs / extract_sec, 1),
            "mb_per_sec": round(total_bytes / 1e6 / extract_sec, 2),
            "cpus": cpus,
        },
    }
    # Detail first (full fidelity, may be long), sidecar for safety,
    # compact headline LAST so the driver's stdout tail always parses.
    print(json.dumps(detail))
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_DETAIL.json"), "w"
        ) as fh:
            json.dump(detail, fh, indent=1)
    except OSError:
        pass
    headline = {
        "metric": "extraction_wall_sec",
        "value": round(extract_sec, 3),
        "unit": "sec",
        "sf": sf,
        "docs_per_sec": round(n_docs / extract_sec, 1),
        "mb_per_sec": round(total_bytes / 1e6 / extract_sec, 2),
        "n_errors": n_errors,
        "cpus_used": cpus,
        "quality_ref": "BENCH_DETAIL.json",
        "queries": {k: (round(v, 2) if v > 0 else v)
                    for k, v in timings.items()},
    }
    line = json.dumps(headline)
    if len(line) > 1900:  # never outgrow the driver's ~2000-char tail again
        headline.pop("queries")
        headline["queries_ref"] = "BENCH_DETAIL.json"
        line = json.dumps(headline)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
