"""Production job entry — the ``spark-submit --py-files`` launch surface.

    spark-submit --py-files gr_spark.zip job.py \\
        --input <parquet dir | iceberg table> \\
        --output /path/out --manifest /path/manifest \\
        [--n-parts 64] [--char-threshold 500] [--mode batch|stream]

Runs the checkpointed extraction pipeline (plans/checkpoint.py): per-
partition manifest with lineage + metrics, resume by a driver-side skip
of the parts the manifest (collected once) marks done, and
dynamic-partition-overwrite idempotency. ``--mode stream`` instead tails
the input directory with Structured Streaming (streaming/extract_stream).

Input is the north-rule table shape (doc_id string, spans
array<struct<kind,text,media_ref,offset>>); ``--input`` values without a
path separator are treated as catalog table names (`spark.table`), which
is how an Iceberg table is addressed in a real deployment.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(prog="gr-spark-job", description=__doc__)
    parser.add_argument("--input", required=True)
    parser.add_argument("--output", required=True)
    parser.add_argument("--manifest", required=True)
    parser.add_argument("--n-parts", type=int, default=64)
    parser.add_argument("--num-partitions", type=int, default=None)
    parser.add_argument(
        "--concurrency",
        type=int,
        default=4,
        help="checkpoint partitions processed as concurrent Spark jobs",
    )
    parser.add_argument("--char-threshold", type=int, default=500)
    parser.add_argument("--page-type", default="", help="forced page type ('' = classify)")
    parser.add_argument("--mode", choices=("batch", "stream"), default="batch")
    args = parser.parse_args(argv)

    from go_readability_spark.operators.extract import metrics_rollup
    from go_readability_spark.plans.checkpoint import run_checkpointed
    from go_readability_spark.plans.session import get_spark, giant_doc_scan
    from go_readability_spark.readability.extract import ReadabilityOptions

    # Under spark-submit the launcher's master and resources stand; a
    # direct `python job.py` gets get_spark's local defaults.
    spark = get_spark("gr-spark-extract")
    options = ReadabilityOptions(
        char_threshold=args.char_threshold, forced_page_type=args.page_type
    )

    if args.mode == "stream":
        if "/" not in args.input and not os.path.exists(args.input):
            print(
                "error: --mode stream takes a parquet directory "
                "(file-stream source); catalog table names are batch-only",
                file=sys.stderr,
            )
            return 2
        from go_readability_spark.streaming import run_extract_stream

        # the start and the drain both run inside the scope
        with giant_doc_scan(spark):
            query = run_extract_stream(
                spark,
                args.input,
                args.output,
                args.manifest,  # doubles as the streaming checkpoint dir
                options=options,
                available_now=True,
            )
            query.awaitTermination()
        print("stream drained; checkpoint at", args.manifest)
        return 0

    if "/" in args.input or os.path.exists(args.input):
        documents = spark.read.parquet(args.input)
    else:
        documents = spark.table(args.input)  # Iceberg catalog path

    # every action here scans giant-document rows: the run, and the
    # rollup that re-reads its output
    with giant_doc_scan(spark):
        result = run_checkpointed(
            spark,
            documents,
            args.output,
            args.manifest,
            n_parts=args.n_parts,
            options=options,
            num_partitions=args.num_partitions,
            concurrency=args.concurrency,
        )
        rollup = metrics_rollup(result).collect()
    for row in rollup:
        print(dict(row.asDict()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
