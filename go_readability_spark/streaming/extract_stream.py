"""Streaming extraction over a landing zone of span documents.

``readStream`` (file source, same DOCUMENTS_SCHEMA parquet) →
the SAME mapInArrow extraction operator (mapInArrow is
streaming-compatible: per-micro-batch, stateless) → parquet sink with a
Structured Streaming checkpoint. The checkpoint gives exactly-once file
processing and idempotent restart — the streaming analog of the batch
manifest in plans/checkpoint.py.

``stream_events_hourly`` demonstrates the watermark + event-time window
path on the events table (late data older than the watermark is
dropped; accumulating state is bounded).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.extract import extract_documents
from ..plans.session import lazy_zip_invalidation
from ..schemas import DOCUMENTS_SCHEMA

__all__ = [
    "extract_stream",
    "run_extract_stream",
    "stream_dedup_exact",
    "stream_events_hourly",
    "stream_sessionize",
]


def stream_dedup_exact(
    docs_stream: DataFrame,
    watermark: str = "1 hour",
    ts_col: str = "ingest_ts",
    spans_col: str = "spans",
) -> DataFrame:
    """Streaming exact dedup of a landing stream of span documents.

    The content key is the SAME normalized fingerprint as the batch
    ``operators.dedup.dedup_exact`` (norm_fingerprint over the JVM span
    reassembly — no Python anywhere), so the streaming path admits one
    representative per distinct content within the horizon: the KEPT
    CONTENT SET matches the batch operator's; the chosen representative
    is first-arrival here versus min(doc_id) there (order-dependent by
    nature of streaming). ``dropDuplicatesWithinWatermark`` bounds the
    dedup state by the horizon: a fingerprint is evicted once the
    watermark passes its event time plus the delay, so state is O(docs
    per horizon), never O(history) — the contract a continuous-ingest
    pipeline needs at 10^12 docs. A re-occurrence AFTER the horizon is
    re-admitted by design (tested); the periodic batch dedup_exact pass
    over the landed table catches cross-horizon duplicates.

    MALFORMED documents (null/invalid spans → NULL reassembly) are
    NEVER deduplicated: each gets a per-doc unique key, so they all
    flow through to extraction, which owns emitting their error rows —
    deduping them on the shared NULL fingerprint would silently delete
    distinct broken documents from the stream.

    Output: the input rows minus within-horizon duplicates, plus the
    ``text_hash`` column (the batch-compatible dedup key; malformed
    docs carry their ``malformed:<doc_id>`` sentinel)."""
    from ..functions.text import norm_fingerprint
    from ..plans.skew import with_reassembled_html

    return (
        with_reassembled_html(docs_stream, spans_col)
        .withColumn(
            "text_hash",
            F.when(
                F.col("html").isNull(),
                # coalesce a null id with a DETERMINISTIC per-row hash
                # of (ts, raw spans): concat(null) would yield a NULL
                # key, and dropDuplicatesWithinWatermark treats NULL
                # keys as EQUAL — distinct malformed docs with null ids
                # would silently collapse to one. A uuid() would also
                # work per-row but is regenerated on stage retry /
                # micro-batch replay, splitting one row's identity
                # across shuffle partitions and state entries; the hash
                # is replay-stable. (Byte-identical malformed rows —
                # same null id, ts AND spans — share a key, which is
                # the only deterministic reading of "distinct".)
                F.concat(
                    F.lit("malformed:"),
                    F.coalesce(
                        F.col("doc_id").cast("string"),
                        F.concat(
                            F.lit("row"),
                            F.xxhash64(
                                F.col(ts_col), F.col(spans_col)
                            ).cast("string"),
                        ),
                    ),
                ),
            ).otherwise(norm_fingerprint(F.col("html"))),
        )
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["text_hash"])
        .drop("html")
    )


def extract_stream(
    spark: SparkSession, input_path: str, options=None
) -> DataFrame:
    """Streaming DataFrame of extraction results over a parquet dir.

    ``extract_documents`` skips the skew repartition for a streaming
    input (a micro-batch is already bounded), so each micro-batch is one
    scan and one mapInArrow; the per-doc size cap and error rows still
    apply inside the UDF."""
    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(input_path)
    return extract_documents(stream, options=options)


def run_extract_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    options=None,
    available_now: bool = True,
):
    """Start (or resume, via the checkpoint) the streaming extraction.

    ``available_now=True`` processes the current backlog and stops —
    the batch-refresh pattern; ``False`` runs continuously."""
    out = extract_stream(spark, input_path, options)
    writer = (
        out.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


_EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def stream_events_hourly(
    spark: SparkSession,
    events_path: str,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked event-time hourly rollup of the events stream.

    State for a window is dropped once the watermark passes its end, so
    long-running state is bounded; events later than the watermark are
    discarded (the documented late-data contract)."""
    events = spark.readStream.schema(_EVENTS_DDL).parquet(events_path)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("value_sum"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("hour_ts"),
            "event_type",
            "n_events",
            F.col("value_sum").cast("double").alias("value_sum"),
        )
    )


def stream_sessionize(
    spark: SparkSession,
    events_path: str,
    gap_minutes: int = 30,
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom STATEFUL streaming operator: per-user sessionization via
    ``applyInPandasWithState`` (the semantics of the batch
    ``operators.relational.sessionize``, maintained incrementally).

    State per user = ALL not-yet-final sessions as parallel arrays of
    (start, last, n_events) in epoch-microseconds. Each batch buffers
    the group's Arrow chunks, sorts ALL events globally by event time
    (chunks arrive in arbitrary order), treats each event as a
    single-point session, and interval-merges it with the state
    (sessions within ``gap_minutes`` of each other coalesce — this also
    handles a late-but-valid event BRIDGING two open sessions). A
    session is emitted only once it is FINAL: when the watermark has
    passed ``last + gap``, no event the watermark still admits can
    extend or bridge into it. Finality is checked against
    ``state.getCurrentWatermarkMs()`` on every invocation and via an
    EVENT-TIME timeout at the earliest pending close boundary, so
    sessions also close on watermark-only (no-data) progress. State is
    bounded: pending sessions are bounded by the watermark delay, and
    late events older than the watermark are dropped upstream.

    Output rows: (user_id, session_start, session_end, n_events), one
    per closed session (append mode — a session IS final when emitted).
    """
    import pandas as pd  # local: executors import lazily

    gap_us = gap_minutes * 60 * 1_000_000

    def fold(key, pdf_iter, state):
        lazy_zip_invalidation()
        user_id = key[0]

        sessions: list[list[int]] = []
        if state.exists:
            starts, lasts, ns = state.get
            sessions = [list(t) for t in zip(starts, lasts, ns)]

        # fold this batch's events (globally sorted) into the session set
        ts_all = []
        for pdf in pdf_iter:
            # datetime64[ns] -> epoch microseconds
            ts_all.extend(int(t) // 1000 for t in pdf["ts"].astype("int64"))
        if ts_all:
            merged = []
            for s, l, n in sorted(
                sessions + [[t, t, 1] for t in ts_all]
            ):
                if merged and s - merged[-1][1] <= gap_us:
                    merged[-1][1] = max(merged[-1][1], l)
                    merged[-1][2] += n
                else:
                    merged.append([s, l, n])
            sessions = merged

        # emit every session the watermark has made FINAL
        wm_us = state.getCurrentWatermarkMs() * 1000
        final = [t for t in sessions if t[1] + gap_us < wm_us]
        pending = [t for t in sessions if t[1] + gap_us >= wm_us]

        if pending:
            state.update(
                (
                    [t[0] for t in pending],
                    [t[1] for t in pending],
                    [t[2] for t in pending],
                )
            )
            # event-time timeout at the earliest pending close boundary
            # (ms API); fires on watermark progress even with no data
            state.setTimeoutTimestamp(
                min((t[1] + gap_us) // 1000 for t in pending) + 1
            )
        else:
            state.remove()

        if final:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(final),
                    "session_start": [
                        pd.Timestamp(t[0], unit="us") for t in final
                    ],
                    "session_end": [
                        pd.Timestamp(t[1], unit="us") for t in final
                    ],
                    "n_events": [t[2] for t in final],
                }
            )

    events = (
        spark.readStream.schema(_EVENTS_DDL)
        .parquet(events_path)
        .withWatermark("ts", watermark)
    )
    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=(
            "user_id long, session_start timestamp, "
            "session_end timestamp, n_events long"
        ),
        stateStructType=(
            "starts array<long>, lasts array<long>, ns array<long>"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
