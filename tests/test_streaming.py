"""Structured Streaming tests: streaming extraction with checkpointed
resume (exactly-once file processing) and the watermarked hourly rollup."""

from __future__ import annotations

import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import functions as F  # noqa: E402

from go_readability_spark.sources.tables import corpus_df  # noqa: E402
from go_readability_spark.streaming import (  # noqa: E402
    run_extract_stream,
    stream_events_hourly,
)


class TestExtractStream:
    def test_stream_extracts_and_resumes(self, spark, tmp_path):
        inp = str(tmp_path / "in")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")

        corpus_df(spark, 8).write.parquet(inp)
        q = run_extract_stream(spark, inp, out, ckpt)
        q.awaitTermination(120)
        result = spark.read.parquet(out)
        assert result.count() == 8
        assert result.filter("error is not null").count() == 0

        # restart with no new files: checkpoint prevents reprocessing
        q = run_extract_stream(spark, inp, out, ckpt)
        q.awaitTermination(120)
        assert spark.read.parquet(out).count() == 8

        # new files appended: only the delta is processed
        extra = corpus_df(spark, 12).filter(
            "doc_id like 'syn-meta%'"
        )
        n_extra = extra.count()
        extra.write.mode("append").parquet(inp)
        q = run_extract_stream(spark, inp, out, ckpt)
        q.awaitTermination(120)
        assert spark.read.parquet(out).count() == 8 + n_extra

    def test_stream_matches_batch(self, spark, tmp_path):
        from go_readability_spark.operators.extract import extract_documents

        inp = str(tmp_path / "in2")
        out = str(tmp_path / "out2")
        corpus_df(spark, 6).write.parquet(inp)
        q = run_extract_stream(spark, inp, out, str(tmp_path / "ck2"))
        q.awaitTermination(120)

        stream_rows = {
            r["doc_id"]: [tuple(s) for s in r["spans_out"]]
            for r in spark.read.parquet(out).collect()
        }
        batch_rows = {
            r["doc_id"]: [tuple(s) for s in r["spans_out"]]
            for r in extract_documents(
                spark.read.parquet(inp), num_partitions=2
            ).collect()
        }
        assert stream_rows == batch_rows


class TestEventsWindowed:
    def test_watermarked_hourly_rollup_matches_batch(self, spark, tmp_path):
        # file-stream sources take a directory
        events_dir = str(tmp_path / "events")
        spark.read.parquet("/root/testdata/sf0.001/events.parquet").write.parquet(
            events_dir
        )
        out = stream_events_hourly(spark, events_dir)
        q = (
            out.writeStream.format("memory")
            .queryName("hourly")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r["hour_ts"], r["event_type"]): (r["n_events"], r["value_sum"])
            for r in spark.sql("select * from hourly").collect()
        }
        from go_readability_spark.operators.relational import events_hourly

        batch = {
            (r["hour_ts"], r["event_type"]): (r["n_events"], float(r["value_sum"]))
            for r in events_hourly(spark.read.parquet(events_dir)).collect()
        }
        # append-mode emits only windows the watermark has closed; every
        # emitted window must match the batch rollup exactly
        assert got
        for key, val in got.items():
            assert batch[key] == val


class TestStatefulSessionize:
    def test_stream_sessionize_stateful(self, spark, tmp_path):
        """applyInPandasWithState sessionization: sessions emit only
        once the watermark makes them final — within a drain via the
        no-data batch, across drains via the event-time timeout."""
        import datetime as dt

        from go_readability_spark.streaming import stream_sessionize

        inp = str(tmp_path / "sess_in")
        out = str(tmp_path / "sess_out")
        ckpt = str(tmp_path / "sess_ckpt")
        base = dt.datetime(2026, 1, 1, 12, 0, 0)

        def ev(eid, minutes, user):
            return (
                eid,
                base + dt.timedelta(minutes=minutes),
                user,
                "click",
                1.0,
                "{}",
            )

        ddl = (
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        # user 1: two bursts separated by 90 min (> 30-min gap) -> the
        # first session closes IN-batch; user 2: one burst
        batch1 = [
            ev(1, 0, 1), ev(2, 5, 1), ev(3, 10, 1),
            ev(4, 100, 1), ev(5, 105, 1),
            ev(6, 0, 2), ev(7, 20, 2),
        ]
        spark.createDataFrame(batch1, ddl).coalesce(1).write.mode(
            "append"
        ).parquet(inp)

        def drain():
            q = (
                stream_sessionize(spark, inp, gap_minutes=30, watermark="10 minutes")
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        drain()
        rows = {
            (r["user_id"], r["session_start"].minute, r["n_events"])
            for r in spark.read.parquet(out).collect()
        }
        # availableNow runs a no-data batch after the backlog, with the
        # watermark at max_ts - 10min (minute 95): user 1's first burst
        # (close boundary 10'+30'=40') and user 2's session (50') are
        # final; user 1's second session (135') stays pending.
        assert rows == {(1, 0, 3), (2, 0, 2)}

        # a much later event advances the watermark past every open
        # session's timeout -> user 1's second session and user 2's
        # session close via hasTimedOut; the new event opens fresh state
        spark.createDataFrame([ev(8, 600, 3)], ddl).coalesce(1).write.mode(
            "append"
        ).parquet(inp)
        drain()
        rows = {
            (r["user_id"], r["session_start"].minute, r["n_events"])
            for r in spark.read.parquet(out).collect()
        }
        assert (1, 40, 2) in rows  # 100 min = 1h40 -> minute 40
        assert (2, 0, 2) in rows
        assert len(rows) == 3  # user 3's session still open (no output)

    def test_stream_sessionize_bridges_late_but_valid_event(self, spark, tmp_path):
        """A late-but-valid event (newer than the watermark) that lands
        BETWEEN two pending sessions must merge them into one — and no
        session may be emitted before the watermark makes it final."""
        import datetime as dt

        from go_readability_spark.streaming import stream_sessionize

        inp = str(tmp_path / "br_in")
        out = str(tmp_path / "br_out")
        ckpt = str(tmp_path / "br_ckpt")
        base = dt.datetime(2026, 1, 1, 12, 0, 0)
        ddl = (
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )

        def ev(eid, minutes):
            return (eid, base + dt.timedelta(minutes=minutes), 9, "c", 1.0, "{}")

        def drain():
            q = (
                stream_sessionize(spark, inp, gap_minutes=30, watermark="1 hour")
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        # two bursts 40' apart -> two PENDING sessions (gap 30')
        spark.createDataFrame([ev(1, 0), ev(2, 40)], ddl).coalesce(1).write.mode(
            "append"
        ).parquet(inp)
        drain()
        assert spark.read.parquet(out).count() == 0  # nothing final yet

        # minute 20 is older than both bursts but NEWER than the
        # watermark (40' - 60' delay) -> must bridge [0,0] and [40,40]
        spark.createDataFrame([ev(3, 20)], ddl).coalesce(1).write.mode(
            "append"
        ).parquet(inp)
        drain()
        assert spark.read.parquet(out).count() == 0

        # far-future event pushes the watermark past 40'+30' -> the ONE
        # merged session becomes final
        spark.createDataFrame([ev(4, 600)], ddl).coalesce(1).write.mode(
            "append"
        ).parquet(inp)
        drain()
        rows = [
            (r["session_start"].minute, r["session_end"].minute, r["n_events"])
            for r in spark.read.parquet(out).collect()
        ]
        assert rows == [(0, 40, 3)]

    def test_stream_sessionize_matches_batch_oracle(self, spark, tmp_path):
        """Value-level oracle for the stateful operator: drain the REAL
        sf0.01 events table through stream_sessionize (availableNow,
        with a far-future sentinel event forcing every real session
        final), aggregate the closed sessions per user, and compare
        against the batch ``sessionize`` operator on the same events —
        the same gate the registry's DuckDB oracle gives batch queries."""
        import datetime as dt

        from go_readability_spark.operators.relational import sessionize
        from go_readability_spark.streaming import stream_sessionize

        events = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
        inp = str(tmp_path / "or_in")
        out = str(tmp_path / "or_out")
        ckpt = str(tmp_path / "or_ckpt")
        events.coalesce(4).write.mode("append").parquet(inp)
        # sentinel: one event far past max(ts) so the no-data batch's
        # watermark (max_ts - delay) clears every real close boundary;
        # its own session stays pending -> never emitted
        max_ts = events.agg(F.max("ts")).first()[0]
        sentinel_user = -1
        spark.createDataFrame(
            [
                (
                    10**9,
                    max_ts + dt.timedelta(days=30),
                    sentinel_user,
                    "sentinel",
                    0.0,
                    "{}",
                )
            ],
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).coalesce(1).write.mode("append").parquet(inp)

        q = (
            stream_sessionize(spark, inp, gap_minutes=30, watermark="1 minute")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

        streamed = {
            (r["user_id"], r["n_sessions"], r["n_events"], r["max_session_events"])
            for r in spark.read.parquet(out)
            .groupBy("user_id")
            .agg(
                F.count("*").alias("n_sessions"),
                F.sum("n_events").alias("n_events"),
                F.max("n_events").alias("max_session_events"),
            )
            .collect()
        }
        batch = {
            (r["user_id"], r["n_sessions"], r["n_events"], r["max_session_events"])
            for r in sessionize(events).collect()
        }
        assert streamed == batch


class TestStreamDedupExact:
    def test_stream_dedup_bounded_state_and_batch_key_parity(
        self, spark, tmp_path
    ):
        """dropDuplicatesWithinWatermark dedup: (1) a duplicate inside
        the horizon is suppressed even when its text differs only by
        case/whitespace (the batch norm_fingerprint key), (2) state is
        BOUNDED — once the watermark passes a fingerprint's eviction
        time, a later re-occurrence is re-admitted (the documented
        horizon contract), (3) the emitted text_hash equals the batch
        dedup_exact key for the same content."""
        import datetime as dt

        from go_readability_spark.streaming import stream_dedup_exact

        inp = str(tmp_path / "dd_in")
        out = str(tmp_path / "dd_out")
        ckpt = str(tmp_path / "dd_ckpt")
        base = dt.datetime(2026, 1, 1, 12, 0, 0)
        ddl = (
            "doc_id string, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>, ingest_ts timestamp"
        )

        def doc(doc_id, text, minutes):
            return (
                doc_id,
                [("text", text, None, 0)],
                base + dt.timedelta(minutes=minutes),
            )

        def feed(rows):
            spark.createDataFrame(rows, ddl).coalesce(1).write.mode(
                "append"
            ).parquet(inp)

        def drain():
            q = (
                stream_dedup_exact(
                    spark.readStream.schema(ddl).parquet(inp),
                    watermark="1 hour",
                )
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        def seen():
            return {r["doc_id"] for r in spark.read.parquet(out).collect()}

        def bad(doc_id, minutes):
            # null offset -> NULL reassembly (the malformed-doc path)
            return (
                doc_id,
                [("text", "broken", None, None)],
                base + dt.timedelta(minutes=minutes),
            )

        # horizon dedup: B differs from A only by case/whitespace.
        # M1/M2 are DISTINCT malformed docs — they must BOTH pass
        # through (extraction owns their error rows); deduping them on
        # the shared NULL fingerprint would silently delete M2.
        feed([
            doc("A", "hello world", 0),
            doc("B", "  Hello   WORLD ", 10),
            doc("C", "something else", 0),
            bad("M1", 0),
            bad("M2", 5),
        ])
        drain()
        assert seen() == {"A", "C", "M1", "M2"}

        # advance the watermark past A's eviction time (10' + 1h)
        feed([doc("E", "fresh content", 240)])
        drain()
        assert seen() == {"A", "C", "E", "M1", "M2"}

        # beyond the horizon the same content is re-admitted: state is
        # bounded by the watermark, not by history
        feed([doc("D", "hello world", 300)])
        drain()
        assert seen() == {"A", "C", "E", "D", "M1", "M2"}

        # the streaming key IS the batch dedup key
        from go_readability_spark.functions.text import norm_fingerprint

        batch_hash = (
            spark.createDataFrame([("x", "hello world")], "id string, t string")
            .select(norm_fingerprint(F.col("t")).alias("h"))
            .collect()[0]["h"]
        )
        hashes = {
            r["doc_id"]: r["text_hash"]
            for r in spark.read.parquet(out).collect()
        }
        assert hashes["A"] == batch_hash == hashes["D"]


class TestStreamComposition:
    def test_stateless_quality_gates_compose_with_stream(self, spark, tmp_path):
        """The stateless text operators (Gopher gates, profile, lang-id)
        are micro-batch-safe by construction — pure row-wise codegen, no
        state, no watermark. Running them directly on the STREAMING
        extraction output must yield exactly the batch pipeline's rows:
        the composition a continuous-ingest cleaner runs."""
        from go_readability_spark.operators.extract import extract_documents
        from go_readability_spark.operators.textops import quality_filter
        from go_readability_spark.streaming import extract_stream

        inp = str(tmp_path / "qc_in")
        corpus_df(spark, 30).write.parquet(inp)

        def gated(ext):
            text_df = ext.filter(F.size("spans_out") > 0).select(
                "doc_id",
                F.expr(
                    "concat_ws(' ', transform(filter(spans_out,"
                    " s -> s.kind = 'text'), s -> s.text))"
                ).alias("text"),
            )
            return quality_filter(text_df)

        q = (
            gated(extract_stream(spark, inp))
            .writeStream.format("memory")
            .queryName("qgates")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {tuple(r) for r in spark.sql("select * from qgates").collect()}
        batch = {
            tuple(r)
            for r in gated(
                extract_documents(spark.read.parquet(inp), num_partitions=2)
            ).collect()
        }
        assert got and got == batch


class TestStreamBatchOracleExtraction:
    def test_streaming_extraction_equals_batch_at_corpus_scale(
        self, spark, tmp_path
    ):
        """Stream-vs-batch ORACLE for extraction (the pattern
        test_stream_sessionize_matches_batch_oracle established for
        sessionize): availableNow streaming extraction over the FULL
        200-doc synthetic corpus — every correctness population,
        including malformed edge docs that become error rows — must
        produce byte-identical doc-level output to the batch operator:
        same span-sequence hash, same error, per doc_id."""
        from go_readability_spark.operators.extract import extract_documents

        inp = str(tmp_path / "sb_in")
        out = str(tmp_path / "sb_out")
        corpus_df(spark, 200).write.parquet(inp)

        q = run_extract_stream(spark, inp, out, str(tmp_path / "sb_ckpt"))
        q.awaitTermination(300)

        def doc_level(df):
            return {
                r["doc_id"]: (r["h"], r["error"])
                for r in df.select(
                    "doc_id",
                    F.md5(F.to_json("spans_out")).alias("h"),
                    "error",
                ).collect()
            }

        got = doc_level(spark.read.parquet(out))
        want = doc_level(
            extract_documents(spark.read.parquet(inp), num_partitions=4)
        )
        assert len(got) == len(want) == 200
        assert got == want
        # the corpus includes at least one error-row population; both
        # paths must agree on WHICH docs errored, not just the count
        errs_got = {d for d, (_, e) in got.items() if e is not None}
        errs_want = {d for d, (_, e) in want.items() if e is not None}
        assert errs_got == errs_want


class TestStreamDedupExtractPipeline:
    def test_landing_dedup_extract_composes_and_matches_batch(
        self, spark, tmp_path
    ):
        """The full continuous-ingest composition in ONE availableNow
        pipeline: landing stream -> stream_dedup_exact ->
        extract_documents -> sink. The KEPT CONTENT SET must equal the
        batch dedup_exact keeper set over the same files (the
        documented contract: streaming picks first-arrival, batch picks
        min(doc_id) — representatives may differ, content may not), and
        malformed docs must flow THROUGH dedup into extraction error
        rows, never be silently deduplicated."""
        import datetime as dt

        from go_readability_spark.functions.text import norm_fingerprint
        from go_readability_spark.operators.dedup import dedup_exact
        from go_readability_spark.operators.extract import extract_documents
        from go_readability_spark.plans.skew import with_reassembled_html
        from go_readability_spark.streaming import stream_dedup_exact

        inp = str(tmp_path / "pl_in")
        out = str(tmp_path / "pl_out")
        base = dt.datetime(2026, 1, 1, 12, 0, 0)
        ddl = (
            "doc_id string, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>, ingest_ts timestamp"
        )

        def doc(doc_id, paras, minutes=0):
            spans = [
                ("text", f"<p>{p}</p>", None, i) for i, p in enumerate(paras)
            ]
            return (doc_id, spans, base + dt.timedelta(minutes=minutes))

        body = [
            "The quick brown fox jumps over the lazy dog again and again.",
            "A second paragraph with enough prose to score as content.",
            "Closing thoughts stretch the article past the char threshold.",
        ]
        other = ["Completely different article body, also long enough."] * 3
        rows = [
            doc("A", body, 0),
            doc("B", body, 5),                       # exact duplicate of A
            doc("C", [p.upper() for p in body], 9),  # case-variant of A
            doc("D", other, 3),
            # malformed: null offset -> NULL reassembly -> error row
            ("M1", [("text", "broken", None, None)], base),
            ("M2", [("text", "also broken", None, None)], base),
        ]
        spark.createDataFrame(rows, ddl).coalesce(1).write.parquet(inp)

        deduped = stream_dedup_exact(
            spark.readStream.schema(ddl).parquet(inp), watermark="1 hour"
        )
        extracted = extract_documents(deduped.select("doc_id", "spans"))
        q = (
            extracted.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "pl_ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.read.parquet(out).collect()

        # malformed docs both survived dedup and became error rows
        errs = {r["doc_id"] for r in got if r["error"] is not None}
        assert errs == {"M1", "M2"}

        # kept-content set == batch keeper content set
        batch = with_reassembled_html(spark.read.parquet(inp)).filter(
            F.col("html").isNotNull()
        )
        batch_keeper_hashes = {
            r["text_hash"]
            for r in dedup_exact(batch, text_col="html").collect()
        }
        src = {
            r["doc_id"]: r["h"]
            for r in batch.select(
                "doc_id", norm_fingerprint(F.col("html")).alias("h")
            ).collect()
        }
        stream_kept_hashes = {
            src[r["doc_id"]] for r in got if r["error"] is None
        }
        assert stream_kept_hashes == batch_keeper_hashes
        # exactly one representative per content group flowed through
        assert len([r for r in got if r["error"] is None]) == len(
            batch_keeper_hashes
        )
