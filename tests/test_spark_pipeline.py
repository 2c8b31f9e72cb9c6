"""Spark-level tests: mapInArrow extraction ≡ pure function per doc,
skew pre-pass correctness, checkpoint/resume idempotency.

SURVEY.md §5: "one Spark-level test that the Arrow-batched UDF over the
fixture table equals the pure function per doc" — plus plan-shape
assertions that the scale-critical properties hold (native pre-pass,
broadcast anti-join).
"""

from __future__ import annotations

import importlib
import os
import re
import sys
import zipimport

import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import functions as F  # noqa: E402

from go_readability_spark.corpus import generate_doc  # noqa: E402
from go_readability_spark.operators.extract import (  # noqa: E402
    extract_batch_rows,
    extract_documents,
    metrics_rollup,
)
from go_readability_spark.plans.checkpoint import (  # noqa: E402
    read_manifest,
    run_checkpointed,
    with_part,
)
from go_readability_spark.plans.session import (  # noqa: E402
    get_spark,
    giant_doc_scan,
    lazy_zip_invalidation,
)
from go_readability_spark.plans.skew import (  # noqa: E402
    MAX_DOC_BYTES,
    skew_partitioned,
    with_doc_bytes,
    with_size_bucket,
)
from go_readability_spark.sources.tables import (  # noqa: E402
    corpus_df,
    documents_as_spans_df,
)

N_DOCS = 24


@pytest.fixture(scope="module")
def extracted(spark):
    df = corpus_df(spark, N_DOCS)
    out = extract_documents(df, num_partitions=4).cache()
    out.count()
    return out


@pytest.fixture
def restore_zipimport(monkeypatch):
    """Undo lazy_zip_invalidation's class patch when the test ends: only
    Python workers are meant to carry it, never this process."""
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )


def _golden(doc_id: str):
    [row] = extract_batch_rows([doc_id], [generate_doc(doc_id)], [0])
    return row["spans_out"]


class TestExtractionParity:
    def test_row_count_and_no_errors(self, extracted):
        assert extracted.count() == N_DOCS
        assert extracted.filter("error is not null").count() == 0

    def test_spans_equal_pure_function_for_every_doc(self, extracted):
        rows = extracted.select("doc_id", "spans_out").collect()
        assert len(rows) == N_DOCS
        for row in rows:
            got = [r.asDict() for r in row["spans_out"]]
            assert got == _golden(row["doc_id"]), row["doc_id"]

    def test_meta_matches(self, extracted):
        row = extracted.filter("doc_id = 'fixture-001'").collect()[0]
        assert row["meta"]["title"] == (
            "Get your Frontend JavaScript Code Covered | Code"
        )
        assert row["meta"]["page_type"] == "article"

    def test_doc_bytes_native_prepass_matches_python(self, spark, extracted):
        rows = extracted.select("doc_id", "doc_bytes").collect()
        for row in rows:
            expected = sum(
                len((s["text"] or "").encode("utf-8"))
                + len((s["media_ref"] or "").encode("utf-8"))
                for s in generate_doc(row["doc_id"])
            )
            assert row["doc_bytes"] == expected, row["doc_id"]

    def test_metrics_rollup(self, extracted):
        roll = {r["page_type"]: r for r in metrics_rollup(extracted).collect()}
        assert sum(r["n_docs"] for r in roll.values()) == N_DOCS
        assert roll["article"]["n_probably_content"] > 0


class TestErrorRows:
    def test_oversized_doc_becomes_error_row(self, spark):
        # a supplied doc_bytes column is kept by the pre-pass: every doc
        # is pushed over the cap without building a 64 MiB document
        df = with_doc_bytes(corpus_df(spark, 4)).withColumn(
            "doc_bytes", F.col("doc_bytes") + MAX_DOC_BYTES
        )
        out = extract_documents(df, num_partitions=2)
        rows = out.collect()
        assert all(
            r["error"] is not None for r in rows if r["doc_bytes"] > MAX_DOC_BYTES
        )
        assert all(r["meta"]["page_type"] == "error" for r in rows)

    def test_null_and_broken_spans(self):
        rows = extract_batch_rows(
            ["a", "b"],
            [None, [{"kind": "text", "text": "<p>ok " * 50 + "</p>", "media_ref": "", "offset": 0}]],
            [0, 10],
        )
        assert rows[0]["error"] == "null spans"
        assert rows[1]["error"] is None

    def test_arrow_path_null_struct_with_nonnull_children(
        self, restore_zipimport
    ):
        """A null span STRUCT whose child slots hold non-null garbage
        (possible in Arrow batches from non-Spark writers) must become a
        'null spans' error row — struct-level validity is separate from
        child validity, and the Arrow adapter's decode must honour it."""
        import pyarrow as pa

        from go_readability_spark.operators.extract import _arrow_batches
        from go_readability_spark.schemas import EXTRACTED_SCHEMA
        from pyspark.sql.pandas.types import to_arrow_schema

        span_t = pa.struct(
            [
                ("kind", pa.string()),
                ("text", pa.string()),
                ("media_ref", pa.string()),
                ("offset", pa.int32()),
            ]
        )
        # children all non-null; struct validity masks entry 1 as null
        structs = pa.StructArray.from_arrays(
            [
                pa.array(["text", "text"]),
                pa.array(["<p>one</p>", "<p>garbage</p>"]),
                pa.array(["", ""]),
                pa.array([0, 1], type=pa.int32()),
            ],
            fields=list(span_t),
            mask=pa.array([False, True]),
        )
        spans = pa.ListArray.from_arrays(pa.array([0, 2], type=pa.int32()), structs)
        assert structs.field("offset")[1].as_py() is not None  # the trap
        batch = pa.RecordBatch.from_arrays(
            [pa.array(["doc-x"]), spans, pa.array([10], type=pa.int64())],
            names=["doc_id", "spans", "doc_bytes"],
        )
        fn = _arrow_batches(None, False)
        out = list(fn(iter([batch])))[0]
        assert out.schema == to_arrow_schema(EXTRACTED_SCHEMA)
        assert out.column("error").to_pylist() == ["null spans"]
        assert out.column("doc_id").to_pylist() == ["doc-x"]

    def test_columnar_span_decode_matches_to_pylist(self):
        """The adapter's per-field decode gives exactly ``to_pylist()``:
        on a sliced column, a null list whose offsets still span values,
        and a null struct entry with non-null children."""
        import pyarrow as pa

        from go_readability_spark.operators.extract import _decode_spans
        from go_readability_spark.schemas import SPAN_IN_TYPE
        from pyspark.sql.pandas.types import to_arrow_type

        span_t = to_arrow_type(SPAN_IN_TYPE)
        n = 7
        structs = pa.StructArray.from_arrays(
            [
                pa.array(["text", "media", None, "text", "text", "media", "text"]),
                pa.array([f"<p>{k}</p>" for k in range(n)]),
                pa.array(["", "media://x", "", None, "", "", ""]),
                pa.array(range(n), type=pa.int32()),
            ],
            fields=list(span_t),
            mask=pa.array([False, False, False, True, True, False, False]),
        )
        spans = pa.ListArray.from_arrays(
            pa.array([0, 2, 4, 4, 6, 7], type=pa.int32()),
            structs,
            mask=pa.array([False, True, False, False, False]),
        )
        assert spans.to_pylist()[1] is None and spans.offsets[1] != spans.offsets[2]
        for col in (spans, spans.slice(1), spans.slice(2, 2), spans.slice(5)):
            assert _decode_spans(col) == col.to_pylist()
        assert _decode_spans(spans)[2] == []
        assert _decode_spans(spans)[3][0] is None


class TestSkewPlan:
    def test_size_buckets(self, spark):
        df = with_size_bucket(corpus_df(spark, 8))
        got = {r["size_bucket"] for r in df.select("size_bucket").collect()}
        assert got <= {0, 1, 2}

    def test_doc_bytes_is_native_expression(self, spark):
        """The pre-pass must not invoke Python (input_hint: no per-row
        Python; SURVEY.md §4.2)."""
        df = with_doc_bytes(corpus_df(spark, 4).select("doc_id", "spans"))
        plan = df.select("doc_id", "doc_bytes")._jdf.queryExecution().analyzed().toString()
        assert "aggregate(" in plan and "pythonUDF" not in plan.lower()

    def test_skew_partitioning_spreads_rows(self, spark):
        df = skew_partitioned(corpus_df(spark, 16), num_partitions=4)
        sizes = (
            df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .count()
            .collect()
        )
        assert sum(r["count"] for r in sizes) == 16
        assert len(sizes) > 1  # actually spread


class TestCheckpointResume:
    def test_run_and_resume(self, spark, tmp_path):
        out_dir = str(tmp_path / "out")
        man_dir = str(tmp_path / "manifest")
        docs = corpus_df(spark, 12)

        result = run_checkpointed(
            spark, docs, out_dir, man_dir, n_parts=3, num_partitions=2
        )
        assert result.count() == 12
        manifest = read_manifest(spark, man_dir)
        done = manifest.filter("status = 'done'").collect()
        assert {r["part"] for r in done} == set(
            r["part"]
            for r in with_part(docs, 3).select("part").distinct().collect()
        )
        assert sum(r["n_docs"] for r in done) == 12

        # resume: everything done → no pending partitions, output unchanged
        assert {r["part"] for r in done} == set(range(3))
        result2 = run_checkpointed(
            spark, docs, out_dir, man_dir, n_parts=3, num_partitions=2
        )
        assert result2.count() == 12

    def test_concurrent_parts_overlap_and_match_sequential(
        self, spark, tmp_path, monkeypatch
    ):
        """concurrency=4: same output + complete manifest as sequential,
        with partitions actually processed from multiple driver threads
        (concurrent Spark jobs), and a rerun resuming to zero pending."""
        import threading

        from go_readability_spark.plans import checkpoint as cp

        out_dir = str(tmp_path / "out_c")
        man_dir = str(tmp_path / "man_c")
        docs = corpus_df(spark, 16)

        threads_seen: set[int] = set()
        orig_mark = cp.mark_partition_done

        def spy_mark(*args, **kwargs):
            threads_seen.add(threading.get_ident())
            return orig_mark(*args, **kwargs)

        monkeypatch.setattr(cp, "mark_partition_done", spy_mark)
        result = cp.run_checkpointed(
            spark, docs, out_dir, man_dir, n_parts=8, num_partitions=2,
            concurrency=4,
        )
        assert result.count() == 16
        manifest = read_manifest(spark, man_dir)
        done = manifest.filter("status = 'done'").collect()
        assert sum(r["n_docs"] for r in done) == 16
        assert len(threads_seen) > 1  # jobs overlapped across pool threads
        # rerun: all parts in manifest -> nothing pending, output stable
        assert {r["part"] for r in done} == set(range(8))
        result2 = cp.run_checkpointed(
            spark, docs, out_dir, man_dir, n_parts=8, num_partitions=2,
            concurrency=4,
        )
        assert result2.count() == 16

    def test_no_part_output_is_read_back(self, spark, tmp_path, monkeypatch):
        """The manifest stats are observed on each part's write: no
        ``part=N`` output directory is read before the run returns."""
        from pyspark.sql.readwriter import DataFrameReader

        out_dir = str(tmp_path / "out")
        read: list[str] = []
        orig_parquet = DataFrameReader.parquet

        def spy_parquet(self, *paths, **kwargs):
            read.extend(str(p) for p in paths)
            return orig_parquet(self, *paths, **kwargs)

        monkeypatch.setattr(DataFrameReader, "parquet", spy_parquet)
        run_checkpointed(
            spark, corpus_df(spark, 8), out_dir, str(tmp_path / "man"),
            n_parts=3, num_partitions=2,
        )
        part_prefix = os.path.join(out_dir, "part=")
        assert read, "spy saw no parquet reads"
        assert [p for p in read if p.startswith(part_prefix)] == []

    @pytest.mark.parametrize("concurrency", [1, 4])
    def test_manifest_equals_disk(self, spark, tmp_path, concurrency):
        """Observed manifest stats equal the same aggregates recomputed
        from each written part (empty parts included), and the manifest's
        lineage XOR equals the input's."""
        out_dir = str(tmp_path / "out")
        man_dir = str(tmp_path / "man")
        docs = corpus_df(spark, 6, num_partitions=2)
        run_checkpointed(
            spark, docs, out_dir, man_dir, n_parts=8, num_partitions=2,
            concurrency=concurrency,
        )
        manifest = read_manifest(spark, man_dir).collect()
        assert sorted(r["part"] for r in manifest) == list(range(8))
        empty = 0
        lineage = 0
        for m in manifest:
            part_dir = os.path.join(out_dir, f"part={m['part']}")
            has_rows_file = os.path.isdir(part_dir) and any(
                f.endswith(".parquet") for f in os.listdir(part_dir)
            )
            disk = {"n_docs": 0, "n_errors": 0, "total_bytes": 0,
                    "avg_prune_ratio": 0.0, "lineage_hash": 0}
            if has_rows_file:
                row = spark.read.parquet(part_dir).agg(
                    F.count(F.lit(1)).alias("n_docs"),
                    F.sum(F.col("error").isNotNull().cast("long")).alias("n_errors"),
                    F.sum("doc_bytes").alias("total_bytes"),
                    F.avg("metrics.prune_ratio").alias("avg_prune_ratio"),
                    F.expr("bit_xor(xxhash64(doc_id))").alias("lineage_hash"),
                ).collect()[0]
                disk.update({k: v for k, v in row.asDict().items() if v is not None})
            empty += disk["n_docs"] == 0
            for k in ("n_docs", "n_errors", "total_bytes", "lineage_hash"):
                assert m[k] == disk[k], (m["part"], k)
            assert abs(m["avg_prune_ratio"] - disk["avg_prune_ratio"]) <= 1e-12
            lineage ^= m["lineage_hash"]
        assert empty >= 2  # 6 docs over 8 parts
        assert sum(m["n_docs"] for m in manifest) == 6
        want = docs.agg(F.expr("bit_xor(xxhash64(doc_id))")).collect()[0][0]
        assert lineage == want

    def test_failed_part_does_not_block_the_others(
        self, spark, tmp_path, monkeypatch
    ):
        """concurrency=1 follows the pool's rule: the failing part is
        reported as RuntimeError(part=N) after every other part finished,
        staging is kept, and a rerun processes only the failed part."""
        import threading

        from go_readability_spark.operators import extract as extract_mod
        from go_readability_spark.plans import checkpoint as cp

        out_dir = str(tmp_path / "out")
        man_dir = str(tmp_path / "man")
        docs = corpus_df(spark, 8, num_partitions=2)
        orig_extract = extract_mod.extract_documents
        calls = []
        lock = threading.Lock()

        def failing_second_call(*args, **kwargs):
            with lock:
                calls.append(1)
                n = len(calls)
            if n == 2:
                raise ValueError("injected part failure")
            return orig_extract(*args, **kwargs)

        monkeypatch.setattr(extract_mod, "extract_documents", failing_second_call)
        # parts run in ascending order at concurrency=1: the second is part 1
        with pytest.raises(RuntimeError, match=r"first: part=1$") as info:
            cp.run_checkpointed(
                spark, docs, out_dir, man_dir, n_parts=4, num_partitions=2,
                concurrency=1,
            )
        assert isinstance(info.value.__cause__, ValueError)
        assert len(calls) == 4
        done = read_manifest(spark, man_dir).filter("status = 'done'").collect()
        assert sorted(r["part"] for r in done) == [0, 2, 3]
        assert os.path.exists(os.path.join(out_dir + "__staging", "n4", "_SUCCESS"))

        marked: list[int] = []
        orig_mark = cp.mark_partition_done

        def spy_mark(spark_, manifest_dir, part, *args, **kwargs):
            marked.append(part)
            return orig_mark(spark_, manifest_dir, part, *args, **kwargs)

        monkeypatch.setattr(extract_mod, "extract_documents", orig_extract)
        monkeypatch.setattr(cp, "mark_partition_done", spy_mark)
        result = cp.run_checkpointed(
            spark, docs, out_dir, man_dir, n_parts=4, num_partitions=2,
            concurrency=1,
        )
        assert marked == [1]
        assert result.count() == 8
        assert not os.path.exists(out_dir + "__staging")

    def test_resume_with_other_n_parts_raises_and_writes_nothing(
        self, spark, tmp_path
    ):
        out_dir = str(tmp_path / "out")
        man_dir = str(tmp_path / "man")
        docs = corpus_df(spark, 6, num_partitions=2)
        run_checkpointed(spark, docs, out_dir, man_dir, n_parts=2, num_partitions=2)

        def listing():
            return sorted(
                (os.path.join(root, n), os.stat(os.path.join(root, n)).st_mtime_ns)
                for root, _, names in os.walk(tmp_path)
                for n in names
            )

        before = listing()
        with pytest.raises(ValueError, match=r"n_parts=\[2\]"):
            run_checkpointed(
                spark, docs, out_dir, man_dir, n_parts=3, num_partitions=2
            )
        assert listing() == before

    @pytest.mark.parametrize("concurrency", [1, 4])
    def test_part_jobs_run_in_the_callers_job_group(
        self, spark, tmp_path, concurrency
    ):
        """A job group set on the calling thread covers every job of the
        run, those of the pool threads included, and the output is the
        pure per-document rows."""
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        docs = corpus_df(spark, 12, num_partitions=2)
        group = f"checkpointed-{concurrency}"
        ungrouped = set(tracker.getJobIdsForGroup())
        sc.setJobGroup(group, "checkpointed run")
        try:
            result = run_checkpointed(
                spark, docs, str(tmp_path / "out"), str(tmp_path / "man"),
                n_parts=4, num_partitions=2, concurrency=concurrency,
            )
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        assert set(tracker.getJobIdsForGroup()) - ungrouped == set()
        # 1 manifest collect + 2 for the staging write + 2 per part for
        # its output write (AQE runs each shuffle's map stage as a job of
        # its own); the manifest records are written on the driver and
        # start no job
        assert len(tracker.getJobIdsForGroup(group)) == 11

        got = [r.asDict(recursive=True) for r in result.collect()]
        assert sorted(r["doc_id"] for r in got) == sorted(
            r["doc_id"] for r in docs.select("doc_id").collect()
        )
        for row in got:
            del row["part"], row["elapsed_ms"]
            [want] = extract_batch_rows(
                [row["doc_id"]], [generate_doc(row["doc_id"])],
                [row["doc_bytes"]],
            )
            del want["elapsed_ms"]
            assert row == want, row["doc_id"]

    def test_input_with_own_part_column(self, spark, tmp_path, monkeypatch):
        """An input that brings its own ``part`` column (the Iceberg-
        partitioned shape) is not staged; its distinct parts, not
        0..n_parts-1, are the manifest's, and a rerun marks nothing."""
        from go_readability_spark.plans import checkpoint as cp

        out_dir = str(tmp_path / "out")
        man_dir = str(tmp_path / "man")
        docs = corpus_df(spark, 12, num_partitions=2).withColumn(
            "part", F.pmod(F.xxhash64("doc_id"), F.lit(3)) * 10 + 5
        )
        parts = {r["part"] for r in docs.select("part").distinct().collect()}
        assert parts <= {5, 15, 25} and len(parts) > 1

        result = cp.run_checkpointed(
            spark, docs, out_dir, man_dir, num_partitions=2
        )
        assert not os.path.exists(out_dir + "__staging")
        manifest = read_manifest(spark, man_dir).collect()
        assert sorted(r["part"] for r in manifest) == sorted(parts)
        assert sum(r["n_docs"] for r in manifest) == 12
        assert result.count() == 12

        marked: list[int] = []
        monkeypatch.setattr(
            cp, "mark_partition_done", lambda *a, **k: marked.append(a[2])
        )
        assert cp.run_checkpointed(
            spark, docs, out_dir, man_dir, num_partitions=2
        ).count() == 12
        assert marked == []
        assert not os.path.exists(out_dir + "__staging")


class TestManifestRecords:
    """Each finished part's manifest record is one parquet file written on
    the driver, readable by Spark (``read_manifest``) and by pyarrow alone
    (``pq.read_table``, the benchmark's reader)."""

    STATS = {"n_docs": 3, "n_errors": 1, "total_bytes": 30,
             "avg_prune_ratio": 0.25, "lineage_hash": -7}

    def test_mark_starts_no_spark_job(self, spark, tmp_path):
        from go_readability_spark.plans.checkpoint import mark_partition_done

        sc = spark.sparkContext
        tracker = sc.statusTracker()
        sc.setJobGroup("mark-only", "one manifest record")
        try:
            mark_partition_done(spark, str(tmp_path / "man"), 0, self.STATS, 1)
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        assert tracker.getJobIdsForGroup("mark-only") == []
        assert read_manifest(spark, str(tmp_path / "man")).count() == 1

    def test_marking_a_part_again_replaces_its_record(self, spark, tmp_path):
        import pyarrow.parquet as pq

        from go_readability_spark.plans.checkpoint import mark_partition_done

        man_dir = str(tmp_path / "man")
        mark_partition_done(spark, man_dir, 3, self.STATS, 4)
        mark_partition_done(spark, man_dir, 3, {**self.STATS, "n_docs": 5}, 4)
        rows = pq.read_table(man_dir).to_pylist()
        assert [(r["part"], r["n_docs"]) for r in rows] == [(3, 5)]
        assert [(r["part"], r["n_docs"]) for r in
                read_manifest(spark, man_dir).collect()] == [(3, 5)]
        assert os.listdir(man_dir) == ["part=3.parquet"]

    def test_leftover_temp_file_is_not_read(self, spark, tmp_path):
        import pyarrow.parquet as pq

        from go_readability_spark.plans.checkpoint import mark_partition_done

        man_dir = tmp_path / "man"
        man_dir.mkdir()
        # what a kill between the temp write and the rename leaves behind
        (man_dir / ".part=1.parquet.12345.tmp").write_bytes(b"PAR1 torn")
        assert read_manifest(spark, str(man_dir)).count() == 0
        mark_partition_done(spark, str(man_dir), 0, self.STATS, 2)
        assert [r["part"] for r in read_manifest(spark, str(man_dir)).collect()] == [0]
        assert pq.read_table(str(man_dir)).column("part").to_pylist() == [0]

    def test_next_run_sweeps_a_leftover_temp_file(self, spark, tmp_path):
        """A run killed while marking part 1 left its temp file; the next
        run removes it, and the records it publishes stay."""
        from go_readability_spark.plans.checkpoint import mark_partition_done

        man_dir = tmp_path / "man"
        mark_partition_done(spark, str(man_dir), 0, self.STATS, 2)
        (man_dir / ".part=1.parquet.12345.tmp").write_bytes(b"PAR1 torn")
        run_checkpointed(
            spark, corpus_df(spark, 4, num_partitions=2), str(tmp_path / "out"),
            str(man_dir), n_parts=2, num_partitions=2,
        )
        assert sorted(os.listdir(man_dir)) == ["part=0.parquet", "part=1.parquet"]

    def test_pyarrow_reads_one_row_per_part(self, spark, tmp_path):
        import pyarrow.parquet as pq

        from go_readability_spark.plans.checkpoint import MANIFEST_SCHEMA

        man_dir = str(tmp_path / "man")
        run_checkpointed(
            spark, corpus_df(spark, 8, num_partitions=2), str(tmp_path / "out"),
            man_dir, n_parts=3, num_partitions=2, concurrency=3,
        )
        table = pq.read_table(man_dir)
        assert table.column_names == MANIFEST_SCHEMA.names
        assert sorted(table.column("part").to_pylist()) == [0, 1, 2]
        assert sum(table.column("n_docs").to_pylist()) == 8

    def test_append_written_manifest_stays_readable(
        self, spark, tmp_path, monkeypatch
    ):
        """A manifest directory holding a Spark-appended record (the
        earlier format) plus driver-written ones reads as one manifest,
        and a run skips every part it lists."""
        import time

        import pyarrow.parquet as pq

        from go_readability_spark.plans import checkpoint as cp

        man_dir = str(tmp_path / "man")
        old = {"part": 0, "n_parts": 3, "status": "done", **self.STATS,
               "finished_at": time.time()}
        spark.createDataFrame([old], cp.MANIFEST_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(man_dir)
        cp.mark_partition_done(spark, man_dir, 1, self.STATS, n_parts=3)
        assert sorted(r["part"] for r in read_manifest(spark, man_dir).collect()) == [0, 1]
        assert sorted(pq.read_table(man_dir).column("part").to_pylist()) == [0, 1]

        marked: list[int] = []
        orig_mark = cp.mark_partition_done

        def spy_mark(spark_, manifest_dir, part, *args, **kwargs):
            marked.append(part)
            return orig_mark(spark_, manifest_dir, part, *args, **kwargs)

        monkeypatch.setattr(cp, "mark_partition_done", spy_mark)
        cp.run_checkpointed(
            spark, corpus_df(spark, 6, num_partitions=2), str(tmp_path / "out"),
            man_dir, n_parts=3, num_partitions=2,
        )
        assert marked == [2]
        assert sorted(r["part"] for r in read_manifest(spark, man_dir).collect()) == [0, 1, 2]
        assert sorted(pq.read_table(man_dir).column("part").to_pylist()) == [0, 1, 2]


class TestDriverDocsSource:
    def test_documents_as_spans_native_and_extractable(self, spark):
        df = documents_as_spans_df(spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "pythonUDF" not in plan.lower()
        out = extract_documents(df.limit(20), num_partitions=2)
        rows = out.collect()
        assert len(rows) == 20
        assert all(r["error"] is None for r in rows)
        assert all(r["meta"]["title"].startswith("Doc ") for r in rows)


if __name__ == "__main__":
    pytest.main([__file__, "-q"])


class TestNativeReassembly:
    """JVM-side span reassembly (plans.skew.with_reassembled_html, used
    by the streaming dedup): value-identical to the Python codec."""

    def test_native_equals_codec(self, spark):
        import hashlib

        from pyspark.sql import functions as F

        from go_readability_spark.plans.skew import with_reassembled_html

        docs = corpus_df(spark, 12)
        rows = with_reassembled_html(docs).select(
            "doc_id", F.md5("html").alias("h")
        ).collect()
        from go_readability_spark.spans import spans_to_html

        for r in rows:
            expected = spans_to_html(generate_doc(r["doc_id"]))
            assert (
                hashlib.md5(expected.encode()).hexdigest() == r["h"]
            ), r["doc_id"]


class TestMalformedSpans:
    """Malformed inputs become error rows, one per input row: the doc_bytes
    pre-pass and the salted repartition must not drop rows whose spans
    are NULL (regression: null spans arrays vanished)."""

    CASES = [
        ("ok", [{"kind": "text", "text": "<p>" + "hello world, " * 60 + "</p>",
                 "media_ref": "", "offset": 0}]),
        ("null-span-entry", [None, {"kind": "text", "text": "<p>hi</p>",
                                    "media_ref": "", "offset": 1}]),
        ("null-offset", [{"kind": "text", "text": "X", "media_ref": "",
                          "offset": None}]),
        ("null-array", None),
    ]

    def test_malformed_spans_become_error_rows(self, spark):
        from go_readability_spark.schemas import DOCUMENTS_SCHEMA

        df = spark.createDataFrame(self.CASES, DOCUMENTS_SCHEMA)
        rows = extract_documents(df, num_partitions=2).collect()
        assert len(rows) == len(self.CASES), "rows dropped"
        out = {r["doc_id"]: r for r in rows}
        assert out["ok"]["error"] is None
        for bad in ("null-span-entry", "null-offset", "null-array"):
            assert out[bad]["error"] == "null spans"
            assert out[bad]["meta"]["page_type"] == "error"
            assert out[bad]["spans_out"] == []

    def test_cap_message_wins_over_null_spans(self, spark):
        """The size cap is checked before the spans are looked at: an
        over-cap doc that also has a null offset reports the cap."""
        from go_readability_spark.schemas import DOCUMENTS_SCHEMA

        big_bad = [{"kind": "text", "text": "<p>" + "x" * 200 + "</p>",
                    "media_ref": "", "offset": None}]
        df = with_doc_bytes(
            spark.createDataFrame(
                [self.CASES[0], ("big-null-offset", big_bad)], DOCUMENTS_SCHEMA
            )
        ).withColumn("doc_bytes", F.col("doc_bytes") + MAX_DOC_BYTES)
        out = {
            r["doc_id"]: r["error"]
            for r in extract_documents(df, num_partitions=1).collect()
        }
        cap = MAX_DOC_BYTES
        assert out["big-null-offset"] == f"doc_bytes {cap + 207} > cap {cap}"
        assert out["ok"] == f"doc_bytes {cap + 787} > cap {cap}"


class TestCheckpointStagingEdgeCases:
    def test_empty_input_returns_empty_and_cleans_staging(self, spark, tmp_path):
        """A zero-row input stages to a _SUCCESS-only directory that
        schema inference cannot read — the explicit-schema staged read
        must return the documented empty result instead of crashing
        (round-5 review finding), and staging must not linger."""
        import os

        from go_readability_spark.plans.checkpoint import run_checkpointed
        from go_readability_spark.schemas import DOCUMENTS_SCHEMA

        out = str(tmp_path / "out")
        empty = spark.createDataFrame([], DOCUMENTS_SCHEMA)
        res = run_checkpointed(
            spark, empty, out, str(tmp_path / "man"), n_parts=4
        )
        assert res.count() == 0
        assert not os.path.exists(out + "__staging")

    def test_fully_done_rerun_sweeps_leftover_staging(self, spark, tmp_path):
        """A kill between the last part commit and the staging cleanup
        leaks the staged corpus copy; the next (fully-done) rerun must
        sweep it rather than leave it forever."""
        import os

        from go_readability_spark.plans.checkpoint import run_checkpointed
        from go_readability_spark.sources.tables import corpus_df

        out = str(tmp_path / "out")
        man = str(tmp_path / "man")
        docs = corpus_df(spark, 12, num_partitions=2)
        run_checkpointed(spark, docs, out, man, n_parts=2)
        # simulate the kill-after-last-commit leak
        leftover = out + "__staging/n2"
        os.makedirs(leftover, exist_ok=True)
        open(os.path.join(leftover, "_SUCCESS"), "w").close()
        res = run_checkpointed(spark, docs, out, man, n_parts=2)
        assert res.count() == 12
        assert not os.path.exists(out + "__staging")

    def test_empty_output_leaves_extracted_schema_intact(self, spark, tmp_path):
        """The empty-result schema (extraction columns + part) must be a
        new StructType: adding ``part`` to the shared EXTRACTED_SCHEMA in
        place broke every later extraction in the process."""
        from go_readability_spark.plans.checkpoint import run_checkpointed
        from go_readability_spark.schemas import DOCUMENTS_SCHEMA, EXTRACTED_SCHEMA

        empty = spark.createDataFrame([], DOCUMENTS_SCHEMA)
        res = run_checkpointed(
            spark, empty, str(tmp_path / "out"), str(tmp_path / "man"), n_parts=2
        )
        assert res.columns[-1] == "part"
        assert len(EXTRACTED_SCHEMA.fields) == 7
        rows = extract_documents(corpus_df(spark, 2), num_partitions=1).collect()
        assert len(rows) == 2 and all(r["error"] is None for r in rows)


@pytest.mark.usefixtures("restore_zipimport")
class TestLazyZipInvalidation:
    """``importlib.invalidate_caches()`` (PySpark calls it at every task
    start) must not re-read an unchanged zip archive once
    ``lazy_zip_invalidation`` is installed, and must still re-read a
    rewritten one."""

    PKG = "gr_lazyzip_pkg"

    @staticmethod
    def _write(archive, modules):
        import zipfile

        with zipfile.ZipFile(archive, "w") as zf:
            for name, src in modules.items():
                zf.writestr(name, src)

    @pytest.fixture
    def archive(self, tmp_path, monkeypatch):
        path = str(tmp_path / "pkg.zip")
        self._write(
            path, {f"{self.PKG}/__init__.py": "", f"{self.PKG}/a.py": "X = 1\n"}
        )
        monkeypatch.syspath_prepend(path)
        importlib.import_module(f"{self.PKG}.a")
        yield path
        for name in [m for m in sys.modules if m.split(".")[0] == self.PKG]:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(path, None)

    def _count_reads(self, monkeypatch, path):
        reads = []
        real = zipimport._read_directory

        def counted(archive):
            if archive == path:
                reads.append(archive)
            return real(archive)

        monkeypatch.setattr(zipimport, "_read_directory", counted)
        return reads

    def test_unchanged_archive_is_not_reread(self, archive, monkeypatch):
        reads = self._count_reads(monkeypatch, archive)
        importlib.invalidate_caches()
        if sys.version_info < (3, 13):
            # the eager re-read this guards against: one per importer
            # (the archive root and the package directory)
            assert len(reads) >= 2
        lazy_zip_invalidation()
        importlib.invalidate_caches()  # first sight after install
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []
        assert importlib.import_module(f"{self.PKG}.a").X == 1

    def test_rewritten_archive_is_reread(self, archive):
        lazy_zip_invalidation()
        importlib.invalidate_caches()
        with pytest.raises(ModuleNotFoundError):
            importlib.import_module(f"{self.PKG}.b")
        self._write(
            archive,
            {
                f"{self.PKG}/__init__.py": "",
                f"{self.PKG}/a.py": "X = 1\n",
                f"{self.PKG}/b.py": "Y = 2\n",
            },
        )
        importlib.invalidate_caches()
        assert importlib.import_module(f"{self.PKG}.b").Y == 2

    @pytest.mark.skipif(sys.version_info >= (3, 13), reason="no-op on 3.13+")
    def test_second_install_does_not_double_wrap(self):
        original = zipimport.zipimporter.invalidate_caches
        lazy_zip_invalidation()
        wrapped = zipimport.zipimporter.invalidate_caches
        lazy_zip_invalidation()
        assert zipimport.zipimporter.invalidate_caches is wrapped
        assert wrapped is not original and wrapped.__wrapped__ is original

    def test_noop_on_python_3_13(self, monkeypatch):
        original = zipimport.zipimporter.invalidate_caches
        with monkeypatch.context() as m:
            m.setattr(sys, "version_info", (3, 13, 0, "final", 0))
            lazy_zip_invalidation()
        assert zipimport.zipimporter.invalidate_caches is original

    @pytest.mark.skipif(sys.version_info >= (3, 13), reason="no-op on 3.13+")
    def test_arrow_adapter_installs_it(self):
        from go_readability_spark.operators.extract import _arrow_batches

        assert not getattr(
            zipimport.zipimporter.invalidate_caches, "_stat_guarded", False
        )
        assert list(_arrow_batches(None, False)(iter([]))) == []
        assert zipimport.zipimporter.invalidate_caches._stat_guarded


READ_BATCH = "spark.sql.parquet.columnarReaderBatchSize"


class TestSession:
    def test_local_session_confs(self, spark):
        # getOrCreate re-applies the builder's modifiable confs to the
        # running session, so this reads what get_spark(cores=4) sets
        s = get_spark(app_name="pytest", cores=4)
        assert s.sparkContext.defaultParallelism == 4
        assert {
            k: s.conf.get(k)
            for k in (
                "spark.sql.shuffle.partitions",
                "spark.sql.execution.arrow.maxRecordsPerBatch",
                "spark.sql.execution.arrow.pyspark.enabled",
                "spark.sql.session.timeZone",
                "spark.sql.adaptive.enabled",
                READ_BATCH,
            )
        } == {
            "spark.sql.shuffle.partitions": "8",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
            "spark.sql.execution.arrow.pyspark.enabled": "true",
            "spark.sql.session.timeZone": "UTC",
            "spark.sql.adaptive.enabled": "true",
            READ_BATCH: "4096",
        }

    def test_core_rule(self, monkeypatch):
        # the builder's options, read instead of starting a session
        monkeypatch.setattr(
            pyspark.sql.SparkSession.Builder,
            "getOrCreate",
            lambda builder: dict(builder._options),
        )
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
        derived = min(len(os.sched_getaffinity(0)), 16)
        assert get_spark()["spark.master"] == f"local[{derived}]"
        assert get_spark(cores=3)["spark.master"] == "local[3]"
        # the environment's count is capped like the derived one
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
        assert get_spark()["spark.master"] == "local[16]"
        assert get_spark()["spark.sql.shuffle.partitions"] == "16"
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
        assert get_spark()["spark.master"] == "local[2]"
        assert get_spark()["spark.sql.shuffle.partitions"] == "8"
        assert get_spark(cores=3)["spark.master"] == "local[3]"
        assert get_spark(cores=32)["spark.master"] == "local[32]"
        # under spark-submit the launcher owns master and resources
        monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
        assert get_spark(cores=3) == {
            "spark.app.name": "go-readability-spark",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
            "spark.sql.execution.arrow.pyspark.enabled": "true",
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.session.timeZone": "UTC",
        }

    def test_giant_doc_scan_restores_unset_prior(self, spark):
        spark.conf.unset(READ_BATCH)
        with giant_doc_scan(spark):
            assert spark.conf.get(READ_BATCH) == "256"
        assert spark.conf.get(READ_BATCH, None) is None

    def test_giant_doc_scan_restores_set_prior(self, spark):
        spark.conf.set(READ_BATCH, "1024")
        try:
            with pytest.raises(RuntimeError):
                with giant_doc_scan(spark):
                    assert spark.conf.get(READ_BATCH) == "256"
                    raise RuntimeError("action failed")
            assert spark.conf.get(READ_BATCH) == "1024"
        finally:
            spark.conf.unset(READ_BATCH)

    def test_get_spark_is_the_only_session_builder(self):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        builder = re.compile(r"SparkSession\s*\.\s*builder")
        found = []
        for d, dirs, files in os.walk(root):
            dirs[:] = [x for x in dirs if not x.startswith((".", "__"))]
            for f in files:
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    with open(path, encoding="utf-8") as fh:
                        if builder.search(fh.read()):
                            found.append(os.path.relpath(path, root))
        assert found == [os.path.join("go_readability_spark", "plans", "session.py")]
