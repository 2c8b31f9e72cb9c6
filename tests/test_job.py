"""job.py, the production entry, run in-process: main() joins the test
session through get_spark, so a batch run, its resume and a stream drain
can be checked without a launcher."""

from __future__ import annotations

import ast
import importlib.util
import os

import pytest

pyspark = pytest.importorskip("pyspark")

from go_readability_spark.plans.checkpoint import read_manifest  # noqa: E402
from go_readability_spark.sources.tables import corpus_df  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
READ_BATCH = "spark.sql.parquet.columnarReaderBatchSize"


@pytest.fixture
def job(spark, monkeypatch):
    # get_spark re-applies its local confs to the running session: give
    # it this session's core count so they are the ones already set
    monkeypatch.setenv(
        "SPARK_GRAFT_CPUS", str(spark.sparkContext.defaultParallelism)
    )
    spec = importlib.util.spec_from_file_location(
        "job", os.path.join(ROOT, "job.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _output_files(out_dir):
    return {
        os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
        for d, _, fs in os.walk(out_dir)
        for f in fs
    }


def test_batch_run_resumes_and_leaves_no_session_state(
    spark, job, tmp_path, capsys
):
    inp, out, manifest = (str(tmp_path / n) for n in ("in", "out", "manifest"))
    corpus_df(spark, 12, num_partitions=2).write.parquet(inp)
    argv = ["--input", inp, "--output", out, "--manifest", manifest,
            "--n-parts", "3", "--concurrency", "2"]
    prior = spark.conf.get(READ_BATCH, None)

    assert job.main(argv) == 0
    first = capsys.readouterr().out.splitlines()
    assert spark.conf.get(READ_BATCH, None) == prior
    done = read_manifest(spark, manifest).filter("status = 'done'")
    assert sorted(r["part"] for r in done.collect()) == [0, 1, 2]
    assert sum(r["n_docs"] for r in done.collect()) == 12
    files = _output_files(out)

    # the rerun skips every part: no manifest row, no output file rewritten
    assert job.main(argv) == 0
    second = capsys.readouterr().out.splitlines()
    assert read_manifest(spark, manifest).count() == 3
    assert _output_files(out) == files
    assert sorted(second) == sorted(first)
    assert sum(ast.literal_eval(line)["n_docs"] for line in first) == 12
    assert spark.conf.get(READ_BATCH, None) == prior


def test_stream_drains_every_input_doc(spark, job, tmp_path):
    inp, out, ckpt = (str(tmp_path / n) for n in ("in", "out", "ckpt"))
    corpus_df(spark, 8).write.parquet(inp)
    prior = spark.conf.get(READ_BATCH, None)

    assert job.main(["--input", inp, "--output", out, "--manifest", ckpt,
                     "--mode", "stream"]) == 0
    assert spark.conf.get(READ_BATCH, None) == prior
    got = [r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()]
    want = [r["doc_id"] for r in spark.read.parquet(inp).select("doc_id").collect()]
    assert sorted(got) == sorted(want)
