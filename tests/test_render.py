"""Render operator + CLI parity tests."""

from __future__ import annotations

import json

import pytest

from go_readability_spark.corpus import generate_doc
from go_readability_spark.operators.render import render_article
from go_readability_spark.readability import extract
from go_readability_spark.spans import spans_to_html


class TestRenderArticle:
    def test_formats_match_pure_sinks(self):
        art = extract(spans_to_html(generate_doc("syn-article-000000")))
        out = render_article(art)
        assert out["html"].startswith("<")
        assert "# Deep Dive 0" in out["markdown"]
        assert "Deep Dive 0" in out["text"]
        meta = json.loads(out["metadata_json"])
        assert meta["pageType"] == "article"
        assert meta["nodeCount"] == art.node_count

    def test_empty_article(self):
        art = extract("<html><body></body></html>")
        out = render_article(art)
        assert out["html"] == "" and out["markdown"] == ""


class TestCli:
    def test_metadata_and_formats(self, capsys, tmp_path):
        from go_readability_spark.cli import main

        path = tmp_path / "doc.html"
        path.write_text(spans_to_html(generate_doc("syn-article-000003")))

        assert main(["--metadata", str(path)]) == 0
        meta = json.loads(capsys.readouterr().out)
        assert meta["title"].startswith("Deep Dive 3")

        assert main(["--format", "markdown", str(path)]) == 0
        assert "# Deep Dive 3" in capsys.readouterr().out

        assert main([str(path)]) == 0
        assert "<h1>" in capsys.readouterr().out

    def test_stdin_source(self, capsys, monkeypatch):
        import io

        from go_readability_spark.cli import main

        html = spans_to_html(generate_doc("syn-article-000003"))

        class FakeStdin:
            buffer = io.BytesIO(html.encode("utf-8"))

        monkeypatch.setattr("sys.stdin", FakeStdin)
        assert main(["--metadata", "-"]) == 0
        meta = json.loads(capsys.readouterr().out)
        assert meta["title"].startswith("Deep Dive 3")

    def test_http_source_via_injected_opener(self, capsys, monkeypatch):
        """HTTP source (main.go:101-123) with the opener injected — the
        sandbox has no network, but the fetch path itself is real."""
        import contextlib
        import io

        from go_readability_spark import cli

        html = spans_to_html(generate_doc("syn-article-000003"))

        class FakeResp(io.BytesIO):
            status = 200

        @contextlib.contextmanager
        def fake_opener(url):
            assert url == "http://example.com/a"
            yield FakeResp(html.encode("utf-8"))

        monkeypatch.setattr(cli, "URL_OPENER", fake_opener)
        assert cli.main(["--metadata", "http://example.com/a"]) == 0
        meta = json.loads(capsys.readouterr().out)
        assert meta["title"].startswith("Deep Dive 3")

    def test_http_non_200_and_fetch_failure(self, capsys, monkeypatch):
        import contextlib
        import io

        from go_readability_spark import cli

        class Resp404(io.BytesIO):
            status = 404

        @contextlib.contextmanager
        def opener_404(url):
            yield Resp404(b"")

        monkeypatch.setattr(cli, "URL_OPENER", opener_404)
        assert cli.main(["http://example.com/x"]) == 2
        assert "404" in capsys.readouterr().err

        def opener_down(url):
            raise OSError("network unreachable")

        monkeypatch.setattr(cli, "URL_OPENER", opener_down)
        assert cli.main(["http://example.com/x"]) == 2
        assert "failed to fetch" in capsys.readouterr().err


@pytest.mark.usefixtures("spark")
class TestRenderSpark:
    def test_extract_and_render_single_pass_parity(self, spark):
        """render=True == extract_documents + render_article, one UDF."""
        from go_readability_spark.operators.extract import extract_documents
        from go_readability_spark.sources.tables import corpus_df

        docs = corpus_df(spark, 12)
        combined = {
            r["doc_id"]: r
            for r in extract_documents(
                docs, num_partitions=2, render=True
            ).collect()
        }
        extracted = {r["doc_id"]: r for r in extract_documents(docs, num_partitions=2).collect()}
        assert len(combined) == 12 and set(combined) == set(extracted)
        for doc_id, row in combined.items():
            e = extracted[doc_id]
            assert row["spans_out"] == e["spans_out"]
            assert row["meta"] == e["meta"]
            assert row["metrics"] == e["metrics"]
            assert row["error"] is None and e["error"] is None
        # spot-check one doc's renderings against the pure pipeline
        doc_id = "syn-article-000000"
        art = extract(spans_to_html(generate_doc(doc_id)))
        got = combined[doc_id]
        assert json.loads(got["metadata_json"])["nodeCount"] == art.node_count
        assert got["markdown"] == render_article(art)["markdown"]

    def test_extract_and_render_error_rows(self, spark):
        from pyspark.sql import functions as F

        from go_readability_spark.operators.extract import extract_documents
        from go_readability_spark.plans.skew import MAX_DOC_BYTES, with_doc_bytes
        from go_readability_spark.schemas import DOCUMENTS_SCHEMA

        big = [{"kind": "text", "text": "<p>" + "x" * 200 + "</p>",
                "media_ref": "", "offset": 0}]
        bad = spark.createDataFrame(
            [("bad-doc", None), ("big-doc", big)], DOCUMENTS_SCHEMA
        )
        # a supplied doc_bytes column is kept by the pre-pass: big-doc is
        # pushed over the cap without building a 64 MiB document
        bad = with_doc_bytes(bad).withColumn(
            "doc_bytes",
            F.when(
                F.col("doc_id") == "big-doc", F.col("doc_bytes") + MAX_DOC_BYTES
            ).otherwise(F.col("doc_bytes")),
        )
        rows = {
            r["doc_id"]: r
            for r in extract_documents(
                bad, num_partitions=1, render=True
            ).collect()
        }
        assert rows["bad-doc"]["error"] == "null spans"
        assert rows["big-doc"]["error"] == (
            f"doc_bytes {MAX_DOC_BYTES + 207} > cap {MAX_DOC_BYTES}"
        )
        for row in rows.values():
            assert row["meta"]["page_type"] == "error"
            for col in ("html", "markdown", "text", "metadata_json"):
                assert row[col] == "", col
