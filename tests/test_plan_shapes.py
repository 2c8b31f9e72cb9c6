"""Physical-plan assertions: the scale-critical properties must be
visible in the plan, not assumed (predicate pushdown, column pruning,
broadcast joins, whole-stage codegen, no Python in native stages)."""

from __future__ import annotations

import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import functions as F  # noqa: E402

from go_readability_spark.operators.extract import extract_documents  # noqa: E402

SF = "/root/testdata/sf0.01"


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


class TestScanPushdown:
    def test_filter_pushed_to_parquet(self, spark):
        df = spark.read.parquet(f"{SF}/orders.parquet").filter(
            F.col("o_orderkey") < 100
        )
        plan = _formatted(df)
        assert "PushedFilters" in plan
        assert "LessThan(o_orderkey,100)" in plan

    def test_column_pruning(self, spark):
        df = spark.read.parquet(f"{SF}/lineitem.parquet").select(
            "l_orderkey", "l_quantity"
        )
        plan = _formatted(df)
        read_schema = [
            line for line in plan.splitlines() if "ReadSchema" in line
        ][0]
        assert "l_orderkey" in read_schema and "l_quantity" in read_schema
        assert "l_comment" not in read_schema and "l_extendedprice" not in read_schema

    def test_documents_scan_prunes_to_used_columns(self, spark):
        from go_readability_spark.operators.textops import text_profile

        plan = _formatted(
            text_profile(spark.read.parquet(f"{SF}/documents.parquet"))
        )
        read_schema = [
            line for line in plan.splitlines() if "ReadSchema" in line
        ][0]
        assert "text" in read_schema
        assert "lang" not in read_schema and "source" not in read_schema


class TestJoinStrategies:
    def test_resume_antijoin_broadcasts(self, spark):
        from go_readability_spark.operators.relational import resume_pending

        plan = _formatted(
            resume_pending(spark.read.parquet(f"{SF}/orders.parquet"))
        )
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan

    def test_ann_query_vector_broadcasts(self, spark):
        from go_readability_spark.operators.similarity import ann_topk_bruteforce

        plan = _formatted(
            ann_topk_bruteforce(
                spark.read.parquet(f"{SF}/embeddings.parquet"), 0, 10
            )
        )
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan

    def test_ann_topk_is_take_ordered_not_full_sort(self, spark):
        from go_readability_spark.operators.similarity import ann_topk_bruteforce

        plan = _formatted(
            ann_topk_bruteforce(
                spark.read.parquet(f"{SF}/embeddings.parquet"), 0, 10
            )
        )
        assert "TakeOrderedAndProject" in plan


class TestNativeStages:
    def test_text_profile_is_pure_catalyst(self, spark):
        from go_readability_spark.operators.textops import text_profile

        plan = _formatted(
            text_profile(spark.read.parquet(f"{SF}/documents.parquet"))
        )
        assert "Python" not in plan  # no BatchEvalPython / ArrowEvalPython
        assert "codegen id" in plan  # stages participate in codegen

    def test_doc_bytes_prepass_is_native(self, spark):
        from go_readability_spark.plans.skew import with_doc_bytes
        from go_readability_spark.sources.tables import documents_as_spans_df

        plan = _formatted(
            with_doc_bytes(documents_as_spans_df(spark, SF)).select(
                "doc_id", "doc_bytes"
            )
        )
        assert "Python" not in plan

    def test_dedup_exact_partial_aggregation(self, spark):
        from go_readability_spark.operators.dedup import dedup_exact

        plan = _formatted(
            dedup_exact(spark.read.parquet(f"{SF}/documents.parquet"))
        )
        # map-side partial agg before the exchange, final after
        assert plan.count("HashAggregate") >= 2
        assert "hashpartitioning(text_hash" in plan


class TestStarJoinPlan:
    def test_revenue_by_nation_broadcasts_all_dims(self, spark):
        """The dimension chain must hash-probe map-side: no shuffle of
        orders before the final aggregation exchange."""
        from go_readability_spark.operators.relational import revenue_by_nation

        df = revenue_by_nation(
            spark.read.parquet(f"{SF}/orders.parquet"),
            spark.read.parquet(f"{SF}/customer.parquet"),
            spark.read.parquet(f"{SF}/nation.parquet"),
            spark.read.parquet(f"{SF}/region.parquet"),
        )
        plan = _formatted(df)
        # formatted plans print each node in tree + details sections
        assert plan.count("BroadcastHashJoin") >= 3
        assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
        # the only orders exchange is the aggregation's n_name partitioning
        assert "hashpartitioning(n_name" in plan
        # region filter pushed into the dimension scan
        assert "r_name" in plan and "PushedFilters: [IsNotNull(r_name)" in plan


def _node_names(plan) -> list[str]:
    """Node names of a JVM physical plan, through adaptive wrappers and
    the query stages of an executed adaptive plan."""
    names, todo = [], [plan]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        names.append(node.nodeName())
        seq = node.children()
        todo.extend(seq.apply(i) for i in range(seq.length()))
    return names


class TestExtractionPlan:
    """One entry point, one plan: extraction with or without rendering
    scans once, shuffles once (the salted repartition) and crosses into
    Python through exactly one mapInArrow; a streaming micro-batch does
    not shuffle."""

    @pytest.mark.parametrize(
        "render", [False, True], ids=["extract_documents", "extract_and_render"]
    )
    def test_one_scan_one_exchange_one_map_in_arrow(
        self, spark, tmp_path, render
    ):
        from go_readability_spark.sources.tables import corpus_df

        path = str(tmp_path / "docs")
        corpus_df(spark, 4).write.parquet(path)
        df = extract_documents(
            spark.read.parquet(path), num_partitions=2, render=render
        )
        names = _node_names(df._jdf.queryExecution().executedPlan())
        assert sum(n.startswith("Scan parquet") for n in names) == 1, names
        assert names.count("Exchange") == 1, names
        assert names.count("MapInArrow") == 1, names
        assert not any("MapInPandas" in n for n in names), names

    def test_stream_micro_batch_is_not_repartitioned(self, spark, tmp_path):
        """A streaming input skips the skew repartition: the executed
        micro-batch is one mapInArrow with no Exchange."""
        from go_readability_spark.sources.tables import corpus_df
        from go_readability_spark.streaming import run_extract_stream

        inp = str(tmp_path / "in")
        corpus_df(spark, 4).write.parquet(inp)
        q = run_extract_stream(
            spark, inp, str(tmp_path / "out"), str(tmp_path / "ckpt")
        )
        q.awaitTermination(120)
        names = _node_names(
            q._jsq.streamingQuery().lastExecution().executedPlan()
        )
        assert "Exchange" not in names, names
        assert names.count("MapInArrow") == 1, names

    def test_extract_py_is_the_only_map_in_arrow(self):
        """The package's only mapInArrow call is the extraction plan's,
        in operators/extract.py."""
        import os
        import re

        root = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "go_readability_spark",
        )
        call = re.compile(r"\.mapInArrow\s*\(")
        found = []
        for d, dirs, files in os.walk(root):
            dirs[:] = [x for x in dirs if not x.startswith((".", "__"))]
            for f in files:
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    with open(path, encoding="utf-8") as fh:
                        found += [os.path.relpath(path, root)] * len(
                            call.findall(fh.read())
                        )
        assert found == [os.path.join("operators", "extract.py")]
