"""Plan-hygiene asserts for the ANN family (r4 verdict item 1): every
per-query ranking must be one ``row_number() <= k`` window that Catalyst
bounds with a partial WindowGroupLimit below its exchange and a final one
above it, so no single task ever sorts a query's full candidate set.
"""

from __future__ import annotations

import re

import pytest
from conftest import assert_bounded_rankings
from pyspark.sql import functions as F

from geomatics_geotk_spark import plans, queries
from geomatics_geotk_spark.operators import similarity

SF = "/root/testdata/sf0.001"


def _nodes(plan: str, name: str) -> int:
    return len(re.findall(rf"\(\d+\) {name}", plan))


class TestAnnPlans:
    def _assert_two_phase(self, df, n_rankings: int):
        """Partial + final WindowGroupLimit around one window exchange
        (conftest.assert_bounded_rankings); a rerank over the pool's
        q_id partitioning reuses that exchange."""
        assert_bounded_rankings(plans.formatted_plan(df), n_rankings)

    def test_partial_limit_required(self, spark):
        """The assert holds at k = windowGroupLimitThreshold (1000) and
        fails at k = 1001, where Catalyst plans no WindowGroupLimit and
        the exchange ships every candidate."""
        scored = spark.range(5000).select(
            (F.col("id") % 7).alias("q_id"),
            F.col("id").alias("vec_id"),
            F.sin(F.col("id").cast("double")).alias("cosine"),
        )
        self._assert_two_phase(similarity._topk_per_query(scored, 1000, "q_id", "vec_id"), 1)
        with pytest.raises(AssertionError):
            self._assert_two_phase(similarity._topk_per_query(scored, 1001, "q_id", "vec_id"), 1)

    def test_cosine_topk_two_phase(self, spark):
        self._assert_two_phase(queries.q_cosine_topk(spark, SF), 1)

    def test_ann_topk_two_phase(self, spark):
        self._assert_two_phase(queries.q_ann_topk(spark, SF), 1)

    def test_ann_topk_ivf_two_phase(self, spark):
        self._assert_two_phase(queries.q_ann_topk_ivf(spark, SF), 1)

    def test_ann_topk_int8_two_phase(self, spark):
        """int8 has TWO rankings: the coarse pool and the exact rerank."""
        self._assert_two_phase(queries.q_ann_topk_int8(spark, SF), 2)

    def test_ann_topk_ivf_int8_two_phase(self, spark):
        self._assert_two_phase(queries.q_ann_topk_ivf_int8(spark, SF), 2)

    def test_ann_topk_ivf_pq_two_phase(self, spark):
        self._assert_two_phase(queries.q_ann_topk_ivf_pq(spark, SF), 2)

    def test_ann_topk_pq_two_phase(self, spark):
        """PQ has TWO rankings (ADC pool + exact rerank); additionally
        the corpus-side scan must carry NO float vector column — the
        join-back fetches vectors for the pool only."""
        df = queries.q_ann_topk_pq(spark, SF)
        self._assert_two_phase(df, 2)


class TestSemanticDedupPlan:
    def test_single_exchange_no_join(self, spark):
        """semantic_dedup's physical plan must be the grouped-matmul
        shape: exactly ONE Exchange (hashpartitioning on cluster), a
        FlatMapGroupsInPandas pair stage, and NO join — the rejected
        self-join shapes (PLANS.md) had two exchanges and re-evaluated
        the k-means assignment folds in a pushed-down isnotnull filter."""
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        plan = plans.formatted_plan(
            similarity.semantic_dedup(emb, k=4, iters=3, threshold=0.95)
        )
        assert _nodes(plan, "Exchange") == 1, plan
        assert _nodes(plan, "FlatMapGroupsInPandas") == 1, plan
        assert "Join" not in plan, plan
        # the assignment fold must not leak into a Filter below the
        # exchange (the isnotnull-refold pathology)
        filters = re.findall(r"\(\d+\) Filter\nInput.*\nCondition : (.*)", plan)
        assert all("array_position" not in f for f in filters), filters
