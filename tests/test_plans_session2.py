"""Plan-hygiene asserts for the continuation-session-2 operators: the
100 TB claims each docstring makes must be visible in the physical
plan, so a Spark upgrade or refactor can't silently regress them.

- heavy_hitters: the exact recount joins the CANDIDATES by broadcast
  (pass 2 never shuffles raw tokens to a vocabulary-wide aggregate
  without the semi-join prefilter below it).
- fuzzy_name_pairs: the pair dedup is the map-side array filter — no
  dropDuplicates exchange; the levenshtein refine stays JVM.
- kmv_vocab: the k-min window never plans a single-partition sort
  (every Sort/Window is preceded by a hash partition on the group) and
  carries a partial WindowGroupLimit below its exchange.
- track_cells / map_match: map-only Column math — no Python, and for
  map_match no higher-order-function lambda (the unrolled array_min).
- grid_clusters: the point labeling join carries no Python either side.
"""

from __future__ import annotations

import re

from conftest import assert_bounded_rankings

from geomatics_geotk_spark import plans, queries

SF = "/root/testdata/sf0.001"


def _no_python(plan: str) -> bool:
    return "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def _nodes(plan: str, name: str) -> int:
    return len(re.findall(rf"\(\d+\) {name}", plan))


class TestSession2Plans:
    def test_heavy_hitters_recount_is_broadcast_semi(self, spark):
        df = queries.q_heavy_hitters(spark, SF)
        plan = plans.formatted_plan(df)
        assert "BroadcastHashJoin LeftSemi" in plan
        # the only Python in the plan would be pass 1's summaries —
        # pass 2 (this plan) is pure JVM: explode, semi-join, count
        assert _no_python(plan)

    def test_fuzzy_join_no_dedup_exchange_and_jvm_refine(self, spark):
        df = queries.q_fuzzy_name_pairs(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        assert "levenshtein" in plan
        # pair dedup is the carried-array filter, not an aggregate:
        # the only aggregates would come from a dropDuplicates — none
        assert _nodes(plan, "HashAggregate") == 0
        # one equi-join on the variant key (plus none other)
        assert (
            _nodes(plan, "SortMergeJoin")
            + _nodes(plan, "BroadcastHashJoin")
            + _nodes(plan, "ShuffledHashJoin")
            >= 1
        )

    def test_kmv_no_single_partition_sort(self, spark):
        df = queries.q_kmv_vocab(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        # every exchange hashes on a key set that includes the group
        # (lang) — a SinglePartition exchange would mean the window
        # funneled to one task — and the k-min window is bounded by a
        # partial + final WindowGroupLimit around its one exchange
        assert "SinglePartition" not in plan
        assert_bounded_rankings(plan, 1)

    def test_track_cells_map_only_generate(self, spark):
        df = queries.q_track_cells(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        assert _nodes(plan, "Generate") == 2  # the two sequence explodes
        # exchanges: one lag window on user + one rollup (AQE may show
        # them once each) — never more
        assert _nodes(plan, "Exchange") <= 2

    def test_map_match_no_hof_lambda(self, spark):
        df = queries.q_map_match(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        assert "lambdafunction" not in plan  # the unrolled array_min
        assert "array_min" in plan

    def test_grid_clusters_jvm_labeling(self, spark):
        df = queries.q_grid_clusters(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)

    def test_pareto_two_pass_shape(self, spark):
        df = queries.q_pareto_parts(spark, SF)
        plan = plans.formatted_plan(df)
        # exactly two Python stages: the local prune and the global
        # re-prune (mapInPandas is the operator's documented contract)
        assert _nodes(plan, "MapInPandas") == 2

    def test_snapshot_diff_single_full_outer(self, spark):
        df = queries.q_snapshot_diff(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        assert "FullOuter" in plan
