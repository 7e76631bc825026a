"""Plan-hygiene asserts for the training-data pipeline family: the text
operators must stay pure-JVM Column programs with the minimal exchange
count their shape requires.
"""

from __future__ import annotations

import re

from conftest import assert_bounded_rankings

from geomatics_geotk_spark import plans, queries

SF = "/root/testdata/sf0.001"


def _no_python(plan: str) -> bool:
    return "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def _nodes(plan: str, name: str) -> int:
    """Count DISTINCT plan nodes (formatted explain prints each node in
    the tree AND a detail section, so a plain substring count doubles)."""
    return len(re.findall(rf"\(\d+\) {name}", plan))


class TestTextPlans:
    def test_repetition_is_single_stage_jvm(self, spark):
        """Per-row ratios: no exchange, no Python — one codegen stage
        over the scan."""
        plan = plans.formatted_plan(queries.q_repetition(spark, SF))
        assert "Exchange" not in plan and _no_python(plan)

    def test_pii_scan_is_single_stage_jvm(self, spark):
        plan = plans.formatted_plan(queries.q_pii_scan(spark, SF))
        assert "Exchange" not in plan and _no_python(plan)

    def test_split_assign_single_exchange_mapside_partial(self, spark):
        """Hash-bucket split + per-(split,lang) counts: exactly the one
        groupBy exchange, partial agg map-side."""
        plan = plans.formatted_plan(queries.q_split_assign(spark, SF))
        assert _nodes(plan, "Exchange") == 1 and _no_python(plan)
        assert _nodes(plan, "HashAggregate") == 2

    def test_heavy_shingles_threshold_is_broadcast(self, spark):
        """The relative-threshold corpus count must cross in as a
        broadcast scalar, never a shuffle of the counts side."""
        plan = plans.formatted_plan(queries.q_heavy_shingles(spark, SF))
        assert "Broadcast" in plan and _no_python(plan)

    def test_decontaminate_broadcasts_eval_side(self, spark):
        """Eval shingles are benchmark-sized: the join must be a
        BroadcastHashJoin (corpus side never shuffles for the join)."""
        df = queries.q_decontaminate(spark, SF)
        assert plans.plan_has_broadcast(df)
        plan = plans.formatted_plan(df)
        assert "SortMergeJoin" not in plan and _no_python(plan)

    def test_url_domains_column_pruning(self, spark):
        """Domain counting reads only what it needs from the scan."""
        cols = plans.scan_read_schema(queries.q_url_domains(spark, SF))
        assert "text" in cols and "source" not in cols

    def test_lsh_band_index_is_pure_map(self, spark):
        """The streaming signature path in batch: zero exchanges, zero
        Python, zero aggregation — the shape that makes it legal in a
        stateless append stream."""
        plan = plans.formatted_plan(queries.q_lsh_band_index(spark, SF))
        assert _nodes(plan, "Exchange") == 0 and _no_python(plan)
        assert _nodes(plan, "HashAggregate") == 0

    def test_vocab_topk_group_limit_pushdown(self, spark):
        """Top-k per lang must push the limit below the final window
        (WindowGroupLimit), so the rank shuffle carries at most k rows
        per (lang, partition), not the whole count table."""
        plan = plans.formatted_plan(queries.q_vocab_topk(spark, SF))
        assert _nodes(plan, "WindowGroupLimit") >= 1 and _no_python(plan)
        assert _nodes(plan, "HashAggregate") == 2  # partial+final count

    def test_length_percentiles_single_exchange(self, spark):
        """row_number window, count window, and the final groupBy all
        co-partition on lang — exactly ONE exchange end to end."""
        plan = plans.formatted_plan(queries.q_length_percentiles(spark, SF))
        assert _nodes(plan, "Exchange") == 1 and _no_python(plan)

    def test_length_histogram_brackets_exact_percentiles(self, spark):
        """The sketch estimate is the lower edge of the covering bucket:
        est <= exact < est + width for every stratum and percentile."""
        exact = {r["lang"]: r for r in
                 queries.q_length_percentiles(spark, SF).collect()}
        est = {r["lang"]: r for r in
               queries.q_length_histogram(spark, SF).collect()}
        assert set(exact) == set(est)
        for lang, e in exact.items():
            s = est[lang]
            for p in ("p50", "p90", "p99"):
                assert s[f"{p}_est"] <= e[p] < s[f"{p}_est"] + 16, (lang, p)
            assert s["n_docs"] == e["n_docs"]

    def test_length_histogram_windows_rank_buckets_not_rows(self, spark):
        """The cumsum windows run over the (lang, bucket) HISTOGRAM —
        after the aggregation, never over raw documents."""
        plan = plans.formatted_plan(queries.q_length_histogram(spark, SF))
        assert _no_python(plan)
        # the histogram-build aggregate (bottom-most HashAggregate) must
        # sit BELOW the cumsum Window; the final per-lang agg sits above
        # (formatted plan prints top-down)
        win_pos = plan.find("Window")
        assert 0 <= win_pos < plan.rfind("HashAggregate")

    def test_tfidf_broadcasts_df_and_limits_window(self, spark):
        """df and N join back by BROADCAST (the tf side — the big one —
        never reshuffles for them) and the per-doc top-3 pushes a
        WindowGroupLimit below the rank exchange."""
        plan = plans.formatted_plan(queries.q_tfidf_topk(spark, SF))
        assert "SortMergeJoin" not in plan and _no_python(plan)
        assert _nodes(plan, "WindowGroupLimit") >= 1

    def test_stratified_sample_bounded_windows(self, spark):
        """One window exchange between a partial and a final
        WindowGroupLimit, and nothing Python: the exchange ships at most
        k rows per lang per input partition, so no stratum-sized
        partition exists."""
        plan = plans.formatted_plan(queries.q_stratified_sample(spark, SF))
        assert _no_python(plan)
        assert_bounded_rankings(plan, 1)

    def test_chunk_sliding_zero_shuffle_jvm(self, spark):
        """Context packing is per-row math + a narrow explode: no
        exchange, no Python, and the scan reads only (doc_id, text)."""
        df = queries.q_chunk_sliding(spark, SF)
        plan = plans.formatted_plan(df)
        assert "Exchange" not in plan and _no_python(plan)
        cols = plans.scan_read_schema(df)
        assert "text" in cols and "source" not in cols

    def test_line_dedup_join_strategy_is_aqe_decided(self, spark):
        """The duplicate-line set scales with corpus boilerplate, so the
        marking join carries NO forced broadcast hint (r3 verdict item
        4): at test scale AQE/stats may broadcast it, at 100 TB it may
        shuffle — both are legal plans.  What must hold: no Python in
        the path, and no hint node pinning the strategy."""
        df = queries.q_line_dedup(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        analyzed = df._jdf.queryExecution().analyzed().toString()  # noqa: SLF001
        assert "ResolvedHint" not in analyzed

    def test_selfsim_join_strategy_is_aqe_decided(self, spark):
        """Same contract for the dup-window-hash set (text.py selfsim)."""
        df = queries.q_selfsim(spark, SF)
        plan = plans.formatted_plan(df)
        assert _no_python(plan)
        analyzed = df._jdf.queryExecution().analyzed().toString()  # noqa: SLF001
        assert "ResolvedHint" not in analyzed

    def test_shingle_explode_has_no_inferred_generator_filter(self, spark):
        """InferFiltersFromGenerate clones the gram-building lambda into
        a scan Filter where split(text) is re-inlined per element (12x).
        The session must exclude the rule: no Filter node may carry the
        lambda, and the conf must name it (regression guard for
        session.py)."""
        from pyspark.sql import functions as F

        from geomatics_geotk_spark.operators.dedup import with_shingles

        assert "InferFiltersFromGenerate" in spark.conf.get(
            "spark.sql.optimizer.excludedRules", ""
        )
        docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
        df = with_shingles(docs).select(
            "doc_id", F.explode("shingles").alias("shingle")
        )
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        for line in optimized.splitlines():
            if line.strip().startswith(("Filter", "+- Filter")):
                assert "lambdafunction" not in line

    def test_group_quantiles_single_exchange_no_window(self, spark):
        """The aggregate-path quantiles: exactly the one groupBy
        exchange with map-side partials, NO per-document window/sort
        (that is the whole point vs length_percentiles), no Python."""
        plan = plans.formatted_plan(queries.q_group_quantiles(spark, SF))
        assert _nodes(plan, "Exchange") == 1 and _no_python(plan)
        assert "Window" not in plan
        assert _nodes(plan, "HashAggregate") + _nodes(plan, "ObjectHashAggregate") == 2


class TestRelationalPlans:
    def test_cheapest_supplier_single_partitioning(self, spark):
        """Argmin join-back: the <= rewrite keeps the join keyed on
        l_partkey alone, so agg + join + DISTINCT share one partitioning
        — exactly two hash exchanges, dims broadcast, no Python."""
        # force the at-scale shape: the unhinted fact-side join goes SMJ
        # (the explicit broadcast() hints keep the dims broadcast)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            plan = plans.formatted_plan(
                queries.q_cheapest_supplier(spark, SF)
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert _nodes(plan, "Exchange") == 2, plan
        # the load-bearing claim: NO exchange is keyed on the price —
        # the == form would hash (partkey, price) on both fact sides
        assert not re.search(r"hashpartitioning\([^)]*price", plan), plan
        assert _no_python(plan)


class TestZipfWindowLimit:
    def test_zipf_rank_pushes_window_group_limit(self, spark):
        """The rank<=100 filter must reach the vocab window as a
        WindowGroupLimit so the per-lang sort carries top-100 partials,
        not the full 10^8-token vocabulary (same contract as
        vocab_topk/tfidf_topk — a Spark upgrade must not regress it)."""
        from geomatics_geotk_spark import queries as q
        plan = plans.formatted_plan(q.q_zipf_fit(spark, SF))
        assert _nodes(plan, "WindowGroupLimit") >= 1
        assert _no_python(plan)
