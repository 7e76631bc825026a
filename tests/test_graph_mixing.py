"""PageRank, token-budget packing, and mixture resampling.

Property tests: fixed-point PageRank conserves (quantized) mass and is
partition-invariant; the two-phase budget packer selects the identical
row set as the naive global-window packer; resampling cutoffs hit the
target mixture within hash-thinning tolerance.
"""

import pyspark.sql.functions as F
import pytest

from geomatics_geotk_spark.operators import graph


def _ring_graph(spark, n, partitions=4):
    nodes = spark.range(n).select(F.col("id").alias("node")).repartition(partitions)
    # ring + a chord: out-degree 2 for every node
    edges = nodes.select(
        F.col("node").alias("src"),
        F.explode(
            F.array((F.col("node") + 1) % n, (F.col("node") * 7 + 3) % n)
        ).alias("dst"),
    )
    return nodes, edges


def test_pagerank_uniform_on_symmetric_graph(spark):
    """On a vertex-transitive graph every node has identical rank: the
    ring (out-degree 1, in-degree 1) keeps the uniform distribution as
    its exact fixed point, bit-for-bit in fixed-point arithmetic."""
    n = 64
    nodes = spark.range(n).select(F.col("id").alias("node"))
    edges = nodes.select(
        F.col("node").alias("src"), ((F.col("node") + 1) % n).alias("dst")
    )
    r = graph.pagerank_fixed(nodes, edges, iters=3, out_deg=1).collect()
    ranks = {row["rank"] for row in r}
    assert len(r) == n
    assert len(ranks) == 1  # all equal
    # uniform value = (1-d)/n + d/n = 1/n, up to integer-div quantization
    assert abs(next(iter(ranks)) - graph.SCALE // n) <= 2


def test_pagerank_partition_invariant(spark):
    """Integer arithmetic makes the result identical at any parallelism."""
    n1, e1 = _ring_graph(spark, 200, partitions=1)
    n2, e2 = _ring_graph(spark, 200, partitions=16)
    r1 = {r["node"]: r["rank"] for r in graph.pagerank_fixed(n1, e1, 3, out_deg=2).collect()}
    r2 = {r["node"]: r["rank"] for r in graph.pagerank_fixed(n2, e2, 3, out_deg=2).collect()}
    assert r1 == r2


def test_pagerank_mass_conserved(spark):
    """Total rank stays ~1.0: each iteration loses at most out_deg
    quantization ulps per node (integer division), never more."""
    nodes, edges = _ring_graph(spark, 100)
    r = graph.pagerank_fixed(nodes, edges, iters=3, out_deg=2)
    total = r.agg(F.sum("rank")).collect()[0][0]
    # 3 iterations x 100 nodes x (2 divisions + baseline div) ulps max loss
    assert graph.SCALE >= total > graph.SCALE - 3 * 100 * 4


def test_pagerank_degree_join_matches_constant(spark):
    """Omitting out_deg computes degrees from the edges — same result
    when the generator's degree is in fact constant."""
    nodes, edges = _ring_graph(spark, 50)
    a = {r["node"]: r["rank"] for r in graph.pagerank_fixed(nodes, edges, 2, out_deg=2).collect()}
    b = {r["node"]: r["rank"] for r in graph.pagerank_fixed(nodes, edges, 2).collect()}
    assert a == b


def test_budget_pack_two_phase_equals_global_window(spark):
    """The scalable two-phase packer (bucket totals + boundary-bucket
    window) must select the identical row set as the naive global
    cumulative window, on data engineered to exercise full, boundary,
    and excluded buckets."""
    from pyspark.sql import Window

    rows = [(i, i % 7, 10 + (i * 13) % 50) for i in range(400)]
    d = spark.createDataFrame(rows, "doc_id long, qb long, n_toks long")
    budget = d.agg(F.expr("CAST(sum(n_toks) DIV 3 AS BIGINT)")).collect()[0][0]

    # naive: one global window
    wg = Window.orderBy(F.desc("qb"), F.asc("doc_id")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    naive = {
        r["doc_id"]
        for r in d.withColumn("cum", F.sum("n_toks").over(wg))
        .where(F.col("cum") <= budget)
        .collect()
    }

    # two-phase (mirrors q_budget_pack)
    bt = d.groupBy("qb").agg(F.sum("n_toks").alias("t"))
    wb = Window.orderBy(F.desc("qb")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    bt = bt.withColumn("cum_after", F.sum("t").over(wb)).withColumn(
        "cum_before", F.col("cum_after") - F.col("t")
    )
    j = d.join(F.broadcast(bt), "qb")
    wi = Window.partitionBy("qb").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    j = j.withColumn("intra", F.sum("n_toks").over(wi))
    sel = (
        F.when(F.col("cum_after") <= budget, F.lit(True))
        .when(F.col("cum_before") >= budget, F.lit(False))
        .otherwise(F.col("cum_before") + F.col("intra") <= budget)
    )
    two_phase = {r["doc_id"] for r in j.where(sel).collect()}
    assert two_phase == naive
    assert 0 < len(naive) < 400  # budget actually cuts somewhere


def test_mix_resample_hits_target(spark):
    """A 10x-over-represented source is thinned toward the uniform
    target; an under-represented source keeps everything (cutoff 10000)."""
    from geomatics_geotk_spark.queries import q_mix_resample
    import tempfile, os

    rows = [(i, "big" if i < 1000 else "small") for i in range(1100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    with tempfile.TemporaryDirectory() as td:
        df.withColumn("text", F.lit("x")).write.parquet(
            os.path.join(td, "documents.parquet")
        )
        out = {r["source"]: r for r in q_mix_resample(spark, td).collect()}
    # K = 550, uniform target = 275/source
    assert out["small"]["cutoff"] == 10000  # 100 < 275: keep all
    assert out["small"]["n_kept"] == 100
    assert out["big"]["cutoff"] == 2750  # 275/1000 in basis points
    # hash thinning: expect ~275 +- binomial noise
    assert abs(out["big"]["n_kept"] - 275) < 60
