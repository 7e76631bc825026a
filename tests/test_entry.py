"""Driver-surface invariants: catalog counts (README's numbers can't
drift), planted ground truth for the deployed xxhash64 LSH paths, and
the knn_join no-doc-side-broadcast scale guarantee (r3 verdict items
3 and 7)."""

from __future__ import annotations

import glob
import json
import os
import re
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from geomatics_geotk_spark import queries  # noqa: E402
from geomatics_geotk_spark.operators import knn  # noqa: E402

SF = "/root/testdata/sf0.001"


class TestCatalog:
    def test_catalog_counts(self):
        """README.md's module-map numbers are these — update both together."""
        q = entrymod.queries()
        o = entrymod.oracle_sql()
        assert len(q) == 224
        assert len(o) == 224
        assert set(o) == set(q)  # r5: every entry oracle-checkable, no rows-only twins

    def test_every_query_callable_and_named(self):
        for name, fn in entrymod.queries().items():
            assert callable(fn), name

    def test_stalest_correctness_rows_first(self):
        """A correctness pass may check only about the first 50 entries, so
        the order is by latest CORRECTNESS_r{N}.json row, never-checked
        names first."""
        root = os.path.dirname(os.path.abspath(entrymod.__file__))
        ages: dict[str, int] = {}
        for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
            n = int(re.search(r"_r(\d+)\.json$", path).group(1))
            with open(path) as f:
                for name in json.load(f):
                    ages[name] = max(ages.get(name, 0), n)
        order = [ages.get(name, 0) for name in entrymod.queries()]
        assert order == sorted(order)
        assert order[:50] == [0] * 50


class TestPlantedFastTwins:
    """The xxhash64 production hash paths against constructed ground
    truth: namespaced planted-twin corpus ⇒ output pair set is exactly
    the planted twins (identical text ⇒ all bands/blocks collide;
    disjoint token universes ⇒ no cross-doc candidate survives)."""

    def _expected(self, spark):
        base = (
            spark.read.parquet(f"{SF}/documents.parquet")
            .where(F.col("doc_id") < 40)
            .select("doc_id")
        )
        off = queries._PLANTED_TWIN_OFFSET
        return {(r["doc_id"], r["doc_id"] + off) for r in base.collect()}

    def test_minhash_fast_planted(self, spark):
        got = {
            (r["id_a"], r["id_b"])
            for r in queries.q_minhash_fast_planted(spark, SF).collect()
        }
        assert got == self._expected(spark)
        bands = queries.q_minhash_fast_planted(spark, SF).select(
            "n_bands_shared"
        ).distinct().collect()
        assert [r["n_bands_shared"] for r in bands] == [8]

    def test_simhash_fast_planted(self, spark):
        out = queries.q_simhash_fast_planted(spark, SF).collect()
        got = {(r["id_a"], r["id_b"]) for r in out}
        assert got == self._expected(spark)
        assert all(r["hamming"] == 0 for r in out)


class TestKnnJoinScaleShape:
    """knn_join must never re-join a broadcast DOC-cardinality id set:
    completeness is a window over topk, unresolved docs go through a
    plain (AQE-decided) anti-join.  At 10^12 docs a forced broadcast of
    per-doc ids is an OOM by construction (r3 verdict item 3)."""

    def _docs_pois(self, spark, n_pois=200):
        docs = queries._pts_from_key(
            spark.read.parquet(f"{SF}/orders.parquet"), "o_orderkey"
        )
        pois = spark.range(n_pois).select(
            F.col("id").alias("poi_id"),
            (F.pmod(F.col("id") * F.lit(37.77), F.lit(360.0)) - 180.0).alias("x"),
            (F.pmod(F.col("id") * F.lit(17.17), F.lit(170.0)) - 85.0).alias("y"),
        )
        return docs, pois

    def test_no_doc_side_broadcast_hint(self, spark):
        docs, pois = self._docs_pois(spark)
        out = knn.knn_join(docs, pois, k=3, strategy="cellring")
        lines = (
            out._jdf.queryExecution().analyzed().toString().splitlines()  # noqa: SLF001
        )
        hints = [i for i, l in enumerate(lines) if "ResolvedHint" in l]
        assert hints, "expected the poi-side broadcast hints to be present"
        # every broadcast hint must sit on a POI-derived subtree — the
        # child line projects poi columns.  A hint over a doc-id set
        # (the old complete_ids rejoin) would project doc_id alone.
        for i in hints:
            child = lines[i + 1]
            assert "poi_id" in child, child

    def test_schema_identical_across_strategies(self, spark):
        docs, pois = self._docs_pois(spark, n_pois=50)
        sub = docs.limit(20)
        a = knn.knn_join(sub, pois, k=2, strategy="brute")
        b = knn.knn_join(sub, pois, k=2, strategy="cellring")
        assert a.columns == b.columns
        ra = {(r["doc_id"], r["poi_id"], r["rank"]) for r in a.collect()}
        rb = {(r["doc_id"], r["poi_id"], r["rank"]) for r in b.collect()}
        assert ra == rb

    def test_strategy_validated(self, spark):
        docs, pois = self._docs_pois(spark, n_pois=10)
        with pytest.raises(ValueError, match="strategy"):
            knn.knn_join(docs, pois, strategy="broadcst")
