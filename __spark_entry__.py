"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship interleaved-document spatial pipeline
on sf0.001; ``queries()``/``oracle_sql()`` project
``geomatics_geotk_spark.queries.CATALOG``: every implemented operator
from SURVEY.md §2 (plus the training-data operators), each with its
DuckDB oracle.
"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from geomatics_geotk_spark import queries as _q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: interleaved docs (text+media+geo spans) → decode geo span
    → Z-order tile assignment → broadcast point-in-polygon join against
    fixture + grid zones → (doc_id, zone_id, cell_id) with the span
    sequence carried through untouched (span-sequence invariant)."""
    from pyspark.sql import functions as F

    from geomatics_geotk_spark.operators import spatial_join
    from geomatics_geotk_spark.sources.documents import zones_table

    sf_dir = "/root/testdata/sf0.001"
    inter = _q.build_interleaved(spark, sf_dir)
    decoded = spatial_join.decode_geo_spans(inter)
    tiled = spatial_join.tile_assign(decoded, _q.RES)
    joined = spatial_join.spatial_join(
        tiled, zones_table(spark, grid=8), res=_q.RES, strategy="broadcast"
    )
    return joined.select(
        "doc_id", "zone_id", "cell_id", F.to_json("spans").alias("spans_json")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every catalog query, oldest correctness record first.

    A name's age is the highest N whose ``CORRECTNESS_r{N}.json`` (next
    to this file) has a row for it, 0 if none does.  The sort is stable,
    so ties keep catalog order; a correctness pass that stops after the
    first few dozen entries rechecks the stalest queries."""
    ages: dict[str, int] = {}
    for path in glob.glob(os.path.join(_HERE, "CORRECTNESS_r*.json")):
        n = int(os.path.basename(path)[len("CORRECTNESS_r"):-len(".json")])
        with open(path) as f:
            for name in json.load(f):
                ages[name] = max(ages.get(name, 0), n)
    names = sorted(_q.CATALOG, key=lambda name: ages.get(name, 0))
    return {name: _q.CATALOG[name][0] for name in names}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _q.CATALOG.items()}
