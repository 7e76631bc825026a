"""Single-thread ``kernels`` / ``cells`` microbenchmark (no Spark).

Each kernel runs on seeded inputs a few times; the rate reported is the
median over repeats.  Run standalone with::

    python3 perfbench/micro.py --seed 1
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

import numpy as np

REPEATS = 5


def _rate(tracer, name: str, fn, work: float) -> float:
    """Median of ``work / seconds`` over ``REPEATS`` calls of ``fn``."""
    rates = []
    for _ in range(REPEATS):
        with tracer.span(name):
            t0 = time.perf_counter()
            fn()
            rates.append(work / (time.perf_counter() - t0))
    return statistics.median(rates)


def _gml_polygon(ring: np.ndarray) -> str:
    pos = " ".join(f"{y} {x}" for x, y in ring)
    return ('<gml:Polygon xmlns:gml="http://www.opengis.net/gml/3.2" '
            'srsName="urn:ogc:def:crs:EPSG::4326"><gml:exterior><gml:LinearRing>'
            f"<gml:posList>{pos}</gml:posList></gml:LinearRing></gml:exterior></gml:Polygon>")


def run(seed: int, tracer) -> dict[str, float]:
    from geomatics_geotk_spark import cells
    from geomatics_geotk_spark.kernels import geodesic, geometry_batch, gml
    from geomatics_geotk_spark.kernels import geometry as geom_k

    rng = np.random.default_rng([seed, 99])
    n_pts, n_pairs = 400_000, 40_000
    lon = -123.5 + rng.random(n_pts)
    lat = 49.0 + rng.random(n_pts)
    # a 24-vertex star polygon inside the box
    ang = np.linspace(0, 2 * np.pi, 25)
    rad = np.where(np.arange(25) % 2 == 0, 0.45, 0.2)
    ring = np.stack([-123.0 + rad * np.cos(ang), 49.5 + rad * np.sin(ang)], axis=1)
    ring[-1] = ring[0]
    rings = [ring]
    # short line strings for the batch predicate
    n_lines = 4_000
    starts = np.stack([lon[:n_lines], lat[:n_lines]], axis=1)
    lines = [[np.stack([s, s + rng.uniform(-0.05, 0.05, 2)])] for s in starts]
    docs = [_gml_polygon(ring + rng.uniform(-0.01, 0.01, 2)) for _ in range(500)]
    envs = np.stack([lon[:200], lat[:200]], axis=1)

    def gml_flatten():
        for d in docs:
            gml.geometry_coordinate_list(gml.parse(d))

    def covering():
        for x, y in envs:
            cells.cells_covering(x, y, x + 0.5, y + 0.5, 12)

    n_cov = sum(len(cells.cells_covering(x, y, x + 0.5, y + 0.5, 12)) for x, y in envs)
    return {
        "kernels.points_in_polygon.mpts_per_s": _rate(
            tracer, "kernels.points_in_polygon",
            lambda: geom_k.points_in_polygon(lon, lat, rings), n_pts / 1e6),
        "kernels.geodesic_inverse.mpairs_per_s": _rate(
            tracer, "kernels.geodesic_inverse",
            lambda: geodesic.inverse(lat[:n_pairs], lon[:n_pairs],
                                     lat[n_pairs:2 * n_pairs], lon[n_pairs:2 * n_pairs]),
            n_pairs / 1e6),
        "kernels.batch_predicate.kgeoms_per_s": _rate(
            tracer, "kernels.batch_predicate",
            lambda: geometry_batch.batch_predicate("intersects", "linestring", lines, rings),
            n_lines / 1e3),
        "kernels.gml_flatten.kdocs_per_s": _rate(
            tracer, "kernels.gml_flatten", gml_flatten, len(docs) / 1e3),
        "cells.cell_of.mpts_per_s": _rate(
            tracer, "cells.cell_of", lambda: cells.cell_of(lon, lat, 12), n_pts / 1e6),
        "cells.cells_covering.mcells_per_s": _rate(
            tracer, "cells.cells_covering", covering, n_cov / 1e6),
    }


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from spans import Tracer  # noqa: E402

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    print(json.dumps(run(a.seed, Tracer("micro", False))))


if __name__ == "__main__":
    main()
