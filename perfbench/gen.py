"""Seeded input generator for the benchmark (numpy + pyarrow, no Spark session).

Writes the two tables the engine receives:

* ``documents`` — the FIXTURES §1.1 / BASELINE ``input_hint`` shape:
  ``doc_id: string, spans: array<struct<kind, text, media_ref: string,
  offset: int>>``, 2–8 spans per doc interleaving text and media, exactly
  one ``kind='geo'`` span whose text is ``POINT (lon lat)``.  A share of
  the docs sits on a few hot spots; the rest is uniform in the Vancouver
  box.
* ``zones`` — FIXTURES §1.2: ``zone_id, crs, exterior, interiors``.

Every value is a function of ``--seed`` alone.  The generator also returns
the exact lon/lat of every doc so the output checks can recompute answers
with plain arithmetic, independently of the engine.

Standalone use, with the repo root on ``PYTHONPATH`` (prints the spec as
JSON)::

    PYTHONPATH=. python3 perfbench/gen.py --workload skew_refine --seed 7 --out inputs
"""

from __future__ import annotations

import argparse
import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from geomatics_geotk_spark.sources.documents import _WORDS, BOX, HOT_CENTERS, zones_table

WORDS = pa.array(_WORDS)
CELL_RES = 12  # the engine's default tile resolution; hot spots sit mid-cell
FILES = 8  # parquet files per documents table, so every core gets scan splits


@dataclass(frozen=True)
class Spec:
    """Input shape of one workload; written into every result."""
    docs: int
    hot_share: float
    hot_cells: int
    zones: int


SPECS = {
    "flagship_pip": Spec(docs=400_000, hot_share=0.2, hot_cells=3, zones=66),
    "skew_refine": Spec(docs=40_000, hot_share=0.4, hot_cells=3, zones=128),
}


@dataclass
class Inputs:
    docs_path: str
    zones_path: str
    lon: np.ndarray
    lat: np.ndarray
    zone_ids: list[str]
    zone_rings: list[list[np.ndarray]]  # lon/lat rings per zone
    rect: np.ndarray | None  # (Z, 4) xmin ymin xmax ymax when all zones are rectangles


def _mid_cell(lon: float, lat: float, res: int = CELL_RES) -> tuple[float, float]:
    """Centre of the res-``res`` Z-order cell holding (lon, lat)."""
    nx, ny = 2 ** (res + 1), 2 ** res
    wx, wy = 360.0 / nx, 180.0 / ny
    return ((np.floor((lon + 180.0) / wx) + 0.5) * wx - 180.0,
            (np.floor((lat + 90.0) / wy) + 0.5) * wy - 90.0)


def _points(rng: np.random.Generator, spec: Spec, centres, jitter: float):
    n = spec.docs
    hot = rng.random(n) < spec.hot_share
    pick = rng.integers(0, len(centres), n)
    c = np.asarray(centres)
    lon = np.where(hot, c[pick, 0] + (rng.random(n) - 0.5) * 2 * jitter,
                   BOX[0] + rng.random(n) * (BOX[2] - BOX[0]))
    lat = np.where(hot, c[pick, 1] + (rng.random(n) - 0.5) * 2 * jitter,
                   BOX[1] + rng.random(n) * (BOX[3] - BOX[1]))
    # 9 decimals, as the engine's own generator writes them
    return np.round(lon, 9), np.round(lat, 9)


def _documents(rng: np.random.Generator, lon: np.ndarray, lat: np.ndarray) -> pa.Table:
    n = len(lon)
    n_other = rng.integers(1, 8, n)              # 1..7 other spans → 2..8 in all
    geo_pos = rng.integers(0, n_other + 1)       # geo span position 0..n_other
    per_doc = n_other + 1
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(per_doc, out=offsets[1:])
    doc = np.repeat(np.arange(n), per_doc)
    k = np.arange(offsets[-1]) - offsets[doc]
    is_geo = k == geo_pos[doc]
    other_i = k - (k > geo_pos[doc])
    is_text = ~is_geo & (other_i % 2 == 0)
    is_media = ~is_geo & ~is_text

    lon_s = pc.cast(pa.array(lon), pa.string())
    lat_s = pc.cast(pa.array(lat), pa.string())
    wkt = pc.binary_join_element_wise("POINT (", lon_s, " ", lat_s, ")", "")
    words = [pc.take(WORDS, rng.integers(0, len(WORDS), len(doc))) for _ in range(3)]
    prose = pc.binary_join_element_wise(*words, " ")
    geo_at = np.cumsum(is_geo) - 1               # doc index of each geo span
    text = pc.if_else(pa.array(is_geo), pc.take(wkt, pa.array(np.clip(geo_at, 0, n - 1))),
                      pc.if_else(pa.array(is_text), prose, ""))
    media = pc.binary_join_element_wise(
        "media://blob/", pc.cast(pa.array(doc), pa.string()), "/",
        pc.cast(pa.array(other_i), pa.string()), "")
    media_ref = pc.if_else(pa.array(is_media), media, "")
    kind = pc.take(pa.array(["geo", "text", "media"]),
                   np.where(is_geo, 0, np.where(is_text, 1, 2)))
    spans = pa.StructArray.from_arrays(
        [kind, text, media_ref, pa.array((k * 10).astype(np.int32))],
        names=["kind", "text", "media_ref", "offset"],
    )
    doc_id = pc.binary_join_element_wise(
        "doc-", pc.utf8_lpad(pc.cast(pa.array(np.arange(n)), pa.string()), 12, "0"), "")
    return pa.table({"doc_id": doc_id,
                     "spans": pa.ListArray.from_arrays(pa.array(offsets), spans)})


def _ring_struct(ring) -> list[dict]:
    return [{"x": float(x), "y": float(y)} for x, y in ring]


def _rect_ring(x0, y0, x1, y1) -> np.ndarray:
    return np.array([(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)])


class _RowCapture:
    """Stands in for the SparkSession ``zones_table`` is given: it returns
    the rows instead of a DataFrame, so the fixture zones come from the
    engine's own definition without starting Spark."""

    @staticmethod
    def createDataFrame(rows, schema):  # noqa: N802 - SparkSession's name
        return rows


def _grid_zones():
    """The engine's ``zones_table(grid=8)``: the two fixture polygons plus
    the 64 grid rectangles.  EPSG:4326 rings are lat/lon, CRS:84 lon/lat."""
    rows, rings = [], []
    for zid, crs, ring, _ in zones_table(_RowCapture(), grid=8):
        xy = np.array(ring, dtype=float)
        rows.append((zid, crs, ring))
        rings.append([xy[:, ::-1] if crs == "EPSG:4326" else xy])
    return rows, rings, None


def _rect_zones(rng: np.random.Generator, n: int, centres):
    """``n`` axis-aligned rectangles.  Four fixed ones overlap each hot
    spot partly (so hot cells carry candidates that need the refine);
    the rest, all the same size, lie at seeded positions in the box, so
    the join's work depends little on the seed."""
    hw, hh = 0.008, 0.008
    hot = [(cx + dx, cy + dy) for cx, cy in centres
           for dx, dy in ((-0.006, -0.006), (0.006, -0.006), (-0.006, 0.006), (0.006, 0.006))]
    m = n - len(hot)
    cx = np.concatenate([[h[0] for h in hot], BOX[0] + 0.02 + rng.random(m) * 0.96])
    cy = np.concatenate([[h[1] for h in hot], BOX[1] + 0.02 + rng.random(m) * 0.96])
    rect = np.round(np.stack([cx - hw, cy - hh, cx + hw, cy + hh], axis=1), 6)
    rows, rings = [], []
    for z, (x0, y0, x1, y1) in enumerate(rect):
        ring = _rect_ring(x0, y0, x1, y1)
        rows.append((f"zone-rect-{z:04d}", "CRS:84", ring))
        rings.append([ring])
    return rows, rings, rect


def generate(workload: str, seed: int, out_dir: str) -> tuple[Spec, Inputs]:
    spec = SPECS[workload]
    rng = np.random.default_rng([seed, list(SPECS).index(workload)])
    if workload == "skew_refine":
        centres = [_mid_cell(lon, lat) for lon, lat in HOT_CENTERS]
        lon, lat = _points(rng, spec, centres, jitter=0.01)
        rows, rings, rect = _rect_zones(rng, spec.zones, centres)
    else:
        lon, lat = _points(rng, spec, HOT_CENTERS, jitter=0.005)
        rows, rings, rect = _grid_zones()
    assert len(rows) == spec.zones

    os.makedirs(out_dir, exist_ok=True)
    docs_path = os.path.join(out_dir, "documents")
    table = _documents(rng, lon, lat)
    os.makedirs(docs_path, exist_ok=True)
    step = -(-table.num_rows // FILES)
    for f in range(FILES):
        pq.write_table(table.slice(f * step, step),
                       os.path.join(docs_path, f"part-{f:03d}.parquet"))

    zones_path = os.path.join(out_dir, "zones.parquet")
    pt = pa.struct([("x", pa.float64()), ("y", pa.float64())])
    pq.write_table(pa.table({
        "zone_id": [r[0] for r in rows],
        "crs": [r[1] for r in rows],
        "exterior": pa.array([_ring_struct(r[2]) for r in rows], pa.list_(pt)),
        "interiors": pa.array([[] for _ in rows], pa.list_(pa.list_(pt))),
    }), zones_path)
    return spec, Inputs(docs_path, zones_path, lon, lat, [r[0] for r in rows], rings, rect)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(SPECS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    spec, _ = generate(a.workload, a.seed, a.out)
    print(json.dumps(asdict(spec)))


if __name__ == "__main__":
    main()
