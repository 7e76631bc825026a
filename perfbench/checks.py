"""Untimed output checks: answers recomputed from the generator's own
coordinates with bounds arithmetic and the single-pair kernels, never
with the Spark path under test."""

from __future__ import annotations

import numpy as np

DWITHIN_M = 300.0
_EDGE = 1e-9  # degrees; a point this close to a rectangle edge may go either way
_DIST_TOL = 1e-3  # metres


def sample(n_docs: int, seed: int, k: int = 400) -> np.ndarray:
    rng = np.random.default_rng([seed, 7])
    return np.sort(rng.choice(n_docs, size=min(k, n_docs), replace=False))


def doc_id(i: int) -> str:
    return f"doc-{i:012d}"


def _zone_hits(inputs, px: np.ndarray, py: np.ndarray):
    """Per zone: (zone id, points inside by ``points_in_polygon``, points
    on a rectangle edge that may go either way).  Where a zone is a
    rectangle, bounds arithmetic must agree."""
    from geomatics_geotk_spark.kernels.geometry import points_in_polygon

    for zid, rings in zip(inputs.zone_ids, inputs.zone_rings):
        inside = points_in_polygon(px, py, rings)
        near = np.zeros(len(px), dtype=bool)
        ext = rings[0]
        if len(ext) == 5 and len(set(ext[:4, 0])) == 2 and len(set(ext[:4, 1])) == 2:
            x0, y0 = ext[:, 0].min(), ext[:, 1].min()
            x1, y1 = ext[:, 0].max(), ext[:, 1].max()
            near = (np.minimum.reduce([abs(px - x0), abs(px - x1), abs(py - y0), abs(py - y1)])
                    < _EDGE)
            strict = (px > x0) & (px < x1) & (py > y0) & (py < y1)
            if np.any((strict != inside) & ~near):
                raise AssertionError(f"points_in_polygon disagrees with bounds on {zid}")
        yield zid, inside, near


def expected_pip(inputs, idx: np.ndarray) -> tuple[dict[str, set[str]], set[tuple[str, str]]]:
    """Zones containing each sampled doc, and the (doc, zone) pairs that
    lie on a rectangle edge and may go either way."""
    want: dict[str, set[str]] = {doc_id(i): set() for i in idx}
    loose: set[tuple[str, str]] = set()
    for zid, inside, near in _zone_hits(inputs, inputs.lon[idx], inputs.lat[idx]):
        for i in idx[near]:
            loose.add((doc_id(i), zid))
        for i in idx[inside]:
            want[doc_id(i)].add(zid)
    return want, loose


def expected_rows(inputs) -> tuple[int, int]:
    """Fewest and most PIP join rows over the whole input (edge points
    may go either way)."""
    lo = hi = 0
    for _, inside, near in _zone_hits(inputs, inputs.lon, inputs.lat):
        lo += int(np.count_nonzero(inside & ~near))
        hi += int(np.count_nonzero(inside | near))
    return lo, hi


def compare_pairs(got: list[tuple[str, str]], want: dict[str, set[str]],
                  loose: set[tuple[str, str]], what: str) -> list[str]:
    have: dict[str, set[str]] = {d: set() for d in want}
    for d, z in got:
        if d not in have:
            return [f"{what}: row for unsampled doc {d}"]
        have[d].add(z)
    errs = []
    for d, zs in want.items():
        diff = {(d, z) for z in zs ^ have[d]} - loose
        if diff:
            errs.append(f"{what}: {d} expected {sorted(zs)} got {sorted(have[d])}")
    return errs[:5]


def check_dwithin(got: list[tuple[str, str, float]], inputs, idx: np.ndarray) -> list[str]:
    """DWithin against rectangle zones: distance 0 inside, otherwise the
    Vincenty inverse to the clamped (nearest planar) boundary point."""
    from geomatics_geotk_spark.kernels.geodesic import inverse

    rect = inputs.rect
    errs: list[str] = []
    have = {(d, z): dist for d, z, dist in got}
    seen_docs = {doc_id(i) for i in idx}
    if any(d not in seen_docs for d, _ in have):
        return ["dwithin: row for an unsampled doc"]
    for i in idx:
        px, py = inputs.lon[i], inputs.lat[i]
        wx = np.clip(px, rect[:, 0], rect[:, 2])
        wy = np.clip(py, rect[:, 1], rect[:, 3])
        inside = (wx == px) & (wy == py)
        dist = np.where(inside, 0.0,
                        inverse(np.full(len(rect), py), np.full(len(rect), px), wy, wx))
        for z in np.nonzero(dist < DWITHIN_M + _DIST_TOL)[0]:
            key = (doc_id(i), inputs.zone_ids[z])
            if key not in have:
                if dist[z] < DWITHIN_M - _DIST_TOL:
                    errs.append(f"dwithin: missing {key} at {dist[z]:.3f} m")
            elif abs(have.pop(key) - dist[z]) > _DIST_TOL:
                errs.append(f"dwithin: {key} distance differs from {dist[z]:.3f} m")
    errs += [f"dwithin: unexpected {k} at {v:.3f} m" for k, v in have.items()
             if v < DWITHIN_M - _DIST_TOL]
    return errs[:5]
