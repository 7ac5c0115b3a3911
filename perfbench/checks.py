"""Independent references the benchmark checks the engine's outputs
against. None of them calls the engine's geometry or assignment code:
each re-derives the answer from the zone rows with plain numpy.

Every check returns ``(attempted, failed)``; ``ok_frac`` is
``1 - failed / attempted`` summed over a run's checks.
"""

from __future__ import annotations

import glob
import json

import numpy as np

from cosmospark.ztypes import TYPE_RANK


def _argmin_zone(cands: list[tuple[int, float, int]]) -> int:
    """Smallest (type rank, area, id) among the covering zones, -1 if none."""
    return min(cands)[2] if cands else -1


def rect_reference(zone_rows: list[dict], lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """Rectangle PIP + (rank, area, id) argmin: the relational form of the
    assignment over rectangle-only zones (boundaries inclusive)."""
    out = np.full(len(lon), -1, dtype=np.int64)
    for i, (x, y) in enumerate(zip(lon.tolist(), lat.tolist())):
        cands = []
        for z in zone_rows:
            b = z["bbox"]
            if b["minx"] <= x <= b["maxx"] and b["miny"] <= y <= b["maxy"]:
                area = (b["maxx"] - b["minx"]) * (b["maxy"] - b["miny"])
                cands.append((TYPE_RANK.get(z["zone_type"], len(TYPE_RANK)), area, int(z["id"])))
        out[i] = _argmin_zone(cands)
    return out


def _rings(z: dict) -> list[tuple[np.ndarray, np.ndarray]]:
    return [(np.asarray(r["xs"], float), np.asarray(r["ys"], float)) for r in z["rings"] or []]


def _ray_cast(x: float, y: float, rings) -> bool:
    """Brute-force even-odd crossing count over every edge of every ring."""
    inside = False
    for xs, ys in rings:
        x0, y0 = xs, ys
        x1, y1 = np.roll(xs, -1), np.roll(ys, -1)
        straddle = (y0 > y) != (y1 > y)
        with np.errstate(divide="ignore", invalid="ignore"):
            xc = x0 + (y - y0) * (x1 - x0) / (y1 - y0)
        inside ^= bool(np.count_nonzero(straddle & (x < xc)) % 2)
    return inside


def _shoelace(rings) -> float:
    a = 0.0
    for xs, ys in rings:
        a += 0.5 * (np.dot(xs, np.roll(ys, -1)) - np.dot(ys, np.roll(xs, -1)))
    return abs(a)


def raycast_reference(zone_rows: list[dict], lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """Even-odd ray cast against every zone's rings + (rank, area, id)
    argmin, for zones of any shape."""
    zs = []
    for z in zone_rows:
        rings = _rings(z)
        if rings:
            b = z["bbox"]
            zs.append(
                (
                    (b["minx"], b["miny"], b["maxx"], b["maxy"]),
                    rings,
                    TYPE_RANK.get(z["zone_type"], len(TYPE_RANK)),
                    _shoelace(rings),
                    int(z["id"]),
                )
            )
    out = np.full(len(lon), -1, dtype=np.int64)
    for i, (x, y) in enumerate(zip(lon.tolist(), lat.tolist())):
        cands = [
            (rank, area, zid)
            for (x0, y0, x1, y1), rings, rank, area, zid in zs
            if x0 <= x <= x1 and y0 <= y <= y1 and _ray_cast(x, y, rings)
        ]
        out[i] = _argmin_zone(cands)
    return out


def compare(got: dict[int, int], want: dict[int, int]) -> tuple[int, int]:
    """pid → zone_id maps; a pid missing from ``got`` counts as failed."""
    return len(want), sum(1 for p, z in want.items() if got.get(p) != z)


def equal(got, want) -> tuple[int, int]:
    return 1, int(got != want)


# golden Luxembourg structure (the zone build's reference counts)
LUX_ZONES = 198
LUX_LEVELS = {2: 1, 6: 13, 8: 105, 9: 79}


def zone_jsonl(path: str) -> tuple[tuple[int, int], dict]:
    """Check a written JSONL zone table against the golden lux counts:
    198 zones, the per-level counts, and a parent on every non-country
    zone that names a zone of the table. → ((attempted, failed), info)."""
    zones = []
    for f in sorted(glob.glob(f"{path}/part-*")):
        with open(f, encoding="utf-8") as fh:
            zones += [json.loads(line) for line in fh if line.strip()]
    ids = {z["id"] for z in zones}
    levels: dict[int, int] = {}
    for z in zones:
        levels[z.get("admin_level")] = levels.get(z.get("admin_level"), 0) + 1
    orphans = [
        z["id"] for z in zones
        if z.get("zone_type") != "country" and z.get("parent") not in ids
    ]
    checks = [
        equal(len(zones), LUX_ZONES),
        equal(levels, LUX_LEVELS),
        (max(len(zones) - levels.get(2, 0), 1), len(orphans)),
    ]
    att = sum(a for a, _ in checks)
    bad = sum(f for _, f in checks)
    return (att, bad), {"zones": len(zones), "levels": levels, "orphans": len(orphans)}
