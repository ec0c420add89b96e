"""Output checks written independently of the program's own geometry code:
closed-form edges and merges from world.py, a brute-force numpy
crossing-number point-in-polygon, and exact shingle Jaccard in Python."""

from __future__ import annotations

import hashlib
import json

import numpy as np

ROOT = "-1"


def digest(rows) -> str:
    """Order-independent digest of an output's rows."""
    lines = sorted(json.dumps(r, sort_keys=True, default=str) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


class World:
    """Driver-side copy of the generated areas and their expectations."""

    def __init__(self, rows):
        self.rows = rows
        canon = {r.idx: r.canonical_osm_id for r in rows}
        self.edges = {(canon.get(r.parent_idx, ROOT), r.canonical_osm_id)
                      for r in rows}
        self.merged = {tuple(r.osm_ids) for r in rows}
        nv = max(len(r.ring) for r in rows)
        # rings padded by repeating their last vertex: a zero-length edge
        # never toggles the crossing count
        self.lat = np.array([[p.lat for p in r.ring]
                             + [r.ring[-1].lat] * (nv - len(r.ring))
                             for r in rows])
        self.lon = np.array([[p.lon for p in r.ring]
                             + [r.ring[-1].lon] * (nv - len(r.ring))
                             for r in rows])
        self.size = ((self.lat.max(1) - self.lat.min(1))
                     * (self.lon.max(1) - self.lon.min(1)))
        self.ids = np.array([r.canonical_osm_id for r in rows])

    def containing(self, lat: float, lon: float) -> np.ndarray:
        """Mask of areas whose ring contains (lat, lon): a ray along +lon
        crosses an odd number of edges."""
        y0, x0 = self.lat, self.lon
        y1, x1 = np.roll(self.lat, -1, 1), np.roll(self.lon, -1, 1)
        straddles = (y0 > lat) != (y1 > lat)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_cross = x0 + (lat - y0) * (x1 - x0) / (y1 - y0)
        crossings = (straddles & (lon < x_cross)).sum(1)
        return crossings % 2 == 1

    def path(self, lat: float, lon: float) -> list[str]:
        """Root-first path: nesting is a tree, so the containing areas
        ordered by decreasing size."""
        hit = np.flatnonzero(self.containing(lat, lon))
        return list(self.ids[hit[np.argsort(-self.size[hit])]])


def shingle_set(text: str, k: int = 3) -> set[str]:
    words = text.lower().split()
    return {" ".join(words[i:i + k]) for i in range(len(words) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    return len(sa & sb) / len(sa | sb)
