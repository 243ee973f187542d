"""Seeded geography inputs and the Spark-free geometric reference the
geography workloads check their outputs against."""

from __future__ import annotations

import numpy as np

DEG = np.pi / 180.0


def to_xyz(lon, lat) -> np.ndarray:
    lon, lat = np.asarray(lon, dtype=np.float64) * DEG, np.asarray(lat, dtype=np.float64) * DEG
    c = np.cos(lat)
    return np.stack([c * np.cos(lon), c * np.sin(lon), np.sin(lat)], axis=-1)


def destination(lon0, lat0, bearing, dist):
    """Point reached from (lon0, lat0) along ``bearing`` (rad) after
    angular distance ``dist`` (rad); lon wrapped to [-180, 180)."""
    p1, l1 = lat0 * DEG, lon0 * DEG
    p2 = np.arcsin(np.sin(p1) * np.cos(dist) + np.cos(p1) * np.sin(dist) * np.cos(bearing))
    l2 = l1 + np.arctan2(np.sin(bearing) * np.sin(dist) * np.cos(p1), np.cos(dist) - np.sin(p1) * np.sin(p2))
    lon = (np.degrees(l2) + 180.0) % 360.0 - 180.0
    return lon, np.degrees(p2)


def ring(lon0, lat0, radius_deg, nverts, rng) -> np.ndarray:
    """Star-shaped counter-clockwise ring (nverts, 2) around a center:
    bearings decrease (east of north is clockwise seen from outside)."""
    bearings = -np.sort(rng.uniform(0, 2 * np.pi, nverts))
    radii = radius_deg * DEG * rng.uniform(0.6, 1.0, nverts)
    lon, lat = destination(lon0, lat0, bearings, radii)
    return np.column_stack([lon, lat])


def polar_cap(north: bool, lat_abs: float, nverts: int) -> np.ndarray:
    """Ring of constant latitude enclosing a pole, counter-clockwise."""
    lons = np.linspace(-180.0, 180.0, nverts, endpoint=False)
    if not north:
        lons = lons[::-1]
    return np.column_stack([lons, np.full(nverts, lat_abs if north else -lat_abs)])


def fmt(v: float) -> str:
    return f"{v:.6f}"


def polygon_wkt(r: np.ndarray) -> str:
    pts = ", ".join(f"{fmt(x)} {fmt(y)}" for x, y in np.vstack([r, r[:1]]))
    return f"POLYGON (({pts}))"


def linestring_wkt(r: np.ndarray) -> str:
    return "LINESTRING (" + ", ".join(f"{fmt(x)} {fmt(y)}" for x, y in r) + ")"


def point_wkt(lon: float, lat: float) -> str:
    return f"POINT ({fmt(lon)} {fmt(lat)})"


def parse_ring(wkt_text: str) -> np.ndarray:
    """Vertices (without the closing one) of a one-ring POLYGON WKT as
    written by polygon_wkt."""
    body = wkt_text[wkt_text.index("((") + 2: wkt_text.rindex("))")]
    v = np.array([[float(a) for a in p.split()] for p in body.split(",")])
    return v[:-1]


def points_in_ring(P: np.ndarray, ring_lonlat: np.ndarray) -> np.ndarray:
    """Exact (up to rounding) containment of unit vectors P (n,3) in a
    spherical polygon smaller than a hemisphere whose edges are
    geodesics: gnomonic projection about the ring's centroid maps
    geodesics to straight lines, so a planar even-odd test decides."""
    V = to_xyz(ring_lonlat[:, 0], ring_lonlat[:, 1])
    c = V.sum(axis=0)
    c /= np.linalg.norm(c)
    e1 = np.cross(c, [0.0, 0.0, 1.0] if abs(c[2]) < 0.9 else [1.0, 0.0, 0.0])
    e1 /= np.linalg.norm(e1)
    e2 = np.cross(c, e1)
    out = np.zeros(len(P), dtype=bool)
    front = P @ c > 1e-9
    if not front.any():
        return out
    Q = P[front]
    qd = Q @ c
    qx, qy = (Q @ e1) / qd, (Q @ e2) / qd
    vd = V @ c
    vx, vy = (V @ e1) / vd, (V @ e2) / vd
    inside = np.zeros(len(Q), dtype=bool)
    n = len(V)
    for i in range(n):
        x1, y1, x2, y2 = vx[i], vy[i], vx[(i + 1) % n], vy[(i + 1) % n]
        crosses = (y1 > qy) != (y2 > qy)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1 + (qy - y1) * (x2 - x1) / (y2 - y1)
        inside ^= crosses & (qx < xint)
    out[front] = inside
    return out


def cap_of(ring_lonlat: np.ndarray):
    """(center unit vector, cos of angular radius) bounding the ring."""
    V = to_xyz(ring_lonlat[:, 0], ring_lonlat[:, 1])
    c = V.sum(axis=0)
    c /= np.linalg.norm(c)
    return c, float(np.min(V @ c))
