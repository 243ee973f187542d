"""Spark-free replays of the numpy kernels on a workload's own inputs:
cell math, coverer, geography codec, predicates, and the worker-side
decode/parts caches. Timings are medians per item on one core."""

from __future__ import annotations

import time

import numpy as np

#: per-item sample caps, so a traced run's replays stay within seconds
MAX_POINTS = 100_000
MAX_GEOGS = 16
MAX_PAIRS = 400
REPS = 5

def _per_item(fn, items, unit: float) -> float:
    """Median wall of fn(item) over items, in ``unit`` seconds."""
    ts = []
    for it in items:
        t0 = time.perf_counter_ns()
        fn(it)
        ts.append(time.perf_counter_ns() - t0)
    return float(np.median(ts)) * 1e-9 / unit


def _vectorized(fn, n: int) -> float:
    """Median over REPS of one whole-array call, in ns per element."""
    ts = []
    for _ in range(REPS):
        t0 = time.perf_counter_ns()
        fn()
        ts.append(time.perf_counter_ns() - t0)
    return float(np.median(ts)) / max(n, 1)


def cache_hit_ratios(stream) -> dict:
    """Replay a stream of encoded geographies through the worker-side
    decode cache and, separately, the parts cache (each cleared first),
    and read their own hit/miss counters."""
    from duckdb_geography_spark.functions import geoudfs

    out = {}
    for key, cache in (("geoudfs.decode_hit_ratio", geoudfs.decode_cached),
                       ("geoudfs.parts_hit_ratio", geoudfs.parts_cached)):
        geoudfs.decode_cached.cache_clear()
        geoudfs.parts_cached.cache_clear()
        for buf in stream:
            cache(buf)
        total = cache.hits + cache.misses
        out[key] = cache.hits / total if total else 0.0
    geoudfs.decode_cached.cache_clear()
    geoudfs.parts_cached.cache_clear()
    return out


def replay(points: np.ndarray, polygon_wkts, other_wkts, seed: int, level: int = 8) -> dict:
    """Kernel timings on a workload's points (n,2 lon/lat), polygons
    and other geographies (WKT)."""
    from duckdb_geography_spark.geo import ops
    from duckdb_geography_spark.geo.geography import Geography, from_wkt
    from duckdb_geography_spark.s2 import cellmath as cm
    from duckdb_geography_spark.s2.coverer import covering_of_geography

    rng = np.random.default_rng(seed % 2**32)
    pts = points[:MAX_POINTS]
    ids = cm.lonlat_to_cellid(pts[:, 0], pts[:, 1])
    lev = np.full(len(ids), level)
    out = {
        "s2.cellmath.lonlat_to_cellid_ns": _vectorized(lambda: cm.lonlat_to_cellid(pts[:, 0], pts[:, 1]), len(pts)),
        "s2.cellmath.parent_ns": _vectorized(lambda: cm.parent(ids, lev), len(ids)),
    }
    polys = list(polygon_wkts)[:MAX_GEOGS]
    geogs = (polys + list(other_wkts))[: 2 * MAX_GEOGS]
    # fresh objects per measurement: covering_of_geography memoizes on
    # the Geography instance
    out["s2.coverer.adaptive_ms"] = _per_item(lambda w: covering_of_geography(from_wkt(w)), polys, 1e-3) \
        - _per_item(from_wkt, polys, 1e-3)
    out["s2.coverer.fixed_level_ms"] = _per_item(
        lambda g: covering_of_geography(g, fixed_level=level), [from_wkt(w) for w in polys], 1e-3)
    out["geo.geography.from_wkt_us"] = _per_item(from_wkt, geogs, 1e-6)
    out["geo.geography.encode_us"] = _per_item(lambda g: g.encode(), [from_wkt(w) for w in geogs], 1e-6)
    bufs = [from_wkt(w).encode() for w in geogs]
    out["geo.geography.decode_us"] = _per_item(Geography.decode, bufs, 1e-6)
    out["geo.geography.to_wkt_us"] = _per_item(lambda g: g.to_wkt(), [Geography.decode(b) for b in bufs], 1e-6)
    poly_g = [Geography.decode(b) for b in bufs[: len(polys)]]
    pick = rng.integers(0, len(pts), MAX_PAIRS)
    pairs = [(Geography.point(float(pts[i, 0]), float(pts[i, 1])), poly_g[k % len(poly_g)])
             for k, i in enumerate(pick)]
    out["geo.ops.intersects_us"] = _per_item(lambda p: ops.intersects(*p), pairs, 1e-6)
    out["geo.ops.distance_us"] = _per_item(lambda p: ops.distance(*p), pairs, 1e-6)
    out["geo.ops.area_us"] = _per_item(ops.area, poly_g, 1e-6)
    return out
