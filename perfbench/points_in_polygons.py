"""points_in_polygons: seeded lon/lat points joined to seeded polygons.

The join is ``s2_cellfromlonlat`` then ``joins.cell_containment_join``
with exact refine, ending in a per-polygon count. The work is in
``s2.cellmath``, the Arrow UDF boundary and the JVM join; the polygon
side is small enough to stay inside the worker decode/parts and
covering caches, so codec and coverer do little after the first query.
Outputs are checked against a Spark-free reference: leaf-cell centers
from ``s2.cellmath`` tested against each polygon by gnomonic
projection (geogen.points_in_ring).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import geogen as G
from . import harness as H
from . import kernels

N_POLYGONS = 60
#: points per query; each query reads the next of N_BATCHES batches,
#: each batch split in SPLITS files so the scan runs on every core
N_POINTS = 40_000
N_BATCHES = 4
SPLITS = 4
CLUSTERED = 0.15
LEVEL = 8
GEN_REPS = 3


def make_polygons(rng) -> list:
    """(poly_id, ring) pairs: small star polygons anywhere, some
    straddling the antimeridian, plus one cap around each pole."""
    out = []
    for pid in range(N_POLYGONS - 2):
        if pid % 10 == 0:  # antimeridian straddlers
            lon0 = 180.0 - rng.uniform(-1.0, 1.0)
        else:
            lon0 = rng.uniform(-180.0, 180.0)
        lat0 = np.degrees(np.arcsin(rng.uniform(-0.97, 0.97)))
        out.append((pid, G.ring(lon0, lat0, rng.uniform(0.5, 3.0), int(rng.integers(5, 12)), rng)))
    out.append((N_POLYGONS - 2, G.polar_cap(True, 84.0, 12)))
    out.append((N_POLYGONS - 1, G.polar_cap(False, 84.0, 12)))
    return out


def make_points(rng, polygons, n: int) -> np.ndarray:
    """Uniform points on the sphere plus clusters around polygon
    vertices' centroids."""
    nc = int(n * CLUSTERED)
    z = rng.uniform(-1.0, 1.0, n - nc)
    lon_u = rng.uniform(-180.0, 180.0, n - nc)
    lat_u = np.degrees(np.arcsin(z))
    centers = np.array([G.cap_of(r)[0] for _, r in polygons])
    pick = centers[rng.integers(0, len(centers), nc)]
    jitter = pick + rng.normal(0.0, 0.02, (nc, 3))
    jitter /= np.linalg.norm(jitter, axis=1, keepdims=True)
    lon_c = np.degrees(np.arctan2(jitter[:, 1], jitter[:, 0]))
    lat_c = np.degrees(np.arcsin(np.clip(jitter[:, 2], -1.0, 1.0)))
    return np.column_stack([np.concatenate([lon_u, lon_c]), np.concatenate([lat_u, lat_c])])


def make_inputs(seed: int, out_dir: str) -> dict:
    """Write the polygon table and the point batches; returns them."""
    rng = np.random.default_rng(seed % 2**32)
    polygons = make_polygons(rng)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table({"poly_id": [p for p, _ in polygons], "wkt": [G.polygon_wkt(r) for _, r in polygons]}),
        os.path.join(out_dir, "polygons.parquet"),
    )
    batches = []
    for b in range(N_BATCHES):
        pts = make_points(rng, polygons, N_POINTS)
        batches.append(pts)
        table = pa.table({"pt_id": np.arange(len(pts), dtype=np.int64) + b * N_POINTS,
                          "lon": pts[:, 0], "lat": pts[:, 1]})
        part_dir = os.path.join(out_dir, f"points_{b}.parquet")
        os.makedirs(part_dir, exist_ok=True)
        step = -(-len(pts) // SPLITS)
        for k in range(SPLITS):
            pq.write_table(table.slice(k * step, step), os.path.join(part_dir, f"part-{k}.parquet"))
    return {"polygons": polygons, "batches": batches}


def reference_counts(points: np.ndarray, polygons) -> dict:
    """{poly_id: number of points whose leaf-cell center lies inside}."""
    from duckdb_geography_spark.s2 import cellmath as cm

    ids = cm.lonlat_to_cellid(points[:, 0], points[:, 1])
    P = np.stack(cm.cellid_to_center_xyz(ids), axis=-1)
    out = {}
    for pid, r in polygons:
        c, cr = G.cap_of(r)
        cand = np.flatnonzero(P @ c >= cr - 1e-9)
        if len(cand):
            k = int(G.points_in_ring(P[cand], r).sum())
            if k:
                out[pid] = k
    return out


def query_inputs(spark, work: str, batch: int):
    """(points with leaf cell ``cell``, polygons with geography ``geog``)."""
    from duckdb_geography_spark.functions import cells as C
    from duckdb_geography_spark.functions.io import s2_geogfromtext

    pts = spark.read.parquet(os.path.join(work, f"points_{batch}.parquet"))
    pts = pts.select("pt_id", C.s2_cellfromlonlat("lon", "lat").alias("cell"))
    polys = spark.read.parquet(os.path.join(work, "polygons.parquet"))
    return pts, polys.select("poly_id", s2_geogfromtext("wkt").alias("geog"))


def build_query(spark, work: str, batch: int):
    from pyspark.sql import functions as F

    from duckdb_geography_spark.joins import cell_containment_join

    pts, polys = query_inputs(spark, work, batch)
    joined = cell_containment_join(pts, polys, point_cell="cell", region_geog="geog", level=LEVEL)
    return joined.groupBy("poly_id").agg(F.count("*").alias("n"))


def warm_up(spark, work: str) -> None:
    """One small join: Python workers start and import the cell and
    geography stack, the JVM compiles the join path."""
    from pyspark.sql import functions as F

    df = build_query(spark, work, 0).where(F.col("poly_id") < 0)
    df.collect()


def run(ctx) -> dict:
    spark, tracer = ctx.spark, ctx.tracer
    work = os.path.join(ctx.work, "pip")
    gen = []
    for _ in range(GEN_REPS):
        t0 = time.perf_counter()
        inputs = make_inputs(ctx.seed, work)
        gen.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    warm_up(spark, work)
    warm = time.perf_counter() - t0

    ops = []
    with H.RssSampler(ctx.pids) as rss:
        loop0 = time.perf_counter()
        while not ops or time.perf_counter() - loop0 < ctx.seconds:
            b = len(ops) % N_BATCHES
            op = H.Op(spark, tracer, f"q{len(ops)}", f"pip_batch{b}")
            op.batch = b
            ops.append(op)
            try:
                rows = op.run(lambda: build_query(spark, work, b), lambda df: df.collect())
                op.got = {int(r["poly_id"]): int(r["n"]) for r in rows}
                op.error = None
            except Exception as exc:  # noqa: BLE001 - a failed query is counted, the run goes on
                op.error = f"{type(exc).__name__}: {exc}"[:300]
        loop_s = time.perf_counter() - loop0

    want = {}
    failures = []
    for op in ops:
        if op.error:
            failures.append(f"{op.name}: {op.error}")
            continue
        if op.batch not in want:
            want[op.batch] = reference_counts(inputs["batches"][op.batch], inputs["polygons"])
        if op.got != want[op.batch]:
            diff = {k for k in set(op.got) | set(want[op.batch]) if op.got.get(k) != want[op.batch].get(k)}
            failures.append(f"{op.name}: {len(diff)} polygon counts differ from the reference")
            op.error = "wrong"
    good = [op for op in ops if not op.error]
    walls = [op.wall_s for op in good]
    out = {
        "setup_parts": {"input_gen_s": H.median(gen), "warmup_s": warm},
        "attempted": len(ops),
        "failed": len(failures),
        "failures": failures,
        "loop_s": loop_s,
        "peak_rss_mb": rss.peak_mb,
        "query_walls": walls,
        "e2e": {"rows_per_s": (N_POINTS * len(good) / sum(walls) if walls else 0.0, "rows/s")},
        "info": {"points_per_query": N_POINTS, "polygons": N_POLYGONS,
                 "walls": [round(op.wall_s, 3) for op in good],
                 "setup_parts": {"input_gen_s": H.median(gen), "warmup_s": warm},
                 "matched_per_query": sum(want[0].values()) if 0 in want else None},
    }
    if ctx.trace:
        layers = H.median_layers(H.layer_breakdown(good, ctx.rest_snapshot(), tracer))
        pts, polys = query_inputs(spark, work, 0)
        layers.update(join_counts(pts, polys, LEVEL, tracer))
        pts = inputs["batches"][0]
        polys = [G.polygon_wkt(r) for _, r in inputs["polygons"]]
        with tracer.span("kernels.replay"):
            layers.update(kernels.replay(pts, polys, [], ctx.seed, level=LEVEL))
            layers.update(kernels.cache_hit_ratios(polygon_stream(spark, work)))
        out["layers"] = layers
    return out


def join_counts(points, regions, level: int, tracer) -> dict:
    """Candidate and result pair counts of joins.cell_containment_join
    (points: cell column ``cell``; regions: geography column ``geog``),
    the same join run without and with the exact refine."""
    from duckdb_geography_spark.joins import cell_containment_join

    with tracer.span("joins.count_pairs"):
        cand = cell_containment_join(points, regions, level=level, refine=False).count()
        res = cell_containment_join(points, regions, level=level, refine=True).count()
    return {
        "joins.candidate_pairs": float(cand),
        "joins.result_pairs": float(res),
        "joins.refine_ratio": res / cand if cand else 0.0,
    }


def polygon_stream(spark, work: str) -> list:
    """The encoded polygon value the refine UDF decodes, once per
    candidate pair of batch 0, in join-output order."""
    from duckdb_geography_spark.joins import cell_containment_join

    pts, polys = query_inputs(spark, work, 0)
    pairs = cell_containment_join(pts, polys, level=LEVEL, refine=False).select("geog")
    return pairs.toArrow().column(0).to_pylist()
