"""geog_store: writes beside reads on one cell-partitioned store.

The closed loop alternates one ingest batch with QUERIES_PER_INGEST
region queries.

- Ingest: distinct seeded WKT (mostly points, some linestrings and
  polygons) through ``s2_geogfromtext`` (encode, dominated by the
  adaptive coverer for polygons), then
  ``sources.write_partitioned_by_cell`` in append mode. All inputs are
  distinct, so they overflow the workers' WKT and covering LRUs.
- Region query: a seeded probe polygon's level-4 covering (buffered by
  the largest stored geography's extent) names the partitions to read
  through ``sources.read_cell_partition``; ``s2_intersects`` refines
  and the ids come back.

Outputs are checked against a Spark-free reference: ``geo.ops``
intersects on the generated geographies, prefiltered by bounding caps.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

from . import geogen as G
from . import harness as H
from . import kernels

LEVEL = 4
N_HOTSPOTS = 6
HOTSPOT_DEG = 6.0
BASE_ROWS = 2000
BATCH_ROWS = 500
#: share of linestrings and polygons among generated geographies
LINE_SHARE, POLY_SHARE = 0.03, 0.02
#: largest angular extent of a generated line/polygon, degrees
MAX_EXTENT_DEG = 0.5
PROBE_DEG = 2.0
QUERIES_PER_INGEST = 3
GEN_REPS = 3


class Generator:
    """Seeded stream of distinct geographies around fixed hotspots."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed % 2**32)
        lon = self.rng.uniform(-170.0, 170.0, N_HOTSPOTS)
        lat = np.degrees(np.arcsin(self.rng.uniform(-0.8, 0.8, N_HOTSPOTS)))
        self.hotspots = np.column_stack([lon, lat])
        self.next_id = 0

    def _near_hotspot(self, n: int, spread: float):
        rng = self.rng
        h = self.hotspots[rng.integers(0, N_HOTSPOTS, n)]
        lon, lat = G.destination(h[:, 0], h[:, 1], rng.uniform(0, 2 * np.pi, n),
                                 np.radians(spread) * np.sqrt(rng.uniform(0, 1, n)))
        return lon, lat

    def batch(self, n: int) -> pd.DataFrame:
        """n new geographies: id, wkt, anchor lon/lat (first vertex)."""
        rng = self.rng
        lon, lat = self._near_hotspot(n, HOTSPOT_DEG)
        # exact shares per batch: a polygon costs ~50x a point to encode,
        # so a drifting mix would move ingest time from seed to seed
        n_poly, n_line = round(n * POLY_SHARE), round(n * LINE_SHARE)
        kind = rng.permutation(np.repeat([0, 1, 2], [n_poly, n_line, n - n_poly - n_line]))
        wkts, alon, alat = [], [], []
        for i in range(n):
            if kind[i] == 0:
                r = G.ring(lon[i], lat[i], MAX_EXTENT_DEG / 2, int(rng.integers(4, 9)), rng)
                wkt = G.polygon_wkt(r)
                a = r[0]
            elif kind[i] == 1:
                k = int(rng.integers(2, 6))
                llon, llat = G.destination(lon[i], lat[i], rng.uniform(0, 2 * np.pi, k),
                                           np.radians(MAX_EXTENT_DEG / 2) * rng.uniform(0, 1, k))
                r = np.column_stack([llon, llat])
                wkt = G.linestring_wkt(r)
                a = r[0]
            else:
                wkt = G.point_wkt(lon[i], lat[i])
                a = (lon[i], lat[i])
            wkts.append(wkt)
            alon.append(float(G.fmt(a[0])))
            alat.append(float(G.fmt(a[1])))
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        return pd.DataFrame({"id": ids, "wkt": wkts, "lon": alon, "lat": alat})

    def probe(self) -> str:
        h = self.hotspots[self.rng.integers(0, N_HOTSPOTS)]
        lon, lat = G.destination(h[0], h[1], self.rng.uniform(0, 2 * np.pi),
                                 np.radians(HOTSPOT_DEG) * self.rng.uniform(0, 1))
        return G.polygon_wkt(G.ring(float(lon), float(lat), PROBE_DEG, 8, self.rng))


def ingest(spark, store: str, pdf: pd.DataFrame) -> None:
    from duckdb_geography_spark.functions import cells as C
    from duckdb_geography_spark.functions.io import s2_geogfromtext
    from duckdb_geography_spark.sources import write_partitioned_by_cell

    df = spark.createDataFrame(pdf).select(
        "id", s2_geogfromtext("wkt").alias("geog"), C.s2_cellfromlonlat("lon", "lat").alias("cell")
    )
    write_partitioned_by_cell(df, store, cell_col="cell", level=LEVEL, mode="append")


def probe_tokens(probe_wkt: str) -> list:
    """Level-LEVEL tokens of every partition that can hold a stored
    geography intersecting the probe: the probe covering buffered by
    the largest stored extent (a stored geography sits in the partition
    of its first vertex)."""
    from duckdb_geography_spark.geo.geography import from_wkt
    from duckdb_geography_spark.s2 import cellmath as cm
    from duckdb_geography_spark.s2.coverer import covering_of_geography

    cells = covering_of_geography(from_wkt(probe_wkt), fixed_level=LEVEL,
                                  buffer_radians=np.radians(MAX_EXTENT_DEG * 1.5))
    return sorted(str(t) for t in cm.token_encode(np.asarray(cells, dtype=np.uint64)))


def region_query(spark, store: str, probe_wkt: str):
    from pyspark.sql import functions as F

    from duckdb_geography_spark.functions.io import s2_geogfromtext
    from duckdb_geography_spark.functions.predicates import s2_intersects
    from duckdb_geography_spark.sources import read_cell_partition

    df = read_cell_partition(spark, store).where(F.col("partition_cell").isin(probe_tokens(probe_wkt)))
    return df.where(s2_intersects(F.col("geog"), s2_geogfromtext(F.lit(probe_wkt)))).select("id")


def reference_ids(probe_wkt: str, stored: pd.DataFrame, parsed: dict) -> set:
    """Ids of stored geographies intersecting the probe, by geo.ops
    (``parsed`` memoizes parsed geographies across probes)."""
    from duckdb_geography_spark.geo import ops
    from duckdb_geography_spark.geo.geography import from_wkt

    c, cr = G.cap_of(G.parse_ring(probe_wkt))
    A = G.to_xyz(stored["lon"].to_numpy(), stored["lat"].to_numpy())
    # a stored geography lies within MAX_EXTENT_DEG of its anchor vertex
    reach = np.cos(np.arccos(np.clip(cr, -1, 1)) + np.radians(MAX_EXTENT_DEG * 1.01))
    probe = from_wkt(probe_wkt)
    out = set()
    for i in np.flatnonzero(A @ c >= reach):
        gid = int(stored["id"].iat[i])
        g = parsed.get(gid)
        if g is None:
            g = parsed[gid] = from_wkt(stored["wkt"].iat[i])
        if ops.intersects(g, probe):
            out.add(gid)
    return out


def store_bytes(store: str) -> tuple[int, int]:
    """(data files, bytes) on disk under the store, Spark's own
    _SUCCESS and checksum files excluded."""
    files = size = 0
    for root, _dirs, names in os.walk(store):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def run(ctx) -> dict:
    spark, tracer = ctx.spark, ctx.tracer
    work = os.path.join(ctx.work, "geog")
    os.makedirs(work, exist_ok=True)
    # tokens are strings; numeric-looking ones must not turn into ints
    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    store = os.path.join(work, "store")

    gen = []
    for _ in range(GEN_REPS):
        t0 = time.perf_counter()
        g = Generator(ctx.seed)
        base = g.batch(BASE_ROWS)
        gen.append(time.perf_counter() - t0)
    # warm-up: the base ingest plus one untimed region query start the
    # Python workers and compile the write and scan paths
    t0 = time.perf_counter()
    ingest(spark, store, base)
    region_query(spark, store, Generator(ctx.seed + 1).probe()).collect()
    warm = time.perf_counter() - t0
    stored = [base]

    ingests, queries = [], []
    with H.RssSampler(ctx.pids) as rss:
        loop0 = time.perf_counter()
        while not ingests or time.perf_counter() - loop0 < ctx.seconds:
            pdf = g.batch(BATCH_ROWS)
            op = H.Op(spark, tracer, f"i{len(ingests)}", "ingest", kind="ingest")
            op.rows, op.wkt_bytes = len(pdf), int(pdf["wkt"].str.len().sum())
            ingests.append(op)
            try:
                op.run(lambda: pdf, lambda p: ingest(spark, store, p))
                op.error = None
                stored.append(pdf)
            except Exception as exc:  # noqa: BLE001 - a failed ingest is counted, the run goes on
                op.error = f"{type(exc).__name__}: {exc}"[:300]
            for _ in range(QUERIES_PER_INGEST):
                probe = g.probe()
                q = H.Op(spark, tracer, f"q{len(queries)}", "region_query")
                q.probe, q.n_stored = probe, len(stored)
                queries.append(q)
                try:
                    rows = q.run(lambda: region_query(spark, store, probe), lambda df: df.collect())
                    q.got = {int(r[0]) for r in rows}
                    q.error = None
                except Exception as exc:  # noqa: BLE001
                    q.error = f"{type(exc).__name__}: {exc}"[:300]
        loop_s = time.perf_counter() - loop0

    failures = [f"{op.name}: {op.error}" for op in ingests if op.error]
    parsed: dict = {}
    for q in queries:
        if q.error:
            failures.append(f"{q.name}: {q.error}")
            continue
        want = reference_ids(q.probe, pd.concat(stored[: q.n_stored], ignore_index=True), parsed)
        if q.got != want:
            failures.append(f"{q.qid}: {len(q.got ^ want)} ids differ from the reference")
            q.error = "wrong"
    good_i = [op for op in ingests if not op.error]
    good_q = [q for q in queries if not q.error]
    n_files, n_bytes = store_bytes(store)
    wkt_bytes = int(base["wkt"].str.len().sum()) + sum(op.wkt_bytes for op in good_i)
    ingest_walls = [op.wall_s for op in good_i]
    out = {
        "setup_parts": {"input_gen_s": H.median(gen), "warmup_s": warm},
        "attempted": len(ingests) + len(queries),
        "failed": len(failures),
        "failures": failures,
        "loop_s": loop_s,
        "peak_rss_mb": rss.peak_mb,
        "query_walls": [q.wall_s for q in good_q],
        "e2e": {
            "ingest_p50_s": (H.median(ingest_walls), "s"),
            "rows_per_s": (sum(op.rows for op in good_i) / sum(ingest_walls) if ingest_walls else 0.0, "rows/s"),
            "stored_bytes_per_input_byte": (n_bytes / wkt_bytes, "ratio"),
        },
        "info": {"ingests": len(ingests), "region_queries": len(queries),
                 "store_files": n_files, "store_bytes": n_bytes, "wkt_bytes": wkt_bytes},
    }
    if ctx.trace:
        snap = ctx.rest_snapshot()
        q_layers = H.median_layers(H.layer_breakdown(good_q, snap, tracer))
        i_layers = H.median_layers(H.layer_breakdown(good_i, snap, tracer))
        layers = dict(q_layers)
        # the ingest side of the Python boundary, named apart
        for k in ("pyworker.run_s", "pyworker.bytes_sent", "pyworker.bytes_received"):
            layers[f"ingest.{k}"] = i_layers[k]
        layers["sources.files_written"] = float(n_files)
        layers["sources.bytes_written"] = float(n_bytes)
        allgeo = pd.concat(stored, ignore_index=True)
        polys = [w for w in allgeo["wkt"] if w.startswith("POLYGON")]
        others = [w for w in allgeo["wkt"] if not w.startswith("POLYGON")]
        pts = allgeo[["lon", "lat"]].to_numpy()
        with tracer.span("kernels.replay"):
            layers.update(kernels.replay(pts, polys, others[: kernels.MAX_GEOGS], ctx.seed, level=LEVEL))
            layers.update(kernels.cache_hit_ratios(query_stream(spark, store, [q.probe for q in good_q])))
        out["layers"] = layers
    return out


def query_stream(spark, store: str, probes) -> list:
    """The encoded values the refine UDF decodes, query after query:
    every stored geography in each query's pruned partitions."""
    from pyspark.sql import functions as F

    from duckdb_geography_spark.sources import read_cell_partition

    out = []
    for probe in probes:
        df = read_cell_partition(spark, store).where(F.col("partition_cell").isin(probe_tokens(probe)))
        out.extend(df.select("geog").toArrow().column(0).to_pylist())
    return out
