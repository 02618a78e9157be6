"""Seeded inputs and their independent references.

Inputs are written without Spark (DuckDB for point layers, pyarrow for
image rows) so the measured Spark session is equally fresh whether the
inputs were cached or not. Point coordinates use the engine's own
portable SQL (``fixtures.point_lon_sql``/``point_lat_sql``) over a key
range shifted by the seed; image rows use ``fixtures.make_image`` and
``fixtures.image_lonlat`` over the same keys.

References are computed by DuckDB from the same parquet files, with
plans that share no code with the engine's operators: an all-pairs
half-plane PIP (bbox-prefiltered) and a brute-force nearest neighbour.
"""

from __future__ import annotations

import json
import os

from mapshaper_spark import cells, fixtures

# Seeds map to disjoint key ranges: no input holds more keys than this.
# Any integer is a valid seed; it is folded into [0, KEY_SLOTS) so the keys
# (and the products the point SQL forms from them) stay inside BIGINT.
KEY_STRIDE = 50_000_017
KEY_SLOTS = 1_000_000
TILE_Z = 4
# bbox of the filter op over the pipeline's durable output
PIPELINE_BBOX = "lon > -120.0 AND lon < 120.0 AND lat > -60.0 AND lat < 60.0"
# the sf0.1 supplier layer: s_suppkey 1..1000, key (s_suppkey * 3 + 1)
N_TARGETS = 1000


def key_offset(seed: int) -> int:
    """First key of the seed's range. Seeds that agree modulo KEY_SLOTS
    share a range (and so the same inputs)."""
    return (seed % KEY_SLOTS) * KEY_STRIDE


def write_points(con, path: str, off: int, n: int, extra_keys: tuple[int, ...] = ()) -> None:
    """Points (point_id = key, lon, lat) for keys [off, off + n), then
    ``extra_keys``."""
    keys = f"SELECT i + {off} AS k FROM range({n}) t(i)"
    if extra_keys:
        keys += " UNION ALL SELECT * FROM (VALUES " + ",".join(f"({k})" for k in extra_keys) + ")"
    con.execute(
        f"COPY (SELECT k AS point_id, {fixtures.point_lon_sql('k')} AS lon, "
        f"{fixtures.point_lat_sql('k')} AS lat FROM ({keys}) t(k)) TO '{path}' (FORMAT PARQUET)"
    )


def write_targets(con, path: str) -> None:
    k = "(s * 3 + 1)"
    con.execute(
        f"COPY (SELECT s AS target_id, {fixtures.point_lon_sql(k)} AS lon, "
        f"{fixtures.point_lat_sql(k)} AS lat FROM range(1, {N_TARGETS + 1}) t(s)) "
        f"TO '{path}' (FORMAT PARQUET)"
    )


_IMAGE_SCHEMA = [
    ("image_id", "string"),
    ("bytes", "binary"),
    ("w", "int32"),
    ("h", "int32"),
    ("fmt", "string"),
    ("caption", "string"),
    ("phash", "int64"),
    ("lon", "float64"),
    ("lat", "float64"),
]


def _write_image_file(path: str, lo: int, hi: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = []
    for i in range(lo, hi):
        r = fixtures.make_image(i)
        r["lon"], r["lat"] = fixtures.image_lonlat(i)
        rows.append(r)
    schema = pa.schema([(name, getattr(pa, t)()) for name, t in _IMAGE_SCHEMA])
    cols = {name: [r[name] for r in rows] for name in schema.names}
    pq.write_table(pa.table(cols, schema=schema), path, row_group_size=1024)


def write_images(dirpath: str, off: int, n: int, files: int, workers: int) -> None:
    """Full image rows (the ``fixtures.images_df`` schema) for keys
    [off, off + n), one parquet file per slice, written by a process pool."""
    from concurrent.futures import ProcessPoolExecutor
    from multiprocessing import get_context

    per = -(-n // files)
    with ProcessPoolExecutor(max_workers=min(files, workers), mp_context=get_context("spawn")) as pool:
        futs = [
            pool.submit(
                _write_image_file,
                os.path.join(dirpath, f"part-{f:03d}.parquet"),
                off + f * per,
                off + min(n, (f + 1) * per),
            )
            for f in range(files)
        ]
        for fut in futs:
            fut.result()
    # the spawn context started a resource tracker process; end it here
    # rather than at exit, so no process outlives the generation step
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()


# ---------------------------------------------------------------- references ---


def _bbox_values() -> str:
    rows = []
    for p in fixtures.POLYGONS:
        xs = [v[0] for v in p["ring"]]
        ys = [v[1] for v in p["ring"]]
        # widened by 1e-6: the box only prefilters, the edge test decides
        lo_hi = (min(xs) - 1e-6, min(ys) - 1e-6, max(xs) + 1e-6, max(ys) + 1e-6)
        rows.append(f"({p['poly_id']}," + ",".join(f"{v!r}e0" for v in lo_hi) + ")")
    return f"(VALUES {','.join(rows)}) AS bb(poly_id, x0, y0, x1, y1)"


def pip_tile_counts(con, parquet: str, split: str | None = None) -> dict[str, int]:
    """{"poly_id,tile_x,tile_y": n} from the all-pairs half-plane test of
    the oracle (a point is in a convex CCW polygon iff it is on the left
    of, or on, every edge). A bbox join first drops polygons that cannot
    contain the point; it is exact because a polygon lies in its bbox.
    With ``split`` (a predicate on lon/lat) the key gets a fourth field,
    the predicate's value."""
    tx, ty = cells.tile_sql("h.lon", "h.lat", TILE_Z)
    flag = f", ({split}) AS flag" if split else ""
    sql = f"""
    WITH p AS (SELECT lon, lat, row_number() OVER () AS rid FROM read_parquet('{parquet}')),
    cand AS (SELECT p.rid, p.lon, p.lat, bb.poly_id FROM p, {_bbox_values()}
             WHERE p.lon BETWEEN bb.x0 AND bb.x1 AND p.lat BETWEEN bb.y0 AND bb.y1),
    h AS (SELECT c.rid, c.poly_id, any_value(c.lon) AS lon, any_value(c.lat) AS lat
          FROM cand c JOIN {fixtures.polygon_edges_values_sql()} ON c.poly_id = edges.poly_id
          GROUP BY c.rid, c.poly_id
          HAVING min(CASE WHEN (edges.x2 - edges.x1) * (c.lat - edges.y1)
                             - (edges.y2 - edges.y1) * (c.lon - edges.x1) >= 0.0
                     THEN 1 ELSE 0 END) = 1)
    SELECT h.poly_id, {tx} AS tile_x, {ty} AS tile_y{flag}, count(*) AS n FROM h GROUP BY ALL
    """
    return {",".join(str(v) for v in row[:-1]): int(row[-1]) for row in con.execute(sql).fetchall()}


def knn_nearest(con, points: str, targets: str, out_path: str) -> None:
    """Brute-force nearest target per point, ties broken by (dist2,
    target_id), written as parquet sorted by point_id."""
    con.execute(
        f"""
    COPY (
      WITH d AS (SELECT p.point_id, t.target_id,
                        (p.lon - t.lon) * (p.lon - t.lon)
                      + (p.lat - t.lat) * (p.lat - t.lat) AS dist2
                 FROM read_parquet('{points}') p, read_parquet('{targets}') t),
      m AS (SELECT point_id, min(dist2) AS dist2 FROM d GROUP BY point_id)
      SELECT d.point_id, min(d.target_id) AS target_id, m.dist2
      FROM d JOIN m ON d.point_id = m.point_id AND d.dist2 = m.dist2
      GROUP BY d.point_id, m.dist2 ORDER BY d.point_id
    ) TO '{out_path}' (FORMAT PARQUET)"""
    )


class Cache:
    """Directory of one (workload, size, seed) input set plus its cached
    references; ``_DONE`` marks a complete input set."""

    def __init__(self, root: str, workload: str, size: str, seed: int):
        self.dir = os.path.join(root, "inputs", f"{workload}-{size}-s{seed}")
        self.marker = os.path.join(self.dir, "_DONE")

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def present(self) -> bool:
        return os.path.exists(self.marker)

    def mark_done(self, meta: dict) -> None:
        with open(self.marker, "w") as f:
            json.dump(meta, f)

    def ref(self, name: str, compute) -> dict:
        """JSON reference ``name``, computed once and cached."""
        p = self.path(f"ref-{name}.json")
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        val = compute()
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(val, f)
        os.replace(tmp, p)
        return val
