"""kNN / nearest-feature join — cell-ring candidate lists with an exact
fallback [SURVEY.md §2.3 "kNN / nearest-feature join"; RULE].

Distributed strategy (the EDBT/SIGMOD distributed-kNN-join pattern,
PAPERS.md "Distributed Stream KNN Join" and "To Partition, or Not to
Partition"): the targets are the dim side, so they are read to the
driver once and every candidate structure is built there and broadcast;
the query points are never shuffled.

1. For each expansion ring r the driver builds one candidate table,
   ``cell_id → array<struct<target_id, tx, ty>>``: every target within
   Chebyshev distance r of the cell (out-of-grid offsets dropped).
2. Each query point looks up its own cell's list in a broadcast hash
   join and takes its top k in one projection: ``transform`` computes
   ``dist2`` per candidate, then ``array_min`` (k=1) or
   ``slice(sort_array(...), 1, k)`` (k>1) ranks by (dist2, target_id).
3. **Exactness guarantee**: a k-th candidate at planar distance d is
   provably among the global k nearest iff d <= r cell heights (any
   target outside the searched block is at least that far away). The
   test is column math; points that fail it (or found fewer than k
   candidates) get the next ring's wider list, and the residual of the
   last ring gets the all-targets list (brute force) — asymptotically
   tiny when the grid resolution matches target density.

The fallback makes the operator *exact*, so it is oracle-checkable
against an all-pairs DuckDB cross join. Distance metric is squared
planar degrees (pure ``* + -`` → bit-identical in Spark and DuckDB).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import cells


def _dist2(ax, ay, bx, by):
    return (ax - bx) * (ax - bx) + (ay - by) * (ay - by)


def auto_res(n_targets: int, per_cell: float = 4.0) -> int:
    """Pick the grid resolution from target density: ~per_cell targets
    per cell keeps the 3x3 candidate block small while leaving few empty
    blocks (empty blocks fall back to brute force — exact but slow).
    res = round(log4(n/per_cell)), clamped to [2, 10]."""
    import math

    n_cells = max(1.0, n_targets / per_cell)
    return max(2, min(10, round(math.log2(n_cells) / 2.0)))


def _candidate_lists(tgt, res: int, ring: int):
    """Arrow table ``(_cell, _c)``: for every cell that has one, the list
    of targets within Chebyshev distance ``ring`` of it, built with numpy
    on the driver. Offsets are dropped (not clamped) at the grid edge:
    clamping would list a border target twice in one cell."""
    import pyarrow as pa

    n = 1 << res
    lon = tgt.column("lon").to_numpy().astype(np.float64)
    lat = tgt.column("lat").to_numpy().astype(np.float64)
    ix, iy = cells.grid_xy_np(lon, lat, res)
    d = np.arange(-ring, ring + 1)
    jx, jy = np.broadcast_arrays(
        ix[:, None, None] + d[None, None, :], iy[:, None, None] + d[None, :, None]
    )
    keep = (jx >= 0) & (jx < n) & (jy >= 0) & (jy < n)
    who = np.broadcast_to(np.arange(len(lon))[:, None, None], keep.shape)[keep]
    cid = cells.cell_id_from_xy_np(jx[keep], jy[keep], res)
    order = np.argsort(cid, kind="stable")
    cid, who = cid[order], who[order]
    uniq, starts = np.unique(cid, return_index=True)
    offsets = pa.array(np.append(starts, len(cid)), pa.int32())
    lists = pa.ListArray.from_arrays(offsets, _items(tgt).take(who))
    return pa.table({"_cell": pa.array(uniq, pa.int64()), "_c": lists})


def _all_targets(tgt):
    """Arrow table ``(_c)``: one row listing every target (brute force)."""
    import pyarrow as pa

    offsets = pa.array([0, tgt.num_rows], pa.int32())
    return pa.table({"_c": pa.ListArray.from_arrays(offsets, _items(tgt))})


def _items(tgt):
    """``struct<target_id, tx, ty>`` per target, in the targets' own types."""
    import pyarrow as pa

    cols = [tgt.column(c).combine_chunks() for c in ("target_id", "lon", "lat")]
    return pa.StructArray.from_arrays(cols, names=["target_id", "tx", "ty"])


def _resolve(cur: DataFrame, tab: DataFrame, on, k: int, g2: float | None) -> DataFrame:
    """Left-join the candidate lists ``tab`` to the rows of ``cur`` not yet
    resolved (``on AND NOT _ok``) and take their top k into ``_top``;
    ``_ok`` marks rows whose k-th hit is within ``sqrt(g2)`` (g2=None:
    the lists hold every target, so the answer is final)."""
    cur = cur.join(F.broadcast(tab), on & ~F.col("_ok"), "left")
    cand = F.transform(
        "_c",
        lambda c: F.struct(
            _dist2(F.col("lon"), F.col("lat"), c["tx"], c["ty"]).alias("dist2"),
            c["target_id"].alias("target_id"),
        ),
    )
    if k == 1:
        # array_min, not array_sort: Spark 4 rewrites array_sort(x) with
        # an interpreted lambda comparator
        top = F.array(F.array_min(cand))
    else:
        top = F.slice(F.sort_array(cand), 1, k)
    cur = cur.withColumn("_top", F.when(F.col("_ok"), F.col("_top")).otherwise(top))
    if g2 is not None:
        # get() is NULL (never an ANSI error) past the end of a short list
        ok = F.get(F.col("_top"), k - 1)["dist2"] <= F.lit(g2)
        cur = cur.withColumn("_ok", F.col("_ok") | F.coalesce(ok, F.lit(False)))
    return cur.drop("_cell", "_c")


def knn_join(
    points: DataFrame,
    targets: DataFrame,
    k: int = 1,
    res: int | None = None,
    expansion_rings: tuple[int, ...] = (1, 3),
) -> DataFrame:
    """Exact kNN join: (point cols..., target_id, dist2, knn_rank).

    points: (point_id, lon, lat); targets: (target_id, lon, lat).
    Ties on dist2 break on target_id; a point gets min(k, #targets) rows.
    res=None picks the resolution from the target count.

    One lazy plan with no shuffle, no window and no driver round-trip
    beyond the single read of the (dim-sized) targets: per ring a
    conditional broadcast join ``_cell == _bk AND NOT _ok`` hands the
    wider candidate list only to the rows the previous rings left
    unresolved, so a wide ring costs nothing for resolved rows and the
    same ring layout (1, 3) serves every k. The residual of the last ring
    is joined to one all-targets list (brute force), and ``posexplode``
    turns each point's top-k array into its output rows. Results do not
    depend on ``res`` or ``expansion_rings`` (the operator is exact);
    only the candidate volume does.
    """
    spark = points.sparkSession
    tgt = targets.select("target_id", "lon", "lat").toArrow()
    if res is None:
        res = auto_res(tgt.num_rows)
    cell_h = 180.0 / (1 << res)

    cur = points.select(
        "*",
        F.expr(cells.cell_sql("lon", "lat", res)).alias("_bk"),
        F.lit(None).alias("_top"),
        F.lit(False).alias("_ok"),
    )
    for ring in expansion_rings:
        tab = spark.createDataFrame(_candidate_lists(tgt, res, ring))
        cur = _resolve(cur, tab, F.col("_bk") == F.col("_cell"), k, (ring * cell_h) ** 2)
    cur = _resolve(cur, spark.createDataFrame(_all_targets(tgt)), F.lit(True), k, None)

    # posexplode_outer + filter, not posexplode: on a non-outer generator
    # Spark infers a size(_top) > 0 filter below it that evaluates the
    # brute piece's top-k a second time. The filter also drops the null
    # entry k=1 leaves when a point has no candidate (no targets at all).
    out = cur.select(*points.columns, F.posexplode_outer("_top").alias("_pos", "_n"))
    return out.filter(F.col("_n").isNotNull()).select(
        *points.columns,
        F.col("_n.target_id").alias("target_id"),
        F.col("_n.dist2").alias("dist2"),
        (F.col("_pos") + 1).alias("knn_rank"),
    )
