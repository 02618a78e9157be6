"""kNN join edge cases against a NumPy brute-force reference, and the
plan contract of the candidate-list design (no shuffle, window, sort or
checkpoint in the executed plan).

The reference evaluates the operator's own distance expression,
``(lon-tx)*(lon-tx) + (lat-ty)*(lat-ty)`` in IEEE double, over all
pairs and ranks by (dist2, target_id), so every comparison is bitwise."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mapshaper_spark.operators import knn as knn_op
from mapshaper_spark.sources import testdata

from .conftest import SF_DIR

OUT_TAIL = ["target_id", "dist2", "knn_rank"]


def _reference(pts: pd.DataFrame, tgt: pd.DataFrame, k: int) -> pd.DataFrame:
    cols = list(pts.columns)
    m = min(k, len(tgt))
    if m == 0 or len(pts) == 0:
        return pd.DataFrame({c: [] for c in cols + OUT_TAIL})
    lon, lat = pts["lon"].to_numpy()[:, None], pts["lat"].to_numpy()[:, None]
    tx, ty = tgt["lon"].to_numpy()[None, :], tgt["lat"].to_numpy()[None, :]
    tid = tgt["target_id"].to_numpy()
    d2 = (lon - tx) * (lon - tx) + (lat - ty) * (lat - ty)
    order = np.lexsort((np.broadcast_to(tid, d2.shape), d2), axis=1)[:, :m]
    rows = np.repeat(np.arange(len(pts)), m)
    out = pts.iloc[rows].reset_index(drop=True)
    out["target_id"] = tid[order].ravel()
    out["dist2"] = np.take_along_axis(d2, order, axis=1).ravel()
    out["knn_rank"] = np.tile(np.arange(1, m + 1, dtype=np.int32), len(pts))
    return out


def _check(got_df, pts_df, tgt_df, k: int) -> None:
    assert got_df.columns == pts_df.columns + OUT_TAIL
    p, t = pts_df.toPandas(), tgt_df.toPandas()
    got = got_df.toPandas().sort_values(["point_id", "knn_rank"]).reset_index(drop=True)
    want = _reference(p, t, k).sort_values(["point_id", "knn_rank"]).reset_index(drop=True)
    assert len(got) == len(p) * min(k, len(t))  # k above the target count: min(k, n) rows
    for c in want.columns:
        assert np.array_equal(got[c].to_numpy(), want[c].to_numpy().astype(got[c].dtype)), c


@pytest.fixture(scope="module")
def pts(spark):
    return testdata.customer_points(spark, SF_DIR)


@pytest.fixture(scope="module")
def tgt(spark):
    return testdata.supplier_points(spark, SF_DIR)


def _first(tgt, n):
    return tgt.orderBy("target_id").limit(n)


@pytest.mark.parametrize("k", [1, 2, 5])
@pytest.mark.parametrize("n_targets", [None, 3, 1, 0])
def test_knn_matches_brute_force(spark, pts, tgt, k, n_targets):
    t = tgt if n_targets is None else _first(tgt, n_targets)
    _check(knn_op.knn_join(pts, t, k=k), pts, t, k)


@pytest.mark.parametrize(
    "k, kw",
    [
        (1, {"expansion_rings": ()}),
        (3, {"expansion_rings": ()}),
        (1, {"res": 7, "expansion_rings": (1, 2, 4)}),
        (3, {"res": 7, "expansion_rings": (1, 2, 4)}),
    ],
)
def test_knn_ring_layouts_are_exact(spark, pts, tgt, k, kw):
    _check(knn_op.knn_join(pts, tgt, k=k, **kw), pts, tgt, k)


@pytest.mark.parametrize("k", [1, 3])
def test_knn_empty_points(spark, pts, tgt, k):
    empty = pts.limit(0)
    out = knn_op.knn_join(empty, tgt, k=k)
    assert out.columns == empty.columns + OUT_TAIL
    assert out.collect() == []


@pytest.mark.parametrize("k", [1, 3])
def test_knn_duplicate_targets_break_ties_on_target_id(spark, pts, tgt, k):
    """Targets 0 and 1000 sit exactly on target 7, and some points sit
    exactly on it too: the tie (dist2 equal, 0 for those points) must
    resolve to ascending target_id, as in the reference."""
    t7 = tgt.filter("target_id = 7")
    dup = tgt.unionByName(t7.withColumn("target_id", F.lit(0).cast("bigint"))).unionByName(
        t7.withColumn("target_id", F.lit(1000).cast("bigint"))
    )
    on7 = t7.select((F.col("target_id") + 10_000_000).alias("point_id"), "lon", "lat")
    p = pts.unionByName(on7).unionByName(on7.withColumn("point_id", F.col("point_id") + 1))
    _check(knn_op.knn_join(p, dup, k=k), p, dup, k)
    got = knn_op.knn_join(on7, dup, k=k).orderBy("knn_rank").collect()
    assert [r["target_id"] for r in got] == [0, 7, 1000][:k]
    assert all(r["dist2"] == 0.0 for r in got)


def test_knn_passes_extra_point_columns_through(spark, pts, tgt):
    p = pts.select("point_id", F.concat(F.lit("p"), F.col("point_id")).alias("name"), "lon", "lat")
    out = knn_op.knn_join(p, tgt, k=2)
    assert out.columns == ["point_id", "name", "lon", "lat"] + OUT_TAIL
    _check(out, p, tgt, 2)


# ---------------------------------------------------------- plan guard ---

# first word of each plan-tree line, after the tree glyphs and a
# whole-stage-codegen "*(n)" prefix
_NODE = re.compile(r"^[\s:+\-]*(?:\*\(\d+\)\s*)?([A-Za-z]\w*)")
# shuffle and ranking nodes; a BroadcastExchange (the candidate lists'
# own broadcast) is allowed, a bare Exchange is a shuffle
FORBIDDEN = {
    "Exchange", "ShuffleQueryStage", "AQEShuffleRead", "Window", "WindowGroupLimit", "Sort",
}


@pytest.mark.parametrize("k", [1, 3])
def test_knn_plan_has_no_shuffle_window_sort_or_checkpoint(spark, pts, tgt, k):
    out = knn_op.knn_join(pts, tgt, k=k)
    out.collect()  # the final adaptive plan is the one that ran
    plan = out._jdf.queryExecution().executedPlan().toString()
    names = {m.group(1) for line in plan.splitlines() if (m := _NODE.match(line))}
    assert "BroadcastHashJoin" in names, plan
    assert not names & FORBIDDEN, plan
    # a checkpoint (LogicalRDD) scans as ExistingRDD
    assert "ExistingRDD" not in plan and "LogicalRDD" not in plan, plan
