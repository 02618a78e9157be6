"""Multi-ring (even-odd, holed) Greiner–Hormann booleans: exact
cross-validation against the independent signed Sutherland–Hodgman
path, rect-decomposition algebra on holed×holed pairs, and hole/island
role flips in difference."""

from __future__ import annotations

import numpy as np
import pytest

from mapshaper_spark import fixtures
from mapshaper_spark import geometry as G


def _signed(rings) -> float:
    return sum(G.shoelace_area(r[:, 0], r[:, 1]) for r in rings)


def _sq(x0, y0, w, h):
    return np.array([(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h)])


def _feature(pid):
    return [np.asarray(r, dtype=float) for r in fixtures.HOLED_FEATURES[pid]["rings"]]


def _decomp_area(pid, window):
    """Exact clip area from the fixture's signed rect decomposition."""
    wx0, wy0, wx1, wy1 = window
    total = 0.0
    for p, x0, y0, x1, y1, s in fixtures.HOLED_RECT_DECOMP:
        if p != pid:
            continue
        ox = max(0.0, min(x1, wx1) - max(x0, wx0))
        oy = max(0.0, min(y1, wy1) - max(y0, wy0))
        total += s * ox * oy
    return total


@pytest.mark.parametrize("pid", [0, 1, 2, 3])
def test_intersection_with_window_matches_decomposition(pid):
    w = fixtures.CLIP_WINDOWS[pid]
    win = _sq(w["x0"], w["y0"], w["x1"] - w["x0"], w["y1"] - w["y0"])
    out = G.gh_clip_rings(_feature(pid), [win], "intersection")
    want = _decomp_area(pid, (w["x0"], w["y0"], w["x1"], w["y1"]))
    assert _signed(out) == pytest.approx(want, rel=1e-12)


@pytest.mark.parametrize("pid", [0, 1, 2, 3])
def test_boolean_identities_on_holed_features(pid):
    w = fixtures.CLIP_WINDOWS[pid]
    win = _sq(w["x0"], w["y0"], w["x1"] - w["x0"], w["y1"] - w["y0"])
    feat = _feature(pid)
    area_a = _signed([r for r in feat])  # signed: holes subtract
    area_b = abs(G.shoelace_area(win[:, 0], win[:, 1]))
    inter = _signed(G.gh_clip_rings(feat, [win], "intersection"))
    diff = _signed(G.gh_clip_rings(feat, [win], "difference"))
    union = _signed(G.gh_clip_rings(feat, [win], "union"))
    assert inter + diff == pytest.approx(area_a, rel=1e-12)
    assert union == pytest.approx(area_a + area_b - inter, rel=1e-12)


def test_difference_flips_hole_to_island():
    """big square ∖ donut = frame outside the donut + island inside its
    hole — the donut's hole ring must come back as an OUTER (CCW) ring."""
    big = [_sq(-176.0, -86.0, 52.0, 52.0)]  # strictly contains the donut
    donut = _feature(0)
    out = G.gh_clip_rings(big, donut, "difference")
    # rings: big outer (CCW), donut outer reversed (CW hole), donut hole
    # reversed (CCW island)
    assert len(out) == 3
    want = 52.0 * 52.0 - (40.0 * 40.0 - 20.0 * 20.0)
    assert _signed(out) == pytest.approx(want, rel=1e-12)
    # the island region (inside the donut hole) IS in the result
    assert G.pip_rings(np.array([-150.0]), np.array([-60.0]), out)[0]
    # the donut ring body is NOT
    assert not G.pip_rings(np.array([-165.0]), np.array([-45.0]), out)[0]


def test_intersection_containment_cases():
    donut = _feature(0)
    # window entirely inside the HOLE → empty intersection
    inside_hole = [_sq(-155.0, -65.0, 10.0, 10.0)]
    assert G.gh_clip_rings(donut, inside_hole, "intersection") == []
    # window strictly containing the whole donut → the donut itself
    around = [_sq(-176.0, -86.0, 52.0, 52.0)]
    out = G.gh_clip_rings(donut, around, "intersection")
    assert _signed(out) == pytest.approx(40.0 * 40.0 - 20.0 * 20.0)


def test_robust_wrapper_handles_vertex_on_edge():
    """A diamond whose vertex lies EXACTLY on the square's edge while
    crossing into it — outside general position (the proper-intersection
    test skips endpoint hits, so the plain kernel mis-traces or drops
    the crossing). The robust wrapper must deliver the ~correct area via
    its identity check + perturbation retry."""
    square = [_sq(0.0, 0.0, 10.0, 10.0)]
    diamond = [
        np.array([(5.0, 10.0), (8.0, 13.0), (5.0, 16.0), (2.0, 13.0)])
    ]  # bottom vertex exactly on the square's top edge y=10
    out = G.gh_split_rings_robust(square, diamond)[0]
    # true overlap is measure-zero (diamond only touches) → ~0 area
    assert abs(_signed(out)) < 1e-6

    crossing = [
        np.array([(5.0, 8.0), (9.0, 12.0), (5.0, 16.0), (1.0, 12.0)])
    ]  # dips 2 into the square; its left/right vertices are outside
    out2 = G.gh_split_rings_robust(square, crossing)[0]
    # overlap = triangle (5,8),(7,10),(3,10): area 4... compute: the
    # diamond below y=10: vertices (5,8) with edges to (9,12)/(1,12)
    # crossing y=10 at x=7 and x=3 → triangle base 4, height 2 → area 4
    assert _signed(out2) == pytest.approx(4.0, rel=1e-5)


def test_robust_wrapper_exact_when_general_position():
    feat = _feature(1)
    w = fixtures.CLIP_WINDOWS[1]
    win = [_sq(w["x0"], w["y0"], w["x1"] - w["x0"], w["y1"] - w["y0"])]
    a = _signed(G.gh_clip_rings(feat, win, "intersection"))
    b = _signed(G.gh_split_rings_robust(feat, win)[0])
    assert a == b  # no perturbation on clean input


def test_inlay_fold_ring_structure_and_membership():
    """Carve the inlay boxes out of every holed feature: ring counts are
    pinned (donut's bite merges with its hole into ONE void; the ell's
    carve breaks through to the outer boundary leaving a single concave
    ring; islands stay 3) and even-odd membership excludes carved
    regions while keeping un-carved body."""
    carved = {}
    for f in fixtures.HOLED_FEATURES:
        rings = [np.asarray(r, float) for r in f["rings"]]
        for x0, y0, x1, y1 in fixtures.INLAY_BOXES:
            b = np.array([(x0, y0), (x1, y0), (x1, y1), (x0, y1)])
            rings = G.gh_clip_rings(rings, [b], "difference")
        carved[f["name"]] = rings
    assert {k: len(v) for k, v in carved.items()} == {
        "donut": 2,
        "ell_holed": 1,
        "islands": 3,
        "comb": 1,
    }
    # donut: point inside the inlay bite is OUT; body far from bite is IN
    d = carved["donut"]
    assert not G.pip_rings(np.array([-150.0]), np.array([-72.0]), d)[0]
    assert G.pip_rings(np.array([-135.0]), np.array([-45.0]), d)[0]
    # comb: carved tooth region OUT, untouched tooth IN
    c = carved["comb"]
    assert not G.pip_rings(np.array([-22.0]), np.array([70.0]), c)[0]
    assert G.pip_rings(np.array([-45.0]), np.array([75.0]), c)[0]


def test_mosaic_faces_with_holed_face(spark):
    """Mosaic of a big square with a small square strictly inside: face
    {0} is the big square MINUS the small one (a ring-with-hole face),
    face {0,1} is the small square; faces partition the union."""
    import pandas as pd

    from mapshaper_spark.operators import overlay as overlay_op

    feats = spark.createDataFrame(
        pd.DataFrame(
            {
                "feature_id": [0, 1],
                "key": ["k", "k"],
                "xs": [[0.0, 10.0, 10.0, 0.0], [3.0, 5.0, 5.0, 3.0]],
                "ys": [[0.0, 0.0, 10.0, 10.0], [3.0, 3.0, 5.0, 5.0]],
            }
        ),
        schema="feature_id int, key string, xs array<double>, ys array<double>",
    )
    rows = {r["members_csv"]: r for r in overlay_op.mosaic_faces(feats).collect()}
    assert set(rows) == {"0", "0,1"}
    assert rows["0"]["area"] == pytest.approx(100.0 - 4.0)
    assert rows["0"]["n_rings"] == 2  # outer + hole
    assert rows["0,1"]["area"] == pytest.approx(4.0)
    assert rows["0"]["area"] + rows["0,1"]["area"] == pytest.approx(100.0)


def test_tiled_mosaic_matches_global_mosaic(spark):
    """The distributed (per-cell split, merge-by-signature) mosaic must
    produce EXACTLY the same (key, members, area) rows as the global
    single-group construction — cell-cut coordinates are dyadic so the
    per-cell piece areas sum exactly."""
    import pandas as pd

    from mapshaper_spark import fixtures as fx
    from mapshaper_spark.operators import overlay as overlay_op

    # shift the layer off the dyadic grid (rect corners at x=0 would sit
    # EXACTLY on a res-4 cell line — the documented degenerate case)
    pdf = fx.dissolve2_pdf()
    pdf["xs"] = [[v + 0.3125 for v in xs] for xs in pdf["xs"]]
    pdf["ys"] = [[v + 0.1875 for v in ys] for ys in pdf["ys"]]
    feats = spark.createDataFrame(
        pdf, schema="feature_id int, key string, xs array<double>, ys array<double>"
    )
    a = {
        (r["key"], r["members_csv"]): r["area"]
        for r in overlay_op.mosaic_faces(feats).collect()
    }
    b = {
        (r["key"], r["members_csv"]): r["area"]
        for r in overlay_op.mosaic_faces_tiled(feats, res=4).collect()
    }
    assert set(a) == set(b) and len(a) >= 7
    for k in a:
        assert a[k] == pytest.approx(b[k], rel=1e-12), k


def test_tiled_mosaic_grid_aligned_layer(spark):
    """Vertices and edges EXACTLY on cell lines (the unshifted fixture
    has corners at x=0.0, a res-4 grid line; with res=6 the 'c' frame
    straddles x=45.0 too): the replicate+SH-crop tiled mosaic has no
    grid-alignment caveat — on-line edges just yield zero-area slivers
    on one side [VERDICT r2 #4]."""
    import pandas as pd

    from mapshaper_spark import fixtures as fx
    from mapshaper_spark.operators import overlay as overlay_op

    feats = spark.createDataFrame(
        fx.dissolve2_pdf(),
        schema="feature_id int, key string, xs array<double>, ys array<double>",
    )
    a = {
        (r["key"], r["members_csv"]): r["area"]
        for r in overlay_op.mosaic_faces(feats).collect()
    }
    for res in (4, 6):
        b = {
            (r["key"], r["members_csv"]): r["area"]
            for r in overlay_op.mosaic_faces_tiled(feats, res=res).collect()
        }
        assert set(a) == set(b), res
        for k in a:
            assert a[k] == pytest.approx(b[k], rel=1e-12), (res, k)


def test_tiled_mosaic_bounded_replication_large_feature(spark):
    """[VERDICT r3 #2 done-criterion] A dense-boundary feature spanning
    the FULL grid must (a) still produce the global mosaic's faces
    through the tiled plan and (b) ship O(boundary + cells) vertices,
    not O(cells x boundary) — the crop path in mosaic_replicate."""
    import pandas as pd

    from mapshaper_spark.operators import overlay as overlay_op

    k = 400
    ang = np.arange(k) * (2.0 * np.pi / k)
    big_xs = (50.0 * np.cos(ang)).tolist()
    big_ys = (50.0 * np.sin(ang)).tolist()
    rows = [{"feature_id": 0, "key": "h", "xs": big_xs, "ys": big_ys}]
    for i, (bx, by) in enumerate([(-20.0, -15.0), (5.0, 10.0), (30.0, -40.0)]):
        rows.append(
            {
                "feature_id": i + 1,
                "key": "h",
                "xs": [bx, bx + 7.0, bx + 7.0, bx],
                "ys": [by, by, by + 7.0, by + 7.0],
            }
        )
    feats = spark.createDataFrame(
        pd.DataFrame(rows),
        schema="feature_id int, key string, xs array<double>, ys array<double>",
    )
    a = {
        (r["key"], r["members_csv"]): r["area"]
        for r in overlay_op.mosaic_faces(feats).collect()
    }
    b = {
        (r["key"], r["members_csv"]): r["area"]
        for r in overlay_op.mosaic_faces_tiled(feats, res=4).collect()
    }
    assert set(a) == set(b) and len(a) >= 5
    for key in a:
        assert a[key] == pytest.approx(b[key], rel=1e-9), key

    # boundedness: replicate with the same grid derivation the op uses
    n = 16
    x0, x1, y0, y1 = -50.0, 50.0, -50.0, 50.0
    cw = (x1 - x0) * (1.0 + 1e-9) / n
    ch = (y1 - y0) * (1.0 + 1e-9) / n
    rep = overlay_op.mosaic_replicate(
        feats, n, x0, y0, cw, ch, max_rep_cells=8
    ).collect()
    big_rows = [r for r in rep if r["feature_id"] == 0]
    total_verts = sum(len(rx) for r in big_rows for rx in r["rings_xs"])
    n_rows = len(big_rows)
    assert n_rows <= n * n
    # O(boundary) + O(1) box vertices per shipped row — the old
    # replicate-whole path would ship ~n_rows * 400 = tens of thousands
    assert total_verts <= k + 16 * n_rows, (total_verts, n_rows)


def test_dissolve2_tiled_and_clean_tiled_match_global(spark):
    """The distributed dissolve2 (face-area reduction over the tiled
    mosaic) and tiled clean must equal their global twins exactly on
    the fixture [VERDICT r2 #2]."""
    from mapshaper_spark import fixtures as fx
    from mapshaper_spark.operators import overlay as overlay_op
    from mapshaper_spark.operators import topology as topo_op

    feats = spark.createDataFrame(
        fx.dissolve2_pdf(),
        schema="feature_id int, key string, xs array<double>, ys array<double>",
    )
    want = {r["key"]: r["area"] for r in topo_op.dissolve2(feats).collect()}
    got = {r["key"]: r["area"] for r in overlay_op.dissolve2_tiled(feats, res=6).collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12), k

    cg = {
        (r["key"], r["feature_id"]): r["clean_area"]
        for r in overlay_op.clean_assign_areas(feats).collect()
    }
    ct = {
        (r["key"], r["feature_id"]): r["clean_area"]
        for r in overlay_op.clean_assign_areas(feats, tiled=True, res=6).collect()
    }
    assert set(cg) == set(ct)
    for k in cg:
        assert cg[k] == pytest.approx(ct[k], rel=1e-12), k


def test_dissolve2_rings_tiled_matches_global_union(spark):
    """[VERDICT r3 #6 done-criterion] The tiled ring-geometry emitter
    must reproduce the global union_many ring set on a 1000-feature
    layer: same ring count per key, same sorted signed areas, same
    total perimeter (extra collinear vertices at cell crossings change
    neither)."""
    import pandas as pd

    from mapshaper_spark import geometry as G2
    from mapshaper_spark.operators import overlay as overlay_op

    rows = []
    fid = 0
    boxes_by_key: dict[str, list] = {}
    for key_i in range(4):
        key = f"k{key_i}"
        boxes_by_key[key] = []
        for c in range(25):  # 25 clusters x 10 chained boxes = 250
            cx0 = 7.0 * (c % 5) + 0.013 * key_i
            cy0 = 7.0 * (c // 5) + 0.017 * key_i
            for j in range(10):
                x, y, s = cx0 + 0.3 * j, cy0 + 0.2 * j, 2.0
                boxes_by_key[key].append((x, y, s))
                rows.append(
                    {
                        "feature_id": fid,
                        "key": key,
                        "xs": [x, x + s, x + s, x],
                        "ys": [y, y, y + s, y + s],
                    }
                )
                fid += 1
    assert fid == 1000
    feats = spark.createDataFrame(
        pd.DataFrame(rows),
        schema="feature_id int, key string, xs array<double>, ys array<double>",
    )
    got: dict[str, list] = {}
    for r in overlay_op.dissolve2_rings_tiled(feats, res=4).collect():
        arr = np.column_stack([np.asarray(r["xs"]), np.asarray(r["ys"])])
        got.setdefault(r["key"], []).append((r["area"], arr))
    for key, boxes in boxes_by_key.items():
        rings = [
            np.array([(x, y), (x + s, y), (x + s, y + s), (x, y + s)])
            for x, y, s in boxes
        ]
        want = G2.union_many(rings)
        want_areas = sorted(G2.shoelace_area(r[:, 0], r[:, 1]) for r in want)
        got_rings = got.get(key, [])
        assert len(got_rings) == len(want), (key, len(got_rings), len(want))
        got_areas = sorted(a for a, _ in got_rings)
        for ga, wa in zip(got_areas, want_areas):
            assert ga == pytest.approx(wa, rel=1e-9), key
        want_per = sum(
            G2.path_length(
                np.append(r[:, 0], r[0, 0]), np.append(r[:, 1], r[0, 1])
            )
            for r in want
        )
        got_per = sum(
            G2.path_length(
                np.append(arr[:, 0], arr[0, 0]), np.append(arr[:, 1], arr[0, 1])
            )
            for _, arr in got_rings
        )
        assert got_per == pytest.approx(want_per, rel=1e-9), key


def test_dissolve2_rings_chunked_matches_assembled(spark):
    """[NEXT r4 #2] The CHUNKED ring emitter (one row per stitched
    path, coordinates never assembled in one task) must reproduce the
    assembled emitter BITWISE: concatenating a ring's chunks in
    chunk_seq order equals the assembled xs/ys exactly. The layer
    includes a feature spanning the full grid so the bounded-crop
    replication path (and its per-attempt pad) is exercised too."""
    import pandas as pd

    from mapshaper_spark.operators import overlay as overlay_op

    rows = []
    fid = 0
    for key_i in range(2):
        key = f"k{key_i}"
        for c in range(5):
            cx0 = 7.0 * c + 0.013 * key_i
            cy0 = 3.0 * c + 0.017 * key_i
            for j in range(6):
                x, y, s = cx0 + 0.3 * j, cy0 + 0.2 * j, 2.0
                rows.append(
                    {
                        "feature_id": fid,
                        "key": key,
                        "xs": [x, x + s, x + s, x],
                        "ys": [y, y, y + s, y + s],
                    }
                )
                fid += 1
    # full-extent feature: bbox covers every cell -> crop path
    rows.append(
        {
            "feature_id": fid,
            "key": "k0",
            "xs": [-1.0, 32.0, 32.0, -1.0],
            "ys": [-1.0, -1.0, 6.5, 6.5],
        }
    )
    feats = spark.createDataFrame(
        pd.DataFrame(rows),
        schema="feature_id int, key string, xs array<double>, ys array<double>",
    )
    full = {
        (r["key"], r["ring_id"]): (list(r["xs"]), list(r["ys"]))
        for r in overlay_op.dissolve2_rings_tiled(feats, res=4).collect()
    }
    chunks: dict = {}
    for r in overlay_op.dissolve2_rings_tiled(feats, res=4, chunked=True).collect():
        chunks.setdefault((r["key"], r["ring_id"]), []).append(
            (r["chunk_seq"], r["n_chunks"], list(r["xs"]), list(r["ys"]))
        )
    assert set(chunks) == set(full)
    for kk, parts in chunks.items():
        parts.sort()
        assert [p[0] for p in parts] == list(range(len(parts))), kk
        assert all(p[1] == len(parts) for p in parts), kk
        xs = [v for p in parts for v in p[2]]
        ys = [v for p in parts for v in p[3]]
        assert xs == full[kk][0], kk  # bitwise
        assert ys == full[kk][1], kk


def test_holed_x_holed_pair():
    """donut × shifted donut — both sides multi-ring; truth from the two
    signed decompositions' product algebra."""
    donut = _feature(0)
    # shift the donut fixture by (+15, +15): overlaps ring bodies
    shifted = [r + np.array([15.0, 15.0]) for r in donut]
    dec_a = [(x0, y0, x1, y1, s) for p, x0, y0, x1, y1, s in fixtures.HOLED_RECT_DECOMP if p == 0]
    dec_b = [(x0 + 15, y0 + 15, x1 + 15, y1 + 15, s) for x0, y0, x1, y1, s in dec_a]
    want = 0.0
    for ax0, ay0, ax1, ay1, sa in dec_a:
        for bx0, by0, bx1, by1, sb in dec_b:
            ox = max(0.0, min(ax1, bx1) - max(ax0, bx0))
            oy = max(0.0, min(ay1, by1) - max(ay0, by0))
            want += sa * sb * ox * oy
    inter = _signed(G.gh_clip_rings(donut, shifted, "intersection"))
    assert inter == pytest.approx(want, rel=1e-12)
    area_a = 40.0 * 40.0 - 20.0 * 20.0
    diff = _signed(G.gh_clip_rings(donut, shifted, "difference"))
    assert inter + diff == pytest.approx(area_a, rel=1e-12)


def test_tiled_mosaic_projected_coordinates(spark):
    """r3 review regression: the tiled mosaic's grid derives from the
    layer bounds, so a projected-coordinate layer (WebMercator-scale
    meters, far outside the lonlat world box) must match the global
    mosaic instead of silently vanishing from the replication."""
    from mapshaper_spark import fixtures as fx
    from mapshaper_spark.operators import overlay as overlay_op

    pdf = fx.dissolve2_pdf()
    pdf["xs"] = [[v * 1000.0 + 2.0e6 for v in xs] for xs in pdf["xs"]]
    pdf["ys"] = [[v * 1000.0 + 5.0e6 for v in ys] for ys in pdf["ys"]]
    feats = spark.createDataFrame(
        pdf, schema="feature_id int, key string, xs array<double>, ys array<double>"
    )
    a = {
        (r["key"], r["members_csv"]): r["area"]
        for r in overlay_op.mosaic_faces(feats).collect()
    }
    b = {
        (r["key"], r["members_csv"]): r["area"]
        for r in overlay_op.mosaic_faces_tiled(feats, res=4).collect()
    }
    assert set(a) == set(b) and len(a) >= 7
    # rel=1e-8 not 1e-9: at 2e6-magnitude coordinates the per-cell
    # clipped-piece shoelace sums round at ~1e13-scale products, so the
    # tiled and global folds legitimately differ by ~1.5e-9 relative.
    # The regression under test is 100%-missing features, not FP noise.
    for k in a:
        assert a[k] == pytest.approx(b[k], rel=1e-8), k


def _global_face_fold(by_fid: dict) -> list:
    """Driver-side twin of the mosaic face fold (the global truth for
    the tiled ring emitters): incremental robust splits in feature_id
    order. by_fid: {feature_id: ring (np.ndarray)}."""
    faces: list = []
    processed: list = []
    for fid in sorted(by_fid):
        ring = by_fid[fid]
        new_faces = []
        for fr, ids in faces:
            inter, diff = G.gh_split_rings_robust(fr, [ring])
            if inter:
                new_faces.append((inter, ids | {fid}))
            if diff:
                new_faces.append((diff, ids))
        rem = [ring]
        for prev in processed:
            _, rem = G.gh_split_rings_robust(rem, prev)
            if not rem:
                break
        if rem:
            new_faces.append((rem, frozenset({fid})))
        faces = new_faces
        processed.append([ring])
    return faces


def _ring_set_stats(rings_or_pairs) -> tuple:
    """(n_rings, sorted signed areas, total perimeter) for a list of
    (area, arr) pairs or raw ring arrays."""
    areas = []
    per = 0.0
    n = 0
    for item in rings_or_pairs:
        arr = item[1] if isinstance(item, tuple) else item
        a = (
            item[0]
            if isinstance(item, tuple)
            else G.shoelace_area(arr[:, 0], arr[:, 1])
        )
        areas.append(a)
        per += G.path_length(
            np.append(arr[:, 0], arr[0, 0]), np.append(arr[:, 1], arr[0, 1])
        )
        n += 1
    return n, sorted(areas), per


def _overlap_layer_rows():
    """Two keys of chained overlapping boxes plus one grid-spanning
    feature per key (exercises the bounded-crop replication path)."""
    import pandas as pd

    rows = []
    fid = 0
    for key_i in range(2):
        key = f"k{key_i}"
        for c in range(3):
            cx0 = 9.0 * c + 0.013 * key_i
            cy0 = 4.0 * c + 0.017 * key_i
            for j in range(6):
                x, y, s = cx0 + 0.45 * j, cy0 + 0.3 * j, 2.0
                rows.append(
                    {
                        "feature_id": fid,
                        "key": key,
                        "xs": [x, x + s, x + s, x],
                        "ys": [y, y, y + s, y + s],
                    }
                )
                fid += 1
        # full-extent feature: bbox covers every cell -> crop path.
        # Top edge off-grain (5.47 + 1.03*key_i): an exact-coincidence
        # top (5.5 = box 11's bottom edge) manufactures measure-zero
        # sliver faces whose SIGNATURE bookkeeping legitimately differs
        # between the global and tiled folds' perturbations.
        rows.append(
            {
                "feature_id": fid,
                "key": key,
                "xs": [-1.5, 30.0, 30.0, -1.5],
                "ys": [-1.0, -1.0, 5.47 + 1.03 * key_i, 5.47 + 1.03 * key_i],
            }
        )
        fid += 1
    return pd.DataFrame(rows)


def test_mosaic_face_rings_tiled_matches_global(spark):
    """The tiled FACE ring-geometry emitter must reproduce the global
    mosaic fold's ring set per (key, members_csv): same ring count,
    same sorted signed areas, same total perimeter (extra collinear
    vertices at cell crossings change neither)."""
    from mapshaper_spark.operators import overlay as overlay_op

    pdf = _overlap_layer_rows()
    feats = spark.createDataFrame(
        pdf, schema="feature_id int, key string, xs array<double>, ys array<double>"
    )
    got: dict = {}
    for r in overlay_op.mosaic_face_rings_tiled(feats, res=4).collect():
        arr = np.column_stack([np.asarray(r["xs"]), np.asarray(r["ys"])])
        got.setdefault((r["key"], r["members_csv"]), []).append((r["area"], arr))
    want: dict = {}
    for key in ("k0", "k1"):
        by_fid = {
            int(r["feature_id"]): np.column_stack(
                [np.asarray(r["xs"]), np.asarray(r["ys"])]
            )
            for _, r in pdf[pdf["key"] == key].iterrows()
        }
        for fr, ids in _global_face_fold(by_fid):
            want[(key, ",".join(str(i) for i in sorted(ids)))] = fr
    assert set(got) == set(want)
    assert len(want) >= 20  # the layer genuinely overlaps
    for k in want:
        ng, ga, gp = _ring_set_stats(got[k])
        nw, wa, wp = _ring_set_stats(want[k])
        assert ng == nw, (k, ng, nw)
        for a, b in zip(ga, wa):
            assert a == pytest.approx(b, rel=1e-9), k
        assert gp == pytest.approx(wp, rel=1e-9), k


def test_clean_rings_tiled_matches_global(spark):
    """The tiled CLEAN ring-geometry emitter: a feature's min-id clean
    region is f ∖ ⋃(lower-id features) — must match the same sequential
    difference run globally, and its ring areas must sum to the
    independent clean_assign_areas accounting."""
    from mapshaper_spark.operators import overlay as overlay_op

    pdf = _overlap_layer_rows()
    feats = spark.createDataFrame(
        pdf, schema="feature_id int, key string, xs array<double>, ys array<double>"
    )
    got: dict = {}
    for r in overlay_op.clean_rings_tiled(feats, res=4).collect():
        arr = np.column_stack([np.asarray(r["xs"]), np.asarray(r["ys"])])
        got.setdefault((r["key"], r["feature_id"]), []).append((r["area"], arr))
    want: dict = {}
    for key in ("k0", "k1"):
        by_fid = {
            int(r["feature_id"]): np.column_stack(
                [np.asarray(r["xs"]), np.asarray(r["ys"])]
            )
            for _, r in pdf[pdf["key"] == key].iterrows()
        }
        processed: list = []
        for fid in sorted(by_fid):
            rem = [by_fid[fid]]
            for prev in processed:
                _, rem = G.gh_split_rings_robust(rem, prev)
                if not rem:
                    break
            if rem:
                want[(key, fid)] = rem
            processed.append([by_fid[fid]])
    assert set(got) == set(want)
    for k in want:
        ng, ga, gp = _ring_set_stats(got[k])
        nw, wa, wp = _ring_set_stats(want[k])
        assert ng == nw, (k, ng, nw)
        for a, b in zip(ga, wa):
            assert a == pytest.approx(b, rel=1e-9), k
        assert gp == pytest.approx(wp, rel=1e-9), k
    # cross-check against the independent area-accounting operator:
    # stitched ring areas must sum to clean_assign_areas' per-feature
    # areas (and the global union measure overall)
    from_op = {
        (r["key"], r["feature_id"]): r["clean_area"]
        for r in overlay_op.clean_assign_areas(feats).collect()
    }
    assert set(from_op) == set(want)
    for k in from_op:
        assert sum(a for a, _ in got[k]) == pytest.approx(from_op[k], rel=1e-9), k


def test_mosaic_face_rings_chunked_matches_assembled(spark):
    """chunked=True face-ring emitter reproduces the assembled form
    BITWISE per (key, members_csv, ring_id) — shared stitch machinery,
    pinned here for the composite-key route."""
    from mapshaper_spark.operators import overlay as overlay_op

    pdf = _overlap_layer_rows()
    feats = spark.createDataFrame(
        pdf, schema="feature_id int, key string, xs array<double>, ys array<double>"
    )
    full = {
        (r["key"], r["members_csv"], r["ring_id"]): (list(r["xs"]), list(r["ys"]))
        for r in overlay_op.mosaic_face_rings_tiled(feats, res=4).collect()
    }
    chunks: dict = {}
    for r in overlay_op.mosaic_face_rings_tiled(feats, res=4, chunked=True).collect():
        chunks.setdefault((r["key"], r["members_csv"], r["ring_id"]), []).append(
            (r["chunk_seq"], r["n_chunks"], list(r["xs"]), list(r["ys"]))
        )
    assert set(chunks) == set(full)
    for kk, parts in chunks.items():
        parts.sort()
        assert [p[0] for p in parts] == list(range(len(parts))), kk
        assert all(p[1] == len(parts) for p in parts), kk
        xs = [v for p in parts for v in p[2]]
        ys = [v for p in parts for v in p[3]]
        assert xs == full[kk][0], kk  # bitwise
        assert ys == full[kk][1], kk


def test_union_ring_sets_holed_inputs():
    """union_ring_sets unions even-odd ring SETS without flipping
    holes (union_many normalizes every ring CCW, so holed inputs must
    route here). Truth from the fixture rect decompositions via
    inclusion-exclusion."""
    donut = _feature(0)  # 40x40 outer, 20x20 hole
    shifted = [r + np.array([60.0, 0.0]) for r in donut]
    # disjoint: union = concatenation, signed sum = 2 donut areas
    u = G.union_ring_sets([donut, shifted])
    donut_area = 40.0 * 40.0 - 20.0 * 20.0
    assert _signed(u) == pytest.approx(2 * donut_area, rel=1e-12)
    assert len(u) == 4  # two outers + two holes survive
    # overlapping holed pair: |A ∪ B| = |A| + |B| - |A ∩ B| with the
    # intersection from the signed product algebra
    near = [r + np.array([15.0, 15.0]) for r in donut]
    dec_a = [
        (x0, y0, x1, y1, s)
        for p, x0, y0, x1, y1, s in fixtures.HOLED_RECT_DECOMP
        if p == 0
    ]
    inter = 0.0
    for ax0, ay0, ax1, ay1, sa in dec_a:
        for bx0, by0, bx1, by1, sb in (
            (x0 + 15, y0 + 15, x1 + 15, y1 + 15, s)
            for x0, y0, x1, y1, s in dec_a
        ):
            ox = max(0.0, min(ax1, bx1) - max(ax0, bx0))
            oy = max(0.0, min(ay1, by1) - max(ay0, by0))
            inter += sa * sb * ox * oy
    u2 = G.union_ring_sets([donut, near])
    assert _signed(u2) == pytest.approx(2 * donut_area - inter, rel=1e-12)


def test_tiled_mosaic_high_vertex_crop_path(spark):
    """[NEXT r4 #5] A 20k-vertex wiggly ring spanning the full grid
    takes the bounded-crop replication path with the two-level
    (column-strip -> cell) GH crop; the tiled faces must rebuild the
    ring's own measure exactly (single feature: one face signature)."""
    import pandas as pd

    from mapshaper_spark.operators import overlay as overlay_op

    t = np.linspace(0, 2 * np.pi, 20_000, endpoint=False)
    r = 10.0 + 0.5 * np.sin(40 * t)
    xs = 16.0 + 16.0 * np.cos(t) * r / 10.5
    ys = 8.0 + 8.0 * np.sin(t) * r / 10.5
    want = G.shoelace_area(xs, ys)
    assert want > 0
    feats = spark.createDataFrame(
        pd.DataFrame(
            [{"feature_id": 0, "key": "k", "xs": list(xs), "ys": list(ys)}]
        ),
        schema="feature_id int, key string, xs array<double>, ys array<double>",
    )
    rows = overlay_op.mosaic_faces_tiled(feats, res=4).collect()
    assert {r2["members_csv"] for r2 in rows} == {"0"}
    got = sum(r2["area"] for r2 in rows)
    assert got == pytest.approx(want, rel=1e-9)
    d = overlay_op.dissolve2_tiled(feats, res=4).collect()
    assert len(d) == 1 and d[0]["area"] == pytest.approx(want, rel=1e-9)


def test_dissolve2_rings_export_roundtrip(spark, tmp_path):
    """The '-dissolve2 … -o' path at scale: the distributed ring
    emitter feeds the scan-scale GeoJSONL exporter through
    rings_table_from_emitter, and the scan-scale importer reassembles
    the exact stitched ring set (bit-lossless roundtrip, ring order
    preserved via the exterior-first ring_idx)."""
    from mapshaper_spark.operators import overlay as overlay_op
    from mapshaper_spark.sources import geojson as gj

    pdf = _overlap_layer_rows()
    feats = spark.createDataFrame(
        pdf, schema="feature_id int, key string, xs array<double>, ys array<double>"
    )
    rings = overlay_op.dissolve2_rings_tiled(feats, res=4)
    table = gj.rings_table_from_emitter(rings)
    # key -> poly_id mapping + the emitted rings for comparison
    want: dict = {}
    for r in table.collect():
        want.setdefault(r["poly_id"], []).append(
            (r["ring_idx"], list(r["xs"]), list(r["ys"]))
        )
    assert len(want) == 2  # k0, k1
    path = str(tmp_path / "d2rings")
    gj.export_geojsonl(table.select("poly_id", "ring_idx", "xs", "ys"), path)
    back: dict = {}
    for r in gj.import_geojson_file(spark, path).collect():
        back.setdefault(r["poly_id"], []).append(
            (r["ring_idx"], list(r["xs"]), list(r["ys"]))
        )
    assert set(back) == set(want)
    for pid in want:
        assert sorted(back[pid]) == sorted(want[pid]), pid  # bitwise
