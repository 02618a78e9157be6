"""Greiner–Hormann general polygon booleans (the gh_clip_rings kernel on
single-ring pairs): unit geometries with hand-computed areas,
multi-piece outputs, containment/disjoint edges, and cross-validation
against the independent Sutherland–Hodgman path."""

from __future__ import annotations

import numpy as np
import pytest

from mapshaper_spark import geometry as G


def _area(rings) -> float:
    return sum(abs(G.shoelace_area(r[:, 0], r[:, 1])) for r in rings)


def _clip(a, b, op="intersection"):
    return G.gh_clip_rings([a], [b], op)


def _sq(x0, y0, w, h):
    return np.array([(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h)])


L_RING = np.array(
    [(0.0, 0.0), (4.0, 0.0), (4.0, 1.5), (1.5, 1.5), (1.5, 4.0), (0.0, 4.0)]
)  # area = 4*1.5 + 1.5*2.5 = 9.75

U_RING = np.array(
    [
        (0.0, 0.0), (5.0, 0.0), (5.0, 4.0), (3.5, 4.0), (3.5, 1.5),
        (1.5, 1.5), (1.5, 4.0), (0.0, 4.0),
    ]
)  # two arms x [0,1.5] and [3.5,5], base y [0,1.5]


def test_offset_squares():
    out = _clip(_sq(0, 0, 2, 2), _sq(1, 1, 2, 2))
    assert len(out) == 1
    assert _area(out) == pytest.approx(1.0)


def test_containment_both_ways():
    big, small = _sq(0, 0, 10, 10), _sq(2, 2, 1, 1)
    assert _area(_clip(big, small)) == pytest.approx(1.0)
    assert _area(_clip(small, big)) == pytest.approx(1.0)


def test_disjoint():
    assert _clip(_sq(0, 0, 1, 1), _sq(5, 5, 1, 1)) == []


def test_L_with_box_over_notch():
    """Box covering the L's notch corner: overlap is only the L's
    material inside the box."""
    box = _sq(1.0, 1.0, 2.0, 2.0)  # [1,3]x[1,3]
    # L material in [1,3]x[1,3]: bottom bar strip [1,3]x[1,1.5] = 1.0
    # plus column strip [1,1.5]x[1.5,3] = 0.75
    out = _clip(L_RING, box)
    assert _area(out) == pytest.approx(1.75)


def test_U_with_bar_gives_two_pieces():
    """A horizontal bar across the U's two arms intersects in TWO
    disjoint pieces."""
    bar = _sq(-1.0, 2.0, 7.0, 1.0)  # y [2,3], spans both arms
    out = _clip(U_RING, bar)
    assert len(out) == 2
    assert _area(out) == pytest.approx(2 * 1.5 * 1.0)


def test_symmetry_subject_clip_swap():
    a = _clip(L_RING, _sq(0.5, 0.5, 3.0, 3.0))
    b = _clip(_sq(0.5, 0.5, 3.0, 3.0), L_RING)
    assert _area(a) == pytest.approx(_area(b))


@pytest.mark.parametrize("poly_idx", [0, 1, 2, 3])
def test_cross_validate_vs_sutherland_hodgman(poly_idx):
    """Concave fixture polygon x convex window: GH piece area must equal
    the independent S-H signed-area accounting."""
    from mapshaper_spark import fixtures

    ring = np.array(fixtures.NONCONVEX_POLYGONS[poly_idx]["ring"])
    cx = float(ring[:, 0].mean())
    cy = float(ring[:, 1].mean())
    win = _sq(cx - 9.7, cy - 7.3, 19.4, 14.6)  # odd offsets: general position
    got = _area(_clip(ring, win))
    sx, sy = G.clip_ring_convex(ring[:, 0], ring[:, 1], win)
    want = abs(G.shoelace_seq(sx, sy)[0]) / 2.0 if len(sx) >= 3 else 0.0
    assert got == pytest.approx(want, rel=1e-12)


def _signed_area(rings) -> float:
    return sum(G.shoelace_area(r[:, 0], r[:, 1]) for r in rings)


@pytest.mark.parametrize(
    "a,b",
    [
        (_sq(0, 0, 2, 2), _sq(1, 1, 2, 2)),
        (L_RING, _sq(1.0, 1.0, 2.0, 2.0)),
        (U_RING, _sq(-1.0, 2.0, 7.0, 1.0)),
        (
            L_RING,
            np.array([(0.5, 0.5), (3.0, 0.5), (3.0, 3.0), (2.0, 3.0), (2.0, 1.0), (0.5, 1.0)]),
        ),
    ],
)
def test_boolean_identities(a, b):
    """|A∩B| + |A\\B| = |A| and |A∪B| = |A|+|B|−|A∩B| — signed sums so
    hole rings subtract. Validates all three flag polarities at once."""
    area_a = abs(G.shoelace_area(a[:, 0], a[:, 1]))
    area_b = abs(G.shoelace_area(b[:, 0], b[:, 1]))
    inter = _area(_clip(a, b))
    diff = abs(_signed_area(_clip(a, b, "difference")))
    union = abs(_signed_area(_clip(a, b, "union")))
    assert inter + diff == pytest.approx(area_a, rel=1e-12)
    assert union == pytest.approx(area_a + area_b - inter, rel=1e-12)


def test_difference_containment_yields_hole_ring():
    big, small = _sq(0, 0, 10, 10), _sq(3, 3, 2, 2)
    out = _clip(big, small, "difference")
    assert len(out) == 2
    assert _signed_area(out) == pytest.approx(100.0 - 4.0)
    # even-odd check: a point inside the hole is OUTSIDE the region
    assert not G.pip_rings(np.array([4.0]), np.array([4.0]), out)[0]
    assert G.pip_rings(np.array([1.0]), np.array([1.0]), out)[0]


def test_union_disjoint_keeps_both():
    out = _clip(_sq(0, 0, 1, 1), _sq(5, 5, 1, 1), "union")
    assert len(out) == 2
    assert _signed_area(out) == pytest.approx(2.0)


def test_difference_disjoint_keeps_subject():
    out = _clip(_sq(0, 0, 1, 1), _sq(5, 5, 1, 1), "difference")
    assert len(out) == 1 and _signed_area(out) == pytest.approx(1.0)


def test_union_many_chain_and_disjoint():
    """union_many: a 3-square overlapping chain fuses into ONE ring
    (first and last never touch directly — the restart-scan matters),
    disjoint shapes stay separate, areas exact."""
    chain = [
        _sq(0.0, 0.0, 4.0, 4.0),
        _sq(5.0, 1.0, 4.0, 4.0),  # overlaps only the middle square
        _sq(2.5, 0.5, 4.0, 4.0),  # bridges the two
    ]
    out = G.union_many(chain)
    assert len(out) == 1
    # elementary-cell truth for the union of the three squares
    import numpy as np

    xs = sorted({0.0, 4.0, 5.0, 9.0, 2.5, 6.5})
    ys = sorted({0.0, 4.0, 1.0, 5.0, 0.5, 4.5})
    area = 0.0
    rects = [(0, 0, 4, 4), (5, 1, 9, 5), (2.5, 0.5, 6.5, 4.5)]
    for xa, xb in zip(xs, xs[1:]):
        for ya, yb in zip(ys, ys[1:]):
            if any(x0 <= xa and xb <= x1 and y0 <= ya and yb <= y1 for x0, y0, x1, y1 in rects):
                area += (xb - xa) * (yb - ya)
    got = sum(abs(G.shoelace_area(r[:, 0], r[:, 1])) for r in out)
    assert got == pytest.approx(area, rel=1e-12)

    out2 = G.union_many([_sq(0, 0, 1, 1), _sq(5, 5, 1, 1)])
    assert len(out2) == 2


def test_union_many_hole_producing_merge():
    """A U closed off by a bar produces a donut — union_many returns the
    even-odd ring SET: one CCW outer ring + one CW hole ring whose
    signed areas sum to the union measure [VERDICT r2 #3].

    U arms x [0,1.5] and [3.5,5], base y [0,1.5]; bar [-1,6] x [2,3].
    Union area = |U| + |bar| − |U∩bar|; the enclosed pocket is
    x (1.5,3.5) × y (1.5,2) — trapped between base, arms, and bar."""
    bar = _sq(-1.0, 2.0, 7.0, 1.0)
    out = G.union_many([U_RING, bar])
    signed = [G.shoelace_area(r[:, 0], r[:, 1]) for r in out]
    assert len(out) == 2
    assert sum(1 for a in signed if a > 0) == 1  # one outer
    assert sum(1 for a in signed if a < 0) == 1  # one hole
    area_u = abs(G.shoelace_area(U_RING[:, 0], U_RING[:, 1]))
    area_bar = 7.0 * 1.0
    inter = 2 * 1.5 * 1.0  # bar crosses the two arms
    assert sum(signed) == pytest.approx(area_u + area_bar - inter, rel=1e-12)
    hole = min(signed)
    assert -hole == pytest.approx((3.5 - 1.5) * (2.0 - 1.5), rel=1e-12)


def test_concave_concave_L_pair():
    """Two interlocking Ls — concave x concave, hand-computed overlap."""
    other = np.array(
        [(0.5, 0.5), (3.0, 0.5), (3.0, 3.0), (2.0, 3.0), (2.0, 1.0), (0.5, 1.0)]
    )  # reversed-L: bar [0.5,3]x[0.5,1] + column [2,3]x[1,3]
    # overlap with L_RING ([0,4]x[0,1.5] bar + [0,1.5]x[0,4] column):
    #   other bar [0.5,3]x[0.5,1] sits fully inside L's bottom bar: 2.5*0.5
    #   other column [2,3]x[1,3] ∩ L bar = [2,3]x[1,1.5] = 0.5
    #   other column ∩ L column ([0,1.5]x...) = empty
    out = _clip(L_RING, other)
    assert _area(out) == pytest.approx(2.5 * 0.5 + 0.5)


def test_dense_star_boolean_identities():
    """The r3 pip_ray edge-vectorization keeps the kernels exact at
    density: a 400-vertex star pair (hundreds of crossings) satisfies
    the boolean area identities |A∩B| + |A∖B| = |A| and
    |A∩B| + |A∪B| = |A| + |B| to float accumulation error."""
    import numpy as np

    from mapshaper_spark import geometry as G

    def star(n, r1, r2, cx, cy, phase=0.0):
        ang = np.arange(2 * n) * np.pi / n + phase
        rad = np.where(np.arange(2 * n) % 2 == 0, r1, r2)
        return np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])

    a = star(200, 10.0, 6.0, 0.0, 0.0)
    b = star(200, 10.0, 6.0, 3.0, 1.0, phase=0.013)

    def signed(rings):
        return sum(G.shoelace_area(r[:, 0], r[:, 1]) for r in rings)

    area_a = signed([a])
    area_b = signed([b])
    inter = signed(G.gh_clip_rings([a], [b], "intersection"))
    diff = signed(G.gh_clip_rings([a], [b], "difference"))
    union = signed(G.gh_clip_rings([a], [b], "union"))
    assert 0.0 < inter < min(area_a, area_b)
    assert abs(inter + diff - area_a) < 1e-9 * area_a
    assert abs(inter + union - (area_a + area_b)) < 1e-9 * (area_a + area_b)


def test_gh_clip_donut_union_orientation():
    """r3 review regression: two C-shapes closing a picture frame — the
    traced outer ring's CENTROID lies inside the enclosed hole, so
    centroid-based orientation flipped the outer boundary CW and the
    union's signed area came out -98.69 instead of 30.825. The kernel
    orients with near-boundary interior points; the union keeps its
    true area and the boolean identity holds."""
    c1 = np.array(
        [(0, 0), (7.8, 0), (7.8, 0.9), (1.1, 0.9), (1.1, 7.1), (7.8, 7.1), (7.8, 8), (0, 8)],
        float,
    )
    c2 = np.array(
        [(0.2, 0.05), (8.1, 0.05), (8.1, 7.9), (0.2, 7.9), (0.2, 6.9), (6.9, 6.9), (6.9, 1.05), (0.2, 1.05)],
        float,
    )

    def area(rings):
        return sum(G.shoelace_area(r[:, 0], r[:, 1]) for r in rings)

    a = area(_clip(c1, c2, "intersection")) + area(_clip(c1, c2, "difference"))
    assert a == pytest.approx(G.shoelace_area(c1[:, 0], c1[:, 1]), rel=1e-12)
    assert area(_clip(c1, c2, "union")) == pytest.approx(30.825, rel=1e-9)
