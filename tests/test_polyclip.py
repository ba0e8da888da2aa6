"""Polygon boolean ops (functions/polyclip.py): membership-equivalence
on dense probe grids — even-odd over the OUTPUT rings must equal the
boolean formula over the INPUT rings everywhere — plus area
identities. This is the strongest available check without a second
geometry engine in the container."""

import numpy as np
import pytest

from ndvi_etl_pipeline_spark.functions import polyclip as PC

A = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)]
B = [(5.5, 5.5), (15.5, 5.5), (15.5, 15.5), (5.5, 15.5)]
CONCAVE = [(2.0, 2.0), (8.0, 2.5), (7.5, 7.5), (4.9, 4.2), (2.5, 8.0)]
TRI = [(4.3, 0.5), (12.0, 4.0), (6.0, 12.0)]


def member(rings, x, y):
    return sum(PC.point_in_ring(x, y, r) for r in rings) % 2 == 1


def bad_count(rings, formula, lo, hi, step=0.25):
    bad = 0
    x = lo
    while x <= hi:
        y = lo
        while y <= hi:
            px, py = x + 0.013, y + 0.007  # probes off all edges
            if member(rings, px, py) != formula(px, py):
                bad += 1
            y += step
        x += step
    return bad


@pytest.mark.parametrize(
    "a,b,lo,hi",
    [(A, B, -2, 18), (CONCAVE, TRI, -1, 14), (A, TRI, -2, 14)],
)
@pytest.mark.parametrize("op", ["union", "intersection", "difference"])
def test_boolean_ops_membership_equivalence(a, b, lo, hi, op):
    ina = lambda x, y: PC.point_in_ring(x, y, a)  # noqa: E731
    inb = lambda x, y: PC.point_in_ring(x, y, b)  # noqa: E731
    formula = {
        "union": lambda x, y: ina(x, y) or inb(x, y),
        "intersection": lambda x, y: ina(x, y) and inb(x, y),
        "difference": lambda x, y: ina(x, y) and not inb(x, y),
    }[op]
    rings = PC.clip_polygons(a, b, op)
    assert bad_count(rings, formula, lo, hi) == 0


def test_area_inclusion_exclusion():
    aU = PC.rings_area_even_odd(PC.polygon_union(A, B))
    aI = PC.rings_area_even_odd(PC.polygon_intersection(A, B))
    assert abs(aU - (100.0 + 100.0 - aI)) < 1e-9
    assert abs(aI - 20.25) < 1e-9  # 4.5 × 4.5 overlap square


def test_containment_disjoint_and_hole():
    S = [(1.0, 1.0), (2.0, 1.0), (2.0, 2.0), (1.0, 2.0)]
    far = [(20.0, 20.0), (21.0, 20.0), (21.0, 21.0), (20.0, 21.0)]
    assert len(PC.polygon_union(S, A)) == 1  # contained → outer only
    assert PC.polygon_intersection(S, far) == []
    assert len(PC.polygon_union(S, far)) == 2  # disjoint multipolygon
    hole = PC.polygon_difference(A, S)  # even-odd hole = 2 rings
    assert len(hole) == 2
    assert member(hole, 5.0, 5.0) and not member(hole, 1.5, 1.5)
    assert abs(PC.rings_area_even_odd(hole) - 99.0) < 1e-9


def test_shared_edge_degenerate_resolves_by_perturbation():
    E = [(10.0, 0.0), (20.0, 0.0), (20.0, 10.0), (10.0, 10.0)]
    rings = PC.polygon_union(A, E)
    ina = lambda x, y: PC.point_in_ring(x, y, A)  # noqa: E731
    ine = lambda x, y: PC.point_in_ring(x, y, E)  # noqa: E731
    # probes are ≥ 0.007 from any edge; the perturbation bound is
    # ~1e-8·extent, so equivalence must still be exact at the probes
    assert bad_count(rings, lambda x, y: ina(x, y) or ine(x, y), -2, 22, 0.5) == 0


def test_union_all_dissolves_overlap_chain():
    F = [(8.0, 8.0), (14.0, 8.0), (14.0, 14.0), (8.0, 14.0)]
    G = [(30.0, 30.0), (32.0, 30.0), (32.0, 32.0), (30.0, 32.0)]
    out = PC.union_all([A, B, F, G])
    assert len(out) == 2  # A∪B∪F merge transitively; G stays apart
    forms = [A, B, F, G]
    formula = lambda x, y: any(PC.point_in_ring(x, y, r) for r in forms)  # noqa: E731
    assert bad_count(out, formula, -2, 34, 0.4) == 0


# C-shape (open to the right) + a cap closing the mouth: their union
# has a hole — the ADVICE-reported case the single-ring fold missed.
C_SHAPE = [
    (0.0, 0.0), (12.0, 0.0), (12.0, 3.0), (3.0, 3.0), (3.0, 9.0),
    (12.0, 9.0), (12.0, 12.0), (0.0, 12.0),
]
CAP = [(10.0, 2.0), (13.0, 2.0), (13.0, 10.0), (10.0, 10.0)]


def test_union_all_hole_creating_merge():
    out = PC.union_all([C_SHAPE, CAP])
    forms = [C_SHAPE, CAP]
    formula = lambda x, y: any(PC.point_in_ring(x, y, r) for r in forms)  # noqa: E731
    # the cavity (e.g. 6, 6) must classify OUTSIDE; the cap strip
    # (e.g. 12.5, 6) INSIDE — both were wrong before the fix
    assert not member(out, 6.0, 6.0)
    assert member(out, 12.5, 6.0)
    assert bad_count(out, formula, -2, 15, 0.4) == 0
    # pairwise-union area identity still holds through the fold
    aU = PC.rings_area_even_odd(out)
    aI = PC.rings_area_even_odd(PC.polygon_intersection(C_SHAPE, CAP))
    aC = PC.rings_area_even_odd([C_SHAPE])
    aK = PC.rings_area_even_odd([CAP])
    assert abs(aU - (aC + aK - aI)) < 1e-6


def test_union_all_island_inside_cavity():
    # a small square fully inside the cavity formed by C∪cap: it stays
    # a separate component (disjoint region), and membership is exact
    island = [(5.0, 5.0), (7.0, 5.0), (7.0, 7.0), (5.0, 7.0)]
    out = PC.union_all([C_SHAPE, CAP, island])
    forms = [C_SHAPE, CAP, island]
    formula = lambda x, y: any(PC.point_in_ring(x, y, r) for r in forms)  # noqa: E731
    assert member(out, 6.0, 6.0)  # island interior
    assert not member(out, 4.0, 6.5)  # cavity outside island
    assert bad_count(out, formula, -2, 15, 0.4) == 0


def test_union_all_ring_bridging_two_components():
    # two disjoint squares bridged by a third: must merge transitively
    left = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0)]
    right = [(8.0, 0.0), (12.0, 0.0), (12.0, 4.0), (8.0, 4.0)]
    bridge = [(3.0, 1.0), (9.0, 1.0), (9.0, 3.0), (3.0, 3.0)]
    out = PC.union_all([left, right, bridge])
    forms = [left, right, bridge]
    formula = lambda x, y: any(PC.point_in_ring(x, y, r) for r in forms)  # noqa: E731
    assert bad_count(out, formula, -1, 13, 0.3) == 0


def test_random_convex_pairs_property():
    """Property sweep: random convex polygons (sorted-angle
    construction), all three ops, membership equivalence on a coarse
    grid. Deterministic seeds."""
    rng = np.random.default_rng(123)
    for _ in range(12):
        def rand_convex():
            n = int(rng.integers(3, 9))
            ang = np.sort(rng.uniform(0, 2 * np.pi, n))
            rad = rng.uniform(2, 6)
            cx, cy = rng.uniform(3, 9, 2)
            return [
                (float(cx + rad * np.cos(a)), float(cy + rad * np.sin(a)))
                for a in ang
            ]

        a, b = rand_convex(), rand_convex()
        ina = lambda x, y: PC.point_in_ring(x, y, a)  # noqa: E731
        inb = lambda x, y: PC.point_in_ring(x, y, b)  # noqa: E731
        for op, f in (
            ("union", lambda x, y: ina(x, y) or inb(x, y)),
            ("intersection", lambda x, y: ina(x, y) and inb(x, y)),
            ("difference", lambda x, y: ina(x, y) and not inb(x, y)),
        ):
            rings = PC.clip_polygons(a, b, op)
            assert bad_count(rings, f, -4, 16, 0.5) == 0, (op, a, b)


def test_rings_to_geojson():
    S = [(2.0, 2.0), (4.0, 2.0), (4.0, 4.0), (2.0, 4.0)]
    far = [(20.0, 0.0), (22.0, 0.0), (22.0, 2.0), (20.0, 2.0)]
    hole = PC.polygon_difference(A, S)
    gj = PC.rings_to_geojson(hole)
    assert gj["type"] == "Polygon" and len(gj["coordinates"]) == 2
    assert gj["coordinates"][0][0] == gj["coordinates"][0][-1]  # closed
    multi = PC.rings_to_geojson(PC.polygon_union(A, far))
    assert multi["type"] == "MultiPolygon" and len(multi["coordinates"]) == 2
    # GeoJSON coordinates round-trip: rings recovered from the dict
    # classify points exactly like the source ring set
    back = [
        [(float(x), float(y)) for x, y in r[:-1]] for r in gj["coordinates"]
    ]
    assert member(back, 5.0, 5.0) and not member(back, 3.0, 3.0)


def test_union_polygons_preserves_input_holes():
    """GeoJSON polygons-with-holes dissolve: a cavity survives unless
    another input actually covers it (the --aoi-geojson hole-drop
    fix)."""
    donut = (
        [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)],
        [[(3.0, 3.0), (7.0, 3.0), (7.0, 7.0), (3.0, 7.0)]],
    )
    solid = ([(20.0, 20.0), (25.0, 20.0), (25.0, 25.0), (20.0, 25.0)], [])
    out = PC.union_polygons([donut, solid])
    assert not member(out, 5.0, 5.0)  # cavity stays excluded
    assert member(out, 1.0, 1.0)
    assert member(out, 22.0, 22.0)

    def formula(x, y):
        in_donut = PC.point_in_ring(x, y, donut[0]) and not PC.point_in_ring(
            x, y, donut[1][0]
        )
        return in_donut or PC.point_in_ring(x, y, solid[0])

    assert bad_count(out, formula, -2, 27, 0.4) == 0


def test_union_polygons_overlap_fills_hole_partially():
    """A second polygon covering part of the cavity: the covered strip
    becomes INSIDE, the uncovered cavity remainder stays OUTSIDE."""
    donut = (
        [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)],
        [[(3.0, 3.0), (7.0, 3.0), (7.0, 7.0), (3.0, 7.0)]],
    )
    cap = ([(6.0, 2.0), (12.0, 2.0), (12.0, 8.0), (6.0, 8.0)], [])
    out = PC.union_polygons([donut, cap])
    assert member(out, 6.5, 5.0)  # covered strip of the old cavity
    assert not member(out, 4.0, 5.0)  # uncovered cavity remainder

    def formula(x, y):
        in_donut = PC.point_in_ring(x, y, donut[0]) and not PC.point_in_ring(
            x, y, donut[1][0]
        )
        return in_donut or PC.point_in_ring(x, y, cap[0])

    assert bad_count(out, formula, -2, 14, 0.4) == 0
