"""Polygon boolean operations (union / intersection / difference) in
pure Python — geometry OUTPUT, not just membership predicates.

The reference dissolves AOI features with shapely's `unary_union`
(download_landsat_stac.py:79) and uses the resulting geometry object
for intersects tests and clipping. Round 1 covered those USES with
membership predicates (OR of ray casts, `point_in_any_ring`); this
module supplies the missing geometry-producing operator so a union is
a first-class ring set that can be stored (GeoJSON), re-clipped, or
handed to the sargable bbox machinery like any other AOI — no shapely
in the container, so the clipper is implemented directly:
Greiner–Hormann (Computing 1998), the standard intersection-linked-list
polygon clipping algorithm.

Scope and contracts:
- Inputs are simple (non-self-intersecting) rings, open form
  [(x, y), ...]; output is a list of rings under EVEN-ODD semantics —
  holes are just additional rings, matching the engine's multi-ring
  ray cast (`functions/geo.py::point_in_rings_col`), so any output
  plugs straight into `clip_filter`.
- Degenerate intersections (edge through a vertex, collinear
  overlapping edges) are resolved by a deterministic micro-
  perturbation of the second polygon (relative 1e-9, retried up to 8
  exponents) — the same pragmatic move production clippers make; the
  perturbation bound is documented in `clip_polygons`.
- `union_all` folds N rings into connected components (exterior +
  holes), merging transitively; hole-creating unions (a C-shape closed
  by a cap) and islands inside cavities are handled exactly under
  even-odd parity. This is `unary_union` for the few-feature AOI case
  this serves. Geometry ops on driver-known AOIs
  are driver-side by design (the reference unions once per run); the
  DISTRIBUTED dissolve over millions of geometries would be a
  grouped kernel over the engine's Arrow boundary
  (operators/arrow_kernels.py `map_groups`), SURVEY §2.5 A2.

Verification (tests/test_polyclip.py): membership equivalence on
dense probe grids — even-odd over the OUTPUT rings must equal the
boolean formula over the INPUT rings (OR / AND / AND-NOT) at every
probe point — plus shoelace-area identities (|A∪B| = |A| + |B| −
|A∩B|) and an oracle-checked query that clips pixels by a computed
union geometry against the OR-of-ray-casts SQL form.
"""

from __future__ import annotations

Point = tuple[float, float]
Ring = list[Point]

__all__ = [
    "clip_polygons",
    "union_all",
    "polygon_union",
    "polygon_intersection",
    "polygon_difference",
    "shoelace_area",
    "point_in_ring",
    "rings_area_even_odd",
    "rings_to_geojson",
]


class _Degenerate(Exception):
    """An intersection landed on a vertex / collinear overlap."""


class _V:
    __slots__ = (
        "x", "y", "next", "prev", "neighbor", "intersect", "entry",
        "alpha", "visited",
    )

    def __init__(self, x: float, y: float, alpha: float = 0.0, intersect: bool = False):
        self.x = x
        self.y = y
        self.next: _V | None = None
        self.prev: _V | None = None
        self.neighbor: _V | None = None
        self.intersect = intersect
        self.entry = False
        self.alpha = alpha
        self.visited = False


def _build(ring: Ring) -> _V:
    if len(ring) >= 2 and ring[0] == ring[-1]:
        ring = ring[:-1]
    if len(ring) < 3:
        raise ValueError("ring needs >= 3 distinct vertices")
    head = _V(*ring[0])
    cur = head
    for p in ring[1:]:
        v = _V(*p)
        cur.next = v
        v.prev = cur
        cur = v
    cur.next = head
    head.prev = cur
    return head


def _vertices(head: _V):
    v = head
    while True:
        yield v
        v = v.next
        if v is head:
            break


def point_in_ring(x: float, y: float, ring: Ring) -> bool:
    """Even-odd ray cast (same edge convention as geo.point_in_rings)."""
    n = len(ring)
    inside = False
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        if (y1 > y) != (y2 > y):
            x_at = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
            if x < x_at:
                inside = not inside
    return inside


def shoelace_area(ring: Ring) -> float:
    n = len(ring)
    s = 0.0
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        s += x1 * y2 - x2 * y1
    return abs(s) / 2.0


def rings_area_even_odd(rings: list[Ring]) -> float:
    """Area under even-odd semantics: disjoint exteriors add, holes
    (rings inside an odd depth) subtract. Computed by signed depth:
    a ring inside k other rings contributes with sign (−1)^k."""
    total = 0.0
    for i, r in enumerate(rings):
        # probe with the ring's first vertex nudged inside is fragile;
        # count containment of a representative interior point: use
        # the ring's centroid of its first triangle fan that lies
        # inside the ring itself
        px, py = _interior_point(r)
        depth = sum(
            1 for j, other in enumerate(rings) if j != i and point_in_ring(px, py, other)
        )
        total += shoelace_area(r) * (1.0 if depth % 2 == 0 else -1.0)
    return total


def _interior_point(ring: Ring) -> Point:
    """A point strictly inside a simple ring: midpoint of a diagonal
    of an 'ear', found by scanning triangle fans."""
    n = len(ring)
    for i in range(n):
        a, b, c = ring[i], ring[(i + 1) % n], ring[(i + 2) % n]
        mx, my = (a[0] + c[0]) / 2.0, (a[1] + c[1]) / 2.0
        if point_in_ring(mx, my, ring):
            return (mx, my)
    # fallback: vertex average (convex case always passes above)
    return (
        sum(p[0] for p in ring) / n,
        sum(p[1] for p in ring) / n,
    )


def _intersect_edges(s1: _V, s2: _V, c1: _V, c2: _V):
    """Proper intersection of open segments; returns (alpha_s, alpha_c)
    or None. Raises _Degenerate for endpoint hits / collinear overlap."""
    dsx, dsy = s2.x - s1.x, s2.y - s1.y
    dcx, dcy = c2.x - c1.x, c2.y - c1.y
    den = dsx * dcy - dsy * dcx
    ex, ey = c1.x - s1.x, c1.y - s1.y
    if den == 0.0:
        # parallel: overlap iff also collinear AND ranges intersect
        cross = ex * dsy - ey * dsx
        if cross == 0.0:
            # collinear — overlapping ranges are degenerate
            ts = []
            L2 = dsx * dsx + dsy * dsy
            for px, py in ((c1.x, c1.y), (c2.x, c2.y)):
                ts.append(((px - s1.x) * dsx + (py - s1.y) * dsy) / L2)
            lo, hi = min(ts), max(ts)
            if hi > 0.0 and lo < 1.0:
                raise _Degenerate("collinear overlapping edges")
        return None
    a_s = (ex * dcy - ey * dcx) / den
    a_c = (ex * dsy - ey * dsx) / den
    eps = 1e-12
    if -eps < a_s < eps or 1 - eps < a_s < 1 + eps or -eps < a_c < eps or 1 - eps < a_c < 1 + eps:
        if -eps <= a_s <= 1 + eps and -eps <= a_c <= 1 + eps:
            raise _Degenerate("intersection at a vertex")
        return None
    if 0.0 < a_s < 1.0 and 0.0 < a_c < 1.0:
        return a_s, a_c
    return None


def _insert_sorted(after: _V, before_next: _V, v: _V) -> None:
    """Insert intersection vertex between `after` and its original
    edge end, keeping alpha order among already-inserted nodes."""
    cur = after
    while cur.next is not before_next and cur.next.intersect and cur.next.alpha < v.alpha:
        cur = cur.next
    nxt = cur.next
    cur.next = v
    v.prev = cur
    v.next = nxt
    nxt.prev = v


def _first_ring_point(head: _V) -> Point:
    for v in _vertices(head):
        if not v.intersect:
            return (v.x, v.y)
    return (head.x, head.y)


def _mark_entries(head: _V, other: Ring, invert: bool) -> None:
    x0, y0 = _first_ring_point(head)
    status = not point_in_ring(x0, y0, other)  # next crossing enters?
    if invert:
        status = not status
    for v in _vertices(head):
        if v.intersect:
            v.entry = status
            status = not status


def _gh_clip(subject: Ring, clip: Ring, op: str) -> list[Ring] | None:
    """One Greiner–Hormann pass. Returns rings, or None when there are
    no proper intersections (caller handles containment/disjoint)."""
    s_head = _build(subject)
    c_head = _build(clip)

    s_edges = [(v, v.next) for v in _vertices(s_head)]
    c_edges = [(v, v.next) for v in _vertices(c_head)]
    found = False
    for s1, s2 in s_edges:
        for c1, c2 in c_edges:
            hit = _intersect_edges(s1, s2, c1, c2)
            if hit is None:
                continue
            a_s, a_c = hit
            x = s1.x + a_s * (s2.x - s1.x)
            y = s1.y + a_s * (s2.y - s1.y)
            vs = _V(x, y, a_s, True)
            vc = _V(x, y, a_c, True)
            vs.neighbor, vc.neighbor = vc, vs
            _insert_sorted(s1, s2, vs)
            _insert_sorted(c1, c2, vc)
            found = True
    if not found:
        return None

    inv_s, inv_c = {
        "intersection": (False, False),
        "union": (True, True),
        "difference": (True, False),
    }[op]
    _mark_entries(s_head, clip, inv_s)
    _mark_entries(c_head, subject, inv_c)

    out: list[Ring] = []
    while True:
        start = None
        for v in _vertices(s_head):
            if v.intersect and not v.visited:
                start = v
                break
        if start is None:
            break
        ring: Ring = [(start.x, start.y)]
        cur = start
        while True:
            cur.visited = True
            if cur.neighbor is not None:
                cur.neighbor.visited = True
            if cur.entry:
                while True:
                    cur = cur.next
                    ring.append((cur.x, cur.y))
                    if cur.intersect:
                        break
            else:
                while True:
                    cur = cur.prev
                    ring.append((cur.x, cur.y))
                    if cur.intersect:
                        break
            cur = cur.neighbor
            if cur is start or cur.visited and (cur.x, cur.y) == ring[0]:
                break
        if ring[0] == ring[-1]:
            ring = ring[:-1]
        if len(ring) >= 3:
            out.append(ring)
    return out


def _perturb(ring: Ring, k: int) -> Ring:
    """Deterministic micro-perturbation: shift by scale·(k+1) in a
    fixed direction. Bounded by 8·1e-9·extent — far below any pixel/
    coordinate resolution the engine clips at."""
    eps = 1e-9 * (k + 1)
    span = max(
        max(p[0] for p in ring) - min(p[0] for p in ring),
        max(p[1] for p in ring) - min(p[1] for p in ring),
        1.0,
    )
    d = eps * span
    return [(x + d, y + d * 0.5) for x, y in ring]


def clip_polygons(subject: Ring, clip: Ring, op: str) -> list[Ring]:
    """Boolean operation on two simple rings → ring set (even-odd).

    op ∈ {'union', 'intersection', 'difference'} (difference =
    subject − clip). Degenerate configurations retry with a
    deterministic micro-perturbation of `clip` (≤ 8·1e-9·extent — see
    `_perturb`); results are exact for general-position inputs and
    within the perturbation bound otherwise.
    """
    if op not in ("union", "intersection", "difference"):
        raise ValueError(f"unknown op {op!r}")
    last: Exception | None = None
    for k in range(9):
        c = clip if k == 0 else _perturb(clip, k - 1)
        try:
            res = _gh_clip(subject, c, op)
        except _Degenerate as e:
            last = e
            continue
        if res is not None:
            return res
        # No proper intersections: containment / disjoint cases. Probe
        # with a BOUNDARY vertex, not an interior point: with zero
        # boundary crossings each boundary lies entirely inside or
        # entirely outside the other ring, while an interior point of
        # the outer ring can land inside a ring nested WITHIN it (e.g.
        # an island centered in a cavity) and misreport containment.
        s_in_c = point_in_ring(*subject[0], c)
        c_in_s = point_in_ring(*c[0], subject)
        if op == "union":
            if s_in_c:
                return [list(c)]
            if c_in_s:
                return [list(subject)]
            return [list(subject), list(c)]
        if op == "intersection":
            if s_in_c:
                return [list(subject)]
            if c_in_s:
                return [list(c)]
            return []
        # difference
        if s_in_c:
            return []
        if c_in_s:
            return [list(subject), list(c)]  # hole, even-odd
        return [list(subject)]
    raise ValueError(f"degenerate configuration persisted: {last}")


def polygon_union(a: Ring, b: Ring) -> list[Ring]:
    return clip_polygons(a, b, "union")


def polygon_intersection(a: Ring, b: Ring) -> list[Ring]:
    return clip_polygons(a, b, "intersection")


def polygon_difference(a: Ring, b: Ring) -> list[Ring]:
    return clip_polygons(a, b, "difference")


def _ring_bbox(ring: Ring) -> tuple[float, float, float, float]:
    xs = [p[0] for p in ring]
    ys = [p[1] for p in ring]
    return min(xs), min(ys), max(xs), max(ys)


# A "component" is (exterior, holes): one connected dissolved piece with
# its cavities, membership = even-odd over the flat ring list. Hole
# regions may themselves be represented even-odd by >1 ring (e.g. an
# island inside a cavity contributes [hole, island]) — parity handles
# arbitrary nesting, and _nest_rings regroups for GeoJSON output.
_Component = tuple[Ring, list[Ring]]


def _exteriors_interact(e1: Ring, e2: Ring) -> bool:
    b1, b2 = _ring_bbox(e1), _ring_bbox(e2)
    if b1[2] < b2[0] or b2[2] < b1[0] or b1[3] < b2[1] or b2[3] < b1[1]:
        return False
    return bool(polygon_intersection(e1, e2))


def _merge_components(c1: _Component, c2: _Component) -> _Component:
    """Union of two components whose exteriors interact.

    Exterior: GH union of the exteriors (single exterior + possible
    enclosed "gap" holes; the exterior is the max-|area| ring). Holes:
    the union's complement inside the new exterior,
    (H1∖E2) ∪ (H2∖E1) ∪ (H1∩H2) ∪ gaps — three pairwise-disjoint
    families, each computed by GH ops on simple rings, so the flat
    even-odd parity of the output is exact for any overlap/containment
    configuration (islands in cavities included)."""
    (e1, h1s), (e2, h2s) = c1, c2
    u = polygon_union(e1, e2)
    if len(u) == 1:
        ext, holes = u[0], []
    else:
        areas = [abs(shoelace_area(r)) for r in u]
        k = areas.index(max(areas))
        ext = u[k]
        holes = [r for i, r in enumerate(u) if i != k]
    for h in h1s:
        holes.extend(polygon_difference(h, e2))
    for h in h2s:
        holes.extend(polygon_difference(h, e1))
    for a in h1s:
        for b in h2s:
            holes.extend(polygon_intersection(a, b))
    return ext, holes


def union_all(rings: list[Ring]) -> list[Ring]:
    """Dissolve N simple rings into an even-odd ring set — the
    engine's `unary_union` (reference download_landsat_stac.py:79).

    Folds each ring into a set of connected components (exterior +
    holes). A new ring merges with every component whose exterior it
    interacts with (bbox prefilter, then GH intersection — this also
    catches rings landing inside a component's cavity, which become
    islands). Components a ring bridges are merged transitively.
    Unlike the earlier single-ring fold, a union that CREATES a hole
    (e.g. a C-shape closed by a cap) is a first-class merge: the cap
    is consumed and the cavity ring is kept, so even-odd membership
    over the returned set matches OR-of-inputs everywhere.

    Inputs are SIMPLE rings treated as solid polygons — a
    polygon-with-holes input must go through `union_polygons`
    (union(exterior, its_own_hole) here would dissolve the hole
    away, since the hole ring lies inside the exterior)."""
    return union_polygons([(ring, []) for ring in rings])


def union_polygons(polys: list[_Component]) -> list[Ring]:
    """Dissolve N polygons-WITH-HOLES `(exterior, [hole, ...])` into
    one even-odd ring set: `union_all` generalized so GeoJSON
    Polygon/MultiPolygon interior rings survive the dissolve (a
    cavity only closes where another input actually covers it).
    Hole rings must lie inside their exterior (GeoJSON semantics);
    each input seeds a component directly and the same
    exterior-interaction fold merges them transitively."""
    comps: list[_Component] = []
    for ext_in, holes_in in polys:
        comp: _Component = (list(ext_in), [list(h) for h in holes_in])
        rest: list[_Component] = []
        for other in comps:
            if _exteriors_interact(comp[0], other[0]):
                comp = _merge_components(comp, other)
            else:
                rest.append(other)
        comps = rest + [comp]
    out: list[Ring] = []
    for ext, holes in comps:
        out.append(ext)
        out.extend(holes)
    return out


def _nest_rings(rings: list[Ring]) -> list[tuple[Ring, list[Ring]]]:
    """Group an even-odd ring set into (exterior, [holes]) polygons by
    containment depth: even depth → exterior, odd → hole of its
    innermost even-depth container. Depth > 1 nesting (island in a
    hole) yields its own polygon — GeoJSON-correct."""
    depths = []
    for i, r in enumerate(rings):
        px, py = _interior_point(r)
        depth = sum(
            1 for j, o in enumerate(rings) if j != i and point_in_ring(px, py, o)
        )
        depths.append(depth)
    polys: list[tuple[Ring, list[Ring]]] = []
    idx_of = {}
    for i, r in enumerate(rings):
        if depths[i] % 2 == 0:
            idx_of[i] = len(polys)
            polys.append((r, []))
    for i, r in enumerate(rings):
        if depths[i] % 2 == 1:
            px, py = _interior_point(r)
            # innermost even-depth ring containing the hole
            best, best_depth = None, -1
            for j in idx_of:
                if point_in_ring(px, py, rings[j]) and depths[j] > best_depth:
                    best, best_depth = j, depths[j]
            if best is not None:
                polys[idx_of[best]][1].append(r)
    return polys


def _close(ring: Ring) -> Ring:
    return ring + [ring[0]] if ring and ring[0] != ring[-1] else ring


def rings_to_geojson(rings: list[Ring]) -> dict:
    """Even-odd ring set → GeoJSON Polygon/MultiPolygon dict (closed
    rings, holes nested under their exteriors) — the geometry payload
    the reference stores in `aois.geom` (002_schema.sql:5) and writes
    back out via main.py:77-86. Feed through json.dumps for text."""
    polys = _nest_rings(rings)
    # structure: [ [exterior, hole, ...] per polygon ]
    coords = [
        [[list(p) for p in _close(ext)]] + [[list(p) for p in _close(h)] for h in holes]
        for ext, holes in polys
    ]
    if len(coords) == 1:
        return {"type": "Polygon", "coordinates": coords[0]}
    return {"type": "MultiPolygon", "coordinates": coords}
