"""Polygon boolean layer (kernels/polyclip.py + operators/boolean.py):
convex clip goldens, hull-of-candidates cross-check (the oracle's
independent algorithm), coverage-grid exactness vs brute-force
bitmaps, and the rectilinear square-join offset invariants."""

import numpy as np
import pytest

from mvtspark.kernels.polyclip import (
    clip_convex,
    convex_pair_stats,
    ring_area2,
)
from mvtspark.operators.boolean import _as_long, _coverage_grid

# ---------------------------------------------------------------- helpers


def _hull(points):
    """Monotone-chain convex hull (CCW, no duplicates) — test-local."""
    pts = sorted(set(map(tuple, points)))
    if len(pts) <= 2:
        return pts

    def half(seq):
        out = []
        for p in seq:
            while len(out) >= 2 and (
                (out[-1][0] - out[-2][0]) * (p[1] - out[-2][1])
                - (out[-1][1] - out[-2][1]) * (p[0] - out[-2][0])
            ) <= 0:
                out.pop()
            out.append(p)
        return out

    lo = half(pts)
    hi = half(reversed(pts))
    return lo[:-1] + hi[:-1]


def _inter_area2_candidates(A, B):
    """Independent convex∩convex area2: hull of {A-verts in B} ∪
    {B-verts in A} ∪ {segment crossings} — the ORACLE's algorithm."""

    def inside(p, ring):
        n = len(ring)
        for i in range(n):
            ax, ay = ring[i]
            bx, by = ring[(i + 1) % n]
            if (bx - ax) * (p[1] - ay) - (by - ay) * (p[0] - ax) < 0:
                return False
        return True

    cand = [p for p in A if inside(p, B)] + [p for p in B if inside(p, A)]
    na, nb = len(A), len(B)
    for i in range(na):
        p1, p2 = A[i], A[(i + 1) % na]
        for j in range(nb):
            q1, q2 = B[j], B[(j + 1) % nb]
            d1 = (p2[0] - p1[0], p2[1] - p1[1])
            d2 = (q2[0] - q1[0], q2[1] - q1[1])
            den = d1[0] * d2[1] - d1[1] * d2[0]
            if den == 0:
                continue
            t = ((q1[0] - p1[0]) * d2[1] - (q1[1] - p1[1]) * d2[0]) / den
            u = ((q1[0] - p1[0]) * d1[1] - (q1[1] - p1[1]) * d1[0]) / den
            if 0 <= t <= 1 and 0 <= u <= 1:
                cand.append((p1[0] + t * d1[0], p1[1] + t * d1[1]))
    pts = _hull(cand)
    if len(pts) < 3:
        return 0.0
    xs = np.array([p[0] for p in pts])
    ys = np.array([p[1] for p in pts])
    return ring_area2(xs, ys)


def _rand_convex(rng, cx, cy, r, k=8):
    """Random convex lattice polygon: hull of k points on a disc."""
    ang = np.sort(rng.uniform(0, 2 * np.pi, k))
    xs = np.round(cx + r * np.cos(ang)).astype(int)
    ys = np.round(cy + r * np.sin(ang)).astype(int)
    return _hull(list(zip(xs.tolist(), ys.tolist())))


# ---------------------------------------------------------------- convex


def test_as_long_rejects_non_integral_measure():
    """A half-integral measure must raise, not round: Python's round()
    sends halves to even (5/2 -> 2) while DuckDB's ROUND sends them away
    from zero (-> 3), so a rounded BIGINT would silently disagree with
    the oracle. Integral measures pass through exactly."""
    from fractions import Fraction

    assert _as_long(Fraction(12, 3)) == 4
    assert _as_long(Fraction(-(2**70), 1)) == -(2**70)
    for bad in (Fraction(5, 2), Fraction(-5, 2), Fraction(1, 3)):
        with pytest.raises(ValueError, match="non-integral"):
            _as_long(bad)


def test_clip_convex_squares_golden():
    # unit squares offset by half: intersection = 1x1 square area 1
    a = np.array([0, 2, 2, 0]), np.array([0, 0, 2, 2])
    b = np.array([1, 3, 3, 1]), np.array([1, 1, 3, 3])
    ix, iy = clip_convex(a[0], a[1], b[0], b[1])
    assert ring_area2(ix, iy) == 2.0  # doubled area of the 1x1 overlap
    # disjoint
    c = np.array([5, 6, 6, 5]), np.array([5, 5, 6, 6])
    ix, iy = clip_convex(a[0], a[1], c[0], c[1])
    assert len(ix) == 0
    # containment: small inside big
    d = np.array([0, 10, 10, 0]), np.array([0, 0, 10, 10])
    ix, iy = clip_convex(a[0], a[1], d[0], d[1])
    assert ring_area2(ix, iy) == 8.0  # the small square, doubled


def test_clip_convex_nonrect_window():
    """The capability J3 lacks: clip against a NON-rectangular convex
    window (diamond). Square [0,4]^2 ∩ diamond |x-2|+|y-2|<=2 → the
    diamond itself (area 8, doubled 16)."""
    sq = np.array([0, 4, 4, 0]), np.array([0, 0, 4, 4])
    dia = np.array([2, 4, 2, 0]), np.array([0, 2, 4, 2])
    ix, iy = clip_convex(sq[0], sq[1], dia[0], dia[1])
    assert ring_area2(ix, iy) == pytest.approx(16.0)


def test_convex_pair_stats_cases():
    sq = ([0, 2, 2, 0], [0, 0, 2, 2])  # area2 = 8
    # overlap: areas via inclusion-exclusion, 1 ring, 2 crossings
    i2, u2, nr, nx = convex_pair_stats(
        np.array(sq[0]), np.array(sq[1]),
        np.array([1, 3, 3, 1]), np.array([1, 1, 3, 3]),
    )
    assert (i2, u2, nr, nx) == (2.0, 14.0, 1, 2)
    # disjoint: 2 rings, no crossings
    i2, u2, nr, nx = convex_pair_stats(
        np.array(sq[0]), np.array(sq[1]),
        np.array([5, 6, 6, 5]), np.array([5, 5, 6, 6]),
    )
    assert (i2, u2, nr, nx) == (0.0, 10.0, 2, 0)
    # containment: inter == smaller area, 1 ring, no crossings
    i2, u2, nr, nx = convex_pair_stats(
        np.array(sq[0]), np.array(sq[1]),
        np.array([-1, 5, 5, -1]), np.array([-1, -1, 5, 5]),
    )
    assert (i2, u2, nr, nx) == (8.0, 72.0, 1, 0)


def test_convex_pair_matches_candidate_hull():
    """S-H intersection area must agree with the independent
    hull-of-candidates algorithm (what the DuckDB oracle runs) over
    random convex lattice pairs — overlap, containment, disjoint."""
    rng = np.random.default_rng(11)
    checked = overlapping = 0
    for _ in range(150):
        A = _rand_convex(rng, 0, 0, rng.integers(5, 40))
        B = _rand_convex(
            rng, rng.integers(-30, 30), rng.integers(-30, 30),
            rng.integers(5, 40),
        )
        if len(A) < 3 or len(B) < 3:
            continue
        ax = np.array([p[0] for p in A], float)
        ay = np.array([p[1] for p in A], float)
        bx = np.array([p[0] for p in B], float)
        by = np.array([p[1] for p in B], float)
        i2, u2, nr, _ = convex_pair_stats(ax, ay, bx, by)
        want = _inter_area2_candidates(A, B)
        assert i2 == pytest.approx(want, abs=1e-6), (A, B)
        assert u2 == pytest.approx(
            ring_area2(ax, ay) + ring_area2(bx, by) - i2
        )
        assert -1e-9 <= i2 <= min(ring_area2(ax, ay), ring_area2(bx, by)) + 1e-9
        checked += 1
        overlapping += nr == 1
    assert checked > 100 and 0 < overlapping < checked


# ------------------------------------------------------------ rectilinear


def _cross(o, a, b):
    return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])


def test_ring_area2_exact_at_bound():
    """ring_area2 is exact while 2·n·M² <= 2**53: at M = 2**25 a
    4-vertex ring matches Python-int shoelace; past the bound (M = 2**27,
    odd coordinates) the float sum is rounded."""

    def area2(xs, ys):
        n = len(xs)
        return sum(xs[i] * ys[(i + 1) % n] - xs[(i + 1) % n] * ys[i]
                   for i in range(n))

    m = 2**25
    xs, ys = [-m, m, m - 1, -m + 5], [-m + 1, -m + 3, m, m - 7]
    got = ring_area2(np.array(xs, np.float64), np.array(ys, np.float64))
    assert got == area2(xs, ys)
    m = 2**27
    xs, ys = [-m + 1, m - 1, m - 3, -m + 5], [-m + 3, -m + 7, m - 1, m - 9]
    got = ring_area2(np.array(xs, np.float64), np.array(ys, np.float64))
    assert got != area2(xs, ys)


def test_proper_crossings_exact_at_bound():
    """At |coordinate| = 2**25 the crossing count equals a Python-int
    replay on near-degenerate pairs: a B vertex exactly on an A edge
    (a touch, not a proper crossing) or one unit to either side."""
    import math
    import random

    from mvtspark.kernels.polyclip import _proper_crossings

    def count(ax, ay, bx, by):
        na, nb, c = len(ax), len(bx), 0
        for i in range(na):
            p, q = (ax[i], ay[i]), (ax[(i + 1) % na], ay[(i + 1) % na])
            for j in range(nb):
                r, t = (bx[j], by[j]), (bx[(j + 1) % nb], by[(j + 1) % nb])
                c += (_cross(p, q, r) * _cross(p, q, t) < 0
                      and _cross(r, t, p) * _cross(r, t, q) < 0)
        return c

    m = 2**25
    rng = random.Random(7)
    seen = set()
    for _ in range(300):
        ax = [-m, m, rng.randint(-m, m)]
        ay = [-m + rng.randint(0, 3), m - rng.randint(0, 3), m]
        dx, dy = ax[1] - ax[0], ay[1] - ay[0]
        g = math.gcd(dx, dy)
        if g < 2:  # no lattice point strictly inside the A edge
            continue
        k = rng.randint(1, g - 1)
        off = rng.choice((-1, 0, 1))
        px, py = ax[0] + k * dx // g, ay[0] + k * dy // g + off
        bx = [px, px + rng.randint(-m // 4, m // 4),
              px + rng.randint(-m // 4, m // 4)]
        by = [py, min(m, py + rng.randint(1, m // 4)),
              max(-m, py - rng.randint(1, m // 4))]
        want = count(ax, ay, bx, by)
        got = _proper_crossings(*(np.array(v, np.float64)
                                  for v in (ax, ay, bx, by)))
        assert got == want
        seen.add((off, want > 0))
    assert (0, False) in seen and (1, True) in seen


def test_coverage_grid_matches_bitmap():
    """Compressed coverage counts == brute-force unit-pixel bitmap."""
    rng = np.random.default_rng(5)
    for _ in range(25):
        k = rng.integers(1, 12)
        x0 = rng.integers(0, 30, k)
        y0 = rng.integers(0, 30, k)
        x1 = x0 + rng.integers(1, 12, k)
        y1 = y0 + rng.integers(1, 12, k)
        xs, ys, cnt = _coverage_grid(x0, y0, x1, y1)
        bitmap = np.zeros((45, 45), dtype=int)
        for a, b, c, d in zip(x0, y0, x1, y1):
            bitmap[a:c, b:d] += 1
        cell = np.diff(xs)[:, None] * np.diff(ys)[None, :]
        for thresh in (1, 2):
            assert cell[cnt >= thresh].sum() == (bitmap >= thresh).sum()
        assert cell[cnt == 1].sum() == (bitmap == 1).sum()


def test_rect_union_stats_spark(spark):
    from mvtspark.operators.boolean import rect_union_stats

    rows = [
        (1, 0, 0, 2, 2), (1, 1, 1, 3, 3),   # union 7, overlap 1, xor 6
        (2, 0, 0, 1, 1), (2, 5, 5, 6, 6),   # disjoint: union 2, xor 2
        (3, 0, 0, 4, 4),                     # single: union 16
    ]
    df = spark.createDataFrame(
        rows, "group_id long, x0 int, y0 int, x1 int, y1 int"
    )
    got = {r.group_id: r for r in rect_union_stats(df).collect()}
    assert (got[1].union_area, got[1].overlap_area, got[1].xor_area) == (7, 1, 6)
    assert (got[2].union_area, got[2].overlap_area, got[2].xor_area) == (2, 0, 2)
    assert (got[3].union_area, got[3].n_rects) == (16, 1)


L_XS = [0, 4, 4, 2, 2, 0]
L_YS = [0, 0, 2, 2, 4, 4]


def _brute_offset_area(vx, vy, r, lo=-20, hi=40):
    """Unit-pixel brute force: pixel center within Chebyshev distance r
    of the polygon (inside, or L∞-close to some edge)."""
    vx, vy = np.asarray(vx), np.asarray(vy)
    nx, ny = np.roll(vx, -1), np.roll(vy, -1)
    area = 0
    for i in range(lo, hi):
        for j in range(lo, hi):
            cx, cy = i + 0.5, j + 0.5
            crosses = 0
            for a in range(len(vx)):
                if vx[a] == nx[a]:  # vertical edge
                    y0, y1 = sorted((vy[a], ny[a]))
                    if vx[a] > cx and y0 < cy < y1:
                        crosses += 1
            near = False
            for a in range(len(vx)):
                ex0, ex1 = sorted((vx[a], nx[a]))
                ey0, ey1 = sorted((vy[a], ny[a]))
                dx = max(ex0 - cx, cx - ex1, 0)
                dy = max(ey0 - cy, cy - ey1, 0)
                if max(dx, dy) <= r:
                    near = True
                    break
            area += (crosses % 2 == 1) or near
    return area


def test_offset_rectilinear_l_shape(spark):
    """Square-join offset of the concave L: engine == brute-force
    Chebyshev dilation, including the analytic r=1 golden (base 12 +
    perimeter 16 + corner term 4 = 32)."""
    from mvtspark.operators.boolean import offset_rectilinear

    rows = [(7, L_XS, L_YS)]
    df = spark.createDataFrame(rows, "ring_id long, xs array<int>, ys array<int>")
    for r in (1, 2, 3):
        got = offset_rectilinear(df, r).collect()[0]
        assert got.base_area == 12
        want = _brute_offset_area(L_XS, L_YS, r)
        assert got.offset_area == want, (r, got.offset_area, want)
    assert offset_rectilinear(df, 1).collect()[0].offset_area == 32


def test_offset_rectilinear_random_rectilinear_rings(spark):
    """Random staircase rings (always simple, rectilinear): engine
    offset area == brute-force Chebyshev dilation."""
    from mvtspark.operators.boolean import offset_rectilinear

    rng = np.random.default_rng(3)
    rows = []
    for rid in range(6):
        # staircase from (0,0) right/up then back — simple by construction
        xs, ys = [0], [0]
        x = 0
        for _ in range(rng.integers(2, 5)):
            x += int(rng.integers(1, 5))
            xs += [x, x]
            ys += [ys[-1], ys[-1] + int(rng.integers(1, 5))]
        xs += [0]
        ys += [ys[-1]]
        rows.append((rid, xs, ys))
    df = spark.createDataFrame(rows, "ring_id long, xs array<int>, ys array<int>")
    got = {r.ring_id: r for r in offset_rectilinear(df, 2).collect()}
    for rid, xs, ys in rows:
        assert got[rid].offset_area == _brute_offset_area(xs, ys, 2), rid


# ------------------------------------------------------------- minkowski


def test_minkowski_sum_three_way():
    """minkowski_sum_convex validated three independent ways on random
    convex lattice pairs: (1) the constructed ring's shoelace area,
    (2) the hull of all pairwise vertex sums (definitional for convex),
    (3) the angular-order identity the SQL oracle replays
    (2·area = 2aA + 2aB + Σ cross(earlier, later) by edge angle)."""
    from mvtspark.kernels.polyclip import minkowski_sum_convex

    rng = np.random.default_rng(4)
    checked = 0
    for _ in range(120):
        A = _rand_convex(rng, 0, 0, rng.integers(4, 30))
        B = _rand_convex(rng, 0, 0, rng.integers(4, 25))
        if len(A) < 3 or len(B) < 3:
            continue
        ax = np.array([p[0] for p in A], float)
        ay = np.array([p[1] for p in A], float)
        bx = np.array([p[0] for p in B], float)
        by = np.array([p[1] for p in B], float)
        vx, vy = minkowski_sum_convex(ax, ay, bx, by)
        got = ring_area2(vx, vy)
        # (2) hull of sums
        H = _hull([
            (int(a0 + b0), int(a1 + b1))
            for a0, a1 in zip(ax, ay) for b0, b1 in zip(bx, by)
        ])
        hx = np.array([p[0] for p in H], float)
        hy = np.array([p[1] for p in H], float)
        assert got == ring_area2(hx, hy), (A, B)
        assert len(vx) == len(H), (A, B)  # fused vertex count matches hull
        # (3) angular identity
        eax, eay = np.roll(ax, -1) - ax, np.roll(ay, -1) - ay
        ebx, eby = np.roll(bx, -1) - bx, np.roll(by, -1) - by
        angA = np.mod(np.arctan2(eay, eax), 2 * np.pi)
        angB = np.mod(np.arctan2(eby, ebx), 2 * np.pi)
        cr = eax[:, None] * eby[None, :] - eay[:, None] * ebx[None, :]
        mixed = float(np.where(angA[:, None] < angB[None, :], cr, -cr).sum())
        assert got == ring_area2(ax, ay) + ring_area2(bx, by) + mixed
        checked += 1
    assert checked > 80


def test_minkowski_goldens_and_translation_invariance():
    from mvtspark.kernels.polyclip import minkowski_sum_convex

    # unit square ⊕ unit square = 2x2 square (area2 = 8, 4 verts)
    sq = np.array([0, 1, 1, 0], float), np.array([0, 0, 1, 1], float)
    vx, vy = minkowski_sum_convex(*sq, *sq)
    assert ring_area2(vx, vy) == 8.0 and len(vx) == 4
    # square ⊕ diamond: every direction distinct → 8 verts, octagon
    dia = np.array([1, 2, 1, 0], float), np.array([0, 1, 2, 1], float)
    vx, vy = minkowski_sum_convex(*sq, *dia)
    assert len(vx) == 8
    assert ring_area2(vx, vy) == 2.0 + 4.0 + 2 * 4.0  # aA2+aB2+mixed
    # translation moves the ring, not its measures
    vx2, vy2 = minkowski_sum_convex(sq[0] + 10, sq[1] - 3, *dia)
    assert ring_area2(vx2, vy2) == ring_area2(vx, vy)
    assert np.array_equal(vx2 - 10, vx) and np.array_equal(vy2 + 3, vy)
