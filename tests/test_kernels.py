"""Kernel unit tests: the reference's known-answer cases plus property
checks (see SURVEY.md §5).

Known answers, from /root/reference:
- python-package/test.py:11-19 / r-package/tests.R:143-147:
  t1=[(1,0),(2,0),(4,0),(5,0)] vs t2=[(1,0),(3,3),(5,0)] has dF = 3.
- samples/plain.cpp:31-60: [(0,0),(10,0)] vs [(0,1),(5,10),(10,1)] has dF = 10.
- r-package/tests.R:137: parallel diagonals offset by (1,1) -> dF = sqrt(2).
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from frechetrange_spark.kernels import (
    decide_frechet,
    equal_time_distance,
    frechet_distance,
    greedy_upper_bound,
)

T1 = np.array([[1.0, 0.0], [2.0, 0.0], [4.0, 0.0], [5.0, 0.0]])
T2 = np.array([[1.0, 0.0], [3.0, 3.0], [5.0, 0.0]])


def discrete_frechet_sq(a, b):
    """Squared discrete Fréchet distance of (n, 2) and (m, 2) vertex
    arrays: the O(nm) coupling DP (Eiter & Mannila 1994) over squared
    vertex distances ``dx*dx + dy*dy`` — the same float expression the
    batched kernel uses, so ties compare exactly."""
    dx = a[:, None, 0] - b[None, :, 0]
    dy = a[:, None, 1] - b[None, :, 1]
    d = dx * dx + dy * dy
    n, m = d.shape
    ca = np.full((n, m), np.inf)
    ca[0, 0] = d[0, 0]
    for i in range(n):
        for j in range(m):
            if i == 0 and j == 0:
                continue
            prev = min(
                ca[i - 1, j] if i else np.inf,
                ca[i, j - 1] if j else np.inf,
                ca[i - 1, j - 1] if i and j else np.inf,
            )
            ca[i, j] = max(prev, d[i, j])
    return ca[-1, -1]


class TestKnownAnswers:
    def test_gis_cup_pair_decisions(self):
        assert decide_frechet(T1, T2, 3.01)
        assert not decide_frechet(T1, T2, 2.99)
        # symmetric
        assert decide_frechet(T2, T1, 3.01)
        assert not decide_frechet(T2, T1, 2.99)

    def test_gis_cup_pair_distance(self):
        assert frechet_distance(T1, T2) == pytest.approx(3.0, abs=1e-6)

    def test_segment_vs_triangle(self):
        a = np.array([[0.0, 0.0], [10.0, 0.0]])
        b = np.array([[0.0, 1.0], [5.0, 10.0], [10.0, 1.0]])
        assert frechet_distance(a, b) == pytest.approx(10.0, abs=1e-6)
        assert decide_frechet(a, b, 10.0 + 1e-9)
        assert not decide_frechet(a, b, 10.0 - 1e-6)

    def test_parallel_diagonals(self):
        a = np.array([[float(i), float(i)] for i in range(5)])
        b = a + np.array([1.0, 1.0])
        assert frechet_distance(a, b) == pytest.approx(np.sqrt(2.0), abs=1e-6)

    def test_identical_curves(self):
        assert decide_frechet(T1, T1, 0.0)
        assert frechet_distance(T2, T2) == 0.0

    def test_single_point_cases(self):
        pt = np.array([[2.0, 0.0]])
        # max vertex distance from (2,0) to T2 is to (3,3) -> sqrt(10)
        d = np.sqrt(10.0)
        assert decide_frechet(pt, T2, d + 1e-9)
        assert not decide_frechet(pt, T2, d - 1e-9)
        assert decide_frechet(pt, pt, 0.0)
        assert not decide_frechet(pt, np.array([[3.0, 0.0]]), 0.5)

    def test_endpoint_reject_is_strict(self):
        # dv:44-47 rejects on dist > eps: equality is accepted.
        a = np.array([[0.0, 0.0], [1.0, 0.0]])
        b = np.array([[0.0, 1.0], [1.0, 1.0]])
        assert decide_frechet(a, b, 1.0)
        assert not decide_frechet(a, b, 1.0 - 1e-12)

    def test_duplicate_points(self):
        a = np.array([[0.0, 0.0], [0.0, 0.0], [1.0, 0.0], [1.0, 0.0]])
        b = np.array([[0.0, 0.0], [1.0, 0.0]])
        assert decide_frechet(a, b, 1e-12)

    def test_backtracking_curves(self):
        # A curve that doubles back: monotonicity forces a larger leash.
        a = np.array([[0.0, 0.0], [10.0, 0.0]])
        b = np.array([[0.0, 0.0], [6.0, 0.0], [4.0, 0.0], [10.0, 0.0]])
        d = frechet_distance(a, b)
        assert d == pytest.approx(1.0, abs=1e-6)


def _rand_curve(rng, n):
    steps = rng.standard_normal((n, 2))
    return np.cumsum(steps, axis=0)


class TestProperties:
    def test_monotone_in_eps(self):
        rng = np.random.default_rng(7)
        for _ in range(25):
            a = _rand_curve(rng, rng.integers(2, 12))
            b = _rand_curve(rng, rng.integers(2, 12))
            d = frechet_distance(a, b)
            assert decide_frechet(a, b, d * (1 + 1e-6) + 1e-9)
            if d > 1e-6:
                assert not decide_frechet(a, b, d * (1 - 1e-6) - 1e-9)

    def test_upper_bounds_hold(self):
        rng = np.random.default_rng(11)
        for _ in range(25):
            a = _rand_curve(rng, rng.integers(2, 15))
            b = _rand_curve(rng, rng.integers(2, 15))
            d = frechet_distance(a, b)
            # frechet_distance returns the bisection hi, which can overshoot
            # the true value by abs_tol + rel_tol*hi — allow that slack.
            slack = 1e-9 + 2e-9 * d
            assert equal_time_distance(a, b) >= d - slack
            assert greedy_upper_bound(a, b) >= d - slack

    def test_symmetry(self):
        rng = np.random.default_rng(13)
        for _ in range(15):
            a = _rand_curve(rng, rng.integers(2, 10))
            b = _rand_curve(rng, rng.integers(2, 10))
            assert frechet_distance(a, b) == pytest.approx(
                frechet_distance(b, a), rel=1e-6, abs=1e-9
            )

    def test_triangle_like_lower_bound(self):
        # dF >= max(endpoint distances) always.
        rng = np.random.default_rng(17)
        for _ in range(15):
            a = _rand_curve(rng, rng.integers(2, 10))
            b = _rand_curve(rng, rng.integers(2, 10))
            lb = max(
                np.linalg.norm(a[0] - b[0]), np.linalg.norm(a[-1] - b[-1])
            )
            assert frechet_distance(a, b) >= lb - 1e-9

    def test_discrete_frechet_sandwich(self):
        # continuous dF <= discrete dF; discrete dF on densified curves
        # approaches continuous. Independent O(nm) DP oracle.
        def discrete(a, b):
            return np.sqrt(discrete_frechet_sq(a, b))

        def densify(c, k=8):
            out = [c[0]]
            for i in range(len(c) - 1):
                for s in range(1, k + 1):
                    out.append(c[i] + (c[i + 1] - c[i]) * s / k)
            return np.array(out)

        rng = np.random.default_rng(23)
        for _ in range(10):
            a = _rand_curve(rng, rng.integers(2, 8))
            b = _rand_curve(rng, rng.integers(2, 8))
            cont = frechet_distance(a, b)
            disc_dense = discrete(densify(a), densify(b))
            seg = max(
                np.sqrt((np.diff(a, axis=0) ** 2).sum(-1)).max(),
                np.sqrt((np.diff(b, axis=0) ** 2).sum(-1)).max(),
            )
            slack = 1e-9 + 2e-9 * cont
            assert cont <= disc_dense + slack
            assert disc_dense <= cont + seg / 8 + slack


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(-50, 50, allow_nan=False),
            st.floats(-50, 50, allow_nan=False),
        ),
        min_size=2,
        max_size=8,
    ),
    st.lists(
        st.tuples(
            st.floats(-50, 50, allow_nan=False),
            st.floats(-50, 50, allow_nan=False),
        ),
        min_size=2,
        max_size=8,
    ),
)
def test_hypothesis_decide_consistent_with_value(pa, pb):
    a = np.array(pa, dtype=np.float64)
    b = np.array(pb, dtype=np.float64)
    d = frechet_distance(a, b)
    assert decide_frechet(a, b, d + max(1e-6, d * 1e-6))
    if d > 1e-5:
        assert not decide_frechet(a, b, d * 0.999 - 1e-9)


def _curve_table(curves):
    """(flat_x, off_x, flat_y, off_y) curve table of (n, 2) curves."""
    flat_x = np.concatenate([c[:, 0] for c in curves])
    flat_y = np.concatenate([c[:, 1] for c in curves])
    off = np.concatenate(
        [[0], np.cumsum([len(c) for c in curves])]
    ).astype(np.int64)
    return flat_x, off, flat_y, off


def _tables(ps, qs):
    """Ragged (n, 2) curve lists -> the ``*_buffers`` kernels' arguments:
    one curve table per side and identity selectors."""
    sel = np.arange(len(ps), dtype=np.int64)
    return _curve_table(ps), _curve_table(qs), sel, sel


class TestBatchKernels:
    """Pair-batched kernels must agree exactly with the scalar ones
    (the scalar ones carry the reference-parity semantics)."""

    def test_decide_batch_agrees_with_scalar(self):
        from frechetrange_spark.kernels.batch import decide_pairs_buffers

        rng = np.random.default_rng(11)
        ps, qs, eps = [], [], []
        for _ in range(300):
            n, m = rng.integers(1, 70), rng.integers(1, 70)
            p = np.cumsum(rng.normal(size=(n, 2)), axis=0)
            q = np.cumsum(rng.normal(size=(m, 2)), axis=0) + rng.normal(scale=2, size=2)
            if n > 3 and rng.random() < 0.25:
                p[2] = p[1]  # consecutive duplicate point
            ps.append(p)
            qs.append(q)
            eps.append(rng.uniform(0.3, 12.0))
        eps = np.array(eps)
        got = decide_pairs_buffers(*_tables(ps, qs), eps, etd_accept=False)
        exp = np.array([decide_frechet(p, q, e) for p, q, e in zip(ps, qs, eps)])
        assert (got == exp).all()

    def test_decide_batch_near_critical_eps(self):
        from frechetrange_spark.kernels.batch import decide_pairs_buffers

        rng = np.random.default_rng(12)
        ps = [np.cumsum(rng.normal(size=(rng.integers(2, 40), 2)), axis=0) for _ in range(80)]
        qs = [np.cumsum(rng.normal(size=(rng.integers(2, 40), 2)), axis=0) for _ in range(80)]
        d = np.array([frechet_distance(p, q) for p, q in zip(ps, qs)])
        args = _tables(ps, qs)
        assert decide_pairs_buffers(*args, d * 1.0001 + 1e-9, etd_accept=False).all()
        assert not decide_pairs_buffers(
            *args, np.maximum(d * 0.999 - 1e-9, 0.0), etd_accept=False
        ).any()

    def test_distance_batch_agrees_with_scalar(self):
        from frechetrange_spark.kernels.batch import distance_pairs_buffers

        rng = np.random.default_rng(13)
        ps = [np.cumsum(rng.normal(size=(rng.integers(2, 50), 2)), axis=0) for _ in range(60)]
        qs = [np.cumsum(rng.normal(size=(rng.integers(2, 50), 2)), axis=0) for _ in range(60)]
        got = distance_pairs_buffers(*_tables(ps, qs))
        exp = np.array([frechet_distance(p, q) for p, q in zip(ps, qs)])
        np.testing.assert_allclose(got, exp, rtol=1e-7, atol=1e-9)

    def test_known_answer_through_batch(self):
        from frechetrange_spark.kernels.batch import decide_pairs_buffers

        # python-package/test.py:11-19 — delta_F = 3
        t1 = np.array([[1.0, 0.0], [2.0, 0.0], [4.0, 0.0], [5.0, 0.0]])
        t2 = np.array([[1.0, 0.0], [3.0, 3.0], [5.0, 0.0]])
        args = _tables([t1], [t2])
        assert decide_pairs_buffers(*args, np.array([3.01]), etd_accept=False)[0]
        assert not decide_pairs_buffers(*args, np.array([2.99]), etd_accept=False)[0]


def _solve_like_batch(a, b, c):
    """core._solve_quadratic_interval with the batched kernel's root
    arithmetic: (-b -/+ sqrt(disc)) * (0.5/a) where core divides by 2a.
    The two round differently, which can flip a decision when a root
    lands within an ulp of 0 or 1 (eps exactly at an endpoint distance),
    so the tie cases below compare against core's sweep on these roots."""
    lo = np.full_like(c, np.inf)
    hi = np.full_like(c, -np.inf)
    nd = a > 0.0
    free = ~nd & (c <= 0.0)
    lo[free], hi[free] = 0.0, 1.0
    disc = b * b - 4.0 * a * c
    sq = np.sqrt(np.maximum(disc, 0.0))
    den = 0.5 / np.where(nd, a, 1.0)
    t1, t2 = (-b - sq) * den, (-b + sq) * den
    ok = nd & (disc >= 0.0) & (t1 <= 1.0) & (t2 >= 0.0)
    lo[ok], hi[ok] = np.maximum(t1[ok], 0.0), np.minimum(t2[ok], 1.0)
    return lo, hi


class TestWavefrontDecider:
    """decide_frechet_batch (the anti-diagonal free-space sweep) pair by
    pair against core.decide_frechet, on the shapes its sweep and its
    early exit treat specially. Core runs on the batch's root arithmetic
    (``_solve_like_batch``) and, in ``_check``, on the same padded rows,
    so every answer must match exactly; at a generic eps the unpadded
    curves must give the same answer too."""

    @pytest.fixture(autouse=True)
    def _batch_roots(self, monkeypatch):
        from frechetrange_spark.kernels import core

        monkeypatch.setattr(core, "_solve_quadratic_interval", _solve_like_batch)

    # straight p against a q whose interior vertex (5, 4) is 4 away from
    # p: every p vertex lies on q, so only that q row blocks (d_F = 4)
    LINE = np.array([[0.0, 0.0], [5.0, 0.0], [10.0, 0.0]])
    SPIKE = np.array([[0.0, 0.0], [5.0, 0.0], [5.0, 4.0], [5.0, 0.0], [10.0, 0.0]])
    # q starts on the unit circle around p_0: the left-edge chain reaches
    # the vertex at distance 1.0000000000000002 through a root rounded to
    # 0, while the cell on that diagonal stays blocked; only the chain
    # term of the exit rule keeps this pair (decided yes at eps = 1) alive
    CHAIN_P = np.array(
        [[0.0, 0.0], [1.41429694438873, -0.49171762370346045], [2.116777042105697, -0.07317137054924439]]
    )
    CHAIN_Q = np.array(
        [
            [0.46502729175307167, 0.47171285633861426],
            [0.8878276117316082, -0.4601761965236226],
            [-0.7108173568177161, 0.7033766311491125],
            [-0.66614983087902, -0.7458179421412793],
            [-0.10374740567451649, 0.9946036777610504],
            [0.9284771521676711, -0.371389523145998],
            [1.7273846883141766, 0.02700153550851453],
            [1.2902440056801137, 0.45869709325691216],
            [1.9935580533820492, -0.2506908514615224],
        ]
    )

    @staticmethod
    def _check(ps, qs, eps):
        """Batch answers == scalar answers on the same padded rows, for the
        whole batch and for one call per pair (a lone pair's exit returns
        at once, so a wrong exit cannot hide behind live batch mates)."""
        from frechetrange_spark.kernels.batch import decide_frechet_batch, pad_curves

        P, _ = pad_curves(ps)
        Q, _ = pad_curves(qs)
        got = decide_frechet_batch(P, Q, eps)
        alone = np.array(
            [decide_frechet_batch(P[k : k + 1], Q[k : k + 1], eps[k : k + 1])[0] for k in range(len(P))]
        )
        exp = np.array([decide_frechet(p, q, e) for p, q, e in zip(P, Q, eps)])
        assert (got == exp).all(), np.nonzero(got != exp)[0]
        assert (alone == exp).all(), np.nonzero(alone != exp)[0]
        return got

    def test_known_answers(self):
        for p, q in ((self.LINE, self.SPIKE), (self.SPIKE, self.LINE)):
            # blocked by an interior row of q, then by an interior column of p
            assert list(self._check([p, p], [q, q], np.array([2.0, 4.0]))) == [False, True]
        assert self._check([self.CHAIN_P], [self.CHAIN_Q], np.array([1.0]))[0]
        # one column (row) of cells whose first diagonals reach only the
        # top (right) edge: p_1 is far from q's first segment (d_F = 1)
        seg = np.array([[0.0, 0.0], [10.0, 0.0]])
        tent = np.array([[0.0, 0.0], [5.0, 1.0], [10.0, 0.0]])
        assert self._check([seg, tent], [tent, seg], np.array([1.5, 1.5])).all()
        assert not self._check([seg, tent], [tent, seg], np.array([0.9, 0.9])).any()

    def test_padding_duplicates_and_endpoint_ties(self):
        """Random batches: N == 2 or M == 2 (one column or row of cells),
        N != M, each side padded to its own width with last-vertex copies
        (degenerate segments), consecutive duplicate vertices, and eps at
        the larger endpoint distance, one ulp below it, or generic. At a
        generic eps the answer is also the unpadded curves' one."""
        rng = np.random.default_rng(31)

        def curve(n):
            c = np.cumsum(rng.uniform(-1, 1, (n, 2)), axis=0)
            if n > 2 and rng.random() < 0.4:
                c = np.repeat(c, rng.integers(1, 3, n), axis=0)  # duplicates
            return c

        for trial in range(60):
            B = int(rng.integers(1, 100))
            hi_p, hi_q = int(rng.integers(2, 16)), int(rng.integers(2, 16))
            if trial % 6 == 0:
                hi_p = 2  # N == 2
            if trial % 6 == 1:
                hi_q = 2  # M == 2
            ps = [curve(int(rng.integers(2, hi_p + 1))) for _ in range(B)]
            qs = [curve(int(rng.integers(2, hi_q + 1))) * 0.5 + rng.uniform(-1, 1, 2) for _ in range(B)]
            end = np.array(
                [max(np.hypot(*(p[0] - q[0])), np.hypot(*(p[-1] - q[-1]))) for p, q in zip(ps, qs)]
            )
            kind = rng.integers(0, 3, B)
            eps = np.where(
                kind == 0, end, np.where(kind == 1, np.nextafter(end, 0.0), end * rng.uniform(1.0, 3.0, B))
            )
            got = self._check(ps, qs, eps)
            generic = np.nonzero(kind == 2)[0]
            assert all(got[k] == decide_frechet(ps[k], qs[k], eps[k]) for k in generic), trial

    def test_compaction_mid_sweep(self):
        """150 pairs, 100 of them rejected mid-sweep by the blocked row:
        the sweep compacts the batch and must keep the survivors' state
        aligned."""
        rng = np.random.default_rng(5)
        kind = rng.permutation(np.repeat([0, 1, 2, 3], [100, 25, 24, 1]))
        pairs = {
            0: (self.LINE, self.SPIKE, 2.0),  # dies at the q row
            1: (self.LINE, self.SPIKE, 4.5),
            2: (self.SPIKE, self.LINE, 4.5),
            3: (self.CHAIN_P, self.CHAIN_Q, 1.0),
        }
        ps = [pairs[k][0] for k in kind]
        qs = [pairs[k][1] for k in kind]
        got = self._check(ps, qs, np.array([pairs[k][2] for k in kind]))
        assert (got == (kind != 0)).all()


def test_f6_monotone_matching_never_contradicts():
    """F6 is a NO-prover: whenever it rejects (either direction), the
    exact decider must also reject (dv/frechet_distance.hpp:60-66)."""
    from frechetrange_spark.kernels import match_inner_points_monotonously

    rng = np.random.default_rng(41)
    fired = 0
    for _ in range(200):
        p = np.cumsum(rng.normal(size=(rng.integers(2, 30), 2)), axis=0)
        q = np.cumsum(rng.normal(size=(rng.integers(2, 30), 2)), axis=0)
        q += rng.normal(scale=2.0, size=2)
        eps = rng.uniform(0.3, 6.0)
        ok = match_inner_points_monotonously(
            p, q, eps
        ) and match_inner_points_monotonously(q, p, eps)
        if not ok:
            fired += 1
            assert not decide_frechet(p, q, eps)
    assert fired > 0


class TestAlternateDeciders:
    """K4 (bb divide-&-conquer) and K6 (bddm CFDQ, with K9 portals) must
    agree with the canonical K5 decider — the reference's own oracle is
    N-version agreement (benchmark/test.py)."""

    def _pairs(self, n, seed, lo=2, hi=60):
        rng = np.random.default_rng(seed)
        out = []
        for _ in range(n):
            p = np.cumsum(rng.normal(size=(rng.integers(lo, hi), 2)), axis=0)
            q = np.cumsum(rng.normal(size=(rng.integers(lo, hi), 2)), axis=0)
            q += rng.normal(scale=2.0, size=2)
            out.append((p, q))
        return out

    def test_bb_agrees_with_k5(self):
        from frechetrange_spark.kernels.bb_decider import decide_frechet_bb

        for p, q in self._pairs(150, 51, lo=1):
            d = frechet_distance(p, q)
            for e in (d * 1.001 + 1e-9, max(d * 0.999 - 1e-9, 0.0)):
                assert decide_frechet_bb(p, q, e) == decide_frechet(p, q, e)

    def test_cfdq_agrees_with_k5(self):
        from frechetrange_spark.kernels.cfdq import decide_frechet_cfdq

        for p, q in self._pairs(150, 52):
            d = frechet_distance(p, q)
            for e in (d * 1.001 + 1e-9, max(d * 0.999 - 1e-9, 0.0)):
                assert decide_frechet_cfdq(p, q, e) == decide_frechet(p, q, e)

    def test_cfdq_with_portals_agrees(self):
        from frechetrange_spark.kernels.cfdq import (
            agarwal_with_portals,
            compile_portals,
            decide_frechet_cfdq,
        )

        for p, q in self._pairs(80, 53, lo=10, hi=80):
            _, ports = agarwal_with_portals(p, 1.0)
            pmap = compile_portals([ports])
            d = frechet_distance(p, q)
            for mult in (1.5, 1.001, 0.999, 0.6):
                e = d * mult
                got = decide_frechet_cfdq(p, q, e, base_query_delta=e, portals=pmap)
                assert got == decide_frechet(p, q, e)

    def test_known_answers_all_deciders(self):
        from frechetrange_spark.kernels.bb_decider import decide_frechet_bb
        from frechetrange_spark.kernels.cfdq import decide_frechet_cfdq

        t1 = np.array([[1.0, 0.0], [2.0, 0.0], [4.0, 0.0], [5.0, 0.0]])
        t2 = np.array([[1.0, 0.0], [3.0, 3.0], [5.0, 0.0]])
        for dec in (decide_frechet_bb, decide_frechet_cfdq):
            assert dec(t1, t2, 3.01) and not dec(t1, t2, 2.99)
        seg = np.array([[0.0, 0.0], [10.0, 0.0]])
        tri = np.array([[0.0, 1.0], [5.0, 10.0], [10.0, 1.0]])
        for dec in (decide_frechet_bb, decide_frechet_cfdq):
            assert dec(seg, tri, 10.01) and not dec(seg, tri, 9.99)


def test_f7_positive_filter_sound():
    """F7 is a YES-prover (after F1): True must imply the decider says
    True (dv/frechet_distance.hpp:100-156)."""
    from frechetrange_spark.kernels import positive_filter

    rng = np.random.default_rng(61)
    fired = 0
    for _ in range(2000):
        p = np.cumsum(rng.normal(size=(rng.integers(2, 30), 2)), axis=0)
        q = np.cumsum(rng.normal(size=(rng.integers(2, 30), 2)), axis=0)
        q += rng.normal(scale=1.0, size=2)
        eps = rng.uniform(0.5, 6.0)
        d0 = p[0] - q[0]
        dn = p[-1] - q[-1]
        if (d0 @ d0) > eps * eps or (dn @ dn) > eps * eps:
            continue  # F7 runs after the endpoint check
        if positive_filter(p, q, eps):
            fired += 1
            assert decide_frechet(p, q, eps)
    assert fired > 50


class TestDecidePairsBuffers:
    """decide_pairs_buffers: the decide core over shared curve tables with
    per-pair (qsel, tsel) indirection — the broadcast-attach refine's
    kernel entry. Must agree with the arrow per-pair wrapper bit-for-bit."""

    def test_agrees_with_arrow_wrapper(self):
        import pyarrow as pa

        from frechetrange_spark.kernels.batch import (
            decide_pairs_arrow,
            decide_pairs_buffers,
        )

        rng = np.random.default_rng(17)
        curves = [
            np.cumsum(rng.normal(0, 1, (rng.integers(2, 40), 2)), axis=0)
            for _ in range(40)
        ]
        qi = rng.integers(0, 40, 300).astype(np.int64)
        ti = rng.integers(0, 40, 300).astype(np.int64)
        cols = lambda idx, d: pa.array([curves[i][:, d] for i in idx])
        for flags in (
            dict(),
            dict(greedy_accept=True),
            dict(greedy_accept=True, neg_reject=True),
        ):
            a, sa = decide_pairs_arrow(
                cols(qi, 0), cols(qi, 1), cols(ti, 0), cols(ti, 1),
                5.0, return_stages=True, **flags,
            )
            fx, ox, fy, oy = _curve_table(curves)
            b, sb = decide_pairs_buffers(
                (fx, ox, fy, oy), (fx, ox, fy, oy), qi, ti,
                5.0, return_stages=True, **flags,
            )
            assert (a == b).all()
            assert (sa == sb).all()

    def test_lookup_miss_raises(self):
        import pytest

        from frechetrange_spark.operators.range_query import _lookup

        ids = np.array([1, 5, 9], dtype=np.int64)
        assert _lookup(ids, np.array([9, 1, 5])).tolist() == [2, 0, 1]
        with pytest.raises(KeyError):
            _lookup(ids, np.array([1, 7]))
        with pytest.raises(KeyError):
            _lookup(np.empty(0, dtype=np.int64), np.array([1]))

    def test_answers_independent_of_tile_width(self):
        """A pair's ETD value, decider answer and distance value are the
        same in one call over a mixed-length batch (padded to its tile's
        widths) and in a call of its own — at eps equal to the larger
        endpoint distance, a rounding tie for the decider's last corner.
        ``tile_map`` ends every curve in at least one padding copy;
        without it a pair alone is padded nothing and reaches the last
        corner through other cells than in the batch, which flips a few
        percent of these answers."""
        from frechetrange_spark.kernels.batch import (
            decide_pairs_buffers,
            distance_pairs_buffers,
            etd_pairs_buffers,
        )

        rng = np.random.default_rng(47)
        n = 600
        ps = [np.cumsum(rng.uniform(-1, 1, (rng.integers(1, 12), 2)), axis=0) for _ in range(n)]
        qs = [
            np.cumsum(rng.uniform(-1, 1, (rng.integers(1, 12), 2)), axis=0) + rng.uniform(-1, 1, 2)
            for _ in range(n)
        ]
        eps = np.array(
            [max(np.hypot(*(p[0] - q[0])), np.hypot(*(p[-1] - q[-1]))) for p, q in zip(ps, qs)]
        )
        bq, bt, sel, _ = _tables(ps, qs)

        def alone(kernel, args=lambda i: ()):
            return np.array([kernel(bq, bt, sel[i : i + 1], sel[i : i + 1], *args(i))[0] for i in sel])

        whole = decide_pairs_buffers(bq, bt, sel, sel, eps, etd_accept=False)
        assert whole.any() and not whole.all()
        assert (alone(decide_pairs_buffers, lambda i: (eps[i : i + 1], False)) == whole).all()
        etd = etd_pairs_buffers(bq, bt, sel, sel)
        assert (alone(etd_pairs_buffers) == etd).all()
        d = distance_pairs_buffers(bq, bt, sel, sel)
        assert (alone(distance_pairs_buffers) == d).all()


class TestUpperBoundAcceptFilters:
    """r06 filter pack additions: reversed-greedy (F4 on the reversed
    pair) and the discrete-Fréchet accept (dfd_leq_batch) are SOUND
    YES-provers — enabling them never changes decide_pairs_arrow's
    result, only which stage decides."""

    def _random_pairs(self, n=400, pts=24, seed=11):
        rng = np.random.default_rng(seed)
        P = np.cumsum(rng.uniform(-1, 1, (n, pts, 2)), axis=1)
        Q = np.cumsum(rng.uniform(-1, 1, (n, pts, 2)), axis=1)
        Q += rng.uniform(-2, 2, (n, 1, 2))
        return P, Q

    def test_dfd_accept_is_sound(self):
        from frechetrange_spark.kernels.batch import (
            decide_frechet_batch,
            dfd_leq_batch,
        )

        P, Q = self._random_pairs()
        for e in (0.5, 1.0, 2.0, 4.0, 8.0):
            acc = dfd_leq_batch(P, Q, np.full(P.shape[0], e * e))
            dec = decide_frechet_batch(P, Q, np.full(P.shape[0], e))
            assert not (acc & ~dec).any(), f"unsound dfd accept at eps={e}"

    def test_dfd_known_answer(self):
        from frechetrange_spark.kernels.batch import dfd_leq_batch

        # GIS-Cup pair: continuous dF = 3; discrete dF = 3 as well
        # (vertex (2,0) pairs with (3,3): sqrt(1+9) > 3? coupling
        # [(1,0)-(1,0),(2,0)-(3,3),(4,0)-(3,3),(5,0)-(5,0)] max = sqrt(10))
        p = T1[None]
        q = T2[None]
        assert dfd_leq_batch(p, q, np.array([10.001]))[0]  # sqrt(10)^2
        assert not dfd_leq_batch(p, q, np.array([9.99]))[0]

    def test_dfd_matches_oracle(self):
        """dfd_leq_batch equals the O(nm) oracle exactly: N != M, each
        side padded to its own batch width by last-vertex copies,
        consecutive duplicate vertices, single-vertex curves on either
        side, and eps2 exactly at a pair's squared discrete distance (the
        <= tie) or one ulp below it."""
        from frechetrange_spark.kernels.batch import dfd_leq_batch, pad_curves

        rng = np.random.default_rng(29)

        def curve(n):
            c = np.cumsum(rng.uniform(-1, 1, (n, 2)), axis=0)
            if n > 1 and rng.random() < 0.4:
                c = np.repeat(c, rng.integers(1, 3, n), axis=0)  # duplicates
            return c

        for trial in range(40):
            B = int(rng.integers(1, 130))
            hi_p, hi_q = int(rng.integers(1, 20)), int(rng.integers(1, 20))
            if trial % 10 == 0:
                hi_p = 1  # every p is one vertex: N == 1
            if trial % 10 == 1:
                hi_q = 1  # M == 1
            ps = [curve(int(rng.integers(1, hi_p + 1))) for _ in range(B)]
            qs = [curve(int(rng.integers(1, hi_q + 1))) + rng.uniform(-2, 2, 2) for _ in range(B)]
            truth = np.array([discrete_frechet_sq(a, b) for a, b in zip(ps, qs)])
            kind = rng.integers(0, 3, B)
            eps2 = np.where(
                kind == 0,
                truth,
                np.where(kind == 1, np.nextafter(truth, -np.inf), truth * rng.uniform(0.5, 1.5, B)),
            )
            P, _ = pad_curves(ps)
            Q, _ = pad_curves(qs)
            got = dfd_leq_batch(P, Q, eps2)
            assert (got == (truth <= eps2)).all(), f"trial {trial}"
            assert got[kind == 0].all() and not got[kind == 1].any()

    def test_dfd_compaction_matches_oracle_and_single_calls(self):
        """dfd_leq_batch on batches of more than 64 pairs whose pairs are
        rejected early, at many different diagonals, so that the sweep
        compacts its (vertex, pair) planes mid-sweep, several times:
        equal to the O(nm) oracle and to one call per pair. Three in five
        pairs start farther apart than eps (rejected on the first
        diagonal, more than half the batch); the rest are noisy copies of
        one walk that drift off it at a random vertex."""
        from frechetrange_spark.kernels.batch import dfd_leq_batch, pad_curves

        rng = np.random.default_rng(31)
        for trial in range(6):
            B = int(rng.integers(150, 400))
            ps, qs = [], []
            for b in range(B):
                n, m = int(rng.integers(2, 40)), int(rng.integers(2, 40))
                walk = np.cumsum(rng.uniform(-1, 1, (max(n, m), 2)), axis=0)
                p = walk[:n] + rng.normal(0, 0.05, (n, 2))
                q = walk[:m] + rng.normal(0, 0.05, (m, 2))
                q[int(rng.integers(0, m)) :] += rng.uniform(-3, 3, 2)  # drift off
                if b % 5 < 3:
                    q += 10.0  # first vertices far apart
                ps.append(p)
                qs.append(q)
            truth = np.array([discrete_frechet_sq(a, b) for a, b in zip(ps, qs)])
            far = np.arange(B) % 5 < 3
            eps2 = np.where(~far & (rng.random(B) < 0.3), truth, rng.uniform(0.05, 4.0, B))
            P, _ = pad_curves(ps)
            Q, _ = pad_curves(qs)
            d00 = ((P[:, 0] - Q[:, 0]) ** 2).sum(axis=1)
            assert (d00 > eps2).sum() > B // 2  # compacted on the first diagonal
            got = dfd_leq_batch(P, Q, eps2)
            assert (got == (truth <= eps2)).all(), f"trial {trial}"
            assert got.any() and (~got & (d00 <= eps2)).any()
            alone = [dfd_leq_batch(P[i : i + 1], Q[i : i + 1], eps2[i : i + 1])[0] for i in range(B)]
            assert (got == alone).all(), f"trial {trial}"

    def test_stage_codes_independent_of_batch_composition(self):
        """With every filter on, a pair's stage code is the same whether
        it is decided in one call, a permuted call, or a call split in
        two by curve length (so each part pads to other widths) — across
        mixed curve lengths and a DP tail of several length tiles."""
        from frechetrange_spark.kernels.batch import (
            STAGE_DFD_ACCEPT,
            STAGE_DECIDER_NO,
            STAGE_DECIDER_YES,
            STAGE_NEG_REJECT,
            TILE,
            decide_pairs_buffers,
        )

        rng = np.random.default_rng(41)
        # curves resampled from 60 shared walks to 5..60 vertices plus
        # noise: same-walk pairs are near, so every stage gets work
        walks = [np.cumsum(rng.uniform(-1, 1, (40, 2)), axis=0) for _ in range(60)]
        curves, base = [], []
        for w in range(60):
            for _ in range(5):
                n = int(rng.integers(5, 61))
                u = np.sort(np.concatenate([[0.0, 39.0], rng.uniform(0, 39, n - 2)]))
                c = np.column_stack([np.interp(u, np.arange(40), walks[w][:, d]) for d in (0, 1)])
                curves.append(c + rng.normal(0, 0.15, c.shape))
                base.append(w)
        fx = np.concatenate([c[:, 0] for c in curves])
        fy = np.concatenate([c[:, 1] for c in curves])
        off = np.concatenate([[0], np.cumsum([len(c) for c in curves])]).astype(np.int64)
        tab = (fx, off, fy, off)
        base = np.array(base)
        n = 2400
        qi = rng.integers(0, len(curves), n).astype(np.int64)
        same = rng.random(n) < 0.7
        ti = np.where(
            same,
            5 * base[qi] + rng.integers(0, 5, n),
            rng.integers(0, len(curves), n),
        ).astype(np.int64)
        eps = rng.uniform(0.3, 1.5, n)
        flags = dict(
            etd_accept=True, greedy_accept=True, neg_reject=True,
            dfd_accept=True, rev_greedy_accept=True, return_stages=True,
        )

        def codes(sel):
            return decide_pairs_buffers(tab, tab, qi[sel], ti[sel], eps[sel], **flags)[1]

        whole = codes(np.arange(n))
        tail = np.isin(
            whole, [STAGE_DFD_ACCEPT, STAGE_NEG_REJECT, STAGE_DECIDER_YES, STAGE_DECIDER_NO]
        )
        assert tail.sum() > 2 * TILE  # the DP stages run on several tiles
        assert len(np.unique(whole)) >= 5
        perm = rng.permutation(n)
        assert (codes(perm) == whole[perm]).all()
        # split so the first call holds only curves of <= 30 vertices:
        # both calls pad (and tile) to other widths than the whole call
        lens = np.diff(off)
        short = np.maximum(lens[qi], lens[ti]) <= 30
        split = np.empty_like(whole)
        split[short] = codes(np.nonzero(short)[0])
        split[~short] = codes(np.nonzero(~short)[0])
        assert (split == whole).all()
        # alone, a pair gets one padding copy per side. Next to a pair of
        # 5-vertex curves that is still undecided at the reversed walk
        # (eps 0), both sides pad to 6, so p (3 vertices) gets one copy
        # more than q (4): the reversed walk's bound is sqrt(13) on the
        # curves but would be 2 with that copy, so at eps 2.5 a walk
        # that read padding would move its stage
        hook = [
            np.array([[1.0, 0.0], [1.0, 3.0], [0.0, 2.0]]),
            np.array([[1.0, 2.0], [3.0, 3.0], [0.0, 0.0], [2.0, 2.0]]),
            curves[0][:5],
            curves[1][:5],
        ]
        tab2 = _curve_table(hook)
        q2, t2, e2 = np.array([0, 2]), np.array([1, 3]), np.array([2.5, 0.0])
        both = decide_pairs_buffers(tab2, tab2, q2, t2, e2, **flags)[1]
        alone = decide_pairs_buffers(tab2, tab2, q2[:1], t2[:1], e2[:1], **flags)[1]
        assert both[0] == alone[0]

    def test_reversed_greedy_is_greedy_on_reversed_curves(self):
        """The reversed walk's bound for each pair equals the scalar
        greedy bound of the two unpadded curves reversed, and it accepts
        exactly the pairs whose bound is <= eps — with mixed curve
        lengths over several length tiles, and curve tables from sliced
        Arrow list columns whose offsets do not start at 0 (and differ
        between the x and y columns)."""
        import pyarrow as pa

        from frechetrange_spark.kernels.batch import (
            STAGE_GREEDY_REV_ACCEPT,
            TILE,
            decide_pairs_buffers,
            greedy_pairs_buffers,
            pair_tables,
        )

        rng = np.random.default_rng(43)
        n = 3 * TILE
        ps = [np.cumsum(rng.uniform(-1, 1, (rng.integers(1, 50), 2)), axis=0) for _ in range(n)]
        qs = [
            np.cumsum(rng.uniform(-1, 1, (rng.integers(1, 50), 2)), axis=0) + rng.uniform(-2, 2, 2)
            for _ in range(n)
        ]

        def col(curves, d, head, tail):
            # ``head``/``tail`` junk rows, sliced away: the offsets of the
            # remaining rows start at the head's size
            junk = [rng.uniform(-9, 9, rng.integers(1, 6)).tolist() for _ in range(head + tail)]
            rows = junk[:head] + [c[:, d].tolist() for c in curves] + junk[head:]
            return pa.array(rows, pa.list_(pa.float64())).slice(head, len(curves))

        bq, bt, qsel, tsel = pair_tables(
            col(ps, 0, 3, 2), col(ps, 1, 7, 1), col(qs, 0, 2, 4), col(qs, 1, 5, 3)
        )
        assert bq[1][0] > 0 and bq[1][0] != bq[3][0]
        want = np.array([greedy_upper_bound(p[::-1], q[::-1]) for p, q in zip(ps, qs)])

        got = greedy_pairs_buffers(bq, bt, qsel, tsel, reverse=True)
        assert (got == want).all()

        # eps at the bound (accept) or one ulp below it (reject)
        eps = np.where(rng.random(n) < 0.5, want, np.nextafter(want, -np.inf))
        codes = decide_pairs_buffers(
            bq, bt, qsel, tsel, eps, etd_accept=False,
            rev_greedy_accept=True, return_stages=True,
        )[1]
        assert ((codes == STAGE_GREEDY_REV_ACCEPT) == (want <= eps)).all()

    def test_flat_walk_equals_scalar_greedy(self):
        """``greedy_pairs_buffers`` forward equals core.greedy_upper_bound
        of each pair and ``reverse=True`` equals it on both curves
        reversed, bit for bit: ragged pairs with 1- and 2-vertex curves,
        duplicate vertices and integer coordinates (exact step ties, so
        the diagonal-then-i tie order matters), over curve tables from
        sliced Arrow list columns whose x and y offsets differ and do not
        start at 0. ``greedy_ub_batch`` on padded stacks, forward and
        reversed, equals the flat walk."""
        import pyarrow as pa

        from frechetrange_spark.kernels.batch import (
            greedy_pairs_buffers,
            greedy_ub_batch,
            pad_curves,
            pair_tables,
        )

        rng = np.random.default_rng(53)

        def curve(k):
            c = np.cumsum(rng.integers(-1, 2, (k, 2)), axis=0).astype(np.float64)
            if rng.random() < 0.5:
                c += rng.uniform(-0.5, 0.5, c.shape)
            if k > 1 and rng.random() < 0.3:
                c = np.repeat(c, rng.integers(1, 3, k), axis=0)  # duplicates
            return c

        # every pairing of 1- and 2-vertex curves first, then ragged ones
        small = [(a, b) for a in (1, 2) for b in (1, 2)] * 3
        sizes = small + [tuple(rng.integers(1, 40, 2)) for _ in range(700)]
        ps = [curve(int(a)) for a, _ in sizes]
        qs = [curve(int(b)) + rng.integers(-2, 3, 2) for _, b in sizes]

        def col(curves, d, head, tail):
            junk = [rng.uniform(-9, 9, rng.integers(1, 6)).tolist() for _ in range(head + tail)]
            rows = junk[:head] + [c[:, d].tolist() for c in curves] + junk[head:]
            return pa.array(rows, pa.list_(pa.float64())).slice(head, len(curves))

        bq, bt, qsel, tsel = pair_tables(
            col(ps, 0, 4, 2), col(ps, 1, 1, 3), col(qs, 0, 6, 1), col(qs, 1, 2, 5)
        )
        assert bq[1][0] > 0 and bq[1][0] != bq[3][0] and bt[1][0] != bt[3][0]
        fwd = greedy_pairs_buffers(bq, bt, qsel, tsel)
        rev = greedy_pairs_buffers(bq, bt, qsel, tsel, reverse=True)
        assert (fwd == [greedy_upper_bound(p, q) for p, q in zip(ps, qs)]).all()
        assert (rev == [greedy_upper_bound(p[::-1], q[::-1]) for p, q in zip(ps, qs)]).all()
        assert (fwd != rev).any()

        for curves_p, curves_q, want in ((ps, qs, fwd), ([p[::-1] for p in ps], [q[::-1] for q in qs], rev)):
            P, lp = pad_curves(curves_p)
            Q, lq = pad_curves(curves_q)
            assert (greedy_ub_batch(P, Q, lp, lq) == want).all()

    def test_filters_do_not_change_results(self):
        import pyarrow as pa

        from frechetrange_spark.kernels.batch import decide_pairs_arrow

        P, Q = self._random_pairs(n=600, pts=18, seed=5)

        def col(a):
            return pa.array([row.tolist() for row in a], pa.list_(pa.float64()))

        args = (col(P[:, :, 0]), col(P[:, :, 1]), col(Q[:, :, 0]), col(Q[:, :, 1]))
        for e in (1.0, 2.0, 4.0):
            base = decide_pairs_arrow(*args, e, greedy_accept=True)
            fast = decide_pairs_arrow(
                *args, e, greedy_accept=True,
                rev_greedy_accept=True, dfd_accept=True,
            )
            assert (base == fast).all(), f"result drift at eps={e}"


def _etd_merged_argsort(p, q):
    """Reference ETD over last-vertex-padded stacks: both curves sampled
    at every event of the merged knot sequence (stable argsort of the
    concatenated knots, running counts as segment indices), as the
    kernel computed it before it evaluated the two event sets apart."""
    B, N = p.shape[0], p.shape[1]
    M = q.shape[1]

    def knots(c):
        t = np.zeros(c.shape[:2])
        np.cumsum(np.sqrt(np.sum(np.diff(c, axis=1) ** 2, axis=2)), axis=1, out=t[:, 1:])
        total = t[:, -1:]
        r = np.divide(t, total, out=np.zeros_like(t), where=total > 0.0)
        r[:, -1] = np.where(total[:, 0] > 0.0, 1.0, 0.0)
        return r

    rp, rq = knots(p), knots(q)
    both = np.concatenate([rp, rq], axis=1)
    order = np.argsort(both, axis=1, kind="stable")
    times = np.take_along_axis(both, order, axis=1)
    from_p = order < N
    jp = np.clip(np.cumsum(from_p, axis=1) - 1, 0, max(N - 2, 0))
    jq = np.clip(np.cumsum(~from_p, axis=1) - 1, 0, max(M - 2, 0))

    def sample(k, xy, j):
        j1 = np.minimum(j + 1, k.shape[1] - 1)
        k0, k1 = np.take_along_axis(k, j, axis=1), np.take_along_axis(k, j1, axis=1)
        den = k1 - k0
        with np.errstate(divide="ignore", invalid="ignore"):
            frac = np.where(den > 0.0, (times - k0) / den, 0.0)
        frac = np.clip(frac, 0.0, 1.0)
        out = np.empty(times.shape + (2,))
        for d in range(2):
            v0 = np.take_along_axis(xy[:, :, d], j, axis=1)
            v1 = np.take_along_axis(xy[:, :, d], j1, axis=1)
            out[:, :, d] = v0 + frac * (v1 - v0)
        return out

    d2 = np.sum((sample(rp, p, jp) - sample(rq, q, jq)) ** 2, axis=2)
    return np.sqrt(d2.max(axis=1))


class TestEqualTimeDistance:
    """``etd_batch`` evaluates each curve's knot events apart (a curve at
    its own knot is its vertex, the other curve is interpolated), and
    ``_knots`` skips ``np.sum``'s length-2 reduction. Both it and
    ``etd_pairs_buffers`` must be bit-identical to the merged-event
    reference."""

    @staticmethod
    def _curves(rng, n):
        """n curves of every awkward kind: 1 and 2 vertices, evenly spaced
        vertices (exact cross-curve knot ties), duplicate vertices,
        zero-length curves, integer grids and random walks far apart at
        the end (so the last knot often sets the maximum)."""
        out = []
        for i in range(n):
            k = int(rng.integers(1, 3)) if i % 7 == 0 else int(rng.integers(1, 25))
            kind = i % 5
            if kind == 0:  # evenly spaced on a line: knots j / (k-1)
                c = np.column_stack([np.arange(k) * 0.5, np.full(k, rng.integers(-2, 3))])
            elif kind == 1:  # zero length
                c = np.repeat(rng.uniform(-3, 3, (1, 2)), k, axis=0)
            elif kind == 2:  # integer grid with duplicate vertices
                c = np.cumsum(rng.integers(-1, 2, (k, 2)), axis=0).astype(np.float64)
                c = np.repeat(c, rng.integers(1, 3, k), axis=0)
            else:
                c = np.cumsum(rng.uniform(-1, 1, (k, 2)), axis=0)
                c[-1] += rng.uniform(-6, 6, 2)
            out.append(c.astype(np.float64))
        return out

    @staticmethod
    def _bits(a):
        return np.asarray(a, dtype=np.float64).view(np.int64)

    def test_padded_stacks_match_merged_reference(self):
        """``etd_batch`` on ``pad_curves`` stacks (no padding copy on each
        side's longest curve, whose last knot then lies on a segment of
        positive length, where ``v0 + frac * (v1 - v0)`` need not round to
        the last vertex). Every third trial has curves of one length, so
        no curve is padded."""
        from frechetrange_spark.kernels.batch import etd_batch, pad_curves

        rng = np.random.default_rng(61)
        for trial in range(30):
            B = int(rng.integers(1, 60))
            ps, qs = self._curves(rng, B), self._curves(rng, B)
            rng.shuffle(qs)
            if trial % 6 == 0:  # zero-length curves on both sides
                ps = [np.repeat(c[:1], len(c), axis=0) for c in ps]
                qs = [np.repeat(c[:1], len(c), axis=0) for c in qs]
            if trial % 3 == 1:  # one length, far-apart ends
                n, m = (int(v) for v in rng.integers(2, 20, 2))
                ps = list(np.cumsum(rng.uniform(-1, 1, (B, n, 2)), axis=1))
                qs = list(np.cumsum(rng.uniform(-1, 1, (B, m, 2)), axis=1))
                for c in ps + qs:
                    c[-1] += rng.uniform(-6, 6, 2)
            P, _ = pad_curves(ps)
            Q, _ = pad_curves(qs)
            want = self._bits(_etd_merged_argsort(P, Q))
            assert (self._bits(etd_batch(P, Q)) == want).all(), f"trial {trial}"

    def test_pairs_buffers_match_merged_reference(self):
        """``etd_pairs_buffers`` over sliced Arrow list columns whose x and
        y offsets differ and do not start at 0, once with two curve tables
        and once with one table on both sides, every curve referenced
        twice: each pair's value equals the reference on the pair alone,
        each curve padded by one copy of its last vertex as ``tile_map``
        pads it."""
        import pyarrow as pa

        from frechetrange_spark.kernels.batch import _list_buffers, etd_pairs_buffers, pair_tables

        rng = np.random.default_rng(67)
        n = 900
        ps, qs = self._curves(rng, n), self._curves(rng, n)
        rng.shuffle(qs)

        def alone(p, q):
            return _etd_merged_argsort(np.vstack([p, p[-1:]])[None], np.vstack([q, q[-1:]])[None])[0]

        want = np.array([alone(p, q) for p, q in zip(ps, qs)])

        def col(curves, d, head, tail):
            junk = [rng.uniform(-9, 9, rng.integers(1, 6)).tolist() for _ in range(head + tail)]
            rows = junk[:head] + [c[:, d].tolist() for c in curves] + junk[head:]
            return pa.array(rows, pa.list_(pa.float64())).slice(head, len(curves))

        bq, bt, qsel, tsel = pair_tables(
            col(ps, 0, 4, 2), col(ps, 1, 1, 3), col(qs, 0, 6, 1), col(qs, 1, 2, 5)
        )
        assert bq[1][0] > 0 and bq[1][0] != bq[3][0] and bt[1][0] != bt[3][0]
        assert (self._bits(etd_pairs_buffers(bq, bt, qsel, tsel)) == self._bits(want)).all()

        both = ps + qs
        shared = (*_list_buffers(col(both, 0, 3, 1)), *_list_buffers(col(both, 1, 5, 2)))
        assert shared[1][0] != shared[3][0]
        # every curve twice, in shuffled pairs over the one table
        perm = rng.permutation(n)
        qsel = np.concatenate([perm, n + perm])
        tsel = np.concatenate([n + perm, perm])
        got = etd_pairs_buffers(shared, shared, qsel, tsel)
        assert (self._bits(got[:n]) == self._bits(want[perm])).all()
        rev = np.array([alone(q, p) for p, q in zip(ps, qs)])
        assert (self._bits(got[n:]) == self._bits(rev[perm])).all()

    def test_memory_bounded_by_referenced_curves(self):
        """ETD allocates for the curves the pairs reference, not for the
        whole curve table: over a 2M-vertex table (a knot per vertex
        would be 16 MB) three pairs peak far below."""
        import tracemalloc

        from frechetrange_spark.kernels.batch import etd_pairs_buffers

        rng = np.random.default_rng(71)
        n_curves, k = 20_000, 100
        fx = np.cumsum(rng.uniform(-1, 1, n_curves * k))
        fy = np.cumsum(rng.uniform(-1, 1, n_curves * k))
        off = k * np.arange(n_curves + 1, dtype=np.int64)
        table = (fx, off, fy, off)
        qsel = np.array([5, 17_000, 9_999], dtype=np.int64)
        tsel = np.array([6, 123, 19_999], dtype=np.int64)
        tracemalloc.start()
        try:
            etd_pairs_buffers(table, table, qsel, tsel)
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert peak < 2 * 1024 * 1024, f"peak {peak / 2**20:.1f} MiB"


def _segment_dists(v, c):
    """Distances from point ``v`` to every segment of the (n, 2) curve
    ``c`` (n >= 2)."""
    a, ab = c[:-1], np.diff(c, axis=0)
    sq = (ab * ab).sum(axis=1)
    t = ((v - a) * ab).sum(axis=1) / np.where(sq > 0, sq, 1.0)
    d = a + np.clip(t, 0.0, 1.0)[:, None] * ab - v
    return np.sqrt((d * d).sum(axis=1))


def test_deciders_agree_at_critical_eps_on_corpus(spark):
    """The batched decider (every filter on), the scalar free-space
    decider (K5) and the bb divide-&-conquer decider (K4) agree on
    corpus curve pairs at the critical values of the Fréchet distance —
    the endpoint distances and the vertex-to-segment distances closest
    to the pair's distance — and at those values times (1 +/- 1e-9).

    The pairs are the corpus's nearest-endpoint neighbours, so the
    probed values lie at the pair's distance. A critical value within
    1e-9 relative of that distance is a tie: K5's answer flips inside
    the +/-1e-9 window, and the answer AT the value is a rounding
    choice. The batched decider runs K5's interval arithmetic and must
    match it there too; K4 merges intervals with the reference's 1e-9
    slack, so at a tie it is compared at the +/-1e-9 probes only."""
    from frechetrange_spark.kernels.batch import decide_pairs_buffers
    from frechetrange_spark.kernels.bb_decider import decide_frechet_bb
    from frechetrange_spark.sources.trajectories import curves as load_curves
    from tests.conftest import SF_SMALL

    rows = load_curves(spark, SF_SMALL).select("traj_id", "xs", "ys").collect()
    curves = [
        np.column_stack([r["xs"], r["ys"]])
        for r in sorted(rows, key=lambda r: r["traj_id"])
    ]
    starts = np.array([c[0] for c in curves])
    ends = np.array([c[-1] for c in curves])
    near = []
    for i, c in enumerate(curves):
        gap = np.hypot(*(starts - c[0]).T) + np.hypot(*(ends - c[-1]).T)
        gap[i] = np.inf
        near.append((gap.min(), i, int(gap.argmin())))
    ps, qs, eps = [], [], []
    for _, i, j in sorted(near)[:24]:
        p, q = curves[i], curves[j]
        d = frechet_distance(p, q)
        ends_ = [np.hypot(*(p[0] - q[0])), np.hypot(*(p[-1] - q[-1]))]
        crit = np.unique(
            np.concatenate([_segment_dists(v, q) for v in p] + [_segment_dists(v, p) for v in q])
        )
        for c in set(ends_) | set(crit[np.argsort(np.abs(crit - d))[:5]].tolist()):
            for e in (c * (1 - 1e-9), c, c * (1 + 1e-9)):
                ps.append(p), qs.append(q), eps.append(e)
    sel = np.arange(len(eps), dtype=np.int64)
    batched = decide_pairs_buffers(
        _curve_table(ps), _curve_table(qs), sel, sel, np.asarray(eps),
        greedy_accept=True, neg_reject=True, rev_greedy_accept=True, dfd_accept=True,
    )
    k5 = np.array([decide_frechet(p, q, e) for p, q, e in zip(ps, qs, eps)])
    k4 = np.array([decide_frechet_bb(p, q, e) for p, q, e in zip(ps, qs, eps)])
    np.testing.assert_array_equal(batched, k5)
    below, at, above = (k5[i::3] for i in range(3))
    tie = np.repeat(below != above, 3)
    tie[0::3] = tie[2::3] = False  # the +/-1e-9 probes are compared everywhere
    np.testing.assert_array_equal(k4[~tie], k5[~tie])
    assert np.any(below != above) and np.any(at) and not np.all(at)
    assert len(eps) >= 500
