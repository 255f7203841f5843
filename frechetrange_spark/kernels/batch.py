"""Pair-batched Fréchet kernels: decide and distance over B pairs at once.

The scalar decider (`core.decide_frechet`) mirrors the reference's dv
column sweep (detail/dv/frechet_distance.hpp:221-373) and costs ~n*m
Python-level loop steps per pair. Here the SAME sweep runs once per batch
with every step vectorized over the batch axis, so the Python-loop cost is
amortized over all pairs in an Arrow batch (~50-100x per-pair speedup on
55-point curves).

Padding trick: a polyline is unchanged by repeating its last vertex, so
curves are padded to the batch max length with copies of their final
point — no masking, no semantic drift; degenerate (zero-length) segments
take the reference's a==0 branch of the line–circle interval solve
(detail/dv/frechet_distance.hpp:409-415). Agreement with the scalar
kernel (and hence the reference semantics) is property-tested in
tests/test_kernels.py.

One entry family: every engine kernel and every SQL UDF hands its pairs
to the ``*_buffers`` kernels as two (flat_x, off_x, flat_y, off_y) curve
tables plus per-pair selectors (``pair_tables`` builds them from four
Arrow list columns). ``pad_curves``/``frechet_distance_batch`` stay as a
ragged-list convenience for out-of-engine checks.

Padding still costs: every padded cell is swept. The ``*_buffers``
kernels gather their padded stacks per row group (``pair_chunks``). The
O(N+M) stages (ETD, greedy walks, distance bisection) take ``CHUNK``-pair
slices of the pairs sorted by len_p + len_t (``chunks``); the O(N*M) DP
stages of the refine funnel (discrete-Fréchet accept, exact decider)
take 2-D length ``tiles`` of the pairs left undecided by all chunks,
padded only to each tile's own longest curve per side. On the sf0.1
self-join's refine pairs this lifts the share of useful cells the DP
stages sweep from ~0.36-0.39 to ~0.53-0.66 (scripts/bench_kernel.py).

Decisions use per-pair eps, which also gives a batched bisection for the
distance value (K12, samples/plain.cpp:47-60): all pairs bisect in
lockstep on their own brackets.
"""

from __future__ import annotations

import numpy as np

_INF = np.inf

# pairs per padded chunk of the O(N+M) stages (ETD, greedy walks)
CHUNK = 4096
# pairs per padded chunk of the bisection distance kernel
DIST_CHUNK = 2048
# target pairs per length tile of the O(N*M) DP stages (see ``tiles``)
TILE = 512


def pad_curves(curves: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    """Stack (n_i, 2) curves into (B, N, 2), padding with the last vertex.
    Returns (padded, lengths)."""
    lens = np.fromiter((c.shape[0] for c in curves), dtype=np.int64, count=len(curves))
    n_max = int(lens.max())
    out = np.empty((len(curves), n_max, 2), dtype=np.float64)
    for i, c in enumerate(curves):
        k = c.shape[0]
        out[i, :k] = c
        if k < n_max:
            out[i, k:] = c[k - 1]
    return out, lens


def _solve_quadratic_interval_2d(
    a: np.ndarray, b: np.ndarray, c: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Elementwise a*t^2 + b*t + c <= 0 clipped to [0,1] over (B, K) arrays;
    empty -> (+inf, -inf). Same semantics as core._solve_quadratic_interval,
    branch-free (no boolean fancy indexing — every path is a flat where)."""
    # nd/den on the ORIGINAL (possibly (B,1)) shape: the segment-vs-points
    # caller passes a constant `a` per row, so the comparison and the
    # division run on B elements instead of B*M — numpy broadcasting in
    # the arithmetic below yields bit-identical element values.
    nd = a > 0.0
    den = 0.5 / np.where(nd, a, 1.0)
    nd = np.broadcast_to(nd, c.shape)
    disc = b * b - 4.0 * a * c
    sq = np.sqrt(np.maximum(disc, 0.0))
    t1 = (-b - sq) * den
    t2 = (-b + sq) * den
    okr = nd & (disc >= 0.0) & (t1 <= 1.0) & (t2 >= 0.0)
    degen_free = ~nd & (c <= 0.0)
    lo = np.where(okr, np.minimum(np.maximum(t1, 0.0), 1.0), np.where(degen_free, 0.0, _INF))
    hi = np.where(okr, np.minimum(np.maximum(t2, 0.0), 1.0), np.where(degen_free, 1.0, -_INF))
    return lo, hi


def _free_point_vs_segments(
    point: np.ndarray, q: np.ndarray, eps2: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """point (B,2) vs segments q[:, j]->q[:, j+1]: (B, M-1) intervals."""
    s0 = q[:, :-1, :]
    d = q[:, 1:, :] - s0
    f = s0 - point[:, None, :]
    a = d[..., 0] * d[..., 0] + d[..., 1] * d[..., 1]
    b = 2.0 * (f[..., 0] * d[..., 0] + f[..., 1] * d[..., 1])
    c = f[..., 0] * f[..., 0] + f[..., 1] * f[..., 1] - eps2[:, None]
    return _solve_quadratic_interval_2d(a, b, c)


def _free_segment_vs_points(
    s0: np.ndarray, s1: np.ndarray, q: np.ndarray, eps2: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """segment s0->s1 ((B,2) each) vs all points of q (B,M,2): (B,M)."""
    d = s1 - s0  # (B,2)
    f = s0[:, None, :] - q  # (B,M,2)
    a = (d[:, 0] * d[:, 0] + d[:, 1] * d[:, 1])[:, None]
    b = 2.0 * (f[..., 0] * d[:, None, 0] + f[..., 1] * d[:, None, 1])
    c = f[..., 0] * f[..., 0] + f[..., 1] * f[..., 1] - eps2[:, None]
    return _solve_quadratic_interval_2d(a, b, c)


def _br_chain_batch(
    a: np.ndarray, b: np.ndarray, reset: np.ndarray, blo: np.ndarray
) -> np.ndarray:
    """Vectorized bottom-reachability chain of one free-space column.

    Sequential semantics (the scalar loop in core.decide_frechet):

        s[0] = blo
        s[t] = a[t]                             if reset[t]
             = max(a[t], s[t-1]) if <= b[t]     else INF   (INF propagates)

    where a/b are the horizontal free-interval bounds (each a[t] is in
    [0,1] or INF) and reset[t] marks cells enterable from the left
    boundary. Evaluated as a SEGMENTED running max with cap violations:
    resets open segments; within a segment s[t] is the running max of a
    unless any position since the reset overflowed its cap (then INF).
    Prefix-doubling gives O(log M) numpy passes instead of an M-step
    Python loop — the former O(N*M) interpreter cost of the whole sweep
    drops to O(N*log M)."""
    B, M = a.shape
    tidx = np.arange(M)
    rv = reset.copy()
    rv[:, 0] = True  # t=0 is the injected bottom entry
    av = a.copy()
    av[:, 0] = blo
    bv = np.where(rv, _INF, b)  # reset values are not capped
    # last reset position <= t
    seg = np.maximum.accumulate(np.where(rv, tidx[None, :], 0), axis=1)
    # segmented running max of av via Hillis-Steele doubling
    rm = av
    shift = 1
    while shift < M:
        shifted = np.empty_like(rm)
        shifted[:, :shift] = -_INF
        shifted[:, shift:] = rm[:, :-shift]
        valid = seg <= (tidx - shift)[None, :]
        rm = np.maximum(rm, np.where(valid, shifted, -_INF))
        shift *= 2
    # violation anywhere in the current segment poisons the chain
    viol = rm > bv
    last_viol = np.maximum.accumulate(
        np.where(viol, tidx[None, :], -1), axis=1
    )
    return np.where(last_viol >= seg, _INF, rm)


def decide_frechet_batch(
    p: np.ndarray, q: np.ndarray, eps: np.ndarray
) -> np.ndarray:
    """Vectorized decision for B pairs: p (B,N,2), q (B,M,2) last-vertex
    padded, eps (B,). Returns bool (B,). Exact same accept/reject semantics
    as core.decide_frechet (strict > endpoint reject, <=-free intervals)."""
    p = np.asarray(p, dtype=np.float64)
    q = np.asarray(q, dtype=np.float64)
    eps = np.asarray(eps, dtype=np.float64)
    B, N = p.shape[0], p.shape[1]
    M = q.shape[1]
    eps2 = eps * eps

    def d2(u: np.ndarray, v: np.ndarray) -> np.ndarray:
        d = u - v
        return d[:, 0] * d[:, 0] + d[:, 1] * d[:, 1]

    # F1 endpoint check (padding preserves endpoints).
    alive = (d2(p[:, 0], q[:, 0]) <= eps2) & (d2(p[:, -1], q[:, -1]) <= eps2)
    if N == 1 and M == 1:
        return alive
    if N == 1:
        dd = q - p[:, 0][:, None, :]
        mx = np.max(dd[..., 0] ** 2 + dd[..., 1] ** 2, axis=1)
        return alive & (mx <= eps2)
    if M == 1:
        dd = p - q[:, 0][:, None, :]
        mx = np.max(dd[..., 0] ** 2 + dd[..., 1] ** 2, axis=1)
        return alive & (mx <= eps2)

    # Compact away endpoint-rejected pairs (cheap, and in bisection the
    # low-eps probes reject most of the batch right here).
    out = np.zeros(B, dtype=bool)
    orig_idx = np.nonzero(alive)[0]
    if orig_idx.size == 0:
        return out
    if orig_idx.size < B:
        p, q, eps2 = p[orig_idx], q[orig_idx], eps2[orig_idx]
        B = orig_idx.size
    alive = np.ones(B, dtype=bool)

    # Column-0 left boundary: chain up the left edge from the origin.
    fl_lo, fl_hi = _free_point_vs_segments(p[:, 0], q, eps2)  # (B, M-1)
    full = (fl_lo <= 0.0) & (fl_hi >= 1.0)
    prefix_ok = np.ones((B, M - 1), dtype=bool)
    if M > 2:
        prefix_ok[:, 1:] = np.cumprod(full[:, :-1], axis=1).astype(bool)
    reach = prefix_ok & (fl_lo <= 0.0)
    lr_lo = np.where(reach, 0.0, _INF)
    lr_hi = np.where(reach, fl_hi, -_INF)

    bottom_prefix_ok = np.ones(B, dtype=bool)
    br_lo = np.full((B, M), _INF)
    fh_hi_top = np.full(B, -_INF)

    for i in range(N - 1):
        fh_lo, fh_hi = _free_segment_vs_points(p[:, i], p[:, i + 1], q, eps2)

        blo = np.where(bottom_prefix_ok & (fh_lo[:, 0] <= 0.0), 0.0, _INF)
        bottom_prefix_ok &= (fh_lo[:, 0] <= 0.0) & (fh_hi[:, 0] >= 1.0)

        left_ok = lr_lo <= lr_hi  # (B, M-1)
        reset = np.zeros((B, M), dtype=bool)
        reset[:, 1:] = left_ok
        br_lo = _br_chain_batch(fh_lo, fh_hi, reset, blo)

        fh_hi_top = fh_hi[:, M - 1]

        if i == N - 2:
            break

        fv_lo, fv_hi = _free_point_vs_segments(p[:, i + 1], q, eps2)
        bottom_ok = br_lo[:, :-1] <= 1.0
        entry_lo = np.where(bottom_ok, 0.0, np.where(left_ok, lr_lo, _INF))
        new_lo = np.maximum(fv_lo, entry_lo)
        dead = new_lo > fv_hi
        lr_lo = np.where(dead, _INF, new_lo)
        lr_hi = np.where(dead, -_INF, fv_hi)

        # Early exit (dv:334-337): a pair whose next column has no live
        # left boundary and whose bottom chain is blocked can never recover.
        alive &= bottom_prefix_ok | ~dead.all(axis=1)
        n_alive = int(alive.sum())
        if n_alive == 0:
            break
        # Compact the batch when enough pairs are definitively rejected —
        # the remaining sweep then runs on the survivors only.
        if n_alive <= B // 2 and B > 64:
            keep = np.nonzero(alive)[0]
            orig_idx = orig_idx[keep]
            p, q, eps2 = p[keep], q[keep], eps2[keep]
            lr_lo, lr_hi = lr_lo[keep], lr_hi[keep]
            br_lo = br_lo[keep]
            bottom_prefix_ok = bottom_prefix_ok[keep]
            fh_hi_top = fh_hi_top[keep]
            alive = np.ones(keep.size, dtype=bool)
            B = keep.size

    # Accept via the top boundary of the last cell...
    accept = (br_lo[:, M - 1] <= 1.0) & (fh_hi_top >= 1.0)
    # ...or via the right boundary of the top-right cell.
    fv_lo, fv_hi = _free_point_vs_segments(p[:, N - 1], q, eps2)
    j = M - 2
    left_ok_last = lr_lo[:, j] <= lr_hi[:, j]
    bottom_ok_last = br_lo[:, j] <= 1.0
    entry = np.where(bottom_ok_last, 0.0, np.where(left_ok_last, lr_lo[:, j], _INF))
    rlo = np.maximum(fv_lo[:, j], entry)
    accept |= (rlo <= fv_hi[:, j]) & (fv_hi[:, j] >= 1.0) & (rlo <= 1.0)
    out[orig_idx] = alive & accept
    return out


def etd_batch(p: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Batched equal-time distance (F8 upper bound, bddm:253-362) over
    last-vertex-padded stacks p (B,N,2), q (B,M,2). Returns (B,) floats.

    Both curves are traversed at equal relative arc-length speed; the
    pairwise distance is convex between knot events, so the max over the
    union of both knot sets is exact. Padding adds zero-length segments,
    i.e. duplicate knots — harmless under max."""
    B, N = p.shape[0], p.shape[1]
    M = q.shape[1]
    tp = np.zeros((B, N))
    np.cumsum(
        np.sqrt(np.sum(np.diff(p, axis=1) ** 2, axis=2)), axis=1, out=tp[:, 1:]
    )
    tq = np.zeros((B, M))
    np.cumsum(
        np.sqrt(np.sum(np.diff(q, axis=1) ** 2, axis=2)), axis=1, out=tq[:, 1:]
    )
    lp = tp[:, -1:]
    lq = tq[:, -1:]
    rp = np.divide(tp, lp, out=np.zeros_like(tp), where=lp > 0.0)
    rq = np.divide(tq, lq, out=np.zeros_like(tq), where=lq > 0.0)
    rp[:, -1] = np.where(lp[:, 0] > 0.0, 1.0, 0.0)
    rq[:, -1] = np.where(lq[:, 0] > 0.0, 1.0, 0.0)

    # Merge both knot sets: stable argsort over the concatenation puts
    # rp-knots before equal rq-knots, so running counts give, per merged
    # event time, the index of the last knot <= t on each curve — a
    # vectorized merge, no per-pair searchsorted.
    both = np.concatenate([rp, rq], axis=1)  # (B, N+M)
    order = np.argsort(both, axis=1, kind="stable")
    times = np.take_along_axis(both, order, axis=1)
    from_p = order < N
    jp = np.clip(np.cumsum(from_p, axis=1) - 1, 0, max(N - 2, 0))
    jq = np.clip(np.cumsum(~from_p, axis=1) - 1, 0, max(M - 2, 0))

    def sample(knots: np.ndarray, xy: np.ndarray, j: np.ndarray) -> np.ndarray:
        j1 = np.minimum(j + 1, knots.shape[1] - 1)
        k0 = np.take_along_axis(knots, j, axis=1)
        k1 = np.take_along_axis(knots, j1, axis=1)
        den = k1 - k0
        # Full-speed SIMD divide + select: a `where=`-masked divide falls
        # back to buffered iteration, and with padded curves ~half the
        # knot gaps are exact ties (den == 0), making the masked path the
        # kernel's warm-time hot spot. Dividing unconditionally (0/0 and
        # x/0 suppressed) then selecting is ~4x faster at 50% ties.
        with np.errstate(divide="ignore", invalid="ignore"):
            frac = (times - k0) / den
        frac = np.where(den > 0.0, frac, 0.0)
        np.clip(frac, 0.0, 1.0, out=frac)
        out = np.empty((knots.shape[0], times.shape[1], 2))
        for d in range(2):
            # gather from a contiguous copy: xy[:, :, d] is a stride-2
            # view and take_along_axis on it is markedly slower
            coord = np.ascontiguousarray(xy[:, :, d])
            v0 = np.take_along_axis(coord, j, axis=1)
            v1 = np.take_along_axis(coord, j1, axis=1)
            out[:, :, d] = v0 + frac * (v1 - v0)
        return out

    pe = sample(rp, p, jp)
    qe = sample(rq, q, jq)
    d2 = np.sum((pe - qe) ** 2, axis=2)
    return np.sqrt(d2.max(axis=1))


def greedy_ub_batch(
    p: np.ndarray, q: np.ndarray, lens_p: np.ndarray, lens_q: np.ndarray
) -> np.ndarray:
    """F4 batched: greedy monotone alignment upper bound
    (detail/bb/spatial_index.hpp:251-278) in lockstep over B padded pairs —
    every pair advances its own (i, j) pointers, each step one vectorized
    gather. Bit-identical to core.greedy_upper_bound per pair (tested):
    diagonal wins ties, then the i-step (the scalar's min()/== order).

    With the true ``lens_p``/``lens_q`` the walk never reads padding, so
    its bound does not depend on the padded width. The reversed walk of
    decide_pairs_buffers passes the padded widths instead: its curves
    START with the padding copies of the last vertex, and while one
    pointer steps through its copies (zero-length steps) the other may
    advance, so the bound — still a sound upper bound — depends on the
    width each side is padded to."""
    B = p.shape[0]
    rows = np.arange(B)
    n = np.asarray(lens_p, dtype=np.int64)
    m = np.asarray(lens_q, dtype=np.int64)
    i = np.zeros(B, dtype=np.int64)
    j = np.zeros(B, dtype=np.int64)

    def d2_at(ii: np.ndarray, jj: np.ndarray) -> np.ndarray:
        d = p[rows, ii] - q[rows, jj]
        return d[:, 0] * d[:, 0] + d[:, 1] * d[:, 1]

    best = d2_at(i, j)
    active = (i < n - 1) | (j < m - 1)
    while active.any():
        can_i = i < n - 1
        can_j = j < m - 1
        i1 = np.minimum(i + 1, n - 1)
        j1 = np.minimum(j + 1, m - 1)
        a = np.where(can_i, d2_at(i1, j), _INF)
        b = np.where(can_j, d2_at(i, j1), _INF)
        c = np.where(can_i & can_j, d2_at(i1, j1), _INF)
        step = np.minimum(np.minimum(a, b), c)
        diag = active & (step == c)
        ai = active & ~diag & (step == a)
        bj = active & ~diag & ~ai
        i = np.where(diag | ai, i1, i)
        j = np.where(diag | bj, j1, j)
        best = np.where(active & (step > best), step, best)
        active = (i < n - 1) | (j < m - 1)
    return np.sqrt(best)


def _list_buffers(arr) -> tuple[np.ndarray, np.ndarray]:
    """(flat_values, absolute_offsets) of a pyarrow ListArray — zero-copy."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    return arr.values.to_numpy(), arr.offsets.to_numpy().astype(np.int64)


def pair_tables(qxs, qys, xs, ys) -> tuple:
    """(bq, bt, qsel, tsel) of B pair rows given as four pyarrow list
    columns: each side's curve table (one curve per row, zero-copy) and
    the identity selectors ``arange(B)`` — the ``*_buffers`` arguments."""
    bq = (*_list_buffers(qxs), *_list_buffers(qys))
    bt = (*_list_buffers(xs), *_list_buffers(ys))
    sel = np.arange(len(bq[1]) - 1, dtype=np.int64)
    return bq, bt, sel, sel


def _padded_gather(
    flat: np.ndarray, off: np.ndarray, rows: np.ndarray, width: int
) -> np.ndarray:
    """(len(rows), width) matrix: row r = flat[off[r]:off[r+1]] padded by
    repeating its last element (clip on the gather index — vectorized,
    no per-row allocation)."""
    lens = off[rows + 1] - off[rows]
    if rows.size and int(lens.min()) < 1:
        # a zero-length list row would gather flat[off[r]-1] — the previous
        # curve's data — and silently corrupt the decision; fail loudly.
        raise ValueError("padded gather requires every list row non-empty")
    idx = off[rows, None] + np.minimum(np.arange(width)[None, :], (lens - 1)[:, None])
    return flat[idx]


def dfd_leq_batch(p: np.ndarray, q: np.ndarray, eps2: np.ndarray) -> np.ndarray:
    """Discrete-Fréchet accept filter: True where the DISCRETE Fréchet
    distance (min over monotone vertex couplings of the max pair
    distance) is <= sqrt(eps2). Sound as a YES-prover for the continuous
    decision — a vertex coupling is a continuous matching, so
    d_F <= d_dF always (Eiter & Mannila 1994) — and last-vertex padding
    only duplicates vertices, which min-max DP ignores.

    Swept by anti-diagonals, vectorized over the batch: cell (i, j) of
    the DP ``dp = max(D, min(dp[i-1, j], dp[i, j-1], dp[i-1, j-1]))``
    reads two cells of diagonal k-1 = i+j-1 and one of diagonal k-2, so
    each diagonal is ONE elementwise max/min pass over (B, diagonal
    length) — no sequential dependency inside it, N+M-1 passes per
    batch. D is the squared vertex distance ``dx*dx + dy*dy``; all DP ops
    are exact (min/max/compare), so the accept set is deterministic and
    independent of batch composition and padding width.

    Early exit: every monotone path crosses diagonal k or k+1 and dp
    never decreases along a path, so the min over two consecutive
    diagonals is a non-decreasing lower bound of the result. Pairs whose
    bound exceeds eps2 can never accept; they are compacted out
    mid-sweep once at most half the batch is alive (they are handed to
    the exact decider by the caller anyway)."""
    p = np.asarray(p, dtype=np.float64)
    q = np.asarray(q, dtype=np.float64)
    B, N = p.shape[0], p.shape[1]
    M = q.shape[1]
    out = np.zeros(B, dtype=bool)
    if B == 0:
        return out
    eps2 = np.broadcast_to(np.asarray(eps2, dtype=np.float64), (B,)).copy()
    orig = np.arange(B)
    # x/y planes; q reversed so diagonal k's q vertices j = k - i, for
    # ascending i, are one ascending slice (index M-1-j)
    px, py = np.ascontiguousarray(p[..., 0]), np.ascontiguousarray(p[..., 1])
    rx = np.ascontiguousarray(q[:, ::-1, 0])
    ry = np.ascontiguousarray(q[:, ::-1, 1])

    def diag_d(k: int, lo: int, hi: int) -> np.ndarray:
        s = M - 1 - k
        dx = px[:, lo : hi + 1] - rx[:, s + lo : s + hi + 1]
        dy = py[:, lo : hi + 1] - ry[:, s + lo : s + hi + 1]
        return dx * dx + dy * dy

    # diagonal k holds dp(i, k-i) for i in [lo_k, hi_k] at column
    # 1 + i - lo_k; columns 0 and -1 are +inf (the off-grid neighbours)
    cur = np.full((B, 3), _INF)
    cur[:, 1] = diag_d(0, 0, 0)[:, 0]
    lo_c = 0
    prev, lo_p = None, 0
    mn_c = cur[:, 1]
    for k in range(1, N + M - 1):
        lo, hi = max(0, k - M + 1), min(k, N - 1)
        L = hi - lo + 1
        s1 = lo - lo_c  # column of dp(lo-1, k-lo) in diagonal k-1
        best = np.minimum(cur[:, s1 : s1 + L], cur[:, s1 + 1 : s1 + 1 + L])
        if prev is not None:
            s2 = lo - lo_p  # column of dp(lo-1, k-1-lo) in diagonal k-2
            np.minimum(best, prev[:, s2 : s2 + L], out=best)
        nxt = np.empty((cur.shape[0], L + 2))
        nxt[:, 0] = _INF
        nxt[:, -1] = _INF
        np.maximum(diag_d(k, lo, hi), best, out=nxt[:, 1:-1])
        mn_n = nxt[:, 1:-1].min(axis=1)
        prev, lo_p, cur, lo_c = cur, lo_c, nxt, lo
        alive = np.minimum(mn_c, mn_n) <= eps2
        mn_c = mn_n
        n_alive = int(alive.sum())
        if n_alive == 0:
            return out
        if n_alive <= cur.shape[0] // 2 and cur.shape[0] > 64:
            keep = np.nonzero(alive)[0]
            orig, eps2, mn_c = orig[keep], eps2[keep], mn_c[keep]
            cur, prev = cur[keep], prev[keep]
            px, py, rx, ry = px[keep], py[keep], rx[keep], ry[keep]
    out[orig] = cur[:, 1] <= eps2
    return out


# funnel stage codes reported by decide_pairs_arrow(return_stages=True)
STAGE_ETD_ACCEPT = 1  # F8 equal-time upper bound <= eps
STAGE_GREEDY_ACCEPT = 2  # F4 greedy upper bound <= eps
STAGE_NEG_REJECT = 3  # F5 negative filter proved > eps
STAGE_DECIDER_YES = 4  # K5 free-space DP
STAGE_DECIDER_NO = 5
STAGE_GREEDY_REV_ACCEPT = 6  # F4 greedy on the reversed pair
STAGE_DFD_ACCEPT = 7  # discrete-Fréchet upper bound <= eps

STAGE_NAMES = {
    STAGE_ETD_ACCEPT: "etd_accept",
    STAGE_GREEDY_ACCEPT: "greedy_accept",
    STAGE_NEG_REJECT: "neg_reject",
    STAGE_DECIDER_YES: "decider_yes",
    STAGE_DECIDER_NO: "decider_no",
    STAGE_GREEDY_REV_ACCEPT: "greedy_rev_accept",
    STAGE_DFD_ACCEPT: "dfd_accept",
}


def decide_pairs_arrow(
    qxs,
    qys,
    xs,
    ys,
    eps,
    etd_accept: bool = True,
    greedy_accept: bool = False,
    neg_reject: bool = False,
    rev_greedy_accept: bool = False,
    dfd_accept: bool = False,
    return_stages: bool = False,
) -> np.ndarray:
    """Batched decision straight from pyarrow list columns (B rows):
    ``decide_pairs_buffers`` over their ``pair_tables``. Returns bool
    (B,), or (bool, stage int8) with ``return_stages``.

    Filter pack in the reference bb order (F4 accept -> F5 reject ->
    decider, detail/bb/spatial_index.hpp:198-209), plus the bddm ETD
    accept (F8) first — every filter is result-set invariant (tested);
    flags only change cost:

    - ``etd_accept``: batched equal-time-distance upper bound — pairs with
      ETD <= eps accepted without the O(N*M) sweep.
    - ``greedy_accept``: F4 batched greedy upper bound on the remainder.
    - ``neg_reject``: F5 galloping negative filter, scalar per pair on the
      post-accept remainder only (the funnel tail — its cost tracks the
      undecided count, not the candidate count).
    - ``rev_greedy_accept``: F4 greedy again on the REVERSED pair
      (d_F is invariant under joint reversal, so the reversed greedy walk
      is an independent sound upper bound — measured it accepts ~20% of
      the pairs the forward walk misses, at the same tiny cost).
    - ``dfd_accept``: discrete-Fréchet upper-bound accept
      (``dfd_leq_batch``) on the remainder — min/max DP, ~2-3x cheaper
      than the free-space sweep, catches nearly all remaining true
      matches so the exact decider mostly sees rejects (which its
      early-exit compaction handles cheaply)."""
    return decide_pairs_buffers(
        *pair_tables(qxs, qys, xs, ys),
        eps,
        etd_accept=etd_accept,
        greedy_accept=greedy_accept,
        neg_reject=neg_reject,
        rev_greedy_accept=rev_greedy_accept,
        dfd_accept=dfd_accept,
        return_stages=return_stages,
    )


def pair_chunks(
    bq: tuple,
    bt: tuple,
    qsel: np.ndarray,
    tsel: np.ndarray,
    groups,
):
    """The one padded gather loop of every ``*_buffers`` kernel: yield
    ``(rows, p, t)`` per row group ``rows`` of ``groups`` (pair-index
    arrays — size-sorted chunks from ``chunks`` or length tiles from
    ``tiles``), where ``p``/``t`` are the last-vertex-padded (B, N, 2)/
    (B, M, 2) stacks of curves ``qsel[rows]`` of ``bq`` and ``tsel[rows]``
    of ``bt``, each side padded only to the longest curve of that side in
    the group. ``bq``/``bt`` are (flat_x, off_x, flat_y, off_y) curve
    tables. The padded working set stays O(group size x longest curve in
    the group) regardless of how many pairs are decided."""
    fqx, oqx, fqy, oqy = bq
    ftx, otx, fty, oty = bt
    for rows in groups:
        qr, tr = qsel[rows], tsel[rows]
        wp = int((oqx[qr + 1] - oqx[qr]).max())
        wt = int((otx[tr + 1] - otx[tr]).max())
        p = np.stack(
            [_padded_gather(fqx, oqx, qr, wp), _padded_gather(fqy, oqy, qr, wp)],
            axis=-1,
        )
        t = np.stack(
            [_padded_gather(ftx, otx, tr, wt), _padded_gather(fty, oty, tr, wt)],
            axis=-1,
        )
        yield rows, p, t


def chunks(order: np.ndarray, size: int = CHUNK) -> list[np.ndarray]:
    """Consecutive ``size``-row slices of ``order`` (a size-sorted pair
    order): the row groups of the walk stages and of ETD/distance."""
    return [order[s : s + size] for s in range(0, order.size, size)]


def tiles(rows: np.ndarray, lens_p: np.ndarray, lens_t: np.ndarray) -> list[np.ndarray]:
    """2-D length tiles of the pairs ``rows`` for the DP stages: split
    into b = ceil(sqrt(n / TILE)) equal-count quantile bands on
    ``lens_p[rows]``, then each band into b bands on ``lens_t``, so every
    tile holds <= ~TILE pairs of similar (len_p, len_t) and pads little
    on EITHER side (a 1-D sort on len_p + len_t pairs long-short with
    short-long, padding both sides to the long length). n <= TILE is one
    tile."""
    b = int(np.ceil(np.sqrt(rows.size / TILE)))
    if b <= 1:
        return [rows] if rows.size else []
    out = []
    for band in np.array_split(rows[np.argsort(lens_p[rows], kind="stable")], b):
        band = band[np.argsort(lens_t[band], kind="stable")]
        out.extend(g for g in np.array_split(band, b) if g.size)
    return out


def _size_order(bq: tuple, bt: tuple, qsel: np.ndarray, tsel: np.ndarray):
    """(len_q, len_t, argsort of len_q + len_t) for the selected pairs."""
    lens_p = bq[1][qsel + 1] - bq[1][qsel]
    lens_t = bt[1][tsel + 1] - bt[1][tsel]
    return lens_p, lens_t, np.argsort(lens_p + lens_t)


def decide_pairs_buffers(
    bq: tuple,
    bt: tuple,
    qsel: np.ndarray,
    tsel: np.ndarray,
    eps,
    etd_accept: bool = True,
    greedy_accept: bool = False,
    neg_reject: bool = False,
    rev_greedy_accept: bool = False,
    dfd_accept: bool = False,
    return_stages: bool = False,
) -> np.ndarray:
    """decide_pairs_arrow's core over raw list buffers with per-pair curve
    indirection: ``bq``/``bt`` are (flat_x, off_x, flat_y, off_y) curve
    TABLES (one list row per curve), and pair i compares curve
    ``qsel[i]`` of bq against curve ``tsel[i]`` of bt. The arrow wrapper
    and an inline curve source pass identity selectors over per-pair
    columns; broadcast and disk curve sources pass id-resolved selectors
    into a shared curve table, so the pair rows carry no array bytes.

    Two phases. The cheap O(N+M) stages (ETD, greedy, reversed greedy)
    run chunk by chunk over ``CHUNK``-pair slices of the pairs sorted by
    len_p + len_t. The undecided pairs of ALL chunks then run the
    O(N*M) DP stages (discrete-Fréchet accept, F5 reject, exact decider)
    stage by stage, each stage on its own ``tiles`` — padded only to the
    tile's own longest curve per side, which cuts the padded cells those
    sweeps pay for roughly in half on mixed-length batches.

    How pairs are grouped, and so how wide they are padded, is not
    guaranteed to leave a pair's stage unchanged:

    - exact: the forward greedy walk never reads padding, and the
      discrete-Fréchet DP (min/max of squared distances) ignores
      duplicated vertices, so their answers do not depend on the group;
    - up to float rounding: ETD and the free-space decider are
      padding-invariant in real arithmetic only. Padding adds exact
      zeros to ETD's arc lengths, but its t = 1 sample is interpolated
      on another segment; the decider reaches the last corner through
      the padded cells' degenerate intervals instead of the real last
      cell's quadratic solve. Either can move by a few ulps, so a pair
      whose eps is within rounding of a critical distance (e.g. eps
      equal to its endpoint distance) can flip with the padded widths.
      The parent layout had the same property, since a pair's chunk
      depends on the rest of its batch; on the 361,507 refine pairs of
      the sf0.1 self-join no stage code differs between chunk and tile
      padding (scripts/bench_kernel.py --check);
    - by design: the reversed greedy walk starts at the padded last
      vertex, and the leading copies of that vertex let one pointer sit
      still while the other advances, so its bound (still sound)
      depends on the chunk's padded widths at any eps. The walk stages
      therefore keep their chunks.

    With ``rev_greedy_accept`` off, one call, a permuted call and a
    split call give the same stage codes on a seeded mixed-length batch
    without rounding ties (tested)."""
    from frechetrange_spark.kernels.core import negfilter

    B = int(qsel.size)
    out = np.zeros(B, dtype=bool)
    stages = np.zeros(B, dtype=np.int8)
    if B == 0:
        return (out, stages) if return_stages else out
    eps_arr = np.broadcast_to(np.asarray(eps, dtype=np.float64), (B,))
    lens_p, lens_t, order = _size_order(bq, bt, qsel, tsel)

    def mark(rows: np.ndarray, acc: np.ndarray, code: int) -> None:
        out[rows[acc]] = True
        stages[rows[acc]] = code

    # no walk stage on (the exact-decider-only calls): skip the gathers
    walks = etd_accept or greedy_accept or rev_greedy_accept
    rest = []
    for rows, p, t in pair_chunks(bq, bt, qsel, tsel, chunks(order) if walks else []):
        e = eps_arr[rows]
        todo = np.arange(rows.size)
        if etd_accept:
            acc = etd_batch(p, t) <= e
            mark(rows, acc, STAGE_ETD_ACCEPT)
            todo = todo[~acc]
        if greedy_accept and todo.size:
            r = rows[todo]
            acc = greedy_ub_batch(p[todo], t[todo], lens_p[r], lens_t[r]) <= e[todo]
            mark(r, acc, STAGE_GREEDY_ACCEPT)
            todo = todo[~acc]
        if rev_greedy_accept and todo.size:
            # reversed padded curves: leading duplicate vertices are
            # harmless for the greedy bound (zero-length steps), so the
            # full padded width serves as the length
            pr = p[todo, ::-1].copy()
            tr = t[todo, ::-1].copy()
            ub = greedy_ub_batch(
                pr,
                tr,
                np.full(todo.size, p.shape[1], dtype=np.int64),
                np.full(todo.size, t.shape[1], dtype=np.int64),
            )
            acc = ub <= e[todo]
            mark(rows[todo], acc, STAGE_GREEDY_REV_ACCEPT)
            todo = todo[~acc]
        rest.append(rows[todo])
    todo = np.concatenate(rest) if rest else order

    def tiled(stage) -> np.ndarray:
        """``stage(p, t, rows)`` over the length tiles of ``todo``; its
        bool answer per ``todo`` pair."""
        hit = np.zeros(B, dtype=bool)
        for rows, p, t in pair_chunks(bq, bt, qsel, tsel, tiles(todo, lens_p, lens_t)):
            hit[rows] = stage(p, t, rows)
        return hit[todo]

    if dfd_accept and todo.size:
        acc = tiled(lambda p, t, r: dfd_leq_batch(p, t, eps_arr[r] * eps_arr[r]))
        mark(todo, acc, STAGE_DFD_ACCEPT)
        todo = todo[~acc]
    if neg_reject and todo.size:
        drop = np.fromiter(
            (
                negfilter(_curve(bq, qsel[k]), _curve(bt, tsel[k]), float(eps_arr[k]))
                for k in todo
            ),
            dtype=bool,
            count=todo.size,
        )
        stages[todo[drop]] = STAGE_NEG_REJECT
        todo = todo[~drop]
    if todo.size:
        dec = tiled(lambda p, t, r: decide_frechet_batch(p, t, eps_arr[r]))
        out[todo] = dec
        stages[todo] = np.where(dec, STAGE_DECIDER_YES, STAGE_DECIDER_NO)
    return (out, stages) if return_stages else out


def _curve(b: tuple, c: int) -> np.ndarray:
    """Curve ``c`` of the curve table ``b`` as an unpadded (n, 2) array."""
    fx, ox, fy, oy = b
    return np.column_stack([fx[ox[c] : ox[c + 1]], fy[oy[c] : oy[c + 1]]])


def etd_pairs_buffers(
    bq: tuple, bt: tuple, qsel: np.ndarray, tsel: np.ndarray
) -> np.ndarray:
    """Batched equal-time distance (F8) per pair, over raw list buffers
    with per-pair curve indirection (cf. decide_pairs_buffers): pair i
    compares curve ``qsel[i]`` of bq against curve ``tsel[i]`` of bt."""
    out = np.empty(int(qsel.size), dtype=np.float64)
    order = _size_order(bq, bt, qsel, tsel)[2]
    for rows, p, t in pair_chunks(bq, bt, qsel, tsel, chunks(order)):
        out[rows] = etd_batch(p, t)
    return out


def distance_pairs_buffers(
    bq: tuple,
    bt: tuple,
    qsel: np.ndarray,
    tsel: np.ndarray,
    rel_tol: float = 1e-9,
    abs_tol: float = 1e-12,
) -> np.ndarray:
    """Batched bisection distance per pair, over raw list buffers with
    per-pair curve indirection (cf. decide_pairs_buffers). Per-pair values
    are independent of batch composition (every bisection step is
    elementwise per pair)."""
    out = np.empty(int(qsel.size), dtype=np.float64)
    order = _size_order(bq, bt, qsel, tsel)[2]
    for rows, p, t in pair_chunks(bq, bt, qsel, tsel, chunks(order, DIST_CHUNK)):
        out[rows] = _frechet_distance_padded(p, t, rel_tol, abs_tol)
    return out


def frechet_distance_batch(
    ps: list[np.ndarray],
    qs: list[np.ndarray],
    rel_tol: float = 1e-9,
    abs_tol: float = 1e-12,
) -> np.ndarray:
    """Fréchet distance values for B ragged pairs: pad, then lockstep
    bisection (see _frechet_distance_padded)."""
    p, _ = pad_curves([np.asarray(c, dtype=np.float64) for c in ps])
    q, _ = pad_curves([np.asarray(c, dtype=np.float64) for c in qs])
    return _frechet_distance_padded(p, q, rel_tol, abs_tol)


def _frechet_distance_padded(
    p: np.ndarray,
    q: np.ndarray,
    rel_tol: float = 1e-9,
    abs_tol: float = 1e-12,
) -> np.ndarray:
    """Fréchet distance values for B last-vertex-padded pairs via lockstep
    bisection over the batched decider. Brackets: lo = max endpoint distance
    (a lower bound), hi = batched equal-time distance (upper bound, F8).
    Same tolerances and semantics as core.frechet_distance."""
    lo = np.maximum(
        np.hypot(p[:, 0, 0] - q[:, 0, 0], p[:, 0, 1] - q[:, 0, 1]),
        np.hypot(p[:, -1, 0] - q[:, -1, 0], p[:, -1, 1] - q[:, -1, 1]),
    )
    hi = np.maximum(etd_batch(p, q), lo)

    out = np.where(hi <= lo, lo, np.nan)
    # pairs already decided at their lower bound collapse to lo
    at_lo = decide_frechet_batch(p, q, lo)
    out = np.where(np.isnan(out) & at_lo, lo, out)

    # bisect only the still-active pairs each round (compaction): pairs
    # converge after different iteration counts, and a converged pair in
    # a lockstep batch would otherwise keep paying full sweeps
    idx = np.nonzero(np.isnan(out))[0]
    p, q, lo, hi = p[idx], q[idx], lo[idx], hi[idx]
    while idx.size:
        conv = hi - lo <= abs_tol + rel_tol * hi
        if conv.any():
            out[idx[conv]] = hi[conv]
            keep = ~conv
            idx, p, q, lo, hi = idx[keep], p[keep], q[keep], lo[keep], hi[keep]
            if idx.size == 0:
                break
        mid = 0.5 * (lo + hi)
        yes = decide_frechet_batch(p, q, mid)
        hi = np.where(yes, mid, hi)
        lo = np.where(yes, lo, mid)
    return out
