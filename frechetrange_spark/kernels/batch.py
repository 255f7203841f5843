"""Pair-batched Fréchet kernels: decide and distance over B pairs at once.

The scalar decider (`core.decide_frechet`) mirrors the reference's dv
column sweep (detail/dv/frechet_distance.hpp:221-373). The batched one
(`decide_frechet_batch`) runs the same cell recurrence as an
anti-diagonal wavefront: each of the N+M-3 diagonals is one elementwise
pass over (pairs, diagonal length), so the Python-loop cost is paid once
per diagonal for all pairs of an Arrow batch, and a pair leaves the sweep
as soon as one diagonal is unreachable.

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
kernels therefore gather their padded stacks per 2-D length tile
(``tiles``, ``tile_map``): ETD, the discrete-Fréchet and free-space DP
stages and the distance bisection run on tiles of <= ~TILE pairs of
similar (len_p, len_t), padded to one vertex past each tile's own longest
curve per side. The two O(N+M) greedy walks pad nothing:
``greedy_pairs_buffers`` walks all of a call's pairs in lockstep, reading
each pair's next vertices straight from the flat curve buffers, so its
Python step loop runs once per step for the whole call. The padded stages
likewise gain from large calls (fuller tiles, fewer loop passes), which
is why the refine maps merge a partition's Arrow batches into a few
calls.

The ETD stage (``etd_pairs_buffers``, the one ETD entry of the engine)
runs ``etd_batch`` on its length tiles; ``etd_batch`` interpolates only
the other curve at each curve's own knot events. Both DP stages
(``dfd_leq_batch``, ``decide_frechet_batch``) store their vertex planes
(vertex, pair) with q reversed, so each anti-diagonal reads contiguous
row slices.

Decisions use per-pair eps, which also gives a batched bisection for the
distance value (K12, samples/plain.cpp:47-60): all pairs bisect in
lockstep on their own brackets.
"""

from __future__ import annotations

import numpy as np

_INF = np.inf

# target pairs per length tile of every ``*_buffers`` kernel (see ``tiles``)
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


def _seg_terms(x: np.ndarray, y: np.ndarray) -> tuple:
    """Per-segment terms of the line–circle interval solve for the (K, B)
    vertex planes x, y, one row per segment: (dx, dy, 4*a, a == 0, 0.5/a)
    with d = x[s] - x[s+1] and a = |d|^2. 0.5/a is NaN where a == 0, so a
    degenerate segment's roots are NaN and fail every compare; it takes
    the a == 0 branch of ``_free_interval`` instead."""
    dx = x[:-1] - x[1:]
    dy = y[:-1] - y[1:]
    a = dx * dx + dy * dy
    nd = a > 0.0
    den = np.where(nd, 0.5 / np.where(nd, a, 1.0), np.nan)
    return dx, dy, 4.0 * a, ~nd, den


def _free_interval(fx, fy, c, free, dx, dy, a4, deg, den) -> tuple:
    """Elementwise free interval of the t in [0, 1] with
    a*t^2 + b*t + c <= 0, b = 2 f.d, for the segment terms of
    ``_seg_terms``, the offsets f and c = |f|^2 - eps2, and ``free`` =
    c <= 0. Returns (lo, hi, ok): the interval is [lo, hi] where ok, and
    empty elsewhere (lo, hi are then unspecified). Same semantics and
    float operations as core._solve_quadratic_interval, except that 0.5/a
    multiplies where core divides by 2a; a negative discriminant or a
    degenerate segment gives NaN roots (callers silence the warning),
    which fail the root compares."""
    b = fx * dx
    b += fy * dy
    b *= 2.0
    sq = b * b
    sq -= a4 * c
    np.sqrt(sq, out=sq)
    np.negative(b, out=b)
    t1 = b - sq
    t1 *= den
    t2 = np.add(b, sq, out=b)
    t2 *= den
    ok = t1 <= 1.0
    ok &= t2 >= 0.0
    ok |= deg & free
    # fmax/fmin: a degenerate segment's NaN roots become [0, 1]
    return np.fmax(t1, 0.0, out=t1), np.fmin(t2, 1.0, out=t2), ok


def _edge_chain(lo: np.ndarray, hi: np.ndarray, ok: np.ndarray) -> np.ndarray:
    """Reachable prefix length of a free-space edge from the origin: the
    count of leading intervals entered at 0 (lo <= 0) with all earlier
    ones fully free. (K, B) intervals -> (B,) counts."""
    reach = ok & (lo <= 0.0)
    full = reach & (hi >= 1.0)
    reach[1:] &= np.logical_and.accumulate(full[:-1], axis=0)
    return reach.sum(axis=0)


def decide_frechet_batch(
    p: np.ndarray, q: np.ndarray, eps: np.ndarray
) -> np.ndarray:
    """Vectorized decision for B pairs: p (B,N,2), q (B,M,2) last-vertex
    padded, eps (B,). Returns bool (B,). Same accept/reject semantics as
    core.decide_frechet (strict > endpoint reject, <=-free intervals); the
    two can differ only where a free-interval root lands within rounding
    of a compare (0.5/a multiplies here where core divides by 2a), e.g. at
    eps exactly equal to an endpoint distance.

    The free space (cell (i, j) = segment p_i p_i+1 x segment q_j q_j+1)
    is swept by anti-diagonals k = i + j, vectorized over the pairs and
    the diagonal's cells. Each cell maps two reachable-interval lower
    bounds (inf = unreachable; reachable <=> <= 1) to two:

        L: its left edge (from cell (i-1, j), or the left-edge chain)
        B: its bottom edge (from cell (i, j-1), or the bottom-edge chain)
        R = m if m <= v_hi else inf,   m = max(v_lo, 0 if B <= 1 else L)
        T = t if t <= h_hi else inf,   t = max(h_lo, 0 if L <= 1 else B)

    where [v_lo, v_hi] is the free interval of p_i+1 on segment q_j q_j+1
    (the right edge) and [h_lo, h_hi] that of q_j+1 on p_i p_i+1 (the top
    edge); an empty interval makes its output inf. Both inputs come from
    diagonal k-1, so a diagonal is one elementwise pass over (diagonal
    length, B), with the vertex planes stored (vertex, pair) and q
    reversed so that every diagonal reads contiguous slices. The two
    intervals of a cell share their vertex pair's offset and c = |f|^2 -
    eps2 with the neighbouring cell on the same diagonal, computed once
    per diagonal; the per-segment terms of both curves (deltas, 4a,
    a == 0, 0.5/a) are computed once per call. The corner (N-1, M-1) is
    reached through the last cell's top or right edge.

    Early exit: every monotone path crosses every diagonal, so a pair
    with no reachable output on diagonal k whose edge chains do not reach
    diagonal k+1 is rejected — a blocked row stops the sweep as early as
    a blocked column. Rejected pairs are compacted out once at most half
    the batch is alive."""
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
    orig = np.nonzero(alive)[0]
    if orig.size == 0:
        return out
    e2 = eps2[orig]
    # (vertex, pair) planes: every diagonal slice is one contiguous block;
    # q reversed so the vertices q_j, j = k - i, of a diagonal are one
    # ascending slice (row M-1-j) for ascending i
    px = np.ascontiguousarray(p[orig, :, 0].T)
    py = np.ascontiguousarray(p[orig, :, 1].T)
    qx = np.ascontiguousarray(q[orig, ::-1, 0].T)
    qy = np.ascontiguousarray(q[orig, ::-1, 1].T)
    # Both interval kinds take f = q_b - p_a. The right edge of cell
    # (i, j) is p_i+1 on q_j q_j+1, d = q_j+1 - q_j (reversed row M-2-j);
    # the top edge is q_j+1 on p_i p_i+1, whose f and d are core's with
    # both signs flipped (d = p_i - p_i+1, row i), so b = 2 f.d and c are
    # bit-identical.
    tp, tq = _seg_terms(px, py), _seg_terms(qx, qy)

    def offsets(xs, ys):  # reads the planes as rebound by compaction
        fx, fy = qx[xs] - px[ys], qy[xs] - py[ys]
        c = fx * fx
        c += fy * fy
        c -= e2
        return fx, fy, c, c <= 0.0

    with np.errstate(invalid="ignore"):
        # edge chains: p_0 on the segments of q (left edge), q_0 on the
        # segments of p (bottom edge); each reaches diagonal k iff k is
        # below its reachable prefix length
        f = offsets(slice(1, None), slice(0, 1))
        left_reach = _edge_chain(*(v[::-1] for v in _free_interval(*f, *tq)))
        f = offsets(slice(M - 1, M), slice(0, N - 1))
        bottom_reach = _edge_chain(*_free_interval(*f, *tp))
        # left_in[i] / bottom_in[i]: the L / B input of column i on the
        # current diagonal (left_in[0] is the left-edge chain, bottom_in[k]
        # the bottom-edge chain)
        left_in = np.full((N, orig.size), _INF)
        bottom_in = np.full((N - 1, orig.size), _INF)
        last = N + M - 4
        for k in range(last + 1):
            lo, hi = max(0, k - M + 2), min(k, N - 2)
            if lo == 0:
                left_in[0] = np.where(k < left_reach, 0.0, _INF)
            if hi == k:
                bottom_in[k] = np.where(k < bottom_reach, 0.0, _INF)
            # vertex pairs (a, k+1-a), a = lo..hi+1: the right edge of
            # cell i is pair (i+1, j), its top edge pair (i, j+1)
            s = M - 2 - k  # reversed row of q_(k+1-a) at a = 0
            fx, fy, c, free = offsets(slice(s + lo, s + hi + 2), slice(lo, hi + 2))
            v_lo, v_hi, v_ok = _free_interval(
                fx[1:], fy[1:], c[1:], free[1:], *(t[s + lo : s + hi + 1] for t in tq)
            )
            h_lo, h_hi, h_ok = _free_interval(
                fx[:-1], fy[:-1], c[:-1], free[:-1], *(t[lo : hi + 1] for t in tp)
            )
            L, Bv = left_in[lo : hi + 1], bottom_in[lo : hi + 1]
            # B*0 is 0 where B is reachable and NaN (inf*0) where not, and
            # fmin skips NaN: the entry bound is 0 from below, else L
            e_r, e_t = np.fmin(L, Bv * 0.0), np.fmin(Bv, L * 0.0)
            R = np.maximum(v_lo, e_r, out=left_in[lo + 1 : hi + 2])
            T = np.maximum(h_lo, e_t, out=bottom_in[lo : hi + 1])
            v_ok &= R <= v_hi
            h_ok &= T <= h_hi
            np.copyto(R, _INF, where=~v_ok)
            np.copyto(T, _INF, where=~h_ok)
            if k == last:
                break
            live = (v_ok | h_ok).any(axis=0) | (k + 1 < left_reach) | (k + 1 < bottom_reach)
            n_alive = int(live.sum())
            if n_alive == 0:
                return out
            if n_alive <= live.size // 2 and live.size > 64:
                keep = np.nonzero(live)[0]
                orig, e2 = orig[keep], e2[keep]
                left_reach, bottom_reach = left_reach[keep], bottom_reach[keep]
                left_in, bottom_in = left_in[:, keep], bottom_in[:, keep]
                px, py, qx, qy = px[:, keep], py[:, keep], qx[:, keep], qy[:, keep]
                tp = tuple(t[:, keep] for t in tp)
                tq = tuple(t[:, keep] for t in tq)

    # the corner is reached via the last cell's top or right edge
    out[orig] = ((T[0] <= 1.0) & (h_hi[0] >= 1.0)) | ((R[0] <= 1.0) & (v_hi[0] >= 1.0))
    return out


def _knots(p: np.ndarray) -> np.ndarray:
    """Relative arc-length knots (B, N) of the last-vertex-padded stack p
    (B, N, 2): the prefix lengths divided by the total length, the last
    knot exactly 1 (0 for a zero-length curve). A padded vertex adds a
    zero-length segment, so its knot repeats the curve's last one.
    Segment lengths are sqrt(dx*dx + dy*dy), the float operations of
    ``np.sum(d ** 2, axis=2)`` without its slow length-2 reduction."""
    t = np.zeros(p.shape[:2])
    d = np.diff(p, axis=1)
    d *= d
    np.cumsum(np.sqrt(d[..., 0] + d[..., 1]), axis=1, out=t[:, 1:])
    total = t[:, -1:]
    r = np.divide(t, total, out=np.zeros_like(t), where=total > 0.0)
    r[:, -1] = np.where(total[:, 0] > 0.0, 1.0, 0.0)
    return r


def _sample(knots: np.ndarray, xy: np.ndarray, j: np.ndarray, times: np.ndarray) -> np.ndarray:
    """Points (B, E, 2) of the curves xy (B, K, 2) at the relative times
    ``times`` (B, E), each on segment ``j`` (B, E) (0 <= j <= max(K-2, 0))
    of its curve's knots (B, K): ``v0 + frac * (v1 - v0)`` with frac the
    clipped position of the time between the segment's knots, 0 on a
    zero-length segment. Flat ``take`` gathers."""
    B, K = knots.shape
    i0 = j + K * np.arange(B)[:, None]
    i1 = i0 + 1 if K > 1 else i0
    kf = knots.reshape(-1)
    k0, k1 = kf.take(i0), kf.take(i1)
    den = k1 - k0
    # Full-speed SIMD divide + select: a `where=`-masked divide falls back
    # to buffered iteration, and with padded curves many knot gaps are
    # exact ties (den == 0). Divide unconditionally (0/0 and x/0
    # suppressed), then select.
    with np.errstate(divide="ignore", invalid="ignore"):
        frac = (times - k0) / den
    frac = np.where(den > 0.0, frac, 0.0)
    np.clip(frac, 0.0, 1.0, out=frac)
    xy = xy.reshape(-1, 2)
    v0 = xy.take(i0, axis=0)
    v1 = xy.take(i1, axis=0)
    v1 -= v0
    v1 *= frac[..., None]
    v1 += v0
    return v1


def etd_batch(p: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Batched equal-time distance (F8 upper bound, bddm:253-362) over
    last-vertex-padded stacks p (B,N,2), q (B,M,2). Returns (B,) floats.

    Both curves are traversed at equal relative arc-length speed; the
    pairwise distance is convex between knot events, so the max over the
    union of both knot sets is exact. Padding adds zero-length segments,
    i.e. duplicate knots — harmless under max.

    The events are the merged knots of both curves, as by a stable sort
    of their concatenation (a p knot before an equal q knot); at each
    event both curves are sampled on the segment of their last knot at
    or before it. The two event sets are evaluated apart, with the same
    float operations as sampling both curves at every merged event:

    - at its own knot i <= N-2 a curve sits exactly on vertex i (frac 0),
      so only the other curve is interpolated;
    - its last knot i = N-1 lies on segment N-2, where ``v0 + frac * (v1
      - v0)`` need not round to v1, so it keeps that formula;
    - the other curve's segment is its count of knots before the event,
      read off the merged rank (the inverse of the stable argsort
      permutation) minus the event's own index."""
    p = np.asarray(p, dtype=np.float64)
    q = np.asarray(q, dtype=np.float64)
    B, N = p.shape[0], p.shape[1]
    M = q.shape[1]
    rp, rq = _knots(p), _knots(q)
    order = np.argsort(np.concatenate([rp, rq], axis=1), axis=1, kind="stable")
    rank = np.empty_like(order)
    rank.reshape(-1)[order + (N + M) * np.arange(B)[:, None]] = np.arange(N + M)
    # p knot i has rank - i q knots before it, q knot m rank - m p knots
    jq = np.clip(rank[:, :N] - np.arange(1, N + 1), 0, max(M - 2, 0))
    jp = np.clip(rank[:, N:] - np.arange(1, M + 1), 0, max(N - 2, 0))

    def last(k: np.ndarray, xy: np.ndarray) -> np.ndarray:
        """(B, 2): each curve at its own last knot, on its last segment."""
        j = np.full((B, 1), max(k.shape[1] - 2, 0))
        return _sample(k, xy, j, k[:, -1:])[:, 0]

    def max_d2(d: np.ndarray) -> np.ndarray:
        np.square(d, out=d)
        return (d[..., 0] + d[..., 1]).max(axis=1)

    # p's events: d = p - q(t), p at its own knots
    d = _sample(rq, q, jq, rp)
    d_last = last(rp, p) - d[:, -1]
    np.subtract(p, d, out=d)
    d[:, -1] = d_last
    d2 = max_d2(d)
    # q's events: d = p(t) - q, q at its own knots
    d = _sample(rp, p, jp, rq)
    d_last = d[:, -1] - last(rq, q)
    d -= q
    d[:, -1] = d_last
    return np.sqrt(np.maximum(d2, max_d2(d)))


def greedy_pairs_buffers(
    bq: tuple, bt: tuple, qsel: np.ndarray, tsel: np.ndarray, reverse: bool = False
) -> np.ndarray:
    """F4: the greedy monotone alignment upper bound
    (detail/bb/spatial_index.hpp:251-278) of every pair, curve
    ``qsel[i]`` of the curve table ``bq`` against curve ``tsel[i]`` of
    ``bt`` (cf. decide_pairs_buffers), as ONE lockstep walk over all
    pairs: every pair advances its own (i, j) pointers, and a step is a
    few elementwise passes plus a gather of each pair's next vertices
    straight from the flat buffers. Nothing is padded or tiled, so the
    Python step loop runs once per step of the longest walk for the
    whole call, and finished pairs are compacted out of the loop.

    Vertex k of curve c is read at ``off[c] + k``; with ``reverse`` at
    ``off[c+1] - 1 - k``, which walks both curves reversed (the reversed
    pair's bound, another sound upper bound since d_F is invariant under
    joint reversal). Bit-identical to core.greedy_upper_bound on the
    (reversed) curves (tested): ``d = p - q``, ``dx*dx + dy*dy``, the
    diagonal wins ties, then the i-step (the scalar's min()/== order)."""
    fqx, oqx, fqy, oqy = bq
    ftx, otx, fty, oty = bt
    qsel = np.asarray(qsel, dtype=np.int64)
    tsel = np.asarray(tsel, dtype=np.int64)
    # each pair's flat index of vertex 0 per buffer; vertex k of the walk
    # is at at(b, k)
    if reverse:
        at = np.subtract
        bpx, bpy, btx, bty = oqx[qsel + 1] - 1, oqy[qsel + 1] - 1, otx[tsel + 1] - 1, oty[tsel + 1] - 1
    else:
        at = np.add
        bpx, bpy, btx, bty = oqx[qsel], oqy[qsel], otx[tsel], oty[tsel]
    last_i = oqx[qsel + 1] - oqx[qsel] - 1
    last_j = otx[tsel + 1] - otx[tsel] - 1
    # the current vertices p_i, q_j, carried between steps
    px, py, tx, ty = fqx[bpx], fqy[bpy], ftx[btx], fty[bty]
    dx, dy = px - tx, py - ty
    best = dx * dx + dy * dy
    out = best.copy()
    orig = np.arange(qsel.size)
    i = np.zeros(qsel.size, dtype=np.int64)
    j = np.zeros(qsel.size, dtype=np.int64)
    while orig.size:
        can_i, can_j = i < last_i, j < last_j
        live = can_i | can_j
        n_live = int(np.count_nonzero(live))
        # finished pairs stay put (below); compact them out once a
        # quarter of the rows has finished
        if n_live <= 0.75 * orig.size:
            out[orig[~live]] = best[~live]
            if n_live == 0:
                break
            keep = np.flatnonzero(live)
            orig, i, j, last_i, last_j, best = (
                v[keep] for v in (orig, i, j, last_i, last_j, best)
            )
            bpx, bpy, btx, bty, px, py, tx, ty = (
                v[keep] for v in (bpx, bpy, btx, bty, px, py, tx, ty)
            )
            can_i, can_j = can_i[keep], can_j[keep]
        i1, j1 = i + can_i, j + can_j
        pnx, pny = fqx[at(bpx, i1)], fqy[at(bpy, i1)]
        tnx, tny = ftx[at(btx, j1)], fty[at(bty, j1)]
        dx, dy = pnx - tx, pny - ty
        a = dx * dx + dy * dy
        dx, dy = px - tnx, py - tny
        b = dx * dx + dy * dy
        dx, dy = pnx - tnx, pny - tny
        c = dx * dx + dy * dy
        # an impossible step is inf. A finished pair (no step possible)
        # keeps real values: all three are d2(p_i, q_j) <= best, so it
        # takes the diagonal "step" to i1 = i, j1 = j and stays put.
        np.copyto(a, _INF, where=can_j > can_i)
        np.copyto(b, _INF, where=can_i > can_j)
        np.copyto(c, _INF, where=can_i ^ can_j)
        step = np.minimum(a, b)
        np.minimum(step, c, out=step)
        diag = step == c
        move_i = diag | (step == a)
        move_j = diag | ~move_i
        i = np.where(move_i, i1, i)
        j = np.where(move_j, j1, j)
        px, py = np.where(move_i, pnx, px), np.where(move_i, pny, py)
        tx, ty = np.where(move_j, tnx, tx), np.where(move_j, tny, ty)
        best = np.where(step > best, step, best)
    return np.sqrt(out)


def greedy_ub_batch(
    p: np.ndarray, q: np.ndarray, lens_p: np.ndarray, lens_q: np.ndarray
) -> np.ndarray:
    """F4 over B padded pairs: ``greedy_pairs_buffers`` on the padded
    stacks p (B, N, 2), q (B, M, 2) read as flat curve tables, walking
    the first ``lens_p``/``lens_q`` vertices of each row (the walk never
    reads past them, so the bound does not depend on the padded width).
    Bit-identical to core.greedy_upper_bound per pair (tested)."""
    sel = 2 * np.arange(p.shape[0], dtype=np.int64)
    return greedy_pairs_buffers(
        _stack_table(p, lens_p), _stack_table(q, lens_q), sel, sel
    )


def _stack_table(p: np.ndarray, lens: np.ndarray) -> tuple:
    """A padded (B, N, 2) stack as a curve table of 2B curves: curve 2r is
    the first ``lens[r]`` vertices of row r, curve 2r+1 the rest of the
    row."""
    B, N = p.shape[0], p.shape[1]
    start = N * np.arange(B + 1, dtype=np.int64)
    off = np.empty(2 * B + 1, dtype=np.int64)
    off[0::2] = start
    off[1::2] = start[:-1] + np.asarray(lens, dtype=np.int64)
    return np.ascontiguousarray(p[..., 0]).ravel(), off, np.ascontiguousarray(p[..., 1]).ravel(), off


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
    each diagonal is ONE elementwise max/min pass over (diagonal length,
    B) — no sequential dependency inside it, N+M-1 passes per batch. As
    in ``decide_frechet_batch``, the vertex planes and the diagonals are
    stored (vertex, pair) with q reversed, so every diagonal reads
    contiguous row slices. D is the squared vertex distance
    ``dx*dx + dy*dy``; all DP ops are exact (min/max/compare), so the
    accept set is deterministic and independent of batch composition and
    padding width.

    Early exit: every monotone path crosses diagonal k or k+1 and dp
    never decreases along a path, so the min over two consecutive
    diagonals is a non-decreasing lower bound of the result. Pairs whose
    bound exceeds eps2 can never accept; they are compacted out
    mid-sweep (``[:, keep]``) once at most half the batch is alive (they
    are handed to the exact decider by the caller anyway)."""
    p = np.asarray(p, dtype=np.float64)
    q = np.asarray(q, dtype=np.float64)
    B, N = p.shape[0], p.shape[1]
    M = q.shape[1]
    out = np.zeros(B, dtype=bool)
    if B == 0:
        return out
    eps2 = np.broadcast_to(np.asarray(eps2, dtype=np.float64), (B,)).copy()
    orig = np.arange(B)
    # (vertex, pair) planes; q reversed so diagonal k's q vertices
    # j = k - i, for ascending i, are one ascending row slice (M-1-j)
    px, py = np.ascontiguousarray(p[..., 0].T), np.ascontiguousarray(p[..., 1].T)
    rx = np.ascontiguousarray(q[:, ::-1, 0].T)
    ry = np.ascontiguousarray(q[:, ::-1, 1].T)

    def diag_d(k: int, lo: int, hi: int) -> np.ndarray:
        s = M - 1 - k
        dx = px[lo : hi + 1] - rx[s + lo : s + hi + 1]
        dy = py[lo : hi + 1] - ry[s + lo : s + hi + 1]
        dx *= dx
        dy *= dy
        dx += dy
        return dx

    # diagonal k holds dp(i, k-i) for i in [lo_k, hi_k] at row
    # 1 + i - lo_k; rows 0 and -1 are +inf (the off-grid neighbours)
    cur = np.full((3, B), _INF)
    cur[1] = diag_d(0, 0, 0)[0]
    lo_c = 0
    prev, lo_p = None, 0
    mn_c = cur[1]
    for k in range(1, N + M - 1):
        lo, hi = max(0, k - M + 1), min(k, N - 1)
        L = hi - lo + 1
        s1 = lo - lo_c  # row of dp(lo-1, k-lo) in diagonal k-1
        best = np.minimum(cur[s1 : s1 + L], cur[s1 + 1 : s1 + 1 + L])
        if prev is not None:
            s2 = lo - lo_p  # row of dp(lo-1, k-1-lo) in diagonal k-2
            np.minimum(best, prev[s2 : s2 + L], out=best)
        nxt = np.empty((L + 2, cur.shape[1]))
        nxt[0] = _INF
        nxt[-1] = _INF
        np.maximum(diag_d(k, lo, hi), best, out=nxt[1:-1])
        mn_n = nxt[1:-1].min(axis=0)
        prev, lo_p, cur, lo_c = cur, lo_c, nxt, lo
        alive = np.minimum(mn_c, mn_n) <= eps2
        mn_c = mn_n
        n_alive = int(alive.sum())
        if n_alive == 0:
            return out
        if n_alive <= alive.size // 2 and alive.size > 64:
            keep = np.nonzero(alive)[0]
            orig, eps2, mn_c = orig[keep], eps2[keep], mn_c[keep]
            cur, prev = cur[:, keep], prev[:, keep]
            px, py, rx, ry = px[:, keep], py[:, keep], rx[:, keep], ry[:, keep]
    out[orig] = cur[1] <= eps2
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


def tile_map(
    stage,
    bq: tuple,
    bt: tuple,
    qsel: np.ndarray,
    tsel: np.ndarray,
    rows: np.ndarray,
    dtype=bool,
) -> np.ndarray:
    """The one padded gather loop of the ``*_buffers`` kernels (ETD, the
    DP stages, the distance bisection; the greedy walks read the curve
    tables directly): call ``stage(p, t, r)`` on each length tile ``r`` of
    the pairs ``rows``
    (see ``tiles``), where ``p``/``t`` are the last-vertex-padded
    (B, N, 2)/(B, M, 2) stacks of curves ``qsel[r]`` of ``bq`` and
    ``tsel[r]`` of ``bt``; returns its answers, one per pair of ``rows``.
    ``bq``/``bt`` are (flat_x, off_x, flat_y, off_y) curve tables.

    Each side is padded to one vertex past the tile's longest curve, so
    every curve ends in at least one copy of its last vertex. ETD then
    takes its t = 1 sample on a padded segment and the decider reaches
    the last corner through padded cells for every pair, whatever the
    tile's width; more copies repeat the same float operations, so the
    answers do not depend on how the pairs are grouped. The padded
    working set stays O(TILE x longest curve in the tile) regardless of
    how many pairs are decided."""
    fqx, oqx, fqy, oqy = bq
    ftx, otx, fty, oty = bt
    qs, ts = qsel[rows], tsel[rows]
    lens_p, lens_t = _lengths(bq, qs), _lengths(bt, ts)
    out = np.empty(rows.size, dtype=dtype)
    for k in tiles(np.arange(rows.size), lens_p, lens_t):
        qr, tr = qs[k], ts[k]
        wp, wt = int(lens_p[k].max()) + 1, int(lens_t[k].max()) + 1
        p = np.stack(
            [_padded_gather(fqx, oqx, qr, wp), _padded_gather(fqy, oqy, qr, wp)],
            axis=-1,
        )
        t = np.stack(
            [_padded_gather(ftx, otx, tr, wt), _padded_gather(fty, oty, tr, wt)],
            axis=-1,
        )
        out[k] = stage(p, t, rows[k])
    return out


def tiles(rows: np.ndarray, lens_p: np.ndarray, lens_t: np.ndarray) -> list[np.ndarray]:
    """2-D length tiles of the pairs ``rows``, the one row grouping of the
    ``*_buffers`` kernels: split into b = ceil(sqrt(n / TILE)) equal-count
    quantile bands on ``lens_p[rows]``, then each band into b bands on
    ``lens_t``, so every tile holds <= ~TILE pairs of similar (len_p,
    len_t) and pads little on EITHER side (a 1-D sort on len_p + len_t
    pairs long-short with short-long, padding both sides to the long
    length). n <= TILE is one tile."""
    b = int(np.ceil(np.sqrt(rows.size / TILE)))
    if b <= 1:
        return [rows] if rows.size else []
    out = []
    for band in np.array_split(rows[np.argsort(lens_p[rows], kind="stable")], b):
        band = band[np.argsort(lens_t[band], kind="stable")]
        out.extend(g for g in np.array_split(band, b) if g.size)
    return out


def _lengths(b: tuple, sel: np.ndarray) -> np.ndarray:
    """Lengths of the curves ``sel`` of the curve table ``b``."""
    return b[1][sel + 1] - b[1][sel]


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

    The stages (ETD, greedy, reversed greedy, discrete-Fréchet accept,
    F5 reject, exact decider) run in turn, each on the pairs still
    undecided: ETD as one ``etd_pairs_buffers`` call, the two greedy
    walks as one flat walk each over all of them
    (``greedy_pairs_buffers``, forward and ``reverse``), ETD and the DP
    stages on their length tiles (``tile_map``).

    A pair's stage does not depend on how the pairs are grouped: both
    greedy walks read only the pair's own curves and never padding, the
    discrete-Fréchet DP (min/max of squared distances) ignores
    duplicated vertices, and ETD and the free-space decider see every
    curve end in at least one padding copy whatever the tile's width
    (``tile_map``). One call, a permuted call and a split call give the
    same stage codes (tested), so callers may cut their pairs into calls
    of any size."""
    from frechetrange_spark.kernels.core import negfilter

    B = int(qsel.size)
    out = np.zeros(B, dtype=bool)
    stages = np.zeros(B, dtype=np.int8)
    if B == 0:
        return (out, stages) if return_stages else out
    eps_arr = np.broadcast_to(np.asarray(eps, dtype=np.float64), (B,))
    todo = np.arange(B)

    def accept(test, code: int) -> None:
        """Mark the ``todo`` pairs ``test(todo)`` accepts with ``code``."""
        nonlocal todo
        if todo.size:
            acc = test(todo)
            out[todo[acc]] = True
            stages[todo[acc]] = code
            todo = todo[~acc]

    def walk(reverse: bool):
        return lambda rows: (
            greedy_pairs_buffers(bq, bt, qsel[rows], tsel[rows], reverse) <= eps_arr[rows]
        )

    if etd_accept:
        accept(
            lambda rows: etd_pairs_buffers(bq, bt, qsel[rows], tsel[rows]) <= eps_arr[rows],
            STAGE_ETD_ACCEPT,
        )
    if greedy_accept:
        accept(walk(False), STAGE_GREEDY_ACCEPT)
    if rev_greedy_accept:
        accept(walk(True), STAGE_GREEDY_REV_ACCEPT)
    if dfd_accept:
        accept(
            lambda rows: tile_map(
                lambda p, t, r: dfd_leq_batch(p, t, eps_arr[r] * eps_arr[r]),
                bq, bt, qsel, tsel, rows,
            ),
            STAGE_DFD_ACCEPT,
        )
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
        dec = tile_map(
            lambda p, t, r: decide_frechet_batch(p, t, eps_arr[r]),
            bq, bt, qsel, tsel, todo,
        )
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
    compares curve ``qsel[i]`` of bq against curve ``tsel[i]`` of bt.

    Each length tile (``tile_map``) computes its curves' arc-length
    knots itself. Knots kept per distinct curve of a call would be
    computed once per curve rather than once per pair reference, but do
    not pay: over a shared curve table (each curve in ~10 pairs) they
    save ~4% of ETD time, within the replay's run-to-run spread, and over
    inline sources (each curve in one pair) they cost ~30% (BENCH.md)."""
    return tile_map(
        lambda p, t, r: etd_batch(p, t),
        bq, bt, qsel, tsel, np.arange(qsel.size), np.float64,
    )


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
    are independent of batch composition: every bisection step is
    elementwise per pair, and ``tile_map``'s padding copy makes the ETD
    bracket and the decider independent of the tile's width."""
    return tile_map(
        lambda p, t, r: _frechet_distance_padded(p, t, rel_tol, abs_tol),
        bq, bt, qsel, tsel, np.arange(qsel.size), np.float64,
    )


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
    # pairs already decided at their lower bound collapse to lo (probed
    # only where the bracket has not already closed)
    idx = np.nonzero(np.isnan(out))[0]
    at_lo = idx[decide_frechet_batch(p[idx], q[idx], lo[idx])]
    out[at_lo] = lo[at_lo]

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
