"""Output checks. They run outside the timed region and feed ``failed``.

The oracles rebuild every curve in numpy straight from the document text
with the engine's documented walk rule (sources/trajectories.py), so the
assembly path is checked too, and decide with the batched kernels over
every indexed curve:

- range: ``decide_frechet_batch(query, curve, eps)`` for every indexed
  curve whose endpoints are both within eps of the query's (a necessary
  condition for Fréchet distance <= eps, so no match is skipped);
- kNN: every indexed curve is decided at the engine's k-th distance
  widened by the tolerance; ``frechet_distance_batch`` then ranks all
  curves inside that radius. Any curve outside it is farther than every
  curve inside, so this is the exhaustive top-k. Ranks may differ only
  between distances equal within the documented 1e-6 relative tolerance.

``knn_boundary_queries`` screens kNN query samples for a known engine
defect (perfbench/NOTES.md) before they are issued.
"""

from __future__ import annotations

import numpy as np

from frechetrange_spark.kernels.batch import (
    decide_frechet_batch,
    decide_pairs_buffers,
    etd_pairs_buffers,
    frechet_distance_batch,
    pad_curves,
)

# Self-join on the fixed sf0.1 corpus (inputs.CORPORA) at eps=15, mesh=15:
# the full result set (both orientations) and the engine's funnel counts.
PINNED_SELFJOIN = {"matches": 717644, "f3_accepted": 79319, "refine_input": 358951}
KNN_REL_TOL = 1e-6


def curves_from_docs(docs) -> dict[int, np.ndarray]:
    """doc_id -> (n, 2) curve: origin ((id*37 % 1000)/10, (id*73 % 1000)/10)
    followed by one step per non-empty token (L = length, A = ascii of the
    first char): dx = ((31L + A) % 13 - 6)/4, dy = ((17L + 7A) % 11 - 5)/4."""
    out = {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        toks = [t for t in (text or "").split(" ") if t]
        ln = np.array([len(t) for t in toks], dtype=np.int64)
        a0 = np.array([ord(t[0]) for t in toks], dtype=np.int64)
        dx = np.concatenate([[0.0], ((ln * 31 + a0) % 13 - 6) / 4.0])
        dy = np.concatenate([[0.0], ((ln * 17 + a0 * 7) % 11 - 5) / 4.0])
        i = int(doc_id)
        out[i] = np.stack(
            [(i * 37 % 1000) / 10.0 + np.cumsum(dx), (i * 73 % 1000) / 10.0 + np.cumsum(dy)],
            axis=1,
        )
    return out


def flat_buffers(curves: dict, ids) -> tuple:
    """(flat_x, offsets, flat_y, offsets) list buffers of ``curves[i]`` for
    ``i`` in ``ids``, the layout of the engine's ``*_buffers`` kernels."""
    lens = np.array([len(curves[i]) for i in ids], dtype=np.int64)
    off = np.concatenate([[0], np.cumsum(lens)]).astype(np.int64)
    flat = np.concatenate([curves[i] for i in ids])
    return np.ascontiguousarray(flat[:, 0]), off, np.ascontiguousarray(flat[:, 1]), off


def _decide(query: np.ndarray, others: list[np.ndarray], eps: float) -> np.ndarray:
    if not others:
        return np.zeros(0, dtype=bool)
    t, _ = pad_curves(others)
    p = np.repeat(query[None], len(others), axis=0)
    return decide_frechet_batch(p, t, np.full(len(others), float(eps)))


def _endpoint_lb(query: np.ndarray, ids, curves) -> np.ndarray:
    first = np.array([curves[i][0] for i in ids])
    last = np.array([curves[i][-1] for i in ids])
    return np.maximum(
        np.hypot(*(first - query[0]).T), np.hypot(*(last - query[-1]).T)
    )


def range_oracle(query: np.ndarray, index_ids, curves, eps: float) -> set[int]:
    ids = np.asarray(index_ids)
    near = ids[_endpoint_lb(query, ids, curves) <= eps]
    yes = _decide(query, [curves[i] for i in near], eps)
    return set(int(i) for i in near[yes])


def id_digest(ids) -> tuple[int, int, int]:
    """Order-free digest of an id multiset: (count, sum, sum of squares)."""
    a = np.asarray(sorted(ids), dtype=np.int64)
    return int(a.size), int(a.sum()), int((a * a).sum())


def check_range(matches: dict, query_ids, index_ids, curves, eps: float) -> list[str]:
    """``matches``: query_id -> set of matched traj_ids (or an id_digest)."""
    bad = []
    for q in query_ids:
        want = range_oracle(curves[int(q)], index_ids, curves, eps)
        got = matches.get(int(q), set())
        if isinstance(got, tuple):
            want = id_digest(want)
        if got != want:
            bad.append(f"range query {int(q)}: engine {_show(got)} != oracle {_show(want)}")
    return bad


def _show(v):
    return v if isinstance(v, tuple) else sorted(v)


def knn_boundary_queries(query_ids, index_ids, curves, k: int) -> set[int]:
    """Queries whose kNN answer the engine gets wrong through a known
    defect (perfbench/NOTES.md): its ETD prune keeps a pair only if the
    endpoint lower bound ``lb <= radius`` (the k-th smallest equal-time
    distance), unwidened, so a curve whose distance equals the radius but
    whose ``lb`` rounds one ulp above it is dropped. This replays that
    test with the engine's own kernels on the same float64 curves (the
    engine assembles curves bit-identical to ``curves_from_docs``): a
    query is flagged when a curve with ``lb > radius`` still passes the
    engine's decision at its widened radius."""
    bad = set()
    for q in query_ids:
        q = int(q)
        others = np.array([i for i in np.asarray(index_ids).tolist() if i != q])
        buf = flat_buffers(curves, [q, *others])
        tsel = np.arange(1, len(others) + 1)
        etd = etd_pairs_buffers(buf, buf, np.zeros(len(others), np.int64), tsel)
        radius = np.partition(etd, k - 1)[k - 1]
        lb = _endpoint_lb(curves[q], others, curves)
        # lb <= true distance, so only an lb within rounding of the radius
        # can belong to a curve the decision accepts
        near = np.nonzero((lb > radius) & (lb <= radius * (1 + 1e-9)))[0]
        if near.size:
            eps = np.full(near.size, np.nextafter(radius * (1.0 + 1e-12), np.inf))
            if decide_pairs_buffers(buf, buf, np.zeros(near.size, np.int64), tsel[near], eps).any():
                bad.add(q)
    return bad


def check_knn(rows, query_ids, index_ids, curves, k: int) -> list[str]:
    """``rows``: (query_id, traj_id, distance, rank) tuples from knn_frechet."""
    bad = []
    tol = 2 * KNN_REL_TOL  # both sides bisect to the same relative tolerance
    for q in query_ids:
        q = int(q)
        got = sorted((r[3], r[1], r[2]) for r in rows if r[0] == q)
        others = [i for i in np.asarray(index_ids).tolist() if i != q]
        if len(got) != min(k, len(others)):
            bad.append(f"knn query {q}: {len(got)} rows, want {min(k, len(others))}")
            continue
        radius = got[-1][2] * (1 + tol)
        yes = _decide(curves[q], [curves[i] for i in others], radius)
        inside = [i for i, y in zip(others, yes) if y]
        if len(inside) < len(got):
            bad.append(f"knn query {q}: only {len(inside)} curves within the engine's k-th distance")
            continue
        dist = frechet_distance_batch(
            [curves[q]] * len(inside), [curves[i] for i in inside], rel_tol=KNN_REL_TOL
        )
        truth = dict(zip(inside, dist))
        ranked = sorted(inside, key=lambda i: (truth[i], i))[: len(got)]
        kth = truth[ranked[-1]]
        for (_, tid, d), want in zip(got, ranked):
            ok = (
                abs(d - truth[want]) <= tol * truth[want]
                and tid in truth
                and truth[tid] <= kth * (1 + tol)
            )
            if not ok:
                bad.append(f"knn query {q}: engine ({tid}, {d!r}) vs oracle ({want}, {truth[want]!r})")
                break
    return bad
