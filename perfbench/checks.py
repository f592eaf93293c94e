"""Independent output checks: numpy oracles for the proximity graphs and for
cosine top-k.

Every check returns a list of error strings; an empty list means the output
is correct.  The kNN check is exact, ties included: it breaks them by
(distance, id) as the library documents.  The Gabriel check tolerates
cocircular ties.
"""

from __future__ import annotations

import numpy as np

REL_TOL = 1e-9


def _index(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    order = np.argsort(ids, kind="stable")
    return order, ids[order]


def _pos(order: np.ndarray, sorted_ids: np.ndarray, q) -> np.ndarray:
    """Row positions of ids ``q``; an id outside the input is an error."""
    q = np.asarray(q)
    at = np.minimum(np.searchsorted(sorted_ids, q), len(sorted_ids) - 1)
    if np.any(sorted_ids[at] != q):
        raise ValueError("output names an id that is not in the input")
    return order[at]


def _dists(xy: np.ndarray, i, j) -> np.ndarray:
    """Euclidean distance by the library's expression tree,
    sqrt(dx·dx + dy·dy), so equal inputs give bit-equal weights."""
    dx = xy[i, 0] - xy[j, 0]
    dy = xy[i, 1] - xy[j, 1]
    return np.sqrt(dx * dx + dy * dy)


def knn_lists(ids: np.ndarray, xy: np.ndarray,
              k: int) -> tuple[np.ndarray, np.ndarray]:
    """Row positions of each point's k nearest other points, ordered by
    (distance, id) as ``knn_graph`` breaks ties, and their distances.

    Points sit in grid buckets of about 16.  A point's k nearest among its
    3x3 buckets are exact when the kth is closer than the nearest edge of
    those buckets; points that fail that (or have too few candidates) are
    brute-forced."""
    n = len(xy)
    lo = xy.min(axis=0)
    g = max(1, int(np.sqrt(n / 16.0)))
    c = float(max(np.ptp(xy, axis=0).max(), 1e-9)) / g
    cell = np.minimum(((xy - lo) / c).astype(np.int64), g - 1)
    flat = cell[:, 0] * g + cell[:, 1]
    order = np.argsort(flat, kind="stable")
    counts = np.bincount(flat, minlength=g * g)
    starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
    table = np.full((g * g, int(counts.max())), -1, dtype=np.int64)
    table[flat[order], np.arange(n) - starts[flat[order]]] = order
    offs = np.array([(a, b) for a in (-1, 0, 1) for b in (-1, 0, 1)])
    dk = np.empty((n, k))
    nb = np.empty((n, k), dtype=np.int64)
    for s in range(0, n, 4096):
        rows = np.arange(s, min(s + 4096, n))
        nc = cell[rows][:, None, :] + offs[None, :, :]
        ok = np.all((nc >= 0) & (nc < g), axis=2)
        cand = table[np.where(ok, nc[:, :, 0] * g + nc[:, :, 1], 0)]
        cand[~ok] = -1
        cand = cand.reshape(len(rows), -1)
        d = _dists(xy, rows[:, None], cand)
        d[(cand < 0) | (cand == rows[:, None])] = np.inf
        top = np.lexsort((ids[cand], d), axis=1)[:, :k]
        nb[rows] = np.take_along_axis(cand, top, axis=1)
        dk[rows] = np.take_along_axis(d, top, axis=1)
    # distance to the 3x3 block's edge; no edge past the data's extent
    rel = (xy - lo) / c - cell
    margin = np.full(n, np.inf)
    for dim in (0, 1):
        margin = np.minimum(margin, np.where(cell[:, dim] > 0,
                                             (1 + rel[:, dim]) * c, np.inf))
        margin = np.minimum(margin, np.where(cell[:, dim] < g - 1,
                                             (2 - rel[:, dim]) * c, np.inf))
    for i in np.flatnonzero(~(dk[:, -1] < margin * (1 - 1e-9))):
        d = _dists(xy, i, np.arange(n))
        d[i] = np.inf
        nb[i] = np.lexsort((ids, d))[:k]
        dk[i] = d[nb[i]]
    return nb, dk


def knn_errors(ids: np.ndarray, xy: np.ndarray, edges: np.ndarray,
               k: int) -> list[str]:
    """Check a whole undirected kNN graph, given as (src, dst, weight)
    rows, against the exact answer: each point's k nearest by (distance,
    id), as unordered pairs, once each, weighted by their distance."""
    order, sids = _index(ids)
    n = len(ids)
    nb, _ = knn_lists(ids, xy, k)
    p = np.repeat(np.arange(n), k)
    want = np.unique(np.minimum(p, nb.ravel()) * n
                     + np.maximum(p, nb.ravel()))
    a = _pos(order, sids, edges[:, 0].astype(np.int64))
    b = _pos(order, sids, edges[:, 1].astype(np.int64))
    keys = np.minimum(a, b) * n + np.maximum(a, b)
    got = np.unique(keys)
    errs: list[str] = []
    if len(got) != len(keys):
        errs.append(f"knn: {len(keys) - len(got)} duplicate edges")
    extra = np.setdiff1d(got, want, assume_unique=True)
    missing = np.setdiff1d(want, got, assume_unique=True)
    for name, bad in (("extra", extra), ("missing", missing)):
        if len(bad):
            errs.append(f"knn: {len(bad)} {name} edges, e.g. "
                        f"({ids[bad[0] // n]}, {ids[bad[0] % n]})")
    w = _dists(xy, a, b)
    wrong = np.abs(w - edges[:, 2]) > REL_TOL * np.maximum(w, 1.0)
    if np.any(wrong):
        errs.append(f"knn: {int(wrong.sum())} wrong weights")
    return errs


def gabriel_sample_errors(ids: np.ndarray, xy: np.ndarray,
                          edges: np.ndarray, probes: np.ndarray,
                          r_cand: float) -> list[str]:
    """Check the Gabriel edges incident to each probe id.

    An edge (p, q) is Gabriel iff no other point w has (p−w)·(q−w) < 0.
    Every Gabriel edge no longer than ``r_cand`` must be present and every
    present edge must be Gabriel; pairs whose witness test is within a
    relative 1e-9 of zero (cocircular lattice points) may go either way."""
    order, sids = _index(ids)
    errs: list[str] = []

    def witness_min(i: int, js: np.ndarray, pool: np.ndarray) -> np.ndarray:
        """min over w in pool \\ {q} of (p−w)·(q−w) / |pq|², per q in js."""
        P, Q, W = xy[i], xy[js], xy[pool]
        dots = ((P - W)[None, :, :] * (Q[:, None, :] - W[None, :, :])).sum(-1)
        dots[js[:, None] == pool[None, :]] = np.inf
        return dots.min(axis=1) / ((Q - P) ** 2).sum(-1)

    for p in probes:
        i = int(_pos(order, sids, p))
        d = np.hypot(xy[:, 0] - xy[i, 0], xy[:, 1] - xy[i, 1])
        d[i] = np.inf
        near = np.flatnonzero(d <= r_cand)
        m = witness_min(i, near, near) if len(near) else np.empty(0)
        inc = edges[(edges[:, 0] == p) | (edges[:, 1] == p)]
        nbr = np.where(inc[:, 0] == p, inc[:, 1], inc[:, 0]).astype(np.int64)
        present = set(nbr.tolist())
        must = set(ids[near[m > REL_TOL]].tolist())
        must_not = set(ids[near[m < -REL_TOL]].tolist())
        if must - present:
            errs.append(f"gabriel: {p} misses {sorted(must - present)[:3]}")
        if must_not & present:
            errs.append(f"gabriel: {p} has non-Gabriel "
                        f"{sorted(must_not & present)[:3]}")
        far = np.array(sorted(present - set(ids[near].tolist())),
                       dtype=np.int64)
        if len(far):
            jf = _pos(order, sids, far)
            witnesses = np.flatnonzero(np.isfinite(d))
            if np.any(witness_min(i, jf, witnesses) < -REL_TOL):
                errs.append(f"gabriel: {p} has a long non-Gabriel edge")
    return errs


def cosine_topk_errors(ids: np.ndarray, mat: np.ndarray, rows: np.ndarray,
                       k: int) -> list[str]:
    """Check (qid, nid, rnk) rows against exact cosine top-k (self
    excluded): k ranked rows per probe, each neighbor at least as similar as
    the true kth neighbor."""
    order, sids = _index(ids)
    unit = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True),
                            1e-300)
    sims = unit @ unit.T
    np.fill_diagonal(sims, -np.inf)
    kth = -np.partition(-sims, k - 1, axis=1)[:, k - 1]
    errs: list[str] = []
    if len(rows) != k * len(ids):
        errs.append(f"cosine: {len(rows)} rows, expected {k * len(ids)}")
    qi = _pos(order, sids, rows[:, 0])
    ni = _pos(order, sids, rows[:, 1])
    bad = sims[qi, ni] < kth[qi] - 1e-6
    if np.any(bad):
        errs.append(f"cosine: {int(bad.sum())} rows below the kth similarity")
    if len(rows) == k * len(ids):
        srt = rows[np.lexsort((rows[:, 2], rows[:, 0]))]
        if np.any(srt[:, 2].reshape(-1, k) != np.arange(1, k + 1)):
            errs.append("cosine: ranks are not 1..k per probe")
    return errs


def ngram_pairs(texts: list[str], n: int = 4, threshold: float = 0.5,
                max_df: int = 100) -> set[tuple[int, int]]:
    """Row-position pairs (i < j) whose distinct character n-gram sets,
    after dropping n-grams found in more than ``max_df`` texts, have
    Jaccard similarity ≥ ``threshold``: ``ngram_jaccard_pairs`` by an
    inverted index."""
    grams = [{t[i:i + n] for i in range(max(len(t) - n + 1, 1))}
             for t in texts]
    df: dict[str, int] = {}
    for g in grams:
        for s in g:
            df[s] = df.get(s, 0) + 1
    rare = [{s for s in g if df[s] <= max_df} for g in grams]
    posting: dict[str, list[int]] = {}
    for i, g in enumerate(rare):
        for s in g:
            posting.setdefault(s, []).append(i)
    inter: dict[tuple[int, int], int] = {}
    for docs in posting.values():
        for x in range(len(docs)):
            for y in range(x + 1, len(docs)):
                key = (docs[x], docs[y])
                inter[key] = inter.get(key, 0) + 1
    return {(i, j) for (i, j), c in inter.items()
            if c / (len(rare[i]) + len(rare[j]) - c) >= threshold}


def simhash_pair_count(texts: list[str], bits: int = 16,
                       max_hamming: int = 3) -> int:
    """Pairs whose SimHash values differ in at most ``max_hamming`` bits,
    with ``simhash_neardup_pairs``'s hash: per distinct space-separated
    token, the first 15 hex digits of its md5; bit i is set when more
    tokens have bit i set than not."""
    import hashlib
    if bits > 16:
        raise ValueError("popcount table covers 16 bits")
    memo: dict[str, np.ndarray] = {}
    sig = np.empty(len(texts), dtype=np.int64)
    for d, t in enumerate(texts):
        votes = np.zeros(bits, dtype=np.int64)
        for tok in set(t.split(" ")):
            if tok not in memo:
                h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
                memo[tok] = np.array([1 if (h >> i) & 1 else -1
                                      for i in range(bits)])
            votes += memo[tok]
        sig[d] = int(np.dot(votes > 0, 1 << np.arange(bits)))
    pop = np.array([bin(v).count("1") for v in range(1 << bits)])
    return int(sum(np.count_nonzero(pop[sig[i + 1:] ^ sig[i]] <= max_hamming)
                   for i in range(len(sig) - 1)))
