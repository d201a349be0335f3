"""Independent expected outputs and the checks that compare against them.

Vector results are checked against NumPy: exact squared L2 in float64
over the float32 inputs, ordered by (dist, id).  An IVF search at nprobe
p is lossless inside the cells it probes, so its expected output is the
exact top-k over the vectors in the p cells whose centroids are nearest
to the query.  Text results are checked against the repo's DuckDB oracle
SQL where one exists, and against the planted duplicates otherwise.
"""

from __future__ import annotations

import numpy as np

DIST_TOL = 1e-4


def sq_dists(V: np.ndarray, q: np.ndarray) -> np.ndarray:
    diff = V.astype(np.float64) - q.astype(np.float64)[None, :]
    return np.einsum("ij,ij->i", diff, diff)


def assign_cells(V: np.ndarray, C: np.ndarray, fold: bool = False) -> np.ndarray:
    """Nearest-centroid position per row: the index's cell layout.

    Layout is the index's own decision, not an answer being checked, so
    this mirrors the engine's float64 arithmetic term for term (the GEMM
    expansion of the build, or the one compaction uses when ``fold``);
    a direct-difference form could break exact ties the other way."""
    V = V.astype(np.float64)
    if fold:
        d = (V * V).sum(axis=1)[:, None] - 2.0 * (V @ C.T) + (C * C).sum(axis=1)[None, :]
    else:
        d = V @ C.T
        d *= -2.0
        d += (V * V).sum(axis=1)[:, None]
        d += (C * C).sum(axis=1)[None, :]
        np.maximum(d, 0.0, out=d)
    return d.argmin(axis=1)


def probed_cells(Q: np.ndarray, C: np.ndarray, nprobe: int) -> np.ndarray:
    """(|Q|, nprobe) positions of the nearest centroids per query, in the
    engine's order (same arithmetic as ``assign_cells``, stable sort)."""
    Q = Q.astype(np.float32).astype(np.float64)
    d = Q @ C.T
    d *= -2.0
    d += (Q * Q).sum(axis=1)[:, None]
    d += (C * C).sum(axis=1)[None, :]
    np.maximum(d, 0.0, out=d)
    return np.argsort(d, axis=1, kind="stable")[:, :nprobe]


def topk(ids: np.ndarray, V: np.ndarray, q: np.ndarray, k: int):
    """Exact top-k ``(ids, dists)`` ordered by (dist, id)."""
    d = sq_dists(V, q)
    o = np.lexsort((ids, d))[:k]
    return ids[o], d[o]


def ivf_expected(
    ids: np.ndarray,
    V: np.ndarray,
    cells: np.ndarray,
    Q: np.ndarray,
    C: np.ndarray,
    nprobe: int,
    k: int,
    chunk: int = 64,
) -> list[tuple[np.ndarray, np.ndarray]]:
    """Expected IVF top-k per query: exact inside the probed cells.
    Works cell by cell (each cell against the queries probing it)."""
    probes = probed_cells(Q, C, nprobe)
    V64, Q64 = V.astype(np.float64), Q.astype(np.float64)
    cand_ids: list[list] = [[] for _ in range(len(Q))]
    cand_d: list[list] = [[] for _ in range(len(Q))]
    for c in np.unique(probes):
        rows = np.flatnonzero(cells == c)
        if len(rows) == 0:
            continue
        qs = np.flatnonzero((probes == c).any(axis=1))
        for lo in range(0, len(qs), chunk):
            part = qs[lo:lo + chunk]
            diff = Q64[part][:, None, :] - V64[rows][None, :, :]
            D = np.einsum("qrd,qrd->qr", diff, diff)
            for j, qi in enumerate(part):
                cand_ids[qi].append(ids[rows])
                cand_d[qi].append(D[j])
    out = []
    for qi in range(len(Q)):
        i = np.concatenate(cand_ids[qi])
        d = np.concatenate(cand_d[qi])
        o = np.lexsort((i, d))[:k]
        out.append((i[o], d[o]))
    return out


def exact_expected(ids, V, Q, k, chunk: int = 100):
    """Exact top-k over the whole corpus, in query chunks (bounded RAM):
    a GEMM-form shortlist of 4k rows per query, ranked by direct distance."""
    V64 = V.astype(np.float64)
    vn = (V64 * V64).sum(axis=1)
    out = []
    for lo in range(0, len(Q), chunk):
        Qc = Q[lo:lo + chunk].astype(np.float64)
        D = vn[:, None] - 2.0 * (V64 @ Qc.T)
        short = np.argpartition(D, 4 * k, axis=0)[: 4 * k]
        for j in range(len(Qc)):
            cand = short[:, j]
            out.append(topk(ids[cand], V[cand], Qc[j], k))
    return out


def result_matches(got_ids, got_d, exp) -> bool:
    exp_ids, exp_d = exp
    return (
        len(got_ids) == len(exp_ids)
        and np.array_equal(np.asarray(got_ids), exp_ids)
        and bool(np.all(np.abs(np.asarray(got_d) - exp_d) <= DIST_TOL))
    )


def group_result(qids: np.ndarray, nbr: np.ndarray, rank: np.ndarray,
                 dist: np.ndarray, want_qids) -> dict:
    """``{qid: (ids, dists)}`` ordered by rank, from a result's columns."""
    o = np.lexsort((rank, qids))
    qids, nbr, dist = qids[o], nbr[o], dist[o]
    out = {}
    for q in want_qids:
        lo, hi = np.searchsorted(qids, q, "left"), np.searchsorted(qids, q, "right")
        out[int(q)] = (nbr[lo:hi], dist[lo:hi])
    return out


def recall_at_k(got: dict, truth: list, qids) -> float:
    hit = sum(
        len(set(got[int(q)][0].tolist()) & set(truth[i][0].tolist()))
        for i, q in enumerate(qids)
    )
    return hit / sum(len(t[0]) for t in truth)


class IngestModel:
    """Replays a fixed write sequence on plain dicts: the indexed rows
    with their cells, and the delta (latest version per id, ``None`` for
    a tombstone).  Compaction folds the delta into the cells the saved
    centroids assign, and drops tombstoned and superseded rows."""

    def __init__(self, ids, vecs, C, cells):
        self.C = C
        self.indexed = {
            int(i): (vecs[j], int(cells[j])) for j, i in enumerate(ids)
        }
        self.delta: dict[int, np.ndarray | None] = {}

    def apply(self, event) -> None:
        kind, ids, vecs = event
        if kind == "insert":
            for j, i in enumerate(ids):
                self.delta[int(i)] = vecs[j]
        elif kind == "delete":
            for i in ids:
                self.delta[int(i)] = None
        elif kind == "compact":
            live = [(i, v) for i, v in self.delta.items() if v is not None]
            for i in self.delta:
                self.indexed.pop(i, None)
            if live:
                cells = assign_cells(
                    np.stack([v for _, v in live]), self.C, fold=True
                )
                for (i, v), c in zip(live, cells):
                    self.indexed[i] = (v, int(c))
            self.delta = {}
        else:
            raise ValueError(kind)


def shingles3(text: str) -> set[str]:
    w = text.split()
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}


def jaccard3(a: str, b: str) -> float:
    sa, sb = shingles3(a), shingles3(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


def jaccard_clusters(texts: list[str], n_chars, threshold: float, band: int):
    """Connected components of the near-duplicate graph: word-3-gram
    Jaccard >= ``threshold`` between docs whose lengths differ by at most
    ``band`` characters.  Labels are the smallest doc id in a component."""
    import pandas as pd

    n = len(texts)
    sh = [shingles3(t) for t in texts]
    order = np.argsort(n_chars, kind="stable")
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    hi = 0
    for lo_pos, a in enumerate(order):
        while hi < n and n_chars[order[hi]] - n_chars[a] <= band:
            hi += 1
        for b in order[lo_pos + 1:hi]:
            sa, sb = sh[a], sh[b]
            inter = len(sa & sb)
            union = len(sa) + len(sb) - inter
            if union and inter / union >= threshold:
                ra, rb = find(int(a)), find(int(b))
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    label = np.array([find(i) for i in range(n)], dtype=np.int64)
    size = np.bincount(label, minlength=n)[label]
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "cluster_id": label,
        "cluster_size": size.astype(np.int64),
        "is_canonical": label == np.arange(n),
    })


def check_lsh_pairs(pairs, texts: list[str], planted, threshold: float,
                    min_recall: float) -> tuple[bool, float]:
    """Every returned pair must be a true pair at its reported Jaccard;
    the planted near-duplicates must be found at ``min_recall`` or more
    (MinHash-LSH recall is probabilistic, its precision is exact)."""
    ok = True
    got = set()
    for a, b, j in pairs:
        a, b = int(a), int(b)
        true = jaccard3(texts[a], texts[b])
        if a >= b or true < threshold or abs(true - j) > 1e-4:
            ok = False
        got.add((a, b))
    want = {
        (min(a, b), max(a, b)) for a, b in planted
        if jaccard3(texts[a], texts[b]) >= threshold
    }
    recall = len(want & got) / len(want) if want else 1.0
    return ok and recall >= min_recall, recall


def frames_equal(got, want, float_tol: float = 1e-4) -> bool:
    """Order-insensitive equality of two pandas frames over the same
    columns, floats within ``float_tol``."""
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    # exact-valued columns lead the sort key, so float noise cannot
    # reorder rows between the two frames
    cols = sorted(want.columns, key=lambda c: (want[c].dtype.kind == "f", c))
    g = got[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    w = want[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    for c in cols:
        if g[c].dtype.kind == "f" or w[c].dtype.kind == "f":
            if not np.allclose(
                g[c].astype(float), w[c].astype(float), atol=float_tol, rtol=0
            ):
                return False
        elif not (g[c].astype(str).to_numpy() == w[c].astype(str).to_numpy()).all():
            return False
    return True
