"""Output checks that run outside the engine: numpy and hashlib oracles.

Every check returns a list of problems (empty when the output is right), so
the caller can count a failed check as a failed operation without stopping.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np

#: distances the engine reports are float64 over float32 inputs; the oracle
#: recomputes them in float64, so they agree to far better than this
DIST_TOL = 1e-5


class VectorOracle:
    """Brute-force top-k over a fixed set of (id, vector) rows."""

    def __init__(self, ids: np.ndarray, x: np.ndarray):
        order = np.argsort(ids, kind="stable")
        self.ids = ids[order].astype(np.int64)
        self.x = x[order].astype(np.float64)
        self._pos = {int(i): p for p, i in enumerate(self.ids)}

    @classmethod
    def from_rows(cls, rows) -> "VectorOracle":
        ids = np.array([int(r[0]) for r in rows], dtype=np.int64)
        x = np.array([np.asarray(r[1], dtype=np.float64) for r in rows]).reshape(len(rows), -1)
        return cls(ids, x)

    def without(self, drop) -> "VectorOracle":
        keep = ~np.isin(self.ids, np.asarray(list(drop), dtype=np.int64))
        return VectorOracle(self.ids[keep], self.x[keep])

    def only(self, ids) -> "VectorOracle":
        keep = np.isin(self.ids, np.asarray(list(ids), dtype=np.int64))
        return VectorOracle(self.ids[keep], self.x[keep])

    def vectors(self, ids) -> np.ndarray:
        return self.x[[self._pos[int(i)] for i in ids]]

    def plus(self, other: "VectorOracle") -> "VectorOracle":
        return VectorOracle(np.concatenate([self.ids, other.ids]), np.concatenate([self.x, other.x]))

    def dist(self, q: np.ndarray, ids) -> np.ndarray:
        d = self.vectors(ids) - q[None, :]
        return np.sqrt(np.einsum("ij,ij->i", d, d))

    def topk(self, q: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
        """(ids, dists) of the k nearest rows to each query, ties by id."""
        d2 = (q * q).sum(1)[:, None] - 2.0 * q @ self.x.T + (self.x * self.x).sum(1)[None, :]
        d = np.sqrt(np.maximum(d2, 0.0))
        out_ids = np.empty((len(q), k), dtype=np.int64)
        out_d = np.empty((len(q), k))
        for i in range(len(q)):
            # widen past k so float error in the expansion cannot drop a
            # true neighbour; the candidates are then ranked exactly
            kk = min(k + 8, len(self.ids) - 1)
            cand = np.argpartition(d[i], kk)[: kk + 1]
            exact = np.sqrt(((self.x[cand] - q[i]) ** 2).sum(1))
            order = np.lexsort((self.ids[cand], exact))[:k]
            out_ids[i] = self.ids[cand[order]]
            out_d[i] = exact[order]
        return out_ids, out_d


def group_results(rows) -> dict[int, list[tuple[int, float]]]:
    """query_id -> [(id, dist), ...] sorted by (dist, id)."""
    out: dict[int, list[tuple[int, float]]] = {}
    for r in rows:
        out.setdefault(int(r["query_id"]), []).append((int(r["id"]), float(r["dist"])))
    for v in out.values():
        v.sort(key=lambda t: (t[1], t[0]))
    return out


def check_knn(res, qids, qx, oracle: VectorOracle, k: int, exact: bool) -> tuple[list[str], float]:
    """Well-formedness of a top-k result against the oracle, plus recall@k.

    Every query must get k distinct ids that exist in the table, each with
    its true distance. ``exact=True`` also requires the k distances to be
    the oracle's k smallest. Returns (problems, mean recall@k)."""
    problems: list[str] = []
    o_ids, o_d = oracle.topk(qx, k)
    hits = 0
    for i, qid in enumerate(qids):
        got = res.get(int(qid), [])
        ids = [g[0] for g in got]
        if len(got) != k or len(set(ids)) != k:
            problems.append(f"query {qid}: {len(got)} results, {len(set(ids))} distinct, want {k}")
            continue
        if any(j not in oracle._pos for j in ids):
            problems.append(f"query {qid}: returned an id that is not in the table")
            continue
        true_d = oracle.dist(qx[i], ids)
        if not np.allclose([g[1] for g in got], true_d, rtol=DIST_TOL, atol=DIST_TOL):
            problems.append(f"query {qid}: reported distances differ from the true ones")
        if exact and not np.allclose(np.sort(true_d), o_d[i], rtol=DIST_TOL, atol=DIST_TOL):
            problems.append(f"query {qid}: exact top-{k} differs from the brute-force oracle")
        hits += len(set(ids) & set(int(j) for j in o_ids[i]))
    return problems, hits / (k * max(1, len(qids)))


# --- text -----------------------------------------------------------------

_WS = re.compile("[ \t\n\x0b\f\r]+")


def normalize(text: str) -> str:
    """lower, trim spaces, collapse whitespace: the engine's exact-dup key."""
    return _WS.sub(" ", text.lower().strip(" "))


def shingle_hashes(text: str, k: int = 3) -> frozenset[int]:
    """Set of 32-bit md5 prefixes of the k-word shingles."""
    toks = _WS.split(text.lower().strip(" "))
    return frozenset(
        int(hashlib.md5(" ".join(toks[i : i + k]).encode()).hexdigest()[:8], 16)
        for i in range(len(toks) - k + 1)
    )


def exact_survivors(docs: dict[int, str]) -> set[int]:
    """Min doc id of each normalized text."""
    best: dict[str, int] = {}
    for did, t in docs.items():
        key = normalize(t)
        if key not in best or did < best[key]:
            best[key] = did
    return set(best.values())


def neardup_pairs(docs: dict[int, str], threshold: float) -> dict[tuple[int, int], float]:
    """Every pair with 3-shingle Jaccard >= threshold (all-pairs over an
    inverted index of shingles)."""
    sets = {d: shingle_hashes(t) for d, t in docs.items()}
    postings: dict[int, list[int]] = {}
    for d, s in sets.items():
        for h in s:
            postings.setdefault(h, []).append(d)
    common: dict[tuple[int, int], int] = {}
    for ids in postings.values():
        ids.sort()
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                common[(a, b)] = common.get((a, b), 0) + 1
    out = {}
    for (a, b), c in common.items():
        j = c / (len(sets[a]) + len(sets[b]) - c)
        if j >= threshold:
            out[(a, b)] = j
    return out


def survivors_from_pairs(ids, pairs) -> set[int]:
    """Docs left after keeping the min id of each connected component."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i for i in ids if find(i) == i}
