"""Python references for the curation workload's answers.

Each ``check_*`` returns an empty string when the rows are right and a
short reason otherwise.
"""

from __future__ import annotations

import math

import numpy as np

SHINGLE = 5  # dedup.minhash_candidates' default k


def shingles(text: str) -> set[str]:
    """Distinct character k-grams, as ``dedup.char_shingles`` builds them."""
    return {text[i:i + SHINGLE] for i in range(max(len(text) - SHINGLE + 1, 1))}


def check_pairs(rows, texts: list[str], lo: int, hi: int, min_jaccard: float) -> str:
    """Every pair lies in the batch, is ordered, clears the threshold and
    carries its exact shingle Jaccard; every pair of identical texts is
    found (identical texts share every band key)."""
    seen = set()
    for r in rows:
        a, b, jac = r["id_a"], r["id_b"], r["jaccard"]
        if not (lo <= a < b < hi) or (a, b) in seen:
            return f"pair ({a}, {b}) is outside [{lo}, {hi}), unordered or repeated"
        seen.add((a, b))
        sa, sb = shingles(texts[a]), shingles(texts[b])
        exact = len(sa & sb) / len(sa | sb)
        if jac < min_jaccard or not math.isclose(jac, exact, abs_tol=1e-9):
            return f"pair ({a}, {b}) has jaccard {jac}, exact {exact}"
    first: dict[str, int] = {}
    for i in range(lo, hi):
        j = first.setdefault(texts[i], i)
        if j != i and (j, i) not in seen:
            return f"identical documents {j} and {i} were not paired"
    return ""


def components_of(pairs) -> dict[int, int]:
    """Vertex -> smallest vertex of its connected component."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        ra, rb = find(r["id_a"]), find(r["id_b"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def check_components(rows, pairs) -> str:
    want = components_of(pairs)
    got = {r["v"]: r["component"] for r in rows}
    if len(got) != len(rows) or got != want:
        return f"{len(rows)} component rows differ from union-find over {len(pairs)} pairs"
    return ""


def check_pick(rows, comps, n_chars: list[int]) -> str:
    """Per component, the longest member is kept, ties to the smallest id."""
    keep: dict[int, int] = {}
    for r in comps:
        v, c = r["v"], r["component"]
        best = keep.get(c)
        if best is None or (n_chars[v], -v) > (n_chars[best], -best):
            keep[c] = v
    want = {(r["v"], r["component"], keep[r["component"]], r["v"] != keep[r["component"]])
            for r in comps}
    got = {(r["doc_id"], r["component"], r["keep_id"], r["is_duplicate"]) for r in rows}
    if len(got) != len(rows) or got != want:
        return f"canonical pick differs on {len(got ^ want)} rows"
    return ""


class IvfOracle:
    """``similarity.ivf_topk`` with fixed centroids, in numpy: each vector
    joins its most similar centroid (ties to the smaller id), a query
    probes its ``nprobe`` most similar centroids, and the answer is the
    ``k`` most similar vectors of the probed cells."""

    def __init__(self, vectors: np.ndarray, centroids, nprobe: int, k: int):
        self.unit = vectors / np.linalg.norm(vectors, axis=1, keepdims=True)
        self.cids = np.array([cid for cid, _ in centroids])
        cents = np.array([vec for _, vec in centroids], dtype="float64")
        self.cent_unit = cents / np.linalg.norm(cents, axis=1, keepdims=True)
        self.cell = self.cids[np.argmax(self.unit @ self.cent_unit.T, axis=1)]
        self.nprobe = nprobe
        self.k = k

    def check(self, rows, query) -> str:
        q = np.asarray(query, dtype="float64")
        q = q / np.linalg.norm(q)
        order = sorted(range(len(self.cids)), key=lambda i: (-(self.cent_unit[i] @ q), self.cids[i]))
        probe = set(self.cids[order[:self.nprobe]].tolist())
        cos = self.unit @ q
        members = [i for i in range(len(cos)) if self.cell[i] in probe]
        best = sorted((cos[i] for i in members), reverse=True)[:self.k]
        if len(rows) != len(best):
            return f"{len(rows)} neighbours, want {len(best)}"
        for r, want in zip(rows, best):
            i = r["vec_id"]
            if (self.cell[i] not in probe or not math.isclose(r["cosine"], cos[i], abs_tol=1e-9)
                    or not math.isclose(r["cosine"], want, abs_tol=1e-9)):
                return f"neighbour {i} with cosine {r['cosine']} is wrong"
        return ""
