"""O(n²) exact pairwise-Jaccard oracle (pandas) — ground truth for recall
tests (SURVEY.md §5 test plan item 2) — and the union-find closure
oracle for the cluster stage.  Never used by the engine itself."""

from __future__ import annotations

import numpy as np
import pandas as pd

from hashing_oracle import TokenHasher, shingle_hashes


def shingle_sets(docs: pd.Series, k: int) -> list[np.ndarray]:
    th = TokenHasher()
    return [shingle_hashes(th.hash_tokens(t.split()), k) for t in docs]


def all_pairs_jaccard(ids: pd.Series, docs: pd.Series, k: int, threshold: float) -> pd.DataFrame:
    """Every (a < b) pair with exact shingle Jaccard >= threshold."""
    sets = shingle_sets(docs, k)
    idx = list(ids)
    rows = []
    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            si, sj = sets[i], sets[j]
            if len(si) == 0 and len(sj) == 0:
                jac = 1.0
            else:
                inter = len(np.intersect1d(si, sj, assume_unique=True))
                union = len(si) + len(sj) - inter
                jac = inter / union if union else 0.0
            if jac >= threshold:
                a, b = idx[i], idx[j]
                if b < a:
                    a, b = b, a
                rows.append((a, b, jac))
    return pd.DataFrame(rows, columns=["conv_a", "conv_b", "jaccard"])


def transitive_closure_min(pairs: pd.DataFrame, all_ids: list) -> dict:
    """Union-find closure with min-id representative — the oracle for the
    cluster stage (reference's 'lesser occurrence picked', README.md:79-80)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs[["conv_a", "conv_b"]].itertuples(index=False):
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {i: find(i) for i in all_ids}
