"""Independent reference answers, computed in numpy from the generated
arrays, that every checked store operation is compared against."""

from __future__ import annotations

import numpy as np

from perfbench.gen import FEATURES, T0


class PitIndex:
    """Point-in-time answers over append-only row blocks.

    The store's contract: for (entity, cutoff) the answer is the row with
    the largest ``ts <= cutoff``; among rows tied on (entity, ts) the one
    that came first in input order wins. Each block is sorted by
    (entity, ts, -position), so a right-bisect on (entity, cutoff) lands on
    exactly that row.
    """

    def __init__(self) -> None:
        self.blocks: list[dict] = []
        self.rows = 0

    def add(self, cols: dict) -> None:
        n = len(cols["ts"])
        pos = np.arange(self.rows, self.rows + n)
        order = np.lexsort((-pos, cols["ts"], cols["entity_id"]))
        key = (cols["entity_id"][order] << 32) | (cols["ts"][order] - T0)
        block = {"key": key, "pos": pos[order], "ts": cols["ts"][order]}
        for f in FEATURES:
            block[f] = np.asarray(cols[f])[order]
        self.blocks.append(block)
        self.rows += n

    def lookup(self, ent: np.ndarray, cutoff: np.ndarray) -> dict:
        """Answer per query: ``found`` mask, matched ``ts`` and features
        (undefined where not found)."""
        ent = np.asarray(ent, np.int64)
        q = (ent << 32) | (np.asarray(cutoff, np.int64) - T0)
        best_ts = np.full(len(ent), -1, np.int64)
        best_pos = np.full(len(ent), -1, np.int64)
        out = {f: np.zeros(len(ent), self.blocks[0][f].dtype) for f in FEATURES}
        for b in self.blocks:
            i = np.searchsorted(b["key"], q, side="right") - 1
            ok = (i >= 0) & ((b["key"][np.maximum(i, 0)] >> 32) == ent)
            ii = np.maximum(i, 0)
            ts, pos = b["ts"][ii], b["pos"][ii]
            better = ok & ((ts > best_ts) | ((ts == best_ts) & (pos < best_pos)))
            best_ts = np.where(better, ts, best_ts)
            best_pos = np.where(better, pos, best_pos)
            for f in FEATURES:
                out[f] = np.where(better, b[f][ii], out[f])
        out["found"] = best_pos >= 0
        out["ts"] = best_ts
        return out

    def latest(self, ent: np.ndarray) -> dict:
        return self.lookup(ent, np.full(len(ent), T0 + (1 << 32) - 1))


def rows_of(ans: dict, ent: np.ndarray) -> set:
    """The (entity, ts, f1, f2, f3) tuples a lookup answer stands for."""
    return {
        (int(e), int(t), float(a), float(b), int(c))
        for e, t, a, b, c, ok in zip(ent, ans["ts"], ans["f1"], ans["f2"], ans["f3"], ans["found"])
        if ok
    }


def store_rows(rows) -> list:
    """Collected store rows as the tuples ``rows_of`` produces."""
    import calendar

    return [
        (int(r["entity_id"]), calendar.timegm(r["timestamp"].utctimetuple()),
         float(r["f1"]), float(r["f2"]), int(r["f3"]))
        for r in rows
    ]


def shingle_set(text: str, k: int = 3) -> set:
    """The store's dedup shingles: k-token windows over the single-space
    tokenization, or the whole text when it has fewer than k tokens."""
    t = text.split(" ")
    if len(t) < k:
        return {" ".join(t)}
    return {" ".join(t[i:i + k]) for i in range(len(t) - k + 1)}


def jaccard_e6(a: str, b: str, k: int = 3) -> int:
    """Shingle Jaccard scaled to the store's integer ``best_j_e6``."""
    x, y = shingle_set(a, k), shingle_set(b, k)
    inter = len(x & y)
    return int(np.floor(inter / (len(x) + len(y) - inter) * 1_000_000 + 0.5))


def exact_topk(vecs: np.ndarray, qs: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Exact cosine top-k: (ids, sims) per query, best first."""
    vn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    qn = qs / np.linalg.norm(qs, axis=1, keepdims=True)
    sims = qn @ vn.T
    top = np.argsort(-sims, axis=1, kind="stable")[:, :k]
    return top, np.take_along_axis(sims, top, axis=1)


def cosine(vecs: np.ndarray, q: np.ndarray, ids: np.ndarray) -> np.ndarray:
    v = vecs[ids]
    return (v @ q) / (np.linalg.norm(v, axis=1) * np.linalg.norm(q))
