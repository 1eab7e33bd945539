"""Seeded input generators for the benchmark workloads.

Everything here is plain numpy: the same ``(workload, seed)`` always yields
bit-identical arrays, and the store only ever sees them as Parquet files
written before any timing starts. ``top_share`` and the workloads'
``inputs`` record the shape facts a later performance claim may need to
cite (skew, duplicate share, cluster count).
"""

from __future__ import annotations

import math
from pathlib import Path

import numpy as np

# Naive-UTC epoch seconds of 2023-01-01; history spans one year after it.
T0 = 1_672_531_200
SPAN = 365 * 24 * 3600
FEATURES = ("f1", "f2", "f3")
# Logical width of one feature-table row: entity_id, timestamp, f1, f2, f3,
# each an 8-byte fixed-width value.
ROW_BYTES = 40

SIZES = {
    "offline_batch": {
        "hist_rows": 120_000,
        "entities": 12_000,
        "dup_share": 0.02,
        "spine_rows": 30_000,
        "spine_tie_share": 0.05,
        "spines": 4,
        "sample_spine_rows": 400,
        "corpus_docs": 1_000,
        "batch_docs": 1_000,
        "batches": 4,
        "exact_share": 0.05,
        "near_share": 0.15,
        "vocab": 5_000,
        "doc_tokens": (40, 80),
        "edits": (1, 3),
        "vectors": 3_000,
        "dim": 32,
        "clusters": 32,
        "queries": 100,
        "query_sets": 4,
        "zipf_s": 1.1,
    },
    "online_mixed": {
        "hist_rows": 200_000,
        "entities": 20_000,
        "dup_share": 0.02,
        "push_rows": 2_000,
        "pushes": 40,
        "push_gap": 6 * 3600,
        "reads": 2_000,
        "ids_per_read": 8,
        "zipf_s": 1.1,
    },
}

WORKLOADS = tuple(SIZES)


def rng_for(workload: str, seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (workload, seed, stream): adding a
    stream never shifts the numbers another stream draws."""
    names = (workload, stream)
    key = [int(seed)] + [sum(ord(c) << (8 * (i % 4)) for i, c in enumerate(s)) for s in names]
    return np.random.default_rng(key)


def zipf_ids(rng: np.random.Generator, n_entities: int, size: int, s: float) -> np.ndarray:
    """Entity ids with Zipf(s) popularity; the hot ids are scattered over
    the id space by a seeded permutation so they are not all small."""
    ranks = np.arange(1, n_entities + 1, dtype=np.float64)
    p = ranks**-s
    p /= p.sum()
    perm = rng.permutation(n_entities).astype(np.int64)
    return perm[rng.choice(n_entities, size=size, p=p)]


def history(rng: np.random.Generator, n_rows: int, n_entities: int, dup_share: float, s: float) -> dict:
    """Feature history in file order. A ``dup_share`` of rows repeat the
    (entity_id, timestamp) of the row just before them with other feature
    values, so the store's tie-break (first input row wins) is exercised."""
    n_dup = int(n_rows * dup_share)
    n_base = n_rows - n_dup
    ent = zipf_ids(rng, n_entities, n_base, s)
    ts = T0 + rng.integers(0, SPAN, n_base)
    src = np.sort(rng.choice(n_base, size=n_dup, replace=False))
    order = np.argsort(np.concatenate([np.arange(n_base) * 2, src * 2 + 1]), kind="stable")
    out = {
        "entity_id": np.concatenate([ent, ent[src]])[order],
        "ts": np.concatenate([ts, ts[src]])[order],
        "f1": rng.random(n_rows),
        "f2": rng.normal(size=n_rows),
        "f3": rng.integers(0, 1 << 31, n_rows),
    }
    out["is_dup"] = np.concatenate([np.zeros(n_base, bool), np.ones(n_dup, bool)])[order]
    return out


def spine(rng: np.random.Generator, hist: dict, n_rows: int, tie_share: float, n_entities: int, s: float) -> dict:
    """Training spine: Zipf entities at uniform times, plus a ``tie_share``
    of rows exactly at a history row's (entity, timestamp) — half of them
    at duplicated keys — to pin the inclusive cutoff and the tie-break."""
    n_tie = int(n_rows * tie_share)
    n_free = n_rows - n_tie
    dup_rows = np.flatnonzero(hist["is_dup"])
    pick = np.concatenate([
        rng.choice(dup_rows, size=n_tie // 2),
        rng.integers(0, len(hist["ts"]), n_tie - n_tie // 2),
    ])
    ent = np.concatenate([zipf_ids(rng, n_entities, n_free, s), hist["entity_id"][pick]])
    ts = np.concatenate([T0 + rng.integers(0, SPAN, n_free), hist["ts"][pick]])
    order = rng.permutation(n_rows)
    return {"entity_id": ent[order], "ts": ts[order]}


def pushes(rng: np.random.Generator, n_batches: int, rows: int, n_entities: int, gap: int, s: float) -> list[dict]:
    """Push batches continuing the timeline after the history: batch i's
    rows fall in (T0+SPAN+i*gap, T0+SPAN+(i+1)*gap]; (entity, ts) is
    unique within a batch."""
    out = []
    for i in range(n_batches):
        ent = zipf_ids(rng, n_entities, rows, s)
        ts = T0 + SPAN + i * gap + 1 + rng.integers(0, gap, rows)
        _, keep = np.unique(ent * (1 << 32) + (ts - T0), return_index=True)
        keep = np.sort(keep)
        out.append({
            "entity_id": ent[keep],
            "ts": ts[keep],
            "f1": rng.random(len(keep)),
            "f2": rng.normal(size=len(keep)),
            "f3": rng.integers(0, 1 << 31, len(keep)),
        })
    return out


def read_requests(rng: np.random.Generator, n: int, ids_per_read: int, n_entities: int, s: float) -> dict:
    """Point-read requests: ``ids`` (n x ids_per_read Zipf ids) and a
    uniform fraction per request that the loop maps onto the time range
    stored at that moment to pick the ``get`` cutoff."""
    return {
        "ids": zipf_ids(rng, n_entities, n * ids_per_read, s).reshape(n, ids_per_read),
        "cut_frac": rng.random(n),
    }


def corpus(rng: np.random.Generator, n_docs: int, vocab: int, tokens: tuple[int, int]) -> list[str]:
    lens = rng.integers(tokens[0], tokens[1] + 1, n_docs)
    words = rng.integers(0, vocab, int(lens.sum()))
    cuts = np.cumsum(lens)[:-1]
    return [" ".join(f"w{w}" for w in doc) for doc in np.split(words, cuts)]


def dedup_batch(rng: np.random.Generator, docs: list[str], size: int, exact_share: float,
                near_share: float, vocab: int, tokens: tuple[int, int], edits: tuple[int, int]) -> dict:
    """A new-document batch with planted duplicates of corpus docs:
    ``kind`` 1 = exact copy, 2 = near copy (a few token substitutions),
    0 = fresh. ``src`` is the corpus doc a planted copy came from (-1)."""
    n_exact = int(size * exact_share)
    n_near = int(size * near_share)
    kind = np.zeros(size, np.int64)
    kind[:n_exact] = 1
    kind[n_exact:n_exact + n_near] = 2
    kind = kind[rng.permutation(size)]
    src = np.where(kind > 0, rng.integers(0, len(docs), size), -1)
    fresh = iter(corpus(rng, int((kind == 0).sum()), vocab, tokens))
    texts = []
    for k, s in zip(kind, src):
        if k == 0:
            texts.append(next(fresh))
            continue
        toks = docs[s].split(" ")
        if k == 2:
            for pos in rng.choice(len(toks), size=int(rng.integers(edits[0], edits[1] + 1)), replace=False):
                new = f"w{int(rng.integers(0, vocab))}"
                while new == toks[pos]:
                    new = f"w{int(rng.integers(0, vocab))}"
                toks[pos] = new
        texts.append(" ".join(toks))
    return {"text": texts, "kind": kind, "src": src}


def vectors(rng: np.random.Generator, n: int, dim: int, clusters: int) -> dict:
    centers = rng.normal(size=(clusters, dim))
    label = rng.integers(0, clusters, n)
    return {"vec": centers[label] + 0.35 * rng.normal(size=(n, dim)), "centers": centers}


def queries(rng: np.random.Generator, centers: np.ndarray, n: int) -> np.ndarray:
    label = rng.integers(0, len(centers), n)
    return centers[label] + 0.35 * rng.normal(size=(n, centers.shape[1]))


def top_share(ids: np.ndarray, n_entities: int, share: float = 0.01) -> float:
    """Fraction of ``ids`` that fall on the most frequent ``share`` of all
    ``n_entities`` entities."""
    counts = np.sort(np.bincount(ids.ravel(), minlength=n_entities))[::-1]
    top = max(1, math.ceil(n_entities * share))
    return float(counts[:top].sum() / max(1, counts.sum()))


def write_parquet(path: Path, cols: dict) -> None:
    """Write columns to one Parquet file; ``ts`` (epoch seconds) becomes a
    naive microsecond ``timestamp`` column, vectors become list<double>."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    arrays = {}
    for name, v in cols.items():
        if name == "ts":
            arrays["timestamp"] = pa.array(np.asarray(v, np.int64) * 1_000_000, pa.timestamp("us"))
        elif isinstance(v, np.ndarray) and v.ndim == 2:
            arrays[name] = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), v.shape[1]).cast(
                pa.list_(pa.float64())
            )
        else:
            arrays[name] = pa.array(v)
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table(arrays), str(path), row_group_size=65_536)
