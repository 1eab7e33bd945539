"""Round-13 optimization pins: every structural rewrite in this round
must stay RESULT-identical to the shape it replaced.

* bfs_distances: two-layer first-visit pruning (anti-join against the
  last two layers instead of the whole visited set — exact because the
  adjacency is symmetrized, so a neighbor of a dist-h node has dist in
  {h-1, h, h+1}) and the int-native key branch.
* dedup verify digest prune: the J_ub upper bound never drops a pair
  the exact Jaccard keeps.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def brute_bfs(edges, seeds, max_hops):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for h in range(1, max_hops + 1):
        nxt = set()
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    nxt.add(v)
        for v in nxt:
            dist[v] = h
        if not nxt:
            break
        frontier = nxt
    return dist


class TestBfsTwoLayerPruning:
    # A graph with cross-layer and within-layer edges plus a cycle, so
    # visited nodes from layers h-1 and h-2 genuinely appear as
    # neighbors of the frontier — the cases the two-layer anti-join
    # must still exclude.
    EDGES = [
        (1, 2), (2, 3), (3, 4), (4, 1),       # 4-cycle
        (3, 5), (5, 6), (6, 2),               # chord back into layer 1
        (7, 8),                               # separate component
    ]

    @pytest.mark.parametrize("seeds,max_hops", [
        ([1], 4), ([1], 2), ([1, 7], 3), ([5], 10),
    ])
    def test_matches_brute_bfs_long_keys(self, spark, seeds, max_hops):
        from ml_feature_store_spark.operators.graph import bfs_distances

        e = spark.createDataFrame(self.EDGES, "src long, dst long")
        s = spark.createDataFrame([(n,) for n in seeds], "node long")
        out = bfs_distances(e, s, max_hops=max_hops)
        # int-native branch: integral inputs keep a BIGINT node column
        assert dict(out.dtypes)["node"] == "bigint"
        got = {r["node"]: r["dist"] for r in out.collect()}
        assert got == brute_bfs(self.EDGES, seeds, max_hops)

    def test_string_keys_unchanged(self, spark):
        from ml_feature_store_spark.operators.graph import bfs_distances

        edges = [(f"n{a}", f"n{b}") for a, b in self.EDGES]
        e = spark.createDataFrame(edges, "src string, dst string")
        s = spark.createDataFrame([("n1",)], "node string")
        out = bfs_distances(e, s, max_hops=3)
        assert dict(out.dtypes)["node"] == "string"
        got = {r["node"]: r["dist"] for r in out.collect()}
        assert got == brute_bfs(edges, ["n1"], 3)

    def test_mixed_types_fall_back_to_string(self, spark):
        from ml_feature_store_spark.operators.graph import bfs_distances

        e = spark.createDataFrame([("07", "x")], ["src", "dst"])
        s = spark.createDataFrame([(7,)], ["node"])
        rows = bfs_distances(e, s).collect()
        assert [(r["node"], r["dist"]) for r in rows] == [("7", 0)]


class TestDedupDigestPrune:
    def test_verified_pairs_unchanged(self, spark):
        """dedup_matches through the digest-pruned verify returns exactly
        the pairs whose true shingle Jaccard >= threshold (computed
        independently here), including near-threshold pairs."""
        from ml_feature_store_spark.store import FeatureStore

        base = "alpha beta gamma delta epsilon zeta eta theta"
        texts = {
            10: base,                          # exact dup of new doc 1
            11: base + " iota",                # high-J neighbor
            12: "one two three four five six seven eight",  # unrelated
            13: base.replace("alpha", "omega"),  # mid-J neighbor
        }
        stored = spark.createDataFrame(
            [(k, v) for k, v in texts.items()], "entity_id long, text string"
        ).select(
            "entity_id",
            F.lit("2024-01-01").cast("timestamp").alias("timestamp"),
            "text",
        )
        fs = FeatureStore(spark)
        fs.register("corpus", stored)
        fs.create_dedup_index("dd", "corpus", content_col="text")
        new = spark.createDataFrame(
            [(1, base), (2, "nine ten eleven twelve thirteen")],
            "doc_id long, text string",
        )
        got = {
            (r["doc_id"], r["old_id"]): r["j_e6"]
            for r in fs.dedup_matches(
                "dd", new, id_col="doc_id", content_col="text", threshold=0.5
            ).collect()
        }

        # independent exact Jaccard over every cross pair
        def sh_set(t):
            toks = t.split()
            if len(toks) < 3:
                return {t}
            return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

        # the exact dup and the high-J neighbor always share a band
        # bucket, so both must be found; only the mid-J pair (1, 13)
        # depends on whether LSH made it a candidate
        assert {(1, 10), (1, 11)} <= set(got), got
        for (nid, ntext) in [(1, base), (2, "nine ten eleven twelve thirteen")]:
            for oid, otext in texts.items():
                a, b = sh_set(ntext), sh_set(otext)
                j = len(a & b) / len(a | b)
                if j >= 0.5:
                    if (nid, oid) in got:
                        assert got[(nid, oid)] == int(j * 1_000_000 + 0.5) or \
                            abs(got[(nid, oid)] - j * 1_000_000) < 2
                else:
                    assert (nid, oid) not in got
