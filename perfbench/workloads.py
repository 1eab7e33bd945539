"""The two benchmark workloads: seeded inputs, set-up, one closed-loop
cycle of store calls, and the checks of every call's output.

A workload object lives for one run. ``run.py`` drives it: ``setup``
once, ``warmup_cycles`` untimed ``cycle(0)``, then ``cycle(k)`` until the
run's time is up, then ``final_check``, ``detail``, ``ratios`` and
``recall``. ``k`` picks the cycle's inputs; a traced cycle and the
untraced cycle after it get the same ``k``, and ``pre_cycle`` and
``post_cycle`` run around a traced cycle, outside its timed window.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import Counter, defaultdict
from datetime import datetime, timezone
from pathlib import Path

import numpy as np

from perfbench import gen, reference
from perfbench.gen import FEATURES, ROW_BYTES, SIZES, T0

FEATURE_TABLE = "features"


def _dt(epoch_s: int) -> datetime:
    return datetime.fromtimestamp(int(epoch_s), timezone.utc).replace(tzinfo=None)


def disk_bytes(root: Path) -> tuple[int, dict]:
    """Total bytes of regular files under ``root`` and a path -> size map."""
    files = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            files[p] = os.path.getsize(p)
    return sum(files.values()), files


class Workload:
    """Shared bookkeeping: per-call latencies and CPU times, attempts and
    failures."""

    name = ""
    # the JVM keeps compiling for a long time; the first measured cycles
    # still cost more than later ones
    warmup_cycles = 1
    min_cycles = 2

    def __init__(self, seed: int, data: Path, tracer) -> None:
        self.seed, self.data, self.tracer = seed, data, tracer
        self.sz = SIZES[self.name]
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.cpu_s: dict[str, list[float]] = defaultdict(list)
        # CPU seconds used so far by the driver and the JVM (procfs.CpuClock)
        self.cpu = None
        self.attempted = 0
        self.failures: list[str] = []
        self.space_amp = None
        self.fs = None
        self.spark = None
        self.inputs: dict = {}

    def rng(self, stream: str) -> np.random.Generator:
        return gen.rng_for(self.name, self.seed, stream)

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def call(self, kind: str, plan, action, check) -> None:
        """One timed store call: ``plan()`` builds the result, ``action``
        forces it; both count toward the call's latency and CPU time, which
        are kept for untraced calls only. ``check`` gets the action's output
        and returns an error string or None."""
        self.attempted += 1
        t = self.tracer
        t0, c0 = time.perf_counter(), self.cpu()
        try:
            if action is None:
                out = plan()
            else:
                with t.span(f"store.{kind}.plan"):
                    df = plan()
                with t.span(f"store.{kind}.exec") as rec:
                    out = action(df)
                if rec is not None and isinstance(out, list):
                    rec["rows"] = len(out)
        except Exception as e:  # a failed call is counted, the run goes on
            self.fail(f"{kind}: {type(e).__name__}: {e}")
            return
        if not t.enabled:
            self.lat[kind].append(time.perf_counter() - t0)
            self.cpu_s[kind].append(self.cpu() - c0)
        err = check(out)
        if err:
            self.fail(f"{kind}: {err}")

    def compare_rows(self, got: list, want: set) -> str | None:
        if len(got) != len(set(got)) or set(got) != want:
            return f"rows differ from the reference ({len(got)} returned, {len(want)} expected)"
        return None

    def new_store(self, root: Path):
        from ml_feature_store_spark import FeatureStore

        return FeatureStore(self.spark, storage_path=str(root))

    def logical_bytes(self) -> int:
        raise NotImplementedError

    def pre_cycle(self) -> None:
        """Bookkeeping before a traced cycle, outside its timed window."""

    def post_cycle(self) -> None:
        """Bookkeeping after a traced cycle, outside its timed window."""

    def final_check(self) -> None:
        """Checks made once after the measured cycles."""

    def detail(self) -> dict:
        """Workload-specific metrics for the human-readable report."""
        return {}


class OfflineBatch(Workload):
    """Batch jobs over a stored history and an LLM corpus: an as-of
    training set per cycle, a dedup of a new document batch against a
    persisted signature index, and a batch top-10 search through a
    persisted IVF index."""

    name = "offline_batch"

    def __init__(self, seed, data, tracer):
        super().__init__(seed, data, tracer)
        sz = self.sz
        hist = gen.history(self.rng("history"), sz["hist_rows"], sz["entities"], sz["dup_share"], sz["zipf_s"])
        gen.write_parquet(data / "history.parquet", {k: hist[k] for k in ("entity_id", "ts", *FEATURES)})
        self.pit = reference.PitIndex()
        self.pit.add(hist)
        self.hist_rows = len(hist["ts"])
        srng = self.rng("spines")
        self.spines, spine_ids = [], []
        for i in range(sz["spines"]):
            sp = gen.spine(srng, hist, sz["spine_rows"], sz["spine_tie_share"], sz["entities"], sz["zipf_s"])
            gen.write_parquet(data / f"spine{i}.parquet", sp)
            ans = self.pit.lookup(sp["entity_id"], sp["ts"])
            self.spines.append({
                "rows": int(ans["found"].sum()),
                "f3": int(ans["f3"][ans["found"]].sum()),
                "ts": int(ans["ts"][ans["found"]].sum()),
                "n": len(sp["ts"]),
            })
            spine_ids.append(sp["entity_id"])
        sample = gen.spine(self.rng("sample"), hist, sz["sample_spine_rows"], 0.5, sz["entities"], sz["zipf_s"])
        gen.write_parquet(data / "sample_spine.parquet", sample)
        self.sample = sample

        crng = self.rng("corpus")
        self.docs = gen.corpus(crng, sz["corpus_docs"], sz["vocab"], sz["doc_tokens"])
        n = len(self.docs)
        gen.write_parquet(data / "docs.parquet", {
            "entity_id": np.arange(n, dtype=np.int64), "ts": np.full(n, T0), "text": self.docs,
        })
        self.batches = []
        for i in range(sz["batches"]):
            b = gen.dedup_batch(crng, self.docs, sz["batch_docs"], sz["exact_share"], sz["near_share"],
                                sz["vocab"], sz["doc_tokens"], sz["edits"])
            b["base"] = 10_000_000 * (i + 1)
            gen.write_parquet(data / f"batch{i}.parquet", {
                "doc_id": b["base"] + np.arange(len(b["text"]), dtype=np.int64), "text": b["text"],
            })
            self.batches.append(b)

        vrng = self.rng("vectors")
        v = gen.vectors(vrng, sz["vectors"], sz["dim"], sz["clusters"])
        self.vecs = v["vec"]
        gen.write_parquet(data / "vecs.parquet", {
            "entity_id": np.arange(len(self.vecs), dtype=np.int64), "ts": np.full(len(self.vecs), T0),
            "embedding": self.vecs,
        })
        self.qsets = []
        for i in range(sz["query_sets"]):
            q = gen.queries(vrng, v["centers"], sz["queries"])
            gen.write_parquet(data / f"queries{i}.parquet", {
                "q_id": np.arange(len(q), dtype=np.int64), "q_vec": q,
            })
            self.qsets.append({"q": q, "top": reference.exact_topk(self.vecs, q, 10)[0]})
        self.knn_hits = self.knn_want = 0
        self.dups_found = self.dups_planted = 0
        self.cand = self.verified = 0
        self.dedup_docs = 0

        planted = np.concatenate([b["kind"] for b in self.batches]) > 0
        self.inputs = {
            "history_rows": self.hist_rows,
            "entities": sz["entities"],
            "rows_per_entity": self.hist_rows / len(np.unique(hist["entity_id"])),
            "top1pct_entity_share_of_rows": gen.top_share(hist["entity_id"], sz["entities"]),
            "top1pct_entity_share_of_requests": gen.top_share(np.concatenate(spine_ids), sz["entities"]),
            "duplicate_key_share": float(hist["is_dup"].mean()),
            "spine_rows": sz["spine_rows"],
            "corpus_docs": n,
            "batch_docs": sz["batch_docs"],
            "planted_dup_share": float(planted.mean()),
            "vectors": len(self.vecs),
            "dim": sz["dim"],
            "vector_clusters": sz["clusters"],
            "queries_per_call": sz["queries"],
        }

    def logical_bytes(self) -> int:
        docs = sum(len(d.encode()) for d in self.docs) + 16 * len(self.docs)
        return self.hist_rows * ROW_BYTES + docs + self.vecs.size * 8 + 16 * len(self.vecs)

    def setup(self, root: Path) -> None:
        sp = self.spark
        fs = self.new_store(root)
        fs.register(FEATURE_TABLE, sp.read.parquet(str(self.data / "history.parquet")))
        fs.register("docs", sp.read.parquet(str(self.data / "docs.parquet")))
        fs.create_dedup_index("docs_dedup", "docs", content_col="text", num_hashes=32, bands=8)
        fs.register("vecs", sp.read.parquet(str(self.data / "vecs.parquet")))
        fs.create_vector_index("vecs_ivf", "vecs", vec_col="embedding", method="ivf",
                               params={"n_cells": 16, "nprobe": 2})
        self.fs = fs

    def cycle(self, k: int) -> None:
        """One as-of training set, one dedup batch, one top-10 batch, all on
        input set ``k``. Recall is scored on the warm-up cycle only (``k``
        0), so it rests on the same fixed inputs however many cycles run."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        sp, fs, score = self.spark, self.fs, k == 0

        want = self.spines[k % len(self.spines)]
        obs = Observation()

        spine = sp.read.parquet(str(self.data / f"spine{k % len(self.spines)}.parquet"))

        def force(df):
            df.observe(obs, F.count(F.lit(1)).alias("rows"), F.sum("f3").alias("f3"),
                       F.sum(F.unix_seconds("timestamp")).alias("ts")).write.format("noop").mode(
                "overwrite").save()
            return obs.get

        def check_train(got):
            got = {key: int(got[key] or 0) for key in ("rows", "f3", "ts")}
            exp = {key: want[key] for key in ("rows", "f3", "ts")}
            return None if got == exp else f"training-set aggregates {got} != reference {exp}"

        self.call("get_training_set", lambda: fs.get_training_set(FEATURE_TABLE, spine), force, check_train)

        j = k % len(self.batches)
        batch = sp.read.parquet(str(self.data / f"batch{j}.parquet"))
        self.call("dedup_batch", lambda: fs.dedup_batch("docs_dedup", batch),
                  lambda df: df.collect(), lambda rows: self.check_dedup(self.batches[j], rows, score))

        j = k % len(self.qsets)
        queries = sp.read.parquet(str(self.data / f"queries{j}.parquet"))
        self.call("knn_batch", lambda: fs.knn_batch("vecs_ivf", queries, k=10),
                  lambda df: df.collect(), lambda rows: self.check_knn(self.qsets[j], rows, score))

    def check_dedup(self, b: dict, rows, score: bool) -> str | None:
        """Every doc gets one row; exact copies and only they are exact
        dups; fresh docs are never flagged; a flagged near copy reports
        the Jaccard with the doc it was copied from."""
        n = len(b["text"])
        idx = {int(r["doc_id"]) - b["base"]: r for r in rows}
        if len(rows) != n or set(idx) != set(range(n)):
            return f"{len(rows)} manifest rows for {n} docs"
        bad = 0
        for j, r in idx.items():
            kind, src = b["kind"][j], b["src"][j]
            flagged = r["n_fuzzy"] > 0
            if r["is_exact_dup"] != (kind == 1) or (kind == 0 and flagged):
                bad += 1
            elif flagged and r["best_j_e6"] != reference.jaccard_e6(b["text"][j], self.docs[src]):
                bad += 1
            if kind and score:
                self.dups_planted += 1
                self.dups_found += int(bool(r["is_exact_dup"]) or flagged)
            self.cand += r["n_candidates"]
            self.verified += r["n_fuzzy"]
        self.dedup_docs += n
        return f"{bad} manifest rows disagree with the planted duplicates" if bad else None

    def check_knn(self, qs: dict, rows, score: bool) -> str | None:
        """Each query gets at most 10 distinct ids whose reported
        similarity is their true cosine; recall counts exact top-10 hits."""
        by: dict[int, list] = defaultdict(list)
        for r in rows:
            by[int(r["q_id"])].append((int(r["vec_id"]), float(r["sim"])))
        bad = 0
        for q, hits in by.items():
            ids = np.array([h[0] for h in hits])
            if len(hits) > 10 or len(set(ids)) != len(ids) or not 0 <= q < len(qs["q"]):
                bad += 1
                continue
            true = reference.cosine(self.vecs, qs["q"][q], ids)
            if not np.allclose(true, [h[1] for h in hits], rtol=1e-9, atol=1e-12):
                bad += 1
            if score:
                self.knn_hits += len(set(ids.tolist()) & set(qs["top"][q].tolist()))
        if score:
            self.knn_want += 10 * len(qs["q"])
        return f"{bad} queries with wrong neighbours" if bad else None

    def final_check(self) -> None:
        """The training rows of a seeded sample spine (half of it at
        existing, partly duplicated, keys) equal the point-in-time answer."""
        self.attempted += 1
        spine = self.spark.read.parquet(str(self.data / "sample_spine.parquet"))
        got = reference.store_rows(self.fs.get_training_set(FEATURE_TABLE, spine).collect())
        ans = self.pit.lookup(self.sample["entity_id"], self.sample["ts"])
        want = sorted(
            (int(e), int(t), float(a), float(b), int(c))
            for e, t, a, b, c, ok in zip(self.sample["entity_id"], ans["ts"], ans["f1"], ans["f2"], ans["f3"],
                                         ans["found"]) if ok
        )
        if sorted(got) != want:
            self.fail(f"sample training rows differ ({len(got)} returned, {len(want)} expected)")

    def detail(self) -> dict:
        tr, dd, kn = self.lat["get_training_set"], self.lat["dedup_batch"], self.lat["knn_batch"]
        return {
            "train_rows_per_s": (self.sz["spine_rows"] * len(tr) / sum(tr), "1/s") if tr else None,
            "dedup_docs_per_s": (self.sz["batch_docs"] * len(dd) / sum(dd), "1/s") if dd else None,
            "knn_queries_per_s": (self.sz["queries"] * len(kn) / sum(kn), "1/s") if kn else None,
            "knn_recall_at_10": (self.knn_hits / self.knn_want, "ratio") if self.knn_want else None,
            "dedup_recall": (self.dups_found / self.dups_planted, "ratio") if self.dups_planted else None,
        }

    def ratios(self) -> dict:
        return {
            "dedup.candidates_per_doc": self.cand / self.dedup_docs if self.dedup_docs else 0.0,
            "dedup.verified_per_candidate": self.verified / self.cand if self.cand else 0.0,
        }

    def recall(self) -> float:
        """The lower of top-10 recall and planted-duplicate recall."""
        return min(self.knn_hits / self.knn_want, self.dups_found / self.dups_planted)


class OnlineMixed(Workload):
    """Serving with concurrent ingest, one client: per cycle three
    ``get_online`` reads and three point-in-time ``get`` lookups of 8
    Zipf-drawn ids each, then one push of new rows to offline+online."""

    name = "online_mixed"
    # its cycles are short, so two warm-up cycles cost little
    warmup_cycles = 2
    reads_per_cycle = 3
    # space_amp is read after this many pushes (the warm-up cycles' and the
    # first measured ones), so it does not depend on how many cycles fit in
    # the run
    space_after = warmup_cycles + Workload.min_cycles

    def __init__(self, seed, data, tracer):
        super().__init__(seed, data, tracer)
        sz = self.sz
        hist = gen.history(self.rng("history"), sz["hist_rows"], sz["entities"], sz["dup_share"], sz["zipf_s"])
        gen.write_parquet(data / "history.parquet", {k: hist[k] for k in ("entity_id", "ts", *FEATURES)})
        self.hist_rows = len(hist["ts"])
        self.pushes = gen.pushes(self.rng("pushes"), sz["pushes"], sz["push_rows"], sz["entities"],
                                 sz["push_gap"], sz["zipf_s"])
        for i, p in enumerate(self.pushes):
            gen.write_parquet(data / f"push{i}.parquet", p)
        self.req = gen.read_requests(self.rng("reads"), sz["reads"], sz["ids_per_read"], sz["entities"],
                                     sz["zipf_s"])
        self.hist = hist
        self.found: Counter = Counter()
        self.expected: Counter = Counter()
        self.pushed = 0
        self.live_rows = self.hist_rows
        self.push_bytes = []
        self.inputs = {
            "history_rows": self.hist_rows,
            "entities": sz["entities"],
            "rows_per_entity": self.hist_rows / len(np.unique(hist["entity_id"])),
            "top1pct_entity_share_of_rows": gen.top_share(hist["entity_id"], sz["entities"]),
            "top1pct_entity_share_of_requests": gen.top_share(self.req["ids"], sz["entities"]),
            "duplicate_key_share": float(hist["is_dup"].mean()),
            "push_rows": sz["push_rows"],
            "ids_per_read": sz["ids_per_read"],
        }

    def logical_bytes(self) -> int:
        return self.live_rows * ROW_BYTES

    def setup(self, root: Path) -> None:
        fs = self.new_store(root)
        fs.register(FEATURE_TABLE, self.spark.read.parquet(str(self.data / "history.parquet")))
        fs.materialize_online(FEATURE_TABLE)
        self.fs = fs
        self.root = root
        # the reference restarts with the store
        self.pit = reference.PitIndex()
        self.pit.add(self.hist)
        self.pushed = 0
        self.live_rows = self.hist_rows

    def _ids(self, r: int) -> tuple[np.ndarray, float]:
        r %= len(self.req["ids"])
        return np.unique(self.req["ids"][r]), self.req["cut_frac"][r]

    def read_check(self, kind: str, want: set):
        """Check a read's rows against ``want`` and score the share of
        reference rows returned."""

        def check(rows):
            got = reference.store_rows(rows)
            self.found[kind] += len(want & set(got))
            self.expected[kind] += len(want)
            return self.compare_rows(got, want)

        return check

    def cycle(self, k: int) -> None:
        """Reads of request group ``k``, then the next push."""
        fs = self.fs
        top = T0 + gen.SPAN + self.pushed * self.sz["push_gap"]
        for n in range(self.reads_per_cycle):
            r = 2 * (k * self.reads_per_cycle + n)
            ids, _ = self._ids(r)
            want = reference.rows_of(self.pit.latest(ids), ids)
            self.call("get_online", lambda: fs.get_online(FEATURE_TABLE, ids.tolist()),
                      lambda df: df.collect(), self.read_check("get_online", want))
            ids, frac = self._ids(r + 1)
            cut = T0 + int(frac * (top - T0))
            want_pit = reference.rows_of(self.pit.lookup(ids, np.full(len(ids), cut)), ids)
            self.call("get", lambda: fs.get(FEATURE_TABLE, ids.tolist(), _dt(cut)),
                      lambda df: df.collect(), self.read_check("get", want_pit))
        if self.pushed >= len(self.pushes):
            return
        p = self.pushes[self.pushed]
        path = str(self.data / f"push{self.pushed}.parquet")
        expect = self.live_rows + len(p["ts"])

        def check_push(info):
            return None if info.row_count == expect else f"table has {info.row_count} rows, expected {expect}"

        n_failed = len(self.failures)
        self.call("push", lambda: fs.push(FEATURE_TABLE, self.spark.read.parquet(path)), None, check_push)
        if len(self.failures) == n_failed:
            self.pit.add(p)
            self.live_rows = expect
        self.pushed += 1
        if self.pushed == self.space_after:
            self.space_amp = disk_bytes(self.root)[0] / self.logical_bytes()

    def pre_cycle(self) -> None:
        self.before = (self.pushed, disk_bytes(self.root)[1])

    def post_cycle(self) -> None:
        """Bytes and files the cycle's push wrote (reads write nothing)."""
        n, before = self.before
        if self.pushed == n:
            return
        new = {f: s for f, s in disk_bytes(self.root)[1].items() if before.get(f) != s}
        self.push_bytes.append({
            "written": sum(new.values()), "user": len(self.pushes[n]["ts"]) * ROW_BYTES,
            # the push's new offline version is the only new data under it
            "files": sum(1 for f in new if f"/{FEATURE_TABLE}/v=" in f and f.endswith(".parquet")),
        })

    def ratios(self) -> dict:
        pb = self.push_bytes
        return {
            "registry.write_amp": sum(p["written"] for p in pb) / sum(p["user"] for p in pb) if pb else 0.0,
            "registry.files_per_version": statistics.fmean(p["files"] for p in pb) if pb else 0.0,
        }

    def recall(self) -> float:
        """The lower of the two reads' shares of reference rows returned."""
        return min(self.found[k] / self.expected[k] for k in ("get_online", "get"))


WORKLOAD_CLASSES = {c.name: c for c in (OfflineBatch, OnlineMixed)}
