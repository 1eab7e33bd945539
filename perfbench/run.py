"""Feature-store benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload online_mixed --seed 1 --seconds 5 --trace 0

Run from the repository root. The run generates the workload's inputs from
the seed as Parquet, starts Spark on ``local[nproc]``, sets the store up
once (``setup_s`` is the session start plus the set-up), runs warm-up
cycles, then closed-loop cycles with one client until ``--seconds`` have
passed and the workload's minimum cycle count is reached, checking every
call's output against a numpy reference. With ``--trace 1`` the measured
cycles alternate traced and untraced on the same inputs, and the run
reports per-layer metrics plus the tracing overhead instead.

Human-readable results go to stdout first, the full record to
``perfbench/results/``; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
DRIVER_MEM = "2g"
DEADLINE_S = 170


class Deadline(Exception):
    pass


def _on_alarm(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def prepare_env(work: Path) -> int:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    and pin the session's size to this machine."""
    nproc = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # the session's own shuffle-partition default applies on every run
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        # a fixed-size heap (-Xms = driver memory) keeps peak RSS from
        # depending on when the collector chose to grow the heap; a fixed
        # set of JIT compiler threads lets procfs.CpuClock leave them out
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}'
        ' -XX:-UseDynamicNumberOfCompilerThreads" pyspark-shell'
    )
    return nproc


def source_digest() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / "ml_feature_store_spark").rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    if not (ROOT / ".git").exists():
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    return r.stdout.strip() or None


def stamp(spark, nproc: int, seed: int) -> dict:
    import platform

    import pyspark

    sc = spark.sparkContext
    return {
        "nproc": nproc,
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": spark.conf.get("spark.driver.memory", None),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_commit": git_commit(),
        "source_digest": source_digest(),
        "seed": seed,
    }


def per_layer(tracer, w, pairs: list[tuple[float, float]]) -> dict:
    from perfbench.metrics import SETUP_SPANS, SPANS
    from perfbench.trace import span_means, span_rows

    rows = span_rows(tracer.spans)
    setup = span_means([r for r in rows if r["phase"] == "setup"])
    cycle = span_means([r for r in rows if r["phase"] == "cycle"])
    out = {}
    for span, fields in SPANS.items():
        m = (setup if span in SETUP_SPANS else cycle).get(span)
        for f in fields:
            out[f"{span}.{f}"] = m[f] if m else 0.0

    by_uid = {s["uid"]: s for s in tracer.spans}

    def under(s, ancestor: str) -> bool:
        while s["parent"] is not None:
            s = by_uid[s["parent"]]
            if s["name"] == ancestor:
                return True
        return False

    cyc = [r for r in rows if r["phase"] == "cycle"]
    for call in ("get_online", "get"):
        ex = [r for r in cyc if r["name"] == f"store.{call}.exec"]
        n = sum(r.get("rows", 0) for r in ex)
        out[f"store.{call}.input_records_per_row"] = sum(r["input_records"] for r in ex) / n if n else 0.0
    ops = sum(1 for s in tracer.spans if s["phase"] == "cycle" and s["name"] == "store.get_online.plan")
    # metadata reads: every version-store call that loads a table's meta file
    for metric, fns in (("registry.read_version.calls_per_op", {"registry.read_version"}),
                        ("registry.meta.calls_per_op", {"registry.meta", "registry.versions", "registry.exists",
                                                        "registry.table_names"})):
        calls = sum(1 for s in tracer.spans
                    if s["name"] in fns and s["phase"] == "cycle" and under(s, "store.get_online.plan"))
        out[metric] = calls / ops if ops else 0.0
    skews = [r["task_skew"] for r in cyc if r["name"] == "store.get_training_set.exec" and "task_skew" in r]
    out["asof.task_skew"] = statistics.fmean(skews) if skews else 0.0
    for k in ("registry.write_amp", "registry.files_per_version", "dedup.candidates_per_doc",
              "dedup.verified_per_candidate"):
        out[k] = w.ratios().get(k, 0.0)
    # each traced cycle against the untraced cycle after it, same inputs
    over = statistics.median(t - p for t, p in pairs)
    out["trace.overhead_ms"] = 1000 * over
    out["trace.overhead_share"] = over / statistics.median(p for _, p in pairs)
    return out


def run(args, work: Path, nproc: int) -> dict:
    from perfbench import metrics
    from perfbench.procfs import CpuClock, peak_rss_mb, steal_s
    from perfbench.stats import timing
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOAD_CLASSES, disk_bytes

    tracer = Tracer()
    data = work / "data"
    t_gen = time.perf_counter()
    w = WORKLOAD_CLASSES[args.workload](args.seed, data, tracer)
    gen_s = time.perf_counter() - t_gen
    if args.trace:
        tracer.instrument()
        tracer.enabled = True

    from ml_feature_store_spark import session

    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = session.get_spark(f"perfbench-{args.workload}", master=f"local[{nproc}]")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    tracer.sc = spark.sparkContext
    w.spark = spark
    pids = [os.getpid(), spark._jvm.ProcessHandle.current().pid()]
    w.cpu = CpuClock(pids)
    try:
        root = work / "store"
        t0 = time.perf_counter()
        w.setup(root)
        store_s = time.perf_counter() - t0
        tracer.harvest()

        # warm-up on input set 0: checked and scored, not timed
        tracer.enabled = False
        tracer.phase = "warmup"
        for _ in range(w.warmup_cycles):
            w.cycle(0)
        w.lat.clear()
        w.cpu_s.clear()

        # measured cycle j runs input set 1 + j // 2; with tracing, the even
        # cycles are traced and each is paired with the untraced one after it
        tracer.phase = "cycle"
        cycles, pairs = [], []
        start, steal0 = time.perf_counter(), steal_s()
        j = 0
        while time.perf_counter() - start < args.seconds or j < w.min_cycles or (args.trace and j % 2):
            traced = bool(args.trace) and j % 2 == 0
            if traced:
                w.pre_cycle()
            tracer.enabled, tracer.cycle = traced, j
            c0, t0 = w.cpu(), time.perf_counter()
            w.cycle(1 + j // 2)
            took, cpu = time.perf_counter() - t0, w.cpu() - c0
            tracer.enabled = False
            if traced:
                pairs.append((took, None))
                w.post_cycle()
                tracer.harvest()
            else:
                cycles.append((took, cpu))
                if args.trace:
                    pairs[-1] = (pairs[-1][0], took)
            j += 1
        measured_s = time.perf_counter() - start
        steal = steal_s() - steal0
        w.final_check()

        space = w.space_amp if w.space_amp is not None else disk_bytes(root)[0] / w.logical_bytes()
        rss = peak_rss_mb(pids)
        env = stamp(spark, nproc, args.seed)
    finally:
        tracer.restore()
        stop_spark(spark)

    timings = {k: timing(v) for k, v in w.lat.items()}
    cpu_p50 = {k: statistics.median(v) for k, v in w.cpu_s.items()}
    e2e = {
        "setup_s": session_s + store_s,
        "cycle_cpu_ms": 1000 * statistics.median(c for _, c in cycles),
        "call_cpu_ms": 1000 * statistics.geometric_mean(cpu_p50.values()),
        "min_recall": w.recall(),
        "space_amp": space,
        "peak_rss_mb": rss,
    }
    detail = {
        "setup_s": (e2e["setup_s"], "s"),
        "session_start_s": (session_s, "s"),
        "store_setup_s": (store_s, "s"),
        "cycle_cpu_ms": (e2e["cycle_cpu_ms"], f"ms n={len(cycles)}"),
        "call_cpu_ms": (e2e["call_cpu_ms"], "ms"),
        "cycle_ms": (1000 * statistics.median(t for t, _ in cycles), f"ms n={len(cycles)}"),
        "call_ms_geomean": (1000 * statistics.geometric_mean(t["p50"] for t in timings.values()), "ms"),
        # share of the machine's CPU time other guests took while measuring
        "steal_share": (steal / (nproc * measured_s), "ratio"),
        "min_recall": (e2e["min_recall"], "ratio"),
        "input_generation_s": (gen_s, "s"),
        "space_amp": (space, "ratio"),
        "peak_rss_mb": (rss, "MB"),
        "error_rate": (len(w.failures) / max(1, w.attempted), f"of {w.attempted} ops"),
    }
    names = {"get_online": "online_read", "get": "pit_get", "push": "push", "get_training_set": "train_call",
             "dedup_batch": "dedup_call", "knn_batch": "knn_call"}
    for call, t in timings.items():
        detail[f"{names[call]}_ms_p50"] = (1000 * t["p50"], f"ms n={t['n']}")
        detail[f"{names[call]}_cpu_ms_p50"] = (1000 * cpu_p50[call], f"ms n={t['n']}")
        if t["tail_p"]:
            detail[f"{names[call]}_ms_p{t['tail_p']}"] = (1000 * t["tail"], f"ms n={t['n']}")
    for k, v in w.detail().items():
        if v is not None:
            detail[k] = v
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cycles": j,
        "measured_s": measured_s,
        "env": env,
        "inputs": w.inputs,
        "correct": not w.failures,
        "attempted": w.attempted,
        "failed": len(w.failures),
        "failures": w.failures[:20],
        "detail": {k: {"value": v, "unit": u} for k, (v, u) in detail.items()},
        "timings": timings,
        "samples_ms": {k: [round(1000 * x, 1) for x in v] for k, v in w.lat.items()},
        "cycle_wall_cpu_ms": [[round(1000 * x, 1) for x in c] for c in cycles],
    }
    if args.trace:
        from perfbench.trace import span_means, span_rows

        units = metrics.per_layer()
        layer = per_layer(tracer, w, pairs)
        result["metrics"] = {k: {"value": layer[k], "unit": units[k]} for k in units}
        result["span_table"] = span_means([r for r in span_rows(tracer.spans) if r["phase"] == "cycle"])
    else:
        result["metrics"] = {k: {"value": e2e[k], "unit": u} for k, (u, _) in metrics.END_TO_END.items()}
    return result


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def report(result: dict) -> None:
    print(f"workload {result['workload']} seed {result['seed']} trace {result['trace']}: "
          f"{result['cycles']} cycles in {result['measured_s']:.1f} s")
    print("environment: " + json.dumps(result["env"], sort_keys=True))
    print("inputs: " + json.dumps(result["inputs"], sort_keys=True))
    for k, v in result["detail"].items():
        print(f"  {k} = {v['value']} {v['unit']}")
    if result["trace"]:
        print("spans (per-call means over traced cycles):")
        for name, m in sorted(result["span_table"].items()):
            print(f"  {name}: calls={m['calls']} " + " ".join(
                f"{f}={m[f]:.1f}" for f in ("wall_ms", "self_ms", "driver_ms", "jobs", "tasks")))
    for f in result["failures"]:
        print(f"  FAILED {f}")


def main(argv=None) -> int:
    from perfbench.gen import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--results", default=str(BENCH / "results"), help="directory for the full result record")
    args = ap.parse_args(argv)
    if not (ROOT / "ml_feature_store_spark" / "store.py").is_file():
        print(f"error: no ml_feature_store_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = BENCH / "_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    nproc = prepare_env(work)
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    try:
        result = run(args, work, nproc)
    except Deadline as e:
        print(f"error: {e}", file=sys.stderr)
        return 3
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
    report(result)
    out = Path(args.results)
    out.mkdir(parents=True, exist_ok=True)
    result["finished_ns"] = time.time_ns()
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{result['finished_ns']}.json"
    (out / name).write_text(json.dumps(result, indent=1, default=float))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    # import the benchmark as the ``perfbench`` package, not its modules
    # as top-level names (``trace`` would shadow the standard library's)
    sys.path[0] = str(ROOT)
    sys.exit(main())
