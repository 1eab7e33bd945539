"""Compare two sets of benchmark results, e.g. a parent commit and a change.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds the result records ``run.py`` writes (``--results``).
Runs of one workload are paired in the order they finished, so run the two
sides alternately (base, new, base, new, ...) with the same seeds and
``--seconds``. For every workload and metric the command prints both sides'
median and quartiles, the pairs won, and a verdict: ``better`` when the
change wins at least 9/10 of the pairs and its median beats the base median
by more than the base's interquartile distance, ``worse`` for the mirror
image, ``unresolved`` otherwise.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(path: Path) -> dict[str, list[dict]]:
    """Untraced result records under ``path`` by workload, in finish order."""
    files = [path] if path.is_file() else sorted(path.glob("*.json"))
    recs = [json.loads(f.read_text()) for f in files]
    out: dict[str, list[dict]] = {}
    for r in sorted((r for r in recs if not r.get("trace")), key=lambda r: r["finished_ns"]):
        out.setdefault(r["workload"], []).append(r)
    return out


def direction(name: str, unit: str) -> str:
    from perfbench.metrics import END_TO_END

    if name in END_TO_END:
        return END_TO_END[name][1]
    return "higher" if unit == "1/s" or "recall" in name else "lower"


def values(recs: list[dict]) -> dict[str, tuple[str, list[float]]]:
    """metric -> (unit, one value per run) over the gated and detail metrics
    every run reported."""
    out: dict[str, tuple[str, list[float]]] = {}
    for section in ("metrics", "detail"):
        names = set.intersection(*(set(r[section]) for r in recs))
        for name in sorted(names):
            vs = [r[section][name]["value"] for r in recs]
            if all(isinstance(v, (int, float)) for v in vs):
                out.setdefault(name, (recs[0][section][name]["unit"], vs))
    return out


def main(argv=None) -> int:
    from perfbench.stats import verdict

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base", type=Path)
    ap.add_argument("new", type=Path)
    args = ap.parse_args(argv)
    base, new = load(args.base), load(args.new)
    print(f"{'workload':<14} {'metric':<28} {'base median [q1, q3]':>34} {'new median [q1, q3]':>34}"
          f" {'won':>7}  verdict")
    for wl in sorted(set(base) & set(new)):
        bv, nv = values(base[wl]), values(new[wl])
        for name in sorted(set(bv) & set(nv)):
            unit = bv[name][0]
            v = verdict(bv[name][1], nv[name][1], direction(name, unit))

            def fmt(q):
                return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}] {unit}"

            print(f"{wl:<14} {name:<28} {fmt(v['base']):>34} {fmt(v['new']):>34}"
                  f" {v['wins']:>3}/{v['pairs']:<3}  {v['verdict']}")
    missing = sorted(set(base) ^ set(new))
    if missing:
        print(f"workloads on one side only: {missing}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.path[0] = str(ROOT)
    sys.exit(main())
