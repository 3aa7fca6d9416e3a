"""Run-set comparator for the benchmark.

Usage: python3 perfbench/compare_sets.py SET_A [SET_B]

A set is a directory holding the result files perfbench/run.py keeps
(`<build>/results/<workload>/*.json`, any depth); copy a set aside
before making the next. Only untraced results count. For every
(workload, end-to-end metric) it prints each set's median and
quartiles, the spread (quartile distance over the median) and a
verdict against the metric's bound in BENCHMARK.json:

- one set: `steady` when the spread is within the bound (`setup_s` is
  exempt), else `SPREAD`;
- two sets: additionally `WORSE` when B's median is worse than A's by
  more than the bound, `unresolved` when either spread exceeds it.

Exits 1 when any pair fails.
"""
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(set_dir):
    """{workload: {metric: [values]}} of the untraced runs in a set."""
    out = defaultdict(lambda: defaultdict(list))
    for f in sorted(Path(set_dir).rglob("*.json")):
        r = json.loads(f.read_text())
        if r.get("trace") != 0:
            continue
        for name, m in r["metrics"].items():
            out[r["workload"]][name].append(m["value"])
    return out


def stats(values):
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    return med, q1, q3, (q3 - q1) / med


def main(argv):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sets = [load(d) for d in argv]
    failed = False
    print(f"{'workload':<11}{'metric':<14}{'n':>3}{'median':>12}{'q1':>12}{'q3':>12}"
          f"{'spread':>8}" + (f"{'n_b':>5}{'median_b':>12}{'spread_b':>9}{'worse':>8}"
                               if len(sets) == 2 else "") + "  verdict")
    for wl in sorted(set().union(*sets)):
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            vals = [s[wl].get(name, []) for s in sets]
            if not all(vals):
                print(f"{wl:<11}{name:<14}  missing values")
                failed = True
                continue
            a = stats(vals[0])
            line = f"{wl:<11}{name:<14}{len(vals[0]):>3}{a[0]:>12.4g}{a[1]:>12.4g}{a[2]:>12.4g}{a[3]:>8.3f}"
            spread_ok = name == "setup_s" or a[3] <= bound
            verdict = "steady" if spread_ok else "SPREAD"
            if len(sets) == 2:
                b = stats(vals[1])
                sign = 1 if m["better"] == "lower" else -1
                worse = sign * (b[0] - a[0]) / a[0]
                line += f"{len(vals[1]):>5}{b[0]:>12.4g}{b[3]:>9.3f}{worse:>8.3f}"
                spread_ok = spread_ok and (name == "setup_s" or b[3] <= bound)
                verdict = ("WORSE" if worse > bound else "unresolved" if not spread_ok
                           else "ok")
            failed |= verdict not in ("steady", "ok")
            print(f"{line}  {verdict} (bound {bound})")
    return 1 if failed else 0


if __name__ == "__main__":
    if not 1 <= len(sys.argv) - 1 <= 2:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1:]))
