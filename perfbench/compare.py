"""Compare two result sets metric by metric.

    python3 perfbench/compare.py BASE NEW

A result set is a directory written by sweep.py: DIR/<workload>/*.txt, each
the output of one run, whose last line is the run's JSON result. For every
(workload, metric) it prints each side's median and quartiles and the change
of NEW against BASE. End-to-end metrics carry a bound in BENCHMARK.json: the
change is `ok` when NEW is not worse than BASE by more than the bound, and
`WORSE` otherwise. Per-layer metrics have no bound and show the change only.
With one directory it prints that set alone.
"""
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def load(d):
    """{workload: {metric: [values]}} of the correct runs under `d`."""
    out = {}
    for f in sorted(Path(d).glob("*/*.txt")):
        lines = f.read_text().strip().splitlines()
        if not lines:
            continue
        try:
            r = json.loads(lines[-1])
        except ValueError:
            continue
        if not r.get("correct"):
            continue
        for k, v in r["metrics"].items():
            out.setdefault(f.parent.name, {}).setdefault(k, []).append(v["value"])
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def report(base, new=None):
    meta = {m["name"]: m for m in spec()["end_to_end"] + spec()["per_layer"]}
    for w in sorted(set(base) | set(new or {})):
        print(f"== {w}")
        for name in [m for m in meta if m in base.get(w, {}) or m in (new or {}).get(w, {})]:
            m = meta[name]
            cols = []
            for side in (base, new) if new is not None else (base,):
                xs = side.get(w, {}).get(name)
                if not xs:
                    cols.append(f"{'-':>38s}")
                    continue
                q1, med, q3 = quartiles(xs)
                spread = (q3 - q1) / abs(med) if med else float("nan")
                cols.append(f"{med:12.5g} [{q1:.5g}, {q3:.5g}] n={len(xs)} iqr={spread:.3f}")
            verdict = ""
            if new is not None and base.get(w, {}).get(name) and new.get(w, {}).get(name):
                b = statistics.median(base[w][name])
                n = statistics.median(new[w][name])
                change = (n - b) / abs(b) if b else float("nan")
                worse = -change if m["better"] == "higher" else change
                verdict = f"{change:+.3f}"
                if "bound" in m:
                    verdict += " ok" if worse <= m["bound"] else " WORSE"
            elif new is None and "bound" in m:
                verdict = f"bound {m['bound']}"
            print(f"  {name:30s} {m['unit']:7s} " + "  |  ".join(cols) + f"  {verdict}")


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    report(*[load(d) for d in sys.argv[1:]])


if __name__ == "__main__":
    main()
