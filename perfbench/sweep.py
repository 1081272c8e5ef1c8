"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/sweep.py --out DIR [--workloads a,b] [--seeds 1-10] [--trace 0]

Each run's full output goes to DIR/<workload>/seed-<n>.txt; compare.py reads
that layout. Per (workload, metric) it prints the median, the quartiles (as
`statistics.quantiles(values, n=4)` gives them) and the spread, the
interquartile distance as a share of the median, against the metric's bound.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import compare  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True, type=Path)
    ap.add_argument("--workloads")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = compare.spec()
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    failed = 0
    for w in names:
        (a.out / w).mkdir(parents=True, exist_ok=True)
        for s in seeds(a.seeds):
            p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", str(s),
                                "--seconds", str(spec["run_seconds"]), "--trace", str(a.trace)],
                               stdout=subprocess.PIPE, text=True)
            (a.out / w / f"seed-{s}.txt").write_text(p.stdout)
            last = p.stdout.strip().splitlines()[-1:] or ["{}"]
            ok = p.returncode == 0 and json.loads(last[0]).get("correct")
            failed += not ok
            print(f"{w} seed {s}: {'ok' if ok else 'FAILED'}", file=sys.stderr)
    compare.report(compare.load(a.out))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
