"""End-to-end benchmark of the production extraction path.

    python3 perfbench/run.py --workload extract_bulk --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Run from the root of a checkout. It builds the program from source (see
build.py), stages the workload's seeded corpus in a set-up JVM, then times the
workload's call in a fresh JVM with `nproc` Spark cores and checks every
call's output. It prints each metric by name with its unit, then, as its last
line, one JSON object: `correct`, `attempted` and `failed` (partitions checked
and partitions whose output or lineage was wrong) and `metrics` (the
end-to-end metrics of BENCHMARK.json, or with `--trace 1` its per-layer ones).
A failed check prints no metrics and exits 1.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

DEADLINE_S = 170  # a run that does not build must end within 180 s
SETUP_REPEATS = 3


def cores():
    """What `nproc` reports: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def jvm(classpath, cds, work, args, deadline, main="perfbench.BenchMain"):
    """Run `main`; return the JSON object on its last stdout line."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    proc = subprocess.Popen(build.java_cmd(classpath, work, main, args, cds),
                            stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, 9)
        proc.wait()
        raise RuntimeError(f"{main} ran past the deadline")
    if proc.returncode != 0:
        raise RuntimeError(f"{main} exited {proc.returncode}")
    return json.loads(out.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    classpath, cds = build.build(tests=a.self_test)
    start = time.monotonic()  # the first run in a checkout builds; the deadline starts after
    n = cores()
    if a.self_test:
        work = build.BUILD / "work" / "self-test"
        shutil.rmtree(work, ignore_errors=True)
        try:
            res = jvm(classpath, cds, work, [work, n], start + 600, main="perfbench.SelfTest")
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print(json.dumps(res))
        return 0 if res["failed"] == 0 else 1
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        ap.error(f"--workload must be one of {names}")

    work = build.BUILD / "work" / f"{a.workload}-{a.seed}"
    shutil.rmtree(work, ignore_errors=True)
    deadline = start + DEADLINE_S
    common = ["--workload", a.workload, "--seed", a.seed, "--work", work]
    try:
        res = jvm(classpath, cds, work, [*common, "--cores", n, "--seconds", a.seconds,
                                         "--trace", a.trace,
                                         "--setup-repeats", 1 if a.trace else SETUP_REPEATS],
                  deadline)
        layers = res["layers"]
        if a.trace:
            single = jvm(classpath, cds, work, [*common, "--cores", 1, "--seconds", a.seconds,
                                                "--trace", 0, "--setup-repeats", 0], deadline)
            layers["scaling_eff"] = res["docs_per_s"] / (n * single["docs_per_s"])
            res["failed"] += single["failed"]
            res["attempted"] += single["attempted"]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values = {"docs_per_s": res["docs_per_s"], "setup_s": statistics.median(res["setup_s"]),
              "peak_rss_mb": res["peak_rss_mb"], **layers}
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    correct = res["failed"] == 0

    print(f"workload {a.workload}  seed {a.seed}  cores {n}  docs/call {res['docs']}  "
          f"timed calls {len(res['call_s'])}")
    shown = dict(metrics)
    shown["error_rate"] = {"value": res["failed"] / res["attempted"],
                           "unit": f"{res['failed']}/{res['attempted']} partitions"}
    for k, unit in (("host.control_s", "s"), ("host.steal_share", "ratio")):
        shown.setdefault(k, {"value": layers[k], "unit": unit})
    for k, v in shown.items():
        print(f"  {k:32s} {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics if correct else {}}))
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (build.BuildError, RuntimeError, OSError, ValueError, KeyError) as e:
        sys.exit(f"perfbench: {e}")
