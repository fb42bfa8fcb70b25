"""Run-to-run spread of the end-to-end metrics: N runs per workload, each
with another seed; for every metric the inter-quartile distance of the N
values as a share of their median, set against a third of the metric's
bound. The exit code is non-zero when a
run fails or a spread is wider than that, except the spread of `setup_s`:
it is printed but not gated, as set-up is compared by its median only.

    python3 perfbench/spread.py [--runs 10] [--workload NAME ...] [--first-seed 1]
"""
import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", nargs="*", default=[w["name"] for w in spec["workloads"]])
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    ok = True
    for w in a.workload:
        values = {}
        for seed in range(a.first_seed, a.first_seed + a.runs):
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            res = json.loads(r.stdout.strip().splitlines()[-1]) if r.stdout.strip() else None
            if r.returncode != 0 or not res or not res["correct"]:
                print(f"{w} seed {seed}: run failed (exit {r.returncode})\n{r.stderr[-2000:]}")
                ok = False
                continue
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: " + "  ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, xs in values.items():
            s = stats.spread(xs)
            q1, q3 = stats.quartiles(xs)
            within = s <= bounds[k] / 3
            gated = k != "setup_s"
            ok &= within or not gated
            verdict = ("ok" if within else "WIDE") + ("" if gated else " (not gated)")
            print(f"{w:8s} {k:14s} median={stats.median(xs):.4g} q1={q1:.4g} q3={q3:.4g} "
                  f"spread={s:.3f} bound/3={bounds[k] / 3:.3f} {verdict}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
