"""graft benchmark: seeded crawl and curation workloads, each in its own JVM.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py                      # every workload, seed 1
    python3 perfbench/run.py --selftest           # the benchmark's own tests

Run from the repository root. The program and the harness are compiled from
source on first use (perfbench/build.py). One run of one workload prints, as
its last stdout line, one JSON object: `correct`, `attempted`, `failed` and
`metrics` -- the end-to-end metrics of BENCHMARK.json with `--trace 0`, its
per-layer metrics with `--trace 1`. A failed output check or a pass that
threw makes the run exit non-zero.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["crawl", "curate"]
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880
HEAP = "3g"

# JDK 17 module opens Spark needs outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spec():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def java_cmd(main, work, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # the throughput collector with fixed generation sizes (no adaptive
    # resizing) and large survivor spaces that hold objects for the full
    # tenuring age: collections follow allocation volume and little
    # short-lived data is promoted, so the heap-after-GC peak repeats.
    # Lowered compile thresholds bring a fresh JVM to compiled code within
    # the warm passes.
    gc = ["-XX:+UseParallelGC", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn512m", "-XX:SurvivorRatio=2",
          "-XX:-UseAdaptiveSizePolicy", "-XX:InitialTenuringThreshold=15",
          "-XX:MaxTenuringThreshold=15", "-XX:CompileThresholdScaling=0.2"]
    return (["java"] + gc + ["-XX:-UsePerfData", "-Xss8m",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-Dspark.ui.enabled=false"] + opens +
            ["-cp", build.classpath(), main] + args)


def run_jvm(main, work, args, limit_s):
    """Run one JVM to completion (killing its process group past the
    limit); return (exit code, stdout, stderr)."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    p = subprocess.Popen(java_cmd(main, work, args), cwd=build.ROOT, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, err = p.communicate(timeout=max(10, limit_s))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, err = p.communicate()
        return 124, out, err + f"\nbenchmark JVM killed after {limit_s:.0f} s\n"
    return p.returncode, out, err


def raw_result(stdout):
    lines = [ln for ln in stdout.splitlines() if ln.startswith("PERFBENCH ")]
    return json.loads(lines[-1][len("PERFBENCH "):]) if lines else None


def end_to_end(raw):
    """Reported end-to-end metrics from the JVM's raw samples, over the
    timed untraced passes that passed their checks: medians of the times,
    the largest heap peak. With no such pass there is nothing to report,
    and those metrics are null."""
    setup = raw["setup"]
    good = [p for p in raw["passes"] if not p["errors"] and not p["traced"] and not p["warm"]]
    setup_s = setup["ready_s"] + stats.median(setup["reps_s"]) + setup["once_s"] + setup["warm_s"]
    if not good:
        return {"setup_s": setup_s, "wall_s": None, "items_per_s": None, "peak_heap_mb": None}
    return {
        "setup_s": setup_s,
        "wall_s": stats.median(p["wall_s"] for p in good),
        "items_per_s": stats.median(p["items"] / p["wall_s"] for p in good),
        # a peak: the largest heap-after-GC of the whole timed window
        "peak_heap_mb": max(p["heap_mb"] for p in good),
    }


def run_one(workload, seed, seconds, trace, limit_s):
    work = os.path.join(build.build_dir(), "work", workload)
    code, out, err = run_jvm("graft.perfbench.Main", work,
                             ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(seconds), "--trace", str(trace),
                              "--work", work], limit_s)
    raw = raw_result(out)
    if raw is not None:
        with open(os.path.join(work, "raw.json"), "w") as fh:
            json.dump(raw, fh, indent=1)
    if code != 0 or raw is None:
        sys.stderr.write(err[-6000:])
        raise SystemExit(f"{workload}: benchmark JVM failed (exit {code})")
    for p in raw["passes"]:
        for e in p["errors"]:
            sys.stderr.write(f"{workload}: check failed: {e}\n")
    failed = sum(1 for p in raw["passes"] if p["errors"])
    sp = spec()
    if trace:
        layers = raw["layers"]
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in sp["per_layer"]}
    else:
        e2e = end_to_end(raw)
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in sp["end_to_end"]}
    return {"correct": failed == 0, "attempted": len(raw["passes"]), "failed": failed,
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="all", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    t0 = time.monotonic()
    first_build = not os.path.exists(os.path.join(build.build_dir(), "classes.stamp"))
    build.build()
    limit = (FIRST_RUN_LIMIT_S if first_build else RUN_LIMIT_S) - (time.monotonic() - t0)
    if a.selftest:
        work = os.path.join(build.build_dir(), "work", "selftest")
        code, out, err = run_jvm("graft.perfbench.SelfTest", work, ["--work", work], 600)
        sys.stdout.write(out)
        if code != 0:
            sys.stderr.write(err[-6000:])
        sys.exit(code)
    seconds = a.seconds if a.seconds is not None else spec()["run_seconds"]
    if a.workload != "all":
        res = run_one(a.workload, a.seed, seconds, a.trace, limit)
        print(json.dumps(res))
        sys.exit(0 if res["correct"] else 1)
    ok = True
    for w in WORKLOADS:
        res = run_one(w, a.seed, seconds, a.trace, limit)
        ok &= res["correct"]
        shown = "  ".join(f"{k}={v['value']} {v['unit']}" if v["value"] is None else
                          f"{k}={v['value']:.6g} {v['unit']}" for k, v in res["metrics"].items())
        print(f"{w:13s} correct={res['correct']} passes={res['attempted']} "
              f"failed={res['failed']}  {shown}", flush=True)
        limit = RUN_LIMIT_S
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
