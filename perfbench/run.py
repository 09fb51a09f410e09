"""Run one workload of the graft benchmark and print its metrics.

    python3 perfbench/run.py --workload search_mixed --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source (perfbench/build.py). Each run then starts one JVM
that generates the workload's inputs from the seed, drives the engine
through its public entry points, checks every output and prints a report
line and, last, one JSON result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, from a run of which half is
traced (spans are written to perfbench/.work/<run>/spans.jsonl and checked
for nesting here). `--selftest` runs the generator and checker
self-tests instead. Working files go under perfbench/.work.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

DEADLINE_S = 175
JVM_OPTS = ["-Xmx3g", "-Xss4m", "-XX:+UseParallelGC"] + [
    x for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
    return r.stdout.strip() or "unknown"


def check_spans(path):
    """Every span parses and lies within its parent's interval."""
    spans = {}
    with open(path) as fh:
        for line in fh:
            s = json.loads(line)
            spans[s["id"]] = s
    bad = [s for s in spans.values() if s["parent"] and (
        s["parent"] not in spans or
        s["start_us"] < spans[s["parent"]]["start_us"] or
        s["end_us"] > spans[s["parent"]]["end_us"])]
    return len(spans), bad


def java(main, args, work, deadline):
    log_path = os.path.join(work, "jvm.log")
    cmd = (["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                                  "-cp", build.classpath(), main] + args)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=work)
        try:
            out, _ = p.communicate(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.communicate()
            fail(f"timed out; see {log_path}")
    if p.returncode != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-3000:])
        fail(f"JVM exited with {p.returncode}")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    start = time.time()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    if not a.selftest and a.workload not in names:
        fail(f"unknown workload {a.workload!r}; expected one of {names}")

    try:
        stamp = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")
    deadline = time.time() + DEADLINE_S if time.time() - start < 5 else start + 900

    work_root = os.path.join(HERE, ".work")
    shutil.rmtree(work_root, ignore_errors=True)
    tag = "selftest" if a.selftest else f"{a.workload}-{a.seed}-{a.trace}"
    work = os.path.join(work_root, tag)
    os.makedirs(os.path.join(work, "tmp"))

    if a.selftest:
        out = java("graftbench.SelfTest", ["--work", work], work, deadline)
        sys.stdout.write(out)
        sys.exit(0 if out.rstrip().endswith("ok") else 1)

    t0_ms = int(time.time() * 1000)
    out = java("graftbench.Main",
               ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--t0-ms", str(t0_ms),
                "--stamp", stamp, "--commit", commit()], work, deadline)
    lines = {ln.split(" ", 2)[1]: ln.split(" ", 2)[2]
             for ln in out.splitlines() if ln.startswith("GRAFTBENCH ")}
    if "result" not in lines or "report" not in lines:
        fail("the JVM printed no result")
    report = json.loads(lines["report"])
    result = json.loads(lines["result"])

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    got = result["metrics"]
    metrics = {}
    for m in wanted:
        if m["name"] in got:
            metrics[m["name"]] = {"value": got[m["name"]]["value"], "unit": m["unit"]}
        elif a.trace:
            # a layer this workload does not exercise did no work
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            fail(f"end-to-end metric {m['name']} missing")
    extra = {k: v for k, v in got.items() if k not in metrics}
    if extra:
        report["unlisted_metrics"] = extra
    if any(v["value"] is None for v in metrics.values()):
        result["correct"] = False
        report["invalid_metrics"] = [k for k, v in metrics.items() if v["value"] is None]

    if a.trace:
        spans_path = os.path.join(work, "spans.jsonl")
        n, bad = check_spans(spans_path) if os.path.isfile(spans_path) else (0, [None])
        report["spans"] = {"file": os.path.relpath(spans_path, ROOT), "count": n,
                           "not_nested": len(bad)}
        if bad or n == 0:
            result["correct"] = False

    print(json.dumps({"report": report}))
    print(json.dumps({"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
