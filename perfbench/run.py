#!/usr/bin/env python3
"""graft benchmark runner.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload sql_contract --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20

One run builds the benchmark if its build is missing or stale (sbt,
offline), launches one JVM that runs the workload at local[4], checks
every output, and prints report lines followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics. `--workload all` runs every workload
untraced and traced with the same seed and reports the tracing overhead.
See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The fixture scale factor each workload reads (TESTDATA.md).
WORKLOADS = {
    "sql_contract": "sf0.01",
    "release_serve": "sf0.01",
}
# Every run is a fresh, short-lived JVM that measures cold single cycles,
# with the default tiered JIT and a heap fixed at its maximum from the
# start, so that heap growth does not move where the collector runs
# (see README.md).
JVM_FLAGS = ["-Xms3g", "-Xmx3g"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads from the checkout, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Builds graft and the benchmark unless the build matches the
    sources; returns (classpath, jvm options, source digest)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources under {ROOT}; run from a checkout of the repository")
    out = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    os.makedirs(out, exist_ok=True)
    launch = os.path.join(out, "launch.txt")
    stamp = os.path.join(out, "sources.digest")
    want = digest(source_files())
    have = open(stamp).read().strip() if os.path.exists(stamp) else None
    if have != want or not os.path.exists(launch):
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = env.get("SBT_OPTS", "")
        if "-Dsbt.offline" not in opts:
            repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
            extra = ["-Dsbt.offline=true"]
            if os.path.exists(repos):
                extra += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join([opts] + extra).strip()
        with open(os.path.join(out, "build.log"), "w") as log:
            try:
                rc = subprocess.run(
                    ["sbt", "-batch", "-Dsbt.server.autostart=false",
                     f"-Dperfbench.launch={launch}", "launchSpec"],
                    cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                    stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                rc = -1
        if rc != 0 or not os.path.exists(launch):
            fail(f"build failed (exit {rc}); see {os.path.join(out, 'build.log')}")
        with open(stamp, "w") as fh:
            fh.write(want + "\n")
    lines = open(launch).read().splitlines()
    opts = [l for l in lines[1:] if l and not l.startswith("-Xmx")]
    return lines[0], opts, want


def fixture_dir(sf):
    root = os.environ.get("GRAFT_BENCH_FIXTURES",
                          os.path.expanduser(os.path.join("~", "testdata")))
    d = os.path.join(root, sf)
    if not os.path.isdir(d):
        fail(f"fixture {d} not found (set GRAFT_BENCH_FIXTURES to the directory holding {sf}/)")
    return d


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none (not a git checkout)"
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    return r.stdout.strip() or "unknown"


def run_jvm(workload, seed, seconds, trace, cp, opts):
    """Runs one workload in a fresh JVM inside a wiped work dir and
    returns the outcome it wrote."""
    work = os.path.join(ROOT, ".bench_work", workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, *JVM_FLAGS, f"-Djava.io.tmpdir={tmp}", *opts, "-cp", cp, "graftbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--fixture", fixture_dir(WORKLOADS[workload]),
           "--work", work, "--out", result]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{workload} exceeded {RUN_TIMEOUT_S} s; see {log.name}")
    if rc != 0 or not os.path.exists(result):
        fail(f"{workload} JVM exited {rc}; see {os.path.join(work, 'jvm.log')}")
    with open(result) as fh:
        return json.load(fh)


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["end_to_end"], spec["per_layer"]


def summarize(outcome, trace):
    """The contract's result line: the declared metrics of this kind.
    A per-layer metric the workload does not exercise reads 0."""
    end_to_end, per_layer = declared()
    got = outcome["layers"] if trace else outcome["e2e"]
    metrics, missing = {}, []
    for m in (per_layer if trace else end_to_end):
        v = got.get(m["name"])
        if v is not None and v["value"] is not None:
            metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
        elif trace:
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            missing.append(m["name"])
    failed = outcome["failed"] + len(missing)
    return {"correct": failed == 0, "attempted": max(1, outcome["attempted"]),
            "failed": failed, "metrics": metrics}, missing


def print_report(workload, seed, trace, outcome, src_digest):
    env = dict(outcome["env"], cpus=str(os.cpu_count()), commit=git_commit(), sources=src_digest)
    print(f"# {workload} seed={seed} trace={trace} " +
          " ".join(f"{k}={v}" for k, v in env.items()))
    for name, v in outcome["report"].items():
        print(f"{workload} {name} = {v['value']} {v['unit']}")
    for name, v in outcome["layers"].items():
        print(f"{workload} {name} = {v['value']} {v['unit']}")
    for note in outcome["notes"]:
        print(f"{workload} {note}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    cp, opts, src_digest = build()
    if args.workload != "all":
        outcome = run_jvm(args.workload, args.seed, args.seconds, args.trace, cp, opts)
        print_report(args.workload, args.seed, args.trace, outcome, src_digest)
        line, missing = summarize(outcome, args.trace)
        if missing:
            print(f"# missing end-to-end metrics: {', '.join(missing)}")
        print(json.dumps(line))
        return

    summary = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        plain = run_jvm(w, args.seed, args.seconds, 0, cp, opts)
        traced = run_jvm(w, args.seed, args.seconds, 1, cp, opts)
        print_report(w, args.seed, 0, plain, src_digest)
        print_report(w, args.seed, 1, traced, src_digest)
        a, b = plain["e2e"]["cycle_s"]["value"], traced["e2e"]["cycle_s"]["value"]
        print(f"{w} tracing_overhead = {b - a:.4f} s ({100 * (b - a) / a:.2f}% of cycle_s)")
        line, _ = summarize(plain, 0)
        summary["correct"] &= line["correct"]
        summary["attempted"] += line["attempted"]
        summary["failed"] += line["failed"]
        summary["metrics"].update({f"{w}.{k}": v for k, v in line["metrics"].items()})
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
