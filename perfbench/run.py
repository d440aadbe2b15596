#!/usr/bin/env python3
"""End-to-end benchmark of graft commands.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload star_full --seed 1 --seconds 10 --trace 0

builds the engine and the benchmark from source (once per source
state), runs one measured run in a fresh JVM and prints one JSON line
as the last line of stdout. Two more commands judge steadiness:

    python3 perfbench/run.py steady --workload W --runs 10 [--first-seed 1] [--out runs.json]
    python3 perfbench/run.py compare runs_a.json runs_b.json

`steady` runs a workload N times with seeds first-seed.. and prints, for
each metric, the median, the quartiles and (q3 - q1) / median.
`compare` checks two such sets against the bounds in BENCHMARK.json.

"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
STAMP = os.path.join(BENCH_DIR, "target", "perfbench.classpath")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, relative to ROOT, sorted."""
    tops = ["build.sbt", "project/build.properties", "src/main",
            os.path.relpath(os.path.join(BENCH_DIR, "build.sbt"), ROOT),
            os.path.relpath(os.path.join(BENCH_DIR, "project", "build.properties"), ROOT),
            os.path.relpath(os.path.join(BENCH_DIR, "src", "main"), ROOT)]
    out = []
    for top in tops:
        path = os.path.join(ROOT, top)
        if os.path.isfile(path):
            out.append(top)
        for d, _, files in os.walk(path):
            out.extend(os.path.relpath(os.path.join(d, f), ROOT) for f in files)
    return sorted(out)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Build with sbt if the sources changed since the last build."""
    for needed in ("build.sbt", "src/main/scala/graft/Cli.scala", "examples/tpch_model.yaml"):
        if not os.path.exists(os.path.join(ROOT, needed)):
            fail(f"{needed} not found: run from the root of a graft checkout")
    digest = source_hash()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("hash") == digest:
            return stamp["classpath"]
    print("perfbench: building (sbt)", file=sys.stderr)
    try:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.server.autostart=false", "export Runtime/fullClasspath"],
            cwd=BENCH_DIR, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail("build timed out", 1)
    lines = [l for l in proc.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed", 1)
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        json.dump({"hash": digest, "classpath": cp}, fh)
    return cp


def run_once(workload, seed, seconds, trace):
    """One measured run in a fresh JVM; returns the result dict."""
    cp = classpath()
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(tmp)
    cmd = (["java", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace), "--work", WORK,
              "--examples", os.path.join(ROOT, "examples")])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("run timed out", 1)
    sys.stderr.write(out)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        fail(f"run failed with exit code {proc.returncode}", 1)
    return json.loads(lines[-1])


# ---------------------------------------------------------------- steadiness

def summary(values):
    """(median, q1, q3, (q3 - q1) / median) as statistics.quantiles gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, ((q3 - q1) / med if med else 0.0)


def worse_by(better, base, new):
    """Share by which `new` is worse than `base` (negative when better)."""
    if base == 0:
        return 0.0
    return (new - base) / base if better == "lower" else (base - new) / base


def compare(spec, runs_a, runs_b):
    """Lines describing each end-to-end metric, and whether all pass."""
    ok = True
    lines = []
    for m in spec["end_to_end"]:
        name, bound = m["name"], m["bound"]
        a = [r["metrics"][name]["value"] for r in runs_a]
        b = [r["metrics"][name]["value"] for r in runs_b]
        sa, sb = summary(a), summary(b)
        spread_ok = sa[3] <= bound and sb[3] <= bound
        drift = worse_by(m["better"], sa[0], sb[0])
        good = spread_ok and drift <= bound
        ok &= good
        lines.append(f"{'ok  ' if good else 'FAIL'} {name:18s} bound {bound:.3f}  "
                     f"spread {sa[3]:.4f} / {sb[3]:.4f}  median {sa[0]:.4f} -> {sb[0]:.4f} "
                     f"(worse by {drift:+.4f})")
    return ok, lines


def steady(args):
    runs = []
    for i in range(args.runs):
        r = run_once(args.workload, args.first_seed + i, args.seconds, args.trace)
        runs.append(r)
        print(f"run {i + 1}/{args.runs} seed {args.first_seed + i}: correct={r['correct']} "
              f"failed={r['failed']}", file=sys.stderr)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(runs, fh)
    print(f"{'metric':32s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s}")
    for name in sorted(runs[0]["metrics"]):
        med, q1, q3, sp = summary([r["metrics"][name]["value"] for r in runs])
        print(f"{name:32s} {med:12.4f} {q1:12.4f} {q3:12.4f} {sp:8.4f}")
    print(f"correct in {sum(r['correct'] for r in runs)}/{len(runs)} runs")


def main(argv):
    if argv[:1] == ["steady"]:
        p = argparse.ArgumentParser(prog="run.py steady")
        p.add_argument("--workload", required=True)
        p.add_argument("--runs", type=int, default=10)
        p.add_argument("--first-seed", type=int, default=1)
        p.add_argument("--seconds", type=int, default=None)
        p.add_argument("--trace", type=int, default=0)
        p.add_argument("--out")
        args = p.parse_args(argv[1:])
        if args.seconds is None:
            with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
                args.seconds = json.load(fh)["run_seconds"]
        return steady(args)
    if argv[:1] == ["compare"]:
        p = argparse.ArgumentParser(prog="run.py compare")
        p.add_argument("a")
        p.add_argument("b")
        args = p.parse_args(argv[1:])
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        with open(args.a) as fa, open(args.b) as fb:
            ok, lines = compare(spec, json.load(fa), json.load(fb))
        print("\n".join(lines))
        return 0 if ok else 1
    p = argparse.ArgumentParser(prog="run.py")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    result = run_once(args.workload, args.seed, args.seconds, args.trace)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
