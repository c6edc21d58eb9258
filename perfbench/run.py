#!/usr/bin/env python3
"""The repo benchmark: three seeded workloads, timed end to end (untraced)
and per layer (traced).

    python3 perfbench/run.py --workload telemetry_daily --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt; later runs reuse the build until a source
file changes. Every run makes its inputs from --seed under .perfbench/ in
the checkout, checks the engine's outputs, and prints the metrics, one per
line, then one JSON object as the last line of standard output.
"""

import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ["telemetry_daily", "lakehouse_serve"]
STATE = os.path.join(ROOT, ".perfbench")
CLASSPATH = os.path.join(STATE, "classpath.txt")
# Class-data-sharing archive of the classes every run loads, dumped once
# per build and mapped by every run: it takes a few seconds of class
# loading off each JVM start.
ARCHIVE = os.path.join(STATE, "classes.jsa")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
# Spark 4 on JDK 17 needs these outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: the engine's sources and build, and the
    harness's."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.abspath(__file__)]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, subdirs, names in os.walk(top):
            subdirs[:] = [s for s in subdirs if s not in ("target", "project")]
            files += [os.path.join(d, n) for n in names]
    return files


def build():
    """Compile engine and harness if any source is newer than the last
    build; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources beside the benchmark (build.sbt, src/main/scala)")
    newest = max(os.path.getmtime(f) for f in source_files())
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest:
        with open(CLASSPATH) as f:
            return f.read().strip()
    os.makedirs(STATE, exist_ok=True)
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-error", "export perfbench/Runtime/fullClasspathAsJars"],
            cwd=HERE, stdin=subprocess.DEVNULL, capture_output=True, text=True,
            timeout=850)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = lines[-1]
    dump_archive(cp)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    return cp


def java_cmd(cp, work, *extra):
    argfile = os.path.join(STATE, "java.args")
    with open(argfile, "w") as f:
        f.write("-cp\n" + cp + "\n")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
            + ["-Xmx2g", f"-Djava.io.tmpdir={work}/tmp", "-Xlog:disable"]
            + list(extra) + ["@" + argfile])


def dump_archive(cp):
    """Dump the classes a bare session loads; runs go on without the
    archive if this fails."""
    work = os.path.join(STATE, "classes")
    try:
        p = subprocess.run(
            java_cmd(cp, work, f"-XX:ArchiveClassesAtExit={ARCHIVE}")
            + ["perfbench.ClassWarmup", work],
            cwd=work, stdin=subprocess.DEVNULL, capture_output=True, timeout=300)
        ok = p.returncode == 0
    except subprocess.TimeoutExpired:
        ok = False
    shutil.rmtree(work, ignore_errors=True)
    if not ok and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)


def run_harness(cp, args, work, spans):
    share = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.isfile(ARCHIVE) else []
    cmd = java_cmd(cp, work, *share) + [
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--scale", args.scale, "--work", work, "--spans", spans]
    try:
        p = subprocess.run(cmd, cwd=work, stdin=subprocess.DEVNULL,
                           stdout=subprocess.PIPE, text=True,
                           timeout=160 + args.seconds)
    except subprocess.TimeoutExpired:
        fail("harness timed out")
    raw = [l for l in p.stdout.splitlines() if l.startswith("PERFBENCH_RAW ")]
    if p.returncode != 0 or not raw:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"harness exited with {p.returncode} and no result")
    return json.loads(raw[-1][len("PERFBENCH_RAW "):])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "smoke"], default="full",
                    help="smoke: seconds-long input sizes, for the tests")
    args = ap.parse_args()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_json):
        fail("BENCHMARK.json not found")
    with open(bench_json) as f:
        spec = json.load(f)
    cp = build()

    work = os.path.join(STATE, "work")
    shutil.rmtree(work, ignore_errors=True)
    spans_path = os.path.join(STATE, "spans.jsonl")
    t0 = time.time()
    try:
        raw = run_harness(cp, args, work, spans_path)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    wall = time.time() - t0

    e2e, details = metrics.end_to_end(raw)
    checks = raw["checks"]
    correct = raw["failed"] == 0 and all(checks.values())
    print(f"workload {raw['workload']} seed {raw['seed']} scale {raw['scale']} "
          f"trace {args.trace} sizes {json.dumps(raw['sizes'])}")
    print(f"host {json.dumps(raw['host'])} passes {raw['passes']} "
          f"measured_s {raw['measured_s']:.2f} wall_s {wall:.1f}")
    print(f"checks {json.dumps(checks)} failures {json.dumps(raw['failures'])}")
    for k, v in details.items():
        print(f"  {k} = {v:.6g}" if isinstance(v, float) else f"  {k} = {v}")

    last = os.path.join(STATE, f"untraced_{args.workload}.json")
    if args.trace == 0:
        wanted = spec["end_to_end"]
        values = {k: v for k, (v, _) in e2e.items()}
        units = {k: u for k, (_, u) in e2e.items()}
        with open(last, "w") as f:
            json.dump(values, f)
    else:
        wanted = spec["per_layer"]
        values = metrics.per_layer(raw, metrics.load_spans(spans_path))
        units = {}
        if os.path.isfile(last):
            with open(last) as f:
                untraced = json.load(f)
            for k in ("serve_p50_ms", "serve_mean_ms", "bulk_rows_per_s"):
                if untraced.get(k):
                    print(f"  tracing_overhead.{k} = "
                          f"{e2e[k][0] / untraced[k] - 1:+.3%} vs the last untraced run")

    out = {}
    for m in wanted:
        name = m["name"]
        if not NAME.match(name) or name not in values:
            fail(f"metric {name} not produced")
        if units.get(name, m["unit"]) != m["unit"]:
            fail(f"metric {name} unit {units[name]} != {m['unit']}")
        out[name] = {"value": values[name], "unit": m["unit"]}
        extra = f" (n={details['serve_samples']})" if name.startswith("serve_") else ""
        print(f"{name} = {values[name]:.6g} {m['unit']}{extra}")
    print(f"correct = {correct}")
    print(json.dumps({"correct": correct, "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": out}))


if __name__ == "__main__":
    main()
