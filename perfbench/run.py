#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the harness from
source with sbt (cached under .bench_build by a hash of the sources), on
ladder_10x generates the 10x replica of the committed sf0.01 corpus (cached
the same way), runs the workload in one JVM, checks the outputs against
perfbench/expected.json and prints every metric with its unit. The last
line of standard output is the result as one JSON object.

With --trace 1 the run also records spans and prints the per-layer table;
the spans, the table, the per-span-name self times and the tracing
overhead (against an untraced run of the same workload and seed, when one
has been made in this checkout) go to .bench_build/traces/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("registry_sf0.01", "ladder_10x", "pipeline_live")
BUILD = ".bench_build"
# Limit on the JVM alone; a cold build and the replica generation come
# before it and are not counted.
JVM_LIMIT_S = 170
SOURCES = ("src/main/scala", "build.sbt", "project/build.properties", "perfbench/jvm")
JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Xmx3g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = []
            for d, dirs, names in os.walk(top):
                dirs[:] = sorted(x for x in dirs if x not in ("target", ".bsp") and not
                                 (x == "project" and os.path.basename(d) == "project"))
                files += [os.path.join(d, n) for n in names]
        for f in sorted(files):
            h.update(f.encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compiles the engine and the harness; returns the runtime classpath."""
    missing = [p for p in SOURCES if not os.path.exists(p)]
    if missing:
        fail(f"missing sources {missing}; run from the repository root")
    key = tree_hash(SOURCES)
    # The target directories hold the classes of the last build only, so
    # only the last build's classpath may be reused.
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            built, cp = (fh.read().split("\n", 1) + [""])[:2]
        if built == key:
            return cp.strip()
        os.remove(cp_file)
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd="perfbench/jvm", env=env, stdout=fh, stderr=subprocess.STDOUT,
                           timeout=800)
    with open(log) as fh:
        lines = [x.strip() for x in fh if x.strip()]
    cp = lines[-1] if lines else ""
    if r.returncode != 0 or not all(os.path.exists(x) for x in cp.split(os.pathsep)):
        fail(f"build failed; see {log}", 3)
    with open(cp_file, "w") as fh:
        fh.write(f"{key}\n{cp}")
    return cp


def corpus(workload):
    """The workload's input directory: the committed sf0.01 corpus, or for
    ladder_10x its 10x replica."""
    if workload != "ladder_10x":
        return datagen.BASE
    root = os.path.join(BUILD, f"ladder-{tree_hash([datagen.__file__, datagen.BASE])}")
    if not os.path.exists(os.path.join(root, "DONE")):
        shutil.rmtree(root, ignore_errors=True)
        datagen.generate(root)
        open(os.path.join(root, "DONE"), "w").close()
    return root


def run_jvm(cp, args, data, work, out):
    launch_ms = time.time() * 1000.0
    cmd = ["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={work}", "-cp", cp, "perfbench.Main",
                                  "--workload", args.workload, "--seed", str(args.seed),
                                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                                  "--data", data, "--work", work, "--out", out,
                                  "--launch-ms", repr(launch_ms)]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)

        def stop(signum, frame):
            p.kill()
            p.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = p.wait(timeout=JVM_LIMIT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"JVM exceeded {JVM_LIMIT_S} s; see {log}", 4)
    if rc != 0 or not os.path.exists(out):
        with open(log, errors="replace") as fh:
            tail = fh.read()[-3000:]
        print(tail, file=sys.stderr)
        fail(f"JVM exited with {rc}", 5)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = build()
    data = os.path.abspath(corpus(args.workload))
    work = os.path.abspath(os.path.join(BUILD, "run", f"{args.workload}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "raw.json")
    run_jvm(cp, args, data, work, out)
    with open(out) as fh:
        raw = json.load(fh)

    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)

    e2e, layers, attempted, failed, failures = metrics.summarise(raw, expected)
    for f in failures[:20]:
        print(f"FAILED {f}", file=sys.stderr)
    correct = failed == 0 and not failures

    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}"
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          f"cores={raw['cores']} attempted={attempted} failed={failed}")
    print(f"# set-up: session {raw['session_s']:.2f} s, set-up repetitions "
          f"{[round(x / 1000, 2) for x in raw['setup_reps_ms']]} s, warm pass "
          f"{raw['warm_ms'] / 1000:.2f} s; JVM total {raw['jvm_s']:.2f} s, "
          f"peak RSS {raw['peak_rss_mb']:.0f} MB")
    for k, unit in metrics.END_TO_END.items():
        print(f"{k:34s} {e2e[k]:14.4f} {unit}")
    if args.trace:
        report_trace(raw, e2e, layers, results, tag)
        shown = {k: {"value": layers[k], "unit": metrics.LAYER_UNITS[k]} for k in metrics.PER_LAYER}
    else:
        with open(os.path.join(results, f"{tag}.json"), "w") as fh:
            json.dump(e2e, fh)
        shown = {k: {"value": e2e[k], "unit": u} for k, u in metrics.END_TO_END.items()}
    shutil.move(out, os.path.join(results, f"last-{args.workload}.raw.json"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": shown}))


def report_trace(raw, e2e, layers, results, tag):
    untraced_path = os.path.join(results, f"{tag}.json")
    overhead = None
    if os.path.exists(untraced_path):
        with open(untraced_path) as fh:
            untraced = json.load(fh)
        overhead = {k: e2e[k] - untraced[k] for k in metrics.END_TO_END}
    print("# per-layer metrics (traced run)")
    for k, (unit, better, moves) in metrics.PER_LAYER.items():
        print(f"{k:34s} {layers[k]:16.4f} {unit:6s} {better:6s} moves: {moves}")
    selft = metrics.self_times(raw["spans"])
    print("# self time by span name (s)")
    for k, v in selft.items():
        print(f"{k:34s} {v:14.4f}")
    print("# tracing overhead (traced - untraced, same workload and seed)")
    if overhead is None:
        print("no untraced run of this workload and seed in this checkout")
    else:
        for k, v in overhead.items():
            print(f"{k:34s} {v:+14.4f} {metrics.END_TO_END[k]}")
    traces = os.path.join(BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    with open(os.path.join(traces, f"{tag}.json"), "w") as fh:
        json.dump({"end_to_end_traced": e2e, "tracing_overhead": overhead,
                   "per_layer": layers, "self_time_s": selft, "spans": raw["spans"]}, fh)


if __name__ == "__main__":
    main()
