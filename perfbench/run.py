#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <suite|store> \
        --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run compiles the engine
and the benchmark with sbt (perfbench/build.sbt); later runs reuse that
build while the sources are unchanged. Each run is a fresh JVM on
local[nproc]. The full report goes to .bench_build/results/; stdout gets
one line per metric and, as its last line, the result JSON:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 its
per-layer metrics.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 840
LAYER_OWNER = {"suite": "suite", "read": "store", "write": "store"}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group
    (sbt's launcher starts a JVM of its own) and wait for it."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def source_files():
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main", "scala"),
                os.path.join(BENCH, "src", "main", "scala")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(stamp):
    """Compile if the sources changed since the last build; return the
    runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    log = os.path.join(BUILD, "logs", "build.log")
    with open(log, "w") as out:
        try:
            code, stdout = run_bounded(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 "-J-XX:-UsePerfData", f"-J-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
                 "compile", "export Runtime/fullClasspath"],
                BUILD_LIMIT_S, cwd=BENCH, stdout=subprocess.PIPE, stderr=out, text=True)
        except subprocess.TimeoutExpired:
            fail(f"build exceeded {BUILD_LIMIT_S} s; see {log}")
        out.write(stdout)
    if code != 0:
        fail(f"build failed (exit {code}); see {log}")
    lines = [l for l in stdout.splitlines()
             if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if not lines:
        fail(f"build printed no classpath; see {log}")
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, fh)
    return lines[-1]


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def latest_untraced(results, workload, seed):
    """The newest untraced report of this workload, preferring the same seed."""
    best = None
    for name in os.listdir(results):
        if not (name.startswith(f"{workload}-") and name.endswith("-t0.json")):
            continue
        path = os.path.join(results, name)
        key = (name == f"{workload}-s{seed}-t0.json", os.path.getmtime(path))
        if best is None or key > best[0]:
            best = (key, path)
    if best is None:
        return None
    with open(best[1]) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a checkout of the engine (no build.sbt or src/main/scala/graft here)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")

    for d in ("tmp", "logs", "results"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    stamp = source_stamp()
    cp = classpath(stamp)
    started = time.time()
    results = os.path.join(BUILD, "results")
    out = os.path.join(results, f"{a.workload}-s{a.seed}-t{a.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    # Spark's jars are trusted, and verifying their bytecode costs every
    # fresh JVM about 3 s of start-up on 4 cores.
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-XX:+UnlockDiagnosticVMOptions",
            "-XX:-BytecodeVerificationRemote", f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--root", ROOT, "--out", out])
    log = os.path.join(BUILD, "logs", f"{a.workload}-s{a.seed}-t{a.trace}.log")
    with open(log, "w") as lf:
        try:
            code, _ = run_bounded(cmd, RUN_LIMIT_S, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {RUN_LIMIT_S} s; see {log}")
    if code != 0 or not os.path.isfile(out):
        fail(f"run failed (exit {code}); see {log}")
    with open(out) as fh:
        report = json.load(fh)

    info = report["info"]
    info["git_commit"] = git_commit()
    info["source_sha256"] = stamp
    info["wall_s"] = time.time() - started
    traced = a.trace == "1"
    if traced:
        base = latest_untraced(results, a.workload, a.seed)
        if base is not None:
            report["tracing_overhead"] = {
                k: {"traced": v["value"], "untraced": base["end_to_end"][k]["value"],
                    "diff": v["value"] - base["end_to_end"][k]["value"], "unit": v["unit"],
                    "untraced_seed": base["info"]["seed"]}
                for k, v in report["end_to_end"].items() if k in base["end_to_end"]}
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1)

    wanted = [m["name"] for m in spec["per_layer" if traced else "end_to_end"]]
    have = report["per_layer" if traced else "end_to_end"]
    if traced:
        # Another workload's layer metrics read 0 here: this workload does
        # no work in that layer.
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        for m in wanted:
            owner = LAYER_OWNER.get(m.split(".")[0])
            if m not in have and owner not in (None, a.workload):
                have[m] = {"value": 0, "unit": units[m]}
    missing = [m for m in wanted if m not in have]
    if missing:
        fail(f"report lacks declared metrics {missing}; see {out}")

    for k, v in report["named"].items():
        print(f"{a.workload} {k} = {v['value']:.6g} {v['unit']}")
    for k, v in report["end_to_end"].items():
        print(f"{a.workload} end_to_end {k} = {v['value']:.6g} {v['unit']}")
    if traced:
        for k in wanted:
            print(f"{a.workload} per_layer {k} = {have[k]['value']:.6g} {have[k]['unit']}")
        for k, v in report.get("tracing_overhead", {}).items():
            print(f"{a.workload} tracing_overhead {k} = {v['diff']:+.6g} {v['unit']}")
    samples = {k: v for k, v in info.items() if k.endswith("samples")}
    print(f"{a.workload} samples = {json.dumps(samples)}"
          f" seed={a.seed} nproc={info['nproc']} error_rate={report['error_rate']}")
    for f in report["failures"]:
        print(f"{a.workload} FAILED CHECK: {f}")
    print(json.dumps({
        "correct": report["correct"],
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {k: have[k] for k in wanted},
    }))


if __name__ == "__main__":
    main()
