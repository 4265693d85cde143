#!/usr/bin/env python3
"""Runs one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload lake_commit --seed 1 --seconds 12 --trace 0

It builds the harness together with the engine's sources (sbt, only when
the sources changed since the last build), starts one JVM with one local
Spark session, and turns the raw samples that JVM writes into metrics.
The report goes to standard output; its last line is one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with --trace 0, the per-layer metrics with --trace 1. Each
run's result, with the settings it ran under, is also kept in
.bench_out/ for perfbench/compare.py.

The exit code is 0 when every operation succeeded and every result check
passed, 1 when a check failed (the report is still printed), and 2 or
more when the run could not be made (nothing is printed on stdout).
"""

import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")
ENGINE_SRC = os.path.join(ROOT, "src", "main")

sys.path.insert(0, HERE)
import metrics  # noqa: E402

# Seeds: the default, and a held-out seed for checking a claimed gain on
# inputs the change was not written against.
DEFAULT_SEED = 1
HELD_OUT_SEED = 7

# Workloads the harness can run that BENCHMARK.json does not declare:
# `lake_point` (selective reads with warm caches) is run on request only,
# because the declared runs of three workloads do not fit the time a full
# comparison may take. See "Workloads" in perfbench/README.md.
EXTRA_WORKLOADS = ["lake_point"]

JVM_FLAGS = [
    "-Xmx3g",
    "-XX:ReservedCodeCacheSize=512m",
    # Without this the JVM keeps its counters in the system temp directory,
    # outside the checkout.
    "-XX:-UsePerfData",
    # C1 only. With the default tiered JIT, C2 kept one to two of four
    # cores compiling through runs of under a minute, which made runs about
    # a tenth longer, and the medians of operation latency came out the
    # same; see "Load shape" in perfbench/README.md.
    "-XX:TieredStopAtLevel=1",
]
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 880

# Spark on JDK 17 needs these when the session is created outside
# spark-submit; the same list as the engine's build.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_proc(cmd, cwd, timeout, stdout):
    """Runs cmd in its own process group; on timeout kills the group and
    waits for it. Returns the exit code, or None on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=subprocess.STDOUT
                         if stdout == subprocess.PIPE else None, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None


def source_files():
    skip = {"target", "project/target", "project/project", "src/test"}
    for base in [ENGINE_SRC, HARNESS]:
        for d, dirs, files in os.walk(base):
            rel = os.path.relpath(d, base)
            dirs[:] = sorted(x for x in dirs if os.path.normpath(os.path.join(rel, x)) not in skip)
            for f in sorted(files):
                yield os.path.join(d, f)


def fingerprint():
    h = hashlib.sha256()
    for path in source_files():
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(deadline):
    """Compiles harness + engine when the sources changed; returns
    (classpath, source fingerprint, whether it built)."""
    if not os.path.isdir(ENGINE_SRC) or not os.path.isfile(os.path.join(HARNESS, "build.sbt")):
        fail("engine sources not found; run from a full checkout", 2)
    fp = fingerprint()
    stamp = os.path.join(BUILD, "stamp.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            s = json.load(fh)
        if s.get("fingerprint") == fp and all(os.path.exists(p) for p in s["classpath"]):
            return s["classpath"], fp, False
    os.makedirs(BUILD, exist_ok=True)
    os.environ.setdefault("COURSIER_MODE", "offline")
    code, out = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "export Runtime/fullClasspath"],
                         HARNESS, deadline - time.time(), subprocess.PIPE)
    text = (out or b"").decode(errors="replace")
    lines = [ln for ln in text.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(text[-4000:])
        fail(f"build failed (exit {code})", 3)
    cp = lines[-1].strip().split(os.pathsep)
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": cp}, fh)
    return cp, fp, True


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return bench


def fmt(v):
    return f"{v:.6g}"


def main():
    start = time.time()
    bench = declared()
    workloads = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads + EXTRA_WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp, fp, built = build(start + BUILD_LIMIT_S)
    cpus = len(os.sched_getaffinity(0))
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(WORK, tag)
    subprocess.run(["rm", "-rf", work], check=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(OUT, exist_ok=True)
    raw_path = os.path.join(work, "raw.json")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           JVM_FLAGS + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", os.pathsep.join(cp), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cpus", str(cpus), "--work", work, "--out", raw_path])
    limit = (start + (BUILD_LIMIT_S if built else RUN_LIMIT_S)) - time.time()
    code, _ = run_proc(cmd, ROOT, limit, sys.stderr)
    if code != 0 or not os.path.exists(raw_path):
        fail(f"harness JVM failed (exit {code})", 4)
    with open(raw_path) as fh:
        raw = json.load(fh)

    if a.trace:
        values = metrics.per_layer(raw)
        specs = {m["name"]: m for m in bench["per_layer"]}
        loop = raw["loops"]["traced"]
    else:
        values = metrics.end_to_end(raw)
        specs = {m["name"]: m for m in bench["end_to_end"]}
        loop = raw["loops"]["measure"]
    metrics.check_names(values, specs)

    ops = metrics.ops_of(loop)
    setup_ops = metrics.ops_of({"ops": raw["setup_ops"]})
    attempted = len(ops)
    failed = sum(1 for o in ops if o["error"])
    setup_failed = sum(1 for o in setup_ops if o["error"])
    meta = dict(raw["meta"], source_fingerprint=fp, git_commit=git_commit())

    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace} seconds={a.seconds:g} "
          f"cpus={meta['cpus']} parallelism={meta['parallelism']} xmx_mb={meta['xmx_mb']} "
          f"spark={meta['spark_version']} source={fp[:12]} commit={meta['git_commit'] or '-'}")
    for cls, c in metrics.latency_classes(ops).items():
        tail = c["tail"]
        tail_s = f", p{tail[0]:g} {fmt(tail[1])} ms" if tail else ""
        print(f"  {cls} latency: n={c['n']}, p50 {fmt(c['p50'])} ms{tail_s}")
    print(f"  failed_ops_frac {fmt(failed / attempted)} ({failed}/{attempted})")
    print(f"  set-up builds: warm-up {fmt(raw['setup_warmup_s'])} s, timed "
          + " ".join(fmt(x) for x in raw["setup_s"]) + " s")
    print("  loop warm-up: " + ", ".join(
        f"{c['wall_s']:.2f} s, {c['jit_ms']:g} ms JIT, p50 {c['op_p50_ms']:.1f} ms"
        for c in raw["warmup"]))
    if a.trace:
        for cls, shares in metrics.layer_shares(raw).items():
            print(f"  {cls} time by layer: " + ", ".join(
                f"{k} {100 * v:.1f} %" for k, v in shares.items()))
    for name, spec in specs.items():
        print(f"  {name:<40} {fmt(values[name]):>14} {spec['unit']}")

    result = {
        "correct": failed == 0 and setup_failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": specs[k]["unit"]} for k in specs},
    }
    with open(os.path.join(OUT, f"{tag}-{int(time.time() * 1000)}.json"), "w") as fh:
        json.dump({"meta": meta, "report": {
            "latency": metrics.latency_classes(ops), "setup_s": raw["setup_s"]},
            "result": result}, fh, indent=1)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
