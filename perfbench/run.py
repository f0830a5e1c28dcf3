#!/usr/bin/env python3
"""Benchmark of the graft engine's served search and CDC tick.

    python3 perfbench/run.py --workload search|etl \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run compiles the engine sources
(src/main/scala) together with the benchmark (perfbench/src) into
$CARGO_TARGET_DIR (default .bench_build), keyed by a hash of every source;
later runs reuse that build. Spark's jars, including the Scala compiler, come
from $SPARK_HOME/jars.

Each run owns a fresh working directory under .bench_work (corpus copy,
store root, Spark scratch), removed at exit. The last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. A fuller
artifact (raw samples, input digests and properties, check errors) and, for
traced runs, the span file go to .bench_out.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
WORKLOADS = ("search", "etl")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# The tail percentile is fixed per workload, with the fewest samples a run
# needs for it. The rule: the highest rung of LADDER with at least ten
# samples beyond it at the fewest samples a run of the workload reliably
# reaches. A 14 s `search` run serves 70-100 queries; at 50, which leaves
# room for a run 1.4x slower than usual, the rule gives p80. (p75, the pick
# without the 80 rung, sat at the boundary between the fast and the slow
# faces, 71 % and 29 % of the mix, and its spread across seeds was 0.33 of
# its median.) An `etl` run completes 4-5 rounds, too few for any rung, so
# its tail is the maximum. The JVM keeps a timed section going past the
# deadline until it has that many ops, so a slow host lengthens the run
# rather than failing it; a run that still falls short (ops that errored do
# not count) fails instead of reading its tail at another percentile.
LADDER = (50.0, 75.0, 80.0, 85.0, 90.0, 95.0, 99.0, 99.9)
TAIL = {"search": (80.0, 50), "etl": (100.0, 2)}

END_TO_END = {
    "setup_s": "s", "p50_ms": "ms", "tail_ms": "ms", "ops_per_s": "1/s",
    "store_amp": "ratio",
}


def percentile(xs, p):
    """Nearest-rank percentile of a non-empty sample."""
    s = sorted(xs)
    rank = max(1, -(-len(s) * p // 100))  # ceil(n * p / 100)
    return s[int(rank) - 1]


def beyond(n, p):
    """Samples strictly above the nearest-rank p-th percentile of n samples."""
    return n - int(max(1, -(-n * p // 100)))


def tail_percentile(n):
    """Highest ladder percentile with at least 10 of n samples beyond it, or
    None when even the median has fewer than 10 beyond."""
    ok = [p for p in LADDER if beyond(n, p) >= 10]
    return ok[-1] if ok else None


def tail(xs, workload):
    """The workload's fixed tail percentile of xs; fails when xs is shorter
    than that percentile needs."""
    p, need = TAIL[workload]
    if len(xs) < need:
        fail(f"{workload}: {len(xs)} ops completed, p{p:g} needs {need}")
    return p, percentile(xs, p)


def layer_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def sources():
    out = []
    for base in (ENGINE_SRC, ENGINE_RES, BENCH_SRC):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("SPARK_HOME must point at a Spark install with a jars/ dir")
    return os.path.join(home, "jars")


def build():
    """Compile engine + benchmark once per source hash; return classes dir."""
    if not os.path.isdir(ENGINE_SRC) or not os.path.isdir(BENCH_SRC):
        fail(f"engine sources missing: run from a checkout holding {ENGINE_SRC}")
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    target = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    out = os.path.join(target, h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "ok")):
        return out
    os.makedirs(target, exist_ok=True)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    jars = os.path.join(spark_jars(), "*")
    scala = [p for p in srcs if p.endswith(".scala")]
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(scala))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
           "-d", os.path.join(tmp, "classes"), "-classpath", jars, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=BUILD_TIMEOUT_S, cwd=ROOT)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    shutil.copytree(ENGINE_RES, os.path.join(tmp, "classes"), dirs_exist_ok=True)
    open(os.path.join(tmp, "ok"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    for old in os.listdir(target):  # keep only the current build
        if os.path.join(target, old) != out:
            shutil.rmtree(os.path.join(target, old), ignore_errors=True)
    return out


JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_jvm(classes, main, args, work):
    """Run a benchmark main in its own process group; kill it on timeout."""
    cp = os.pathsep.join([os.path.join(classes, "classes"), os.path.join(spark_jars(), "*")])
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # A fixed young generation: with G1's adaptive sizing the peak RSS of
    # identical runs differed by up to 1.5x, set by when eden happened to
    # grow, not by what the engine kept live.
    cmd += ["-Xmx3g", "-Xmn512m", "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={work}",
            "-Dspark.ui.enabled=false", "-cp", cp, main] + args
    log = open(os.path.join(work, "jvm.log"), "wb")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT,
                         start_new_session=True)
    try:
        code = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    except BaseException:  # interrupted: take the JVM down with us
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        log.close()
    if code != 0:
        with open(os.path.join(work, "jvm.log"), "rb") as f:
            sys.stderr.write(f.read().decode(errors="replace")[-6000:])
        fail(f"{main} {'timed out' if code is None else f'exited {code}'}")


def metrics(raw, workload, trace):
    """End-to-end metrics from the plain phase; per-layer from the traced one."""
    plain = raw["phases"]["plain"]
    lat = plain["lat_ms"]
    tail_p, tail_v = tail(lat, workload)
    e2e = {
        "setup_s": raw["session_s"] + statistics.median(raw["setup_rounds_s"]),
        "p50_ms": percentile(lat, 50.0),
        "tail_ms": tail_v,
        "ops_per_s": len(lat) / plain["elapsed_s"],
        "store_amp": raw["store_bytes"] / raw["corpus_bytes"],
    }
    info = {"tail_percentile": tail_p, "samples": len(lat),
            "failed_frac": raw["failed"] / raw["attempted"]}
    if not trace:
        return e2e, info
    tr = raw["phases"]["traced"]
    layers = dict(raw["layers"])
    if tr["lat_ms"]:
        layers["trace.overhead_frac"] = percentile(tr["lat_ms"], 50.0) / e2e["p50_ms"] - 1.0
    info["traced_end_to_end"] = {
        "p50_ms": percentile(tr["lat_ms"], 50.0) if tr["lat_ms"] else None,
        "ops_per_s": len(tr["lat_ms"]) / tr["elapsed_s"] if tr["elapsed_s"] else None}
    info["plain_end_to_end"] = e2e
    return layers, info


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args(argv)
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda n, _: sys.exit(128 + n))
    units = layer_names() if a.trace else END_TO_END
    classes = build()
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    outdir = os.path.join(ROOT, ".bench_out")
    os.makedirs(work)
    os.makedirs(outdir, exist_ok=True)
    try:
        out = os.path.join(work, "result.json")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--min-ops", str(TAIL[a.workload][1]),
                "--work", work, "--out", out]
        if a.trace:
            args += ["--trace-out", os.path.join(outdir, f"trace-{a.workload}-seed{a.seed}.json")]
        run_jvm(classes, "perfbench.Main", args, work)
        with open(out) as f:
            raw = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    values, info = metrics(raw, a.workload, a.trace)
    missing = sorted(set(units) - set(values))
    if missing:
        fail(f"metrics not produced: {missing}")
    raw["report"] = info
    with open(os.path.join(outdir, f"result-{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(raw, f, indent=1, sort_keys=True)
    for err in raw["check_errors"]:
        print(f"check: {err}")
    print(json.dumps({
        "correct": raw["failed"] == 0 and not raw["check_errors"],
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))


if __name__ == "__main__":
    main()
