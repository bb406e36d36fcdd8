#!/usr/bin/env python3
"""Spatial-engine benchmark: one workload, one client, closed loop.

    python3 perfbench/run.py --workload pip_docs --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (perfbench/build.sbt depends on the checkout's
own build); later runs reuse the build while the sources are unchanged.
Build output, generated inputs and traces stay under .bench_build/.

Each run generates the workload's inputs from --seed (gen.py), computes the
oracle signature with DuckDB, and starts one JVM (graftbench.Main) at
local[<cores>]. --trace 0 reports the end-to-end metrics, --trace 1 the
per-layer metrics of a traced pass and writes its spans to
.bench_build/traces/. The last stdout line is the JSON result.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SETUPS = 3            # set-up repetitions per run; setup_s is their median
WARMUPS = 2           # checked warm-up iterations in each set-up
JVM_HEAP = "3g"
RUN_LIMIT_S = 170     # a run (after the build) must end within this
# Spark on JDK 17 outside spark-submit (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    """Hash of the checkout's location and every source the build reads."""
    h = hashlib.sha256(ROOT.encode())
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark; return the runtime classpath."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath.txt")
    want = sources_stamp()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == want:
        return open(cp_file).read().strip()
    log("building program and benchmark with sbt")
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: sbt build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(want)
    log(f"build done in {time.time() - t0:.1f} s")
    return cp


def measure(args, gen, cp, work):
    """Generate the inputs, run the benchmark JVM and return its result, the
    generation times and the generator's output."""
    t_start = time.time()
    inputs = os.path.join(work, "inputs")
    # input generation + oracle, repeated once per set-up; all must agree
    gen_s, results = [], []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        results.append(gen.generate(args.workload, args.seed, inputs))
        gen_s.append(time.perf_counter() - t0)
    if any(r != results[0] for r in results):
        raise SystemExit("perfbench: the generator is not deterministic for this seed")
    _, items, (rows, h) = results[0]
    expected = f"{rows}:{h + 1 if args.corrupt_expected else h}"

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "result.json")
    trace_out = os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.json")
    cmd = (["java", f"-Xmx{JVM_HEAP}", f"-Xms{JVM_HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--inputs", inputs, "--work", work, "--out", out, "--trace-out", trace_out,
              "--expect", expected, "--items", str(items), "--warmups", str(WARMUPS),
              "--gen-s", ",".join(f"{g:.6f}" for g in gen_s)])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=max(10.0, RUN_LIMIT_S - (time.time() - t_start)))
    except subprocess.TimeoutExpired:
        raise SystemExit("perfbench: the benchmark JVM ran out of time")
    finally:
        # also on SIGTERM and Ctrl-C: never leave the JVM behind
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0 or not os.path.exists(out):
        raise SystemExit(f"perfbench: the benchmark JVM failed (exit {code})")
    with open(out) as f:
        return json.load(f), gen_s, results[0]


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="test hook: check every iteration against a wrong oracle signature")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: no program sources next to perfbench/ "
                         "(run from the root of a full checkout)")
    sys.path.insert(0, HERE)
    import gen
    if args.workload not in gen.WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {args.workload}; one of {gen.WORKLOADS}")

    cp = build()
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    try:
        res, gen_s, (sizes, items, (rows, _)) = measure(args, gen, cp, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = [m["name"] for m in json.load(f)["per_layer" if args.trace else "end_to_end"]]
    if sorted(declared) != sorted(res["metrics"]):
        raise SystemExit(f"perfbench: metrics {sorted(res['metrics'])} differ from BENCHMARK.json")

    iters = res["untraced"] + res.get("traced", [])
    attempted = len(iters)
    failed = sum(1 for i in iters if not i["ok"])
    correct = failed == 0 and res["warmup"] == res["expected"]
    walls = [i["wall_s"] for i in res["untraced"]]
    print(f"perfbench {args.workload} seed={args.seed}: closed loop, 1 client, "
          f"local[{int(res['cores'])}], {args.seconds:g} s budget, trace={args.trace}")
    print(f"inputs {json.dumps(sizes)}; items/iteration {items}; oracle rows {rows}")
    print(f"setup_s per repetition {', '.join(f'{s:.3f}' for s in res['setup_s'])} s "
          f"(input generation {', '.join(f'{g:.3f}' for g in gen_s)} s)")
    print(f"setup phases (s): {res['setup_phases_s']}")
    q = statistics.quantiles(walls, n=10)[-1] if len(walls) >= 20 else None
    cpus = [i["cpu_s"] for i in res["untraced"]]
    print(f"untraced iterations n={len(walls)}: median {statistics.median(walls):.4f} s"
          + (f", p90 {q:.4f} s" if q is not None else ", p90 not reported (< 20 samples)")
          + "; wall " + " ".join(f"{x:.3f}" for x in walls)
          + " s; executor cpu " + " ".join(f"{x:.3f}" for x in cpus) + " s; mem "
          + " ".join(f"{i['mem_b'] / 1048576:.1f}" for i in res["untraced"]) + " MB")
    for name, m in res["metrics"].items():
        print(f"  {name:28s} {m['value']:.6g} {m['unit']}")
    print(f"  {'fail_ratio':28s} {failed / attempted:.6g} ratio ({failed} of {attempted} iterations)")
    print(f"persisted-block peak vs storage pool: {res['persisted_peak_mb']:.1f} MB "
          f"of {res['storage_pool_mb']:.1f} MB")
    if args.trace:
        print(f"spans written to .bench_build/traces/{args.workload}-seed{args.seed}.json")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
