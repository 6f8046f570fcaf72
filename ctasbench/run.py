#!/usr/bin/env python3
"""The repository's benchmark: two workloads, each timed from outside the
program through its public functions.

    python3 ctasbench/run.py --workload rollup_crawl --seed 1 --seconds 5 --trace 0

Run it from the repository root. The first run compiles `src/main/scala`
together with `ctasbench/src` into `.bench_build/ctasbench` with the Scala
compiler that ships with Spark (found through SPARK_HOME or spark-submit);
later runs reuse the classes while no source changes.

One run:
  1. writes the workload's seeded input three times (gen.py) and takes the
     median time, plus the measuring JVM's session start, as `setup_s`;
  2. starts a fresh JVM on local[<=4] that has done nothing but start its
     Spark session, and times the first pass as `cold_s`;
  3. runs warm-up passes until pass time stops falling or the workload's
     maximum (Main.warmupMaxPasses) is reached, then times passes for
     `--seconds` (at least Main.timedMinPasses); `points_per_s` is the
     workload's points over the median timed pass. Every pass starts with
     nothing cached from the pass before and a collected heap, and Spark's
     code-generation cache holds every class a pass compiles, so after the
     cold pass no pass recompiles them;
  4. checks every pass's outputs; `ok_frac` is the share that passed.

With `--trace 1` the timed window alternates untraced passes with traced
ones, in which a listener is registered and every layer boundary is its own
action; the per-layer metrics are medians over the traced passes and
`trace.overhead_s` is the traced minus the untraced median pass time. A
traced rollup_crawl run then also times the tier store on the same pages:
one cold pass, then traced passes for the `store.*` metrics.

Every pass time is printed before the result line, so drift shows. The
last line of standard output is the result JSON.

`python3 ctasbench/run.py --pin 0-31` rewrites ctas_pins.tsv, the per-seed
output digests of ctas_study, from the program as it is.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build", "ctasbench")
PINS = os.path.join(HERE, "ctas_pins.tsv")
CORES = min(4, len(os.sched_getaffinity(0)))
SETUP_REPS = 3
JVM_TIMEOUT_S = 165
sys.path.insert(0, HERE)

WORKLOADS = ("rollup_crawl", "ctas_study")

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "points_per_s": "points/s",
    "ok_frac": "fraction",
}

# `features` starts no job of its own (its work runs inside the kernels
# phase's jobs), so job tags cannot time it and it is not reported.
CTAS_PHASES = ("validate", "coverage", "autogen", "defs", "cells", "kernels", "scores", "outputs")
PER_LAYER = dict(
    [("rollup.derive.wall_s", "s"), ("rollup.derive.cpu_s", "s"),
     ("rollup.derive.rows_out", "rows")] +
    [(f"rollup.{l}.{m}", u) for l in ("gapfill", "hourly", "daily", "tail")
     for m, u in (("wall_s", "s"), ("rows_out", "rows"))] +
    [("rollup.hourly.shuffle_write_mb", "MB"), ("rollup.unattributed_s", "s")] +
    [(f"ctas.{p}.{m}", u) for p in CTAS_PHASES for m, u in (("wall_s", "s"), ("jobs", "count"))] +
    [("ctas.unattributed_s", "s"),
     ("store.build_hourly.wall_s", "s"), ("store.build_hourly.jobs", "count"),
     ("store.build_hourly.written_mb", "MB"), ("store.build_daily.wall_s", "s"),
     ("store.build_weekly.wall_s", "s"), ("store.expire.wall_s", "s"),
     ("store.read.wall_s", "s"), ("store.resume.wall_s", "s"),
     ("store.resume.rebuilt_partitions", "count"), ("store.resume.read_ratio", "ratio"),
     ("store.gorilla.wall_s", "s"), ("store.gorilla.bits_per_point", "bit/point"),
     ("store.stored_bytes_per_point", "B/point"),
     ("store.unattributed_s", "s")] +
    [(f"spark.{m}", u) for m, u in (
        ("jobs", "count"), ("tasks", "count"), ("gap_s", "s"), ("cpu_s", "s"), ("gc_s", "s"),
        ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("failed_tasks", "count"),
        ("par_eff", "ratio"), ("persisted_rdds_after", "count"))] +
    [("jvm.peak_rss_mb", "MB"), ("jvm.jit_s", "s"), ("codegen.cold_compiles", "count"),
     ("trace.overhead_s", "s")])

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"ctasbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        fail("Spark jars not found; set SPARK_HOME")
    return jars


def sources():
    found = []
    for top in (SRC, os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Compiles the program and the benchmark; returns the classes directory."""
    if not os.path.isdir(SRC):
        fail(f"no program sources at {os.path.relpath(SRC, ROOT)}")
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256("\n".join(sorted(os.listdir(jars))).encode())
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.sha256")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = ":".join(os.path.join(jars, j) for j in sorted(os.listdir(jars))
                        if j.startswith(("scala-compiler", "scala-library", "scala-reflect")))
    cmd = ["java", "-Xss16m", "-Xmx1536m", "-XX:-UsePerfData", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", os.path.join(jars, "*")] + srcs
    t0 = time.time()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=600)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    print(f"built {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def jvm(classes, mode, args, work, log, timeout=JVM_TIMEOUT_S):
    """Runs ctasbench.Main in a fresh JVM; returns its RESULT object, if any."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"] + opens +
           ["-cp", f"{classes}:{os.path.join(spark_jars(), '*')}", "ctasbench.Main", mode] +
           args + ["--cores", str(CORES), "--work", work])
    with open(log, "w") as err:
        try:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                               timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"{mode} JVM timed out after {timeout} s; log: {log}")
    lines = r.stdout.splitlines()
    if r.returncode != 0:
        sys.stderr.write("".join(open(log).readlines()[-30:]) + r.stdout)
        fail(f"{mode} JVM exited with {r.returncode}; log: {log}")
    results = [l[len("RESULT "):] for l in lines if l.startswith("RESULT ")]
    return (json.loads(results[-1]) if results else None), lines


def q(xs):
    return statistics.median(xs) if xs else 0.0


def measure(workload, seed, seconds, trace):
    classes = build()
    import gen
    run_dir = os.path.join(BUILD, "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "input")
    try:
        setup = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            gen.materialise(workload, seed, data)
            setup.append(time.perf_counter() - t0)
        res, _ = jvm(classes, "measure",
                     ["--workload", workload, "--seed", str(seed), "--data", data,
                      "--seconds", str(seconds), "--trace", str(trace), "--pins", PINS],
                     run_dir, os.path.join(BUILD, f"{workload}.log"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if res is None:
        fail("the measuring JVM printed no result")

    passes = res["passes"]
    for kind in ("cold", "warm", "timed", "traced", "store"):
        ts = [f"{s:.3f}" for k, s in passes if k == kind]
        if ts:
            print(f"{workload} seed={seed} {kind}: {' '.join(ts)}")
    print(f"{workload} seed={seed} setup: {' '.join(f'{s:.3f}' for s in setup)} "
          f"+ session {res['session_s']:.3f}; steady={res['steady']}; points={res['points']}")
    for f in res["failures"]:
        print(f"{workload} seed={seed} check failed: {f}")

    timed = [s for k, s in passes if k == "timed"]
    if not timed:
        fail("no timed pass completed")
    if trace:
        layers = {}
        for name in PER_LAYER:
            layers[name] = q([t[name] for t in res["traced"] if name in t])
        layers["jvm.peak_rss_mb"] = res["peak_rss_mb"]
        layers["codegen.cold_compiles"] = res["cold_compiles"]
        layers["trace.overhead_s"] = q([t["pass_s"] for t in res["traced"] if "pass_s" in t]) - q(timed)
        values = layers
        units = PER_LAYER
    else:
        values = {
            "setup_s": q(setup) + res["session_s"],
            "cold_s": res["cold_s"],
            "points_per_s": res["points"] / q(timed),
            "ok_frac": (res["attempted"] - res["failed"]) / res["attempted"],
        }
        units = END_TO_END
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def pin(seeds):
    import gen
    classes = build()
    run_dir = os.path.join(BUILD, "work", f"pin-{os.getpid()}")
    try:
        for s in seeds:
            gen.materialise("ctas_study", s, os.path.join(run_dir, str(s)))
        _, lines = jvm(classes, "pin", ["--seeds", ",".join(map(str, seeds)), "--data", run_dir],
                       run_dir, os.path.join(BUILD, "pin.log"), timeout=900)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(PINS, "w") as f:
        f.write("".join(l + "\n" for l in lines if "\t" in l))


def selftest(seed):
    """The benchmark's own JVM-side tests on the inputs of `seed`."""
    import gen
    classes = build()
    run_dir = os.path.join(BUILD, "work", f"selftest-{os.getpid()}")
    try:
        for w in WORKLOADS:
            gen.materialise(w, seed, os.path.join(run_dir, w))
        _, lines = jvm(classes, "selftest",
                       ["--data", run_dir, "--seed", str(seed), "--pins", PINS],
                       run_dir, os.path.join(BUILD, "selftest.log"), timeout=600)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print("\n".join(lines))


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--pin", help="rewrite ctas_pins.tsv for seeds A-B")
    p.add_argument("--selftest", action="store_true", help="run the JVM-side self-tests")
    a = p.parse_args()
    if a.selftest:
        selftest(a.seed)
        return
    if a.pin:
        lo, hi = map(int, a.pin.split("-"))
        pin(list(range(lo, hi + 1)))
        return
    if not a.workload:
        p.error("--workload is required")
    out = measure(a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
