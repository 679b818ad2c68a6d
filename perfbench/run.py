#!/usr/bin/env python3
"""graft benchmark: one command, three workloads, outputs checked.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

Run from the repository root.  The first run builds the library and the
benchmark's Spark program (PerfMain) with sbt (offline) into `target/` directories and records
the classpath under `.bench_build/`; later runs reuse it while the sources
are unchanged.  Inputs are generated from the seed into `.bench_build/data`.
The last line of standard output is the JSON result; see README.md here for
the workloads, the metrics and how layers are attributed.
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("submission_cold", "curate_corpus")
# Input scale factor.  sf0.01 (60k line items, a 10k-document corpus) keeps
# one run of the cold pipeline near 70 s, so dozens of runs per workload fit
# in an hour; the warm-up always uses WARM_SF.
SF = {"submission_cold": 0.01, "curate_corpus": 0.01}
WARM_SF = 0.001
# Untimed warm-up ops at WARM_SF before the measured loop; they are part of
# set-up.  The first op of a fresh JVM runs cold, and the ops after it keep
# speeding up while the JIT compiles the hot paths.
# Curate ops are short, so three warm-ups put its measured ops on the plateau;
# the cold pipeline gets one warm-up, which keeps its runs near 70 s.
WARM_OPS = {"submission_cold": 1, "curate_corpus": 3}
# the run is cut if it has not finished by then (a run must end within 180 s)
JVM_TIMEOUT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Content hash of everything the build reads."""
    h = hashlib.sha1()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) if "target" not in d.split(os.sep)
            for f in fs)
        for p in paths:
            if os.path.isfile(p):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the library and PerfMain; return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"perfbench: {need} not found under {ROOT}; run from a graft checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "classpath.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached["classpath"]
    log("building the library and PerfMain with sbt ...")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or ":" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        sys.exit("perfbench: build failed")
    cp = lines[-1].strip()
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


def data_dir(sf, seed):
    d = os.path.join(BUILD, "data", f"sf{sf}-seed{seed}")
    shape_file = os.path.join(d, "shape.json")
    if not os.path.exists(shape_file):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(tmp, sf, seed)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    with open(shape_file) as f:
        return d, json.load(f)


def run_jvm(cp, workload, data, warm, work, seconds, trace, cores, heap):
    out = os.path.join(work, "record.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{heap}", f"-Xms{heap}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.PerfMain", workload, data, warm, work, str(seconds),
              str(trace), str(cores), str(WARM_OPS[workload]), out])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            sys.exit("perfbench: PerfMain JVM timed out")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        sys.exit(f"perfbench: PerfMain JVM failed (exit {proc.returncode})")
    with open(out) as f:
        return json.load(f)


def run(workload, seed, seconds, trace, cores, heap):
    cp = build()
    sf = SF[workload]
    data, shape = data_dir(sf, seed)
    warm, _ = data_dir(WARM_SF, seed)
    shape_problems = gen.shape_problems(shape)
    work = os.path.join(BUILD, "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        rec = run_jvm(cp, workload, data, warm, work, seconds, trace, cores, heap)
        t1 = time.time()
        problems = shape_problems + oracle.check(workload, rec, data, shape, BUILD, seed)
        log(f"PerfMain JVM {t1 - t0:.1f} s, output checks {time.time() - t1:.1f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return rec, shape, problems


def result(workload, rec, shape, problems, trace, cores):
    ops = rec["ops"]
    failed = sum(1 for o in ops if not o["ok"]) + (1 if problems else 0)
    metrics = (layers.per_layer(workload, rec, shape, cores) if trace
               else layers.end_to_end(workload, rec, shape))
    for p in problems:
        log(f"CHECK FAILED: {p}")
    for line in layers.info_lines(rec):
        log(line)
    return {"correct": not problems and failed == 0, "attempted": max(1, len(ops)),
            "failed": failed, "metrics": metrics}


def smoke(cores, heap):
    """Each workload once at the warm-up scale, traced: every named metric
    present with its unit, and the Spark counters repeating exactly across
    two ops of one seed."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bad = []
    for w in WORKLOADS:
        SF[w] = WARM_SF
        for trace in (0, 1):
            rec, shape, problems = run(w, 1, 0, trace, cores, heap)
            res = result(w, rec, shape, problems, trace, cores)
            names = spec["per_layer" if trace else "end_to_end"]
            for m in names:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"]:
                    bad.append(f"{w}: metric {m['name']} missing or without unit {m['unit']}")
            if not res["correct"]:
                bad.append(f"{w}: correctness gate failed: {problems}")
            if trace:
                bad += [f"{w}: {p}" for p in layers.repeat_problems(rec)]
        log(f"smoke {w}: done")
    for b in bad:
        log(f"SMOKE FAILED: {b}")
    print(json.dumps({"smoke_ok": not bad, "problems": bad}))
    return 0 if not bad else 1


def main():
    # turn SIGTERM into an exit, so the driver JVM is stopped on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--heap", default="2g")
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if a.smoke:
        return smoke(a.cores, a.heap)
    if not a.workload:
        ap.error("--workload is required")
    t0 = time.time()
    rec, shape, problems = run(a.workload, a.seed, a.seconds, a.trace, a.cores, a.heap)
    res = result(a.workload, rec, shape, problems, a.trace, a.cores)
    log(f"{a.workload} seed {a.seed}: {len(rec['ops'])} ops, "
        f"{time.time() - t0:.1f}s total")
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
