#!/usr/bin/env python3
"""Sink-honest end-to-end benchmark of the graft engine.

usage: python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run compiles the program
(`src/main/scala`) together with the benchmark (`perfbench/src`) into
`.bench_build/`; later runs reuse the build while the sources are
unchanged. Each run then

1. generates the workload's inputs from the seed into
   `.bench_work/<workload>-s<seed>/in` (gen.py),
2. runs one JVM (local[N], N = cores) that sets up, warms up, times the
   workload for S seconds through its real sink and checks every output
   against the first one,
3. checks the last output against an outside oracle (checks.py),
4. prints every metric with its unit, then one JSON line.

With --trace 0 the JSON carries the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. A failed check makes the exit code 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
DEADLINE_S = 170
HEAP = "4g"

sys.path.insert(0, HERE)

# Input sizes per workload: each operation runs long enough to be timed
# several times within one run (see README.md for the probe numbers).
# `tiny` is the self-test's scale.
SCALES = {"normal": {
    "kg_commit": dict(events=6000, users=800, docs=600, nations=20),
    "integrate_script": dict(persons=15000, graphs=16),
    "sparql_serve": dict(persons=6000, graphs=32),
    "dedup_pairs": dict(docs=8000, dup_share=0.2),
}, "tiny": {
    "kg_commit": dict(events=400, users=40, docs=50, nations=20),
    "integrate_script": dict(persons=400, graphs=4),
    "sparql_serve": dict(persons=400, graphs=4),
    "dedup_pairs": dict(docs=300, dup_share=0.2),
}}

# the generator property that counts one operation's input rows
ROWS_IN = {"kg_commit": "turns", "integrate_script": "quads",
           "sparql_serve": "quads", "dedup_pairs": "documents"}

# the layer that owns each workload's sink
SINK_LAYER = {"kg_commit": "materialize", "integrate_script": "integrate",
              "sparql_serve": "server", "dedup_pairs": "dedup"}


def unit_of(metric):
    """Unit of a per-layer metric, from its name's suffix."""
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("bytes", "B"), ("bytes_written", "B"),
                         ("rows_out", "rows"), ("ratio", "ratio"), ("coverage", "ratio")):
        if metric.endswith(suffix):
            return unit
    return "ms" if ".p50_ms." in metric else "count"


ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise RuntimeError("no Spark installation found (set SPARK_HOME)")
    return jars


def scala_sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise RuntimeError(f"program sources not found: {main}")
    files = []
    for top in (main, os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compiles program + benchmark with scalac; returns the classes dir."""
    jars = spark_jars()
    files = scala_sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes
    log(f"compiling {len(files)} sources")
    tmp = os.path.join(BUILD, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    t0 = time.time()
    subprocess.run(["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
                    "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
                    "@" + argfile], check=True, stdout=sys.stderr)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"compiled in {time.time() - t0:.1f}s")
    return classes


def generate(workload, seed, in_dir, scale):
    import gen
    s = SCALES[scale][workload]
    if workload == "kg_commit":
        return gen.gen_kg(in_dir, seed, **s)
    if workload == "integrate_script":
        props = gen.gen_integrate(in_dir, seed, **s)
        shutil.copy(os.path.join(HERE, "integrate.sparql"), os.path.join(in_dir, "script.sparql"))
        return props
    if workload == "sparql_serve":
        return gen.gen_serve(in_dir, seed, **s)
    return gen.gen_dedup(in_dir, seed, **s)


def run_jvm(classes, args, work, cpus, rows_in, budget):
    cp = os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"),
                          os.path.join(spark_jars(), "*")])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC",
           "-XX:MetaspaceSize=256m", *ADD_OPENS, f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", f"-Dperfbench.seed={args.seed}",
           *(["-Dperfbench.plant=1"] if args.plant_fault else []),
           f"-Dperfbench.spans={os.path.join(work, 'spans.jsonl')}",
           "-cp", cp, "graft.perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cpus", str(cpus), "--rows-in", str(rows_in), "--work", work]
    with open(os.path.join(work, "jvm.log"), "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, cwd=work)
        try:
            out, _ = p.communicate(timeout=budget)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError(f"benchmark JVM exceeded {budget:.0f}s")
    if p.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"benchmark JVM exited with {p.returncode}:\n{tail}")
    return json.loads(out.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCALES["normal"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="normal")
    ap.add_argument("--plant-fault", action="store_true",
                    help="self-test: damage the output so the checks must fail")
    args = ap.parse_args()
    t_start = time.time()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cpus = len(os.sched_getaffinity(0))

    classes = build()
    # the seed is part of the path: Transcripts memoizes its document count
    # per input path, so two seeds must never share one
    work = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    in_dir = os.path.join(work, "in")
    t0 = time.time()
    props = generate(args.workload, args.seed, in_dir, args.scale)
    gen_s = time.time() - t0
    log(f"inputs ({gen_s:.1f}s): " + json.dumps(props))

    rows_in = props[ROWS_IN[args.workload]]
    t_jvm = time.time()
    res = run_jvm(classes, args, work, cpus, rows_in, DEADLINE_S - (time.time() - t_start))
    errors = list(res.get("errors", []))
    t0 = time.time()
    import checks
    if args.workload in checks.CHECKS:
        errors += checks.CHECKS[args.workload](in_dir, res["artifacts"])
    oracle_s = time.time() - t0
    log(f"jvm {t0 - t_jvm:.1f}s, oracle {oracle_s:.1f}s, total {time.time() - t_start:.1f}s")
    attempted, failed = int(res["attempted"]), int(res["failed"])
    if errors and failed == 0:
        failed = attempted  # an output that fails an outside check fails every op that wrote it
    correct = not errors
    setup_s = gen_s + res["setup_jvm_s"] + oracle_s

    print(f"workload {args.workload}  seed {args.seed}  cores {cpus}  "
          f"inputs {json.dumps(props)}")
    if args.trace == 0:
        report = {
            "setup_s": (setup_s, "s"),
            "wall_s": (res["wall_s"], "s"),
            "rows_per_s": (res["rows_per_s"], "rows/s"),
            "out_bytes_per_row": (res["out_bytes_per_row"], "B/row"),
            "heap_retained_mb": (res["heap_retained_mb"], "MB"),
        }
        if args.workload == "sparql_serve":
            report["latency_p50_ms"] = (res["latency_p50_ms"], "ms")
            report["latency_p90_ms"] = (res["latency_p90_ms"], "ms")
            report["requests_per_s"] = (res["requests_per_s"], "req/s")
        report["failed_ratio"] = (failed / max(1, attempted), "ratio")
        for k, (v, u) in report.items():
            print(f"  {k:<20} {v:14.6g} {u}")
        if args.workload == "sparql_serve":
            print(f"  requests timed: {res['requests']}; per-class p50 ms: "
                  + json.dumps({k: round(v, 2) for k, v in res["class_p50_ms"].items()}))
        else:
            print("  op walls s: " + ", ".join(f"{x:.3f}" for x in res["walls"]))
        metrics = {m["name"]: {"value": report[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    else:
        layers = res["layers"]
        for k in sorted(layers):
            print(f"  {k:<36} {layers[k]:14.6g} {unit_of(k)}")
        # BENCHMARK.json names the workload's sink layer `sink`
        sink = SINK_LAYER[args.workload]

        def layer_key(name):
            head, _, rest = name.partition(".")
            return f"{sink}.{rest}" if head == "sink" else name
        metrics = {m["name"]: {"value": layers.get(layer_key(m["name"]), 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    for e in errors[:10]:
        print(f"  CHECK FAILED: {e}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:  # no result line: the run did not measure
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
