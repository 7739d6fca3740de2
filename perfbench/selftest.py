#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale.

usage: python3 perfbench/selftest.py [WORKLOAD ...]

For each workload (default: all four) it checks that

1. an untraced run exits 0 with "correct": true and prints every
   end-to-end metric of BENCHMARK.json, each with its unit;
2. a traced run does the same for every per-layer metric;
3. a run with a planted wrong output (`--plant-fault`) fails its
   correctness check: exit code 1 and "correct": false.

Exits 0 when every check passes.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["kg_commit", "integrate_script", "sparql_serve", "dedup_pairs"]


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "5", "--seconds", "1", "--trace", str(trace), "--scale", "tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, lines, result, p.stderr


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []

    def expect(ok, what):
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    for w in sys.argv[1:] or WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, lines, res, err = run(w, trace)
            expect(code == 0 and res is not None and res["correct"],
                   f"{w} trace={trace}: exit 0 and correct (exit {code}) {err[-300:] if code else ''}")
            if res is None:
                continue
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                expect(got is not None and got["unit"] == m["unit"]
                       and isinstance(got["value"], (int, float)),
                       f"{w} trace={trace}: JSON has {m['name']} [{m['unit']}]")
                if trace == 0:
                    shown = any(l.split()[:1] == [m["name"]] and l.split()[-1] == m["unit"]
                                for l in lines[:-1])
                    expect(shown, f"{w}: prints {m['name']} with unit {m['unit']}")
            expect(res["attempted"] >= 1 and res["failed"] == 0,
                   f"{w} trace={trace}: attempted {res['attempted']}, failed {res['failed']}")
        code, lines, res, _ = run(w, 0, "--plant-fault")
        expect(code == 1 and res is not None and not res["correct"] and res["failed"] > 0,
               f"{w}: a planted wrong output fails the check (exit {code})")
    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
