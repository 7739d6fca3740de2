#!/usr/bin/env bash
# Paired benchmark comparison of two checkouts.
#
# usage: tools/bench_pairs.sh PARENT_DIR CHANGE_DIR WORKLOAD N FIRST_SEED [SECONDS [TRACE_SEED]]
#
# Runs N pairs of `python3 perfbench/run.py --workload WORKLOAD --seed S
# --seconds SECONDS --trace 0`, one in each checkout, with seeds FIRST_SEED,
# FIRST_SEED+1, ... The side that runs first alternates from pair to pair.
# SECONDS defaults to BENCHMARK.json's run_seconds. Every result line is
# appended to $BENCH_PAIRS_OUT (default: a new file under $TMPDIR, printed at
# the end). For every end-to-end metric of the change's BENCHMARK.json it
# then prints each side's per-run values, median and quartiles, the pairs the
# change won out of all N (ties and pairs missing a value count for neither),
# and the verdicts:
#   gain        wins >= 9/10 of the N pairs, |median gap| > parent IQR, every
#               run correct and no more failed ops than the parent's
#   worse       median worse than the parent's by more than the bound
#   unresolved  the parent's own IQR/median exceeds the bound, unless every
#               change run reads better than every parent run
# plus correct/attempted/failed per run. For sparql_serve it also prints each
# request class's p50 latency (median over the runs, parent IQR, wins, and
# "gain" under the same pair rule). With TRACE_SEED, it then runs one
# `--trace 1` per side on that seed and prints every `*.jobs`, `*.busy_s`,
# `*.shuffle_write_bytes` and `sink.bytes_written` side by side (lines also
# appended to $BENCH_PAIRS_OUT). Run nothing else meanwhile.
set -euo pipefail

if [ $# -lt 5 ]; then
  sed -n '2,25p' "$0" | sed 's/^# \{0,1\}//'
  exit 2
fi
parent=$(cd "$1" && pwd)
change=$(cd "$2" && pwd)
workload=$3
n=$4
seed0=$5
seconds=${6:-$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$change/BENCHMARK.json")}
trace_seed=${7:-}
out=${BENCH_PAIRS_OUT:-$(mktemp "${TMPDIR:-/tmp}/bench_pairs.XXXXXX")}

run_one() {  # side dir seed [trace]
  local report line classes trace=${4:-0}
  report=$(cd "$2" && python3 perfbench/run.py --workload "$workload" --seed "$3" \
    --seconds "$seconds" --trace "$trace" 2>/dev/null) || true
  line=$(printf '%s\n' "$report" | tail -n 1)
  case $line in
    "{"*) ;;
    *) line='{"correct": false, "attempted": 0, "failed": 0, "metrics": {}}' ;;
  esac
  # sparql_serve's report line "... per-class p50 ms: {json}"
  classes=$(printf '%s\n' "$report" | sed -n 's/.*per-class p50 ms: //p' | tail -n 1)
  case $classes in
    "{"*) ;;
    *) classes='{}' ;;
  esac
  printf '{"side": "%s", "seed": %s, "trace": %s, "result": %s, "class_p50_ms": %s}\n' \
    "$1" "$3" "$trace" "$line" "$classes" >> "$out"
  echo "[bench_pairs] $workload seed $3 trace $trace $1 done" >&2
}

for ((i = 0; i < n; i++)); do
  s=$((seed0 + i))
  if ((i % 2 == 0)); then
    run_one parent "$parent" "$s"; run_one change "$change" "$s"
  else
    run_one change "$change" "$s"; run_one parent "$parent" "$s"
  fi
done
if [ -n "$trace_seed" ]; then
  run_one parent "$parent" "$trace_seed" 1; run_one change "$change" "$trace_seed" 1
fi

python3 - "$out" "$change/BENCHMARK.json" "$workload" "$trace_seed" <<'EOF'
import json, statistics, sys

rows = [json.loads(l) for l in open(sys.argv[1]) if l.strip()]
spec = json.load(open(sys.argv[2]))
workload = sys.argv[3]
runs = {"parent": {}, "change": {}}
class_ms = {"parent": {}, "change": {}}
traced = {}
for r in rows:
    if r.get("trace", 0):
        traced[r["side"]] = r["result"]
    else:
        runs[r["side"]][r["seed"]] = r["result"]
        class_ms[r["side"]][r["seed"]] = r.get("class_p50_ms", {})
seeds = sorted(set(runs["parent"]) | set(runs["change"]))
if not seeds:
    sys.exit(f"workload {workload}: no runs recorded")
missing = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
for side in runs:
    for s in seeds:
        runs[side].setdefault(s, missing)


def quart(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (float("nan"),) * 3
    return tuple(statistics.quantiles(xs, n=4, method="inclusive"))


n = len(seeds)
all_correct = all(runs[side][s]["correct"] for side in runs for s in seeds)
failed = {side: sum(runs[side][s]["failed"] for s in seeds) for side in runs}
print(f"workload {workload}: {n} pairs, seeds {seeds[0]}..{seeds[-1]}")
for side in ("parent", "change"):
    print(f"  {side}: correct/attempted/failed per run: " + ", ".join(
        f"{int(runs[side][s]['correct'])}/{runs[side][s]['attempted']}/{runs[side][s]['failed']}"
        for s in seeds) + f"  (failed total {failed[side]})")
if not all_correct:
    print("  not every run was correct: no gain can be claimed")
if failed["change"] > failed["parent"]:
    print("  the change failed more ops than the parent: no gain can be claimed")
for m in spec["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    val = {side: [runs[side][s]["metrics"].get(name, {}).get("value") for s in seeds]
           for side in runs}
    pairs = [(p, c) for p, c in zip(val["parent"], val["change"]) if p is not None and c is not None]
    if not pairs:
        print(f"\n{name}: no values")
        continue
    better = (lambda c, p: c < p) if lower else (lambda c, p: c > p)
    wins = sum(1 for p, c in pairs if better(c, p))
    losses = sum(1 for p, c in pairs if better(p, c))
    q = {side: quart([v for v in val[side] if v is not None]) for side in val}
    print(f"\n{name} [{m['unit']}, {m['better']} is better, bound {m['bound']}]")
    for side in ("parent", "change"):
        q1, med, q3 = q[side]
        print(f"  {side:<6} median {med:.6g}  q1 {q1:.6g}  q3 {q3:.6g}  runs: "
              + ", ".join("-" if v is None else f"{v:.6g}" for v in val[side]))
    p1, pmed, p3 = q["parent"]
    cmed = q["change"][1]
    gap = cmed - pmed
    rel = gap / pmed if pmed else 0.0
    worse = (rel if lower else -rel) > m["bound"]
    spread = (p3 - p1) / pmed if pmed else 0.0
    separated = None not in val["parent"] + val["change"] and all(
        better(c, p) for c in val["change"] for p in val["parent"])
    gain = (wins >= 0.9 * n and (-gap if lower else gap) > (p3 - p1) and all_correct
            and failed["change"] <= failed["parent"])
    verdict = ("gain" if gain else "worse" if worse
               else "unresolved" if spread > m["bound"] and not separated
               else "within bound")
    print(f"  change wins {wins}/{n} (loses {losses}); median gap {gap:+.6g} "
          f"({rel:+.1%}); parent IQR {p3 - p1:.6g} ({spread:.1%} of median) -> {verdict}")

classes = sorted({c for side in class_ms for v in class_ms[side].values() for c in v})
if classes:
    print("\nper-class p50 latency [ms, lower is better], median of the runs' p50s")
for c in classes:
    val = {side: [class_ms[side].get(s, {}).get(c) for s in seeds] for side in class_ms}
    pairs = [(p, x) for p, x in zip(val["parent"], val["change"]) if p is not None and x is not None]
    q = {side: quart([v for v in val[side] if v is not None]) for side in val}
    wins = sum(1 for p, x in pairs if x < p)
    p1, pmed, p3 = q["parent"]
    gap = q["change"][1] - pmed
    gain = (wins >= 0.9 * n and -gap > (p3 - p1) and all_correct
            and failed["change"] <= failed["parent"])
    print(f"  {c:<8} parent {pmed:9.2f} (IQR {p3 - p1:.2f}) -> change {q['change'][1]:9.2f}"
          f"  ({gap / pmed if pmed else 0.0:+.1%}); change wins {wins}/{n}"
          + ("  -> gain" if gain else ""))

if traced:
    print("\ntraced run (--trace 1), seed " + sys.argv[4] + ": parent -> change")
    for side in ("parent", "change"):
        r = traced.get(side, {"correct": False, "attempted": 0, "failed": 0})
        print(f"  {side}: correct/attempted/failed {int(r['correct'])}/{r['attempted']}/{r['failed']}")
    names = [m["name"] for m in spec["per_layer"]
             if m["name"].endswith((".jobs", ".busy_s", ".shuffle_write_bytes"))
             or m["name"] == "sink.bytes_written"]
    fmt = lambda v: "-" if v is None else f"{v:.6g}"
    for name in names:
        p, c = (traced.get(side, {}).get("metrics", {}).get(name, {}).get("value")
                for side in ("parent", "change"))
        print(f"  {name:<28} {fmt(p):>12} -> {fmt(c)}")
EOF
echo "[bench_pairs] results: $out" >&2
