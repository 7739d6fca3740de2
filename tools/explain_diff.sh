#!/usr/bin/env bash
# Compare two `graft.BenchExtra explain TAG` plan dumps.
#
# usage: tools/explain_diff.sh PARENT_DUMP_DIR CHANGE_DUMP_DIR
#
# Each DIR holds the `<entry>_<tag>.txt` files one dump wrote (its
# plans/r10, or a directory containing plans/r10); the tags of the two
# sides may differ. Plan ids, expression ids, RDD ids, lambda addresses
# and temporary file names change from run to run even for the same code,
# and the source lines of RDD call sites move with any edit, so they are
# normalized away before comparing. Spark's distinct-aggregate
# rewrite also orders its Expand projections differently from run to run,
# which is not normalized: dump the parent twice to see which entries
# differ by themselves.
#
# Prints one `DIFF <entry>` line per entry whose plans differ or that only
# one side has, then a summary line on stderr. Exits 1 if any entry
# differs.
set -euo pipefail

if [ $# -ne 2 ]; then
  sed -n '2,17p' "$0" | sed 's/^# \{0,1\}//'
  exit 2
fi

dump_dir() {
  if [ -d "$1/plans/r10" ]; then echo "$1/plans/r10"; else echo "$1"; fi
}
parent=$(dump_dir "$1")
change=$(dump_dir "$2")

# entry name -> file: strip the trailing `_<tag>.txt`
entries() {
  for f in "$1"/*_*.txt; do
    [ -e "$f" ] || continue
    b=$(basename "$f")
    printf '%s\t%s\n' "${b%_*.txt}" "$f"
  done | sort
}

norm() {
  sed -E 's/plan_id=[0-9]+/plan_id=N/g; s/#[0-9]+/#N/g;
    s/\$\$Lambda[^ ,)]*/LAMBDA/g; s/RDD\[[0-9]+\]/RDD[N]/g;
    s/(graft-[a-z]+)-?[0-9]+/\1N/g; s/\.scala:[0-9]+/.scala:N/g' "$1"
}

declare -A pfile cfile
while IFS=$'\t' read -r e f; do pfile[$e]=$f; done < <(entries "$parent")
while IFS=$'\t' read -r e f; do cfile[$e]=$f; done < <(entries "$change")

total=0
diffs=0
for e in $(printf '%s\n' "${!pfile[@]}" "${!cfile[@]}" | sort -u); do
  total=$((total + 1))
  p=${pfile[$e]:-}
  c=${cfile[$e]:-}
  if [ -z "$p" ] || [ -z "$c" ] || ! cmp -s <(norm "$p") <(norm "$c"); then
    echo "DIFF $e"
    diffs=$((diffs + 1))
  fi
done
echo "[explain_diff] $diffs of $total entries differ" >&2
[ "$diffs" -eq 0 ]
