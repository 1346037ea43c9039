#!/usr/bin/env bash
# Paired benchmark runs of this checkout against a parent revision.
#
#   tools/bench_pairs.sh PARENT_REV N SEED...
#
# Exports PARENT_REV (git archive) and this checkout's working tree (the
# tracked and untracked files .gitignore does not exclude) into a fresh
# directory under ${TMPDIR:-/tmp}. For every workload of BENCHMARK.json it
# then runs N parent/change pairs with perfbench/run.py, one copy per
# side, alternating which side runs first. Pair i uses the i-th SEED,
# cycling through them. Each copy builds and caches its own inputs, so
# nothing is written inside this checkout.
#
# Each side's records land in OUT/parent and OUT/change, named by pair.
# The script prints perfbench/compare.py's report on the two sets and,
# per end-to-end metric, how many pairs the change won. It exits 1 when
# a run failed. Every run lasts BENCHMARK.json's run_seconds.
# Environment: BENCH_PAIRS_OUT (default: the temp directory).
set -euo pipefail

if [ $# -lt 3 ]; then
  sed -n '2,18p' "$0" | sed 's/^# \{0,1\}//'
  exit 2
fi
parent_rev=$1
n=$2
shift 2
seeds=("$@")

root=$(git rev-parse --show-toplevel)
cd "$root"
git rev-parse --verify --quiet "$parent_rev^{commit}" >/dev/null ||
  { echo "bench_pairs: unknown revision $parent_rev" >&2; exit 2; }

work=$(mktemp -d "${TMPDIR:-/tmp}/bench-pairs.XXXXXX")
out=${BENCH_PAIRS_OUT:-$work}
mkdir -p "$out/parent" "$out/change" "$out/logs"
trees=$work/trees
mkdir -p "$trees/parent" "$trees/change"
git archive "$parent_rev" | tar -x -C "$trees/parent"
git ls-files -z --cached --others --exclude-standard |
  while IFS= read -r -d '' f; do [ -e "$f" ] && printf '%s\0' "$f"; done |
  tar -c --null -T - | tar -x -C "$trees/change"

seconds=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' BENCHMARK.json)
workloads=$(python3 -c 'import json,sys; print(" ".join(w["name"] for w in json.load(open(sys.argv[1]))["workloads"]))' BENCHMARK.json)
echo "bench_pairs: parent $(git rev-parse --short "$parent_rev"), change = working tree; copies in $trees"

failed=0
run() { # side workload seed pair
  local side=$1 w=$2 seed=$3 pair=$4 log="$out/logs/pair$4-$2-$1.log" rec
  if (cd "$trees/$side" && python3 perfbench/run.py --workload "$w" --seed "$seed" \
        --seconds "$seconds" --trace 0) >"$log" 2>&1; then
    rec=$(ls -t "$trees/$side"/perfbench/.work/records/*-"$w"-"$seed"-t0.json | head -1)
    cp "$rec" "$out/$side/pair$pair-$w.json"
    echo "  pair $pair $w $side: $(tail -1 "$log" | cut -c1-160)"
  else
    failed=1
    echo "  pair $pair $w $side: FAILED, see $log"
  fi
}

for w in $workloads; do
  for ((i = 0; i < n; i++)); do
    seed=${seeds[$((i % ${#seeds[@]}))]}
    if ((i % 2 == 0)); then order="parent change"; else order="change parent"; fi
    for side in $order; do run "$side" "$w" "$seed" "$i"; done
  done
done

python3 "$trees/change/perfbench/compare.py" "$out/parent" "$out/change" || true
python3 - "$out" "$trees/change/BENCHMARK.json" <<'EOF'
import glob, json, os, sys
out, spec = sys.argv[1], json.load(open(sys.argv[2]))
print("\npairs the change won (strictly better), per end-to-end metric")
for w in [x["name"] for x in spec["workloads"]]:
    pairs = []
    for p in sorted(glob.glob(os.path.join(out, "parent", f"pair*-{w}.json"))):
        c = os.path.join(out, "change", os.path.basename(p))
        if os.path.exists(c):
            pairs.append((json.load(open(p)), json.load(open(c))))
    for m in spec["end_to_end"]:
        sign = 1 if m["better"] == "lower" else -1
        wins = sum(sign * (b["metrics"][m["name"]] - a["metrics"][m["name"]]) < 0 for a, b in pairs)
        print(f"  {w:12} {m['name']:18} {wins}/{len(pairs)}")
EOF
echo "bench_pairs: records in $out/parent and $out/change"
exit $failed
