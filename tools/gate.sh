#!/bin/bash
# The full correctness gate, one command — what "done" means for any
# query or operator change:
#
#   1. compile + the whole test suite (`sbt test`). SurveySpec keeps the
#      query registry and SURVEY.md §2 in step: every SparkEntry query
#      key has a §2 row and every §2 key exists in the registry;
#   2. Verify on sf0.01 and on the adversarial corpus (advdata/, made on
#      first use by make_advdata.py), each compared against its DuckDB
#      oracle by oracle_check.py.
#
#   tools/gate.sh             # full: every query on both corpora
#   tools/gate.sh --changed   # incremental Spark side on both corpora
#                             # (plan-hash manifests in target/verify_inc
#                             # and target/verify_inc_adv), full oracle
#                             # compare
#
# Exits non-zero on the first failing stage.
set -euo pipefail
# Anchor everything to the repo root (the script's parent dir) so the
# gate behaves identically from any cwd.
REPO="$(cd "$(dirname "$0")/.." && pwd)"
cd "$REPO"

MODE="${1:-}"
SF=/root/testdata/sf0.01
ADV=advdata

CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS=""
for m in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens=java.base/$m=ALL-UNNAMED"
done
OPENS="$OPENS --add-opens=java.base/sun.nio.ch=ALL-UNNAMED"
OPENS="$OPENS --add-opens=java.base/sun.nio.cs=ALL-UNNAMED"
OPENS="$OPENS --add-opens=java.base/sun.security.action=ALL-UNNAMED"
# Heap sized to the box the way the Tier-1 test command sizes it: half
# of MemTotal, clamped to 2-8 GB. SPARK_DRIVER_MEM overrides it.
HEAP="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)}"
run_jvm() { java -Xmx"$HEAP" -cp "$CP" $OPENS "$@"; }

echo "== gate: compile + test =="
sbt -batch compile test

# advdata/ is generated (gitignored) — a fresh checkout doesn't have
# it, and running Verify against the missing dir fails every query.
[ -d "$ADV" ] || python3 tools/make_advdata.py "$(dirname "$SF")/sf0.001" "$ADV"

if [ "$MODE" = "--changed" ]; then
  echo "== gate: incremental Verify (sf0.01) =="
  run_jvm graft.Verify "$SF" target/verify_inc --changed
  echo "== gate: oracle compare (sf0.01, full matrix) =="
  python3 tools/oracle_check.py "$SF" target/verify_inc
  # the hostile corpus too: an operator change must meet it before the
  # full gate. The plan hash does not see the data, so after editing
  # make_advdata.py delete advdata/ and target/verify_inc_adv together.
  echo "== gate: incremental Verify (adversarial corpus) =="
  run_jvm graft.Verify "$ADV" target/verify_inc_adv --changed
  echo "== gate: oracle compare (adversarial corpus, full matrix) =="
  python3 tools/oracle_check.py "$ADV" target/verify_inc_adv
else
  echo "== gate: full Verify (sf0.01) =="
  rm -rf /tmp/gate_sf && run_jvm graft.Verify "$SF" /tmp/gate_sf
  echo "== gate: oracle compare (sf0.01) =="
  python3 tools/oracle_check.py "$SF" /tmp/gate_sf
  echo "== gate: full Verify (adversarial corpus) =="
  rm -rf /tmp/gate_adv && run_jvm graft.Verify "$ADV" /tmp/gate_adv
  echo "== gate: oracle compare (adversarial corpus) =="
  python3 tools/oracle_check.py "$ADV" /tmp/gate_adv
fi

echo "== gate: PASS =="
