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
#   tools/gate.sh             # every query on both corpora
#
# Exits non-zero on the first failing stage.
set -euo pipefail
# Anchor everything to the repo root (the script's parent dir) so the
# gate behaves identically from any cwd.
REPO="$(cd "$(dirname "$0")/.." && pwd)"
cd "$REPO"

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

echo "== gate: full Verify (sf0.01) =="
rm -rf /tmp/gate_sf && run_jvm graft.Verify "$SF" /tmp/gate_sf
echo "== gate: oracle compare (sf0.01) =="
python3 tools/oracle_check.py "$SF" /tmp/gate_sf
echo "== gate: full Verify (adversarial corpus) =="
rm -rf /tmp/gate_adv && run_jvm graft.Verify "$ADV" /tmp/gate_adv
echo "== gate: oracle compare (adversarial corpus) =="
python3 tools/oracle_check.py "$ADV" /tmp/gate_adv

echo "== gate: PASS =="
