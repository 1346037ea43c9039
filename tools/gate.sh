#!/bin/bash
# The full correctness gate, one command — what "done" means for any
# query change (see memory: the r8 q_mmr oracle landed after the last
# full gate run and blanked the round's correctness file; this script
# exists so the gate is never partially run again).
#
#   tools/gate.sh             # full: compile + tests + both corpora
#   tools/gate.sh --changed   # incremental Spark side on both corpora
#                             # (plan-hash manifests in target/verify_inc
#                             # and target/verify_inc_adv), full oracle
#                             # compare
#
# Exits non-zero on the first failing stage. The final idle-round
# guard is STRICT BY DEFAULT (r13 verdict item 7): an idle round —
# open ADVICE items, no builder commits since the last snapshot, no
# uncommitted source work — FAILS the gate. Export
# SPARK_GRAFT_STRICT_IDLE=0 to downgrade it to an advisory WARN
# (e.g. when re-running the gate on a freshly-snapshotted tree).
set -euo pipefail
# Anchor everything to the repo root (the script's parent dir) so the
# gate behaves identically from any cwd; REPO also flows into the
# embedded python below instead of cwd-relative file names.
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
  ORACLE_JSON=target/verify_inc/oracle_sql.json
else
  echo "== gate: full Verify (sf0.01) =="
  rm -rf /tmp/gate_sf && run_jvm graft.Verify "$SF" /tmp/gate_sf
  echo "== gate: oracle compare (sf0.01) =="
  python3 tools/oracle_check.py "$SF" /tmp/gate_sf
  echo "== gate: full Verify (adversarial corpus) =="
  rm -rf /tmp/gate_adv && run_jvm graft.Verify "$ADV" /tmp/gate_adv
  echo "== gate: oracle compare (adversarial corpus) =="
  python3 tools/oracle_check.py "$ADV" /tmp/gate_adv
  ORACLE_JSON=/tmp/gate_sf/oracle_sql.json
fi

# New-query concept check (r9 lesson: 7 of 10 drafted queries were
# concept-duplicates of existing capabilities, caught only by manual
# grep). Any key not present in the last committed CORRECTNESS file is
# NEW this round: print it with its SURVEY §2 grep hits so the
# capability-noun check happens at the gate, not in the next verdict.
echo "== gate: new-query concept check =="
python3 - "$ORACLE_JSON" "$REPO" <<'EOF'
import json, sys, glob, os
keys = set(json.load(open(sys.argv[1])))
repo = sys.argv[2]
prior = sorted(glob.glob(os.path.join(repo, 'CORRECTNESS_r*.json')))
known = set(json.load(open(prior[-1]))) if prior else set()
new = sorted(keys - known)
if not new:
    print("no new query keys since",
          os.path.basename(prior[-1]) if prior else "(none)")
    sys.exit(0)
survey = open(os.path.join(repo, 'SURVEY.md')).read()
for k in new:
    # not str.removeprefix: that is Python 3.9+ and the gate must run
    # on any python3
    stem = (k[2:] if k.startswith('q_') else k).replace('_', ' ')
    # short names (bfs, rbo, auc, rfm...) must still match: keep words
    # of >2 chars, and fall back to every word if none survive
    words = [w for w in stem.split() if len(w) > 2] or stem.split()
    hits = [l.strip()[:110] for l in survey.splitlines()
            if any(w in l.lower() for w in words)]
    print(f"NEW KEY {k}: grep SURVEY for '{stem}' -> {len(hits)} row(s)")
    for h in hits[:5]:
        print("   ", h)
    print("    ^ confirm none of these rows already covers the CONCEPT "
          "before shipping this key")
EOF
# Idle-round guard (r11 lesson: the round shipped ZERO builder commits
# while five specified tasks sat in the verdict/advice, and the unfixed
# bench noise then manufactured 12 false regressions). If ADVICE.md
# still lists items but there are no builder commits since the last
# driver round-snapshot and no uncommitted source work, say so loudly —
# a green gate on an untouched tree is not a finished round.
echo "== gate: idle-round guard =="
if grep -q '^- \*\*' ADVICE.md 2>/dev/null; then
  last_snap=$(git log --grep='^round [0-9]*:' -n 1 --format=%H 2>/dev/null || true)
  commits_since=$(git rev-list --count "${last_snap:-HEAD}..HEAD" 2>/dev/null || echo 0)
  dirty=$(git status --porcelain -- src tools SURVEY.md build.sbt | wc -l)
  if [ "$commits_since" -eq 0 ] && [ "$dirty" -eq 0 ]; then
    echo "WARN IDLE ROUND: ADVICE.md lists open items, yet there are no"
    echo "     builder commits since the last round snapshot and no"
    echo "     uncommitted source changes — this round is about to ship"
    echo "     nothing (r11 did exactly this and was graded for it)."
    if [ "${SPARK_GRAFT_STRICT_IDLE:-1}" = "1" ]; then
      echo "gate: FAIL (idle round; export SPARK_GRAFT_STRICT_IDLE=0 to downgrade)"
      exit 1
    fi
  else
    echo "ok: round has work ($commits_since commit(s) since snapshot, $dirty dirty source path(s))"
  fi
else
  echo "ok: no open ADVICE items"
fi
echo "== gate: PASS =="
