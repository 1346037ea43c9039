#!/usr/bin/env python3
"""Local simulation of the driver's DuckDB-oracle compare.

Usage: oracle_check.py <sfDir> <verifyOutDir> [timeout_sec] [workers]

For each <name> dir in verifyOutDir: load spark result parquet, run
oracle_sql.json[name] in DuckDB over the sfDir tables, sort columns by
name, sort rows, compare values.

DTYPE-STRICT (round 10): the driver hashes canonicalized cell values,
and pandas renders DuckDB HUGEINT as float64 — so an oracle whose
uncast SUM widens to HUGEINT hashes `42.0` against Spark's `42` and
fails driver-side even though np.allclose would coerce and pass.
This script therefore (a) DESCRIBEs every oracle first and FAILS on
HUGEINT/UHUGEINT output columns (plan-only, costs nothing), and
(b) compares cells as canonical strings — ints bare, floats via repr
— so an int64-vs-float64 divergence is visible locally exactly as the
driver sees it. np.allclose is gone; do not bring it back.

Each oracle runs under a per-query wall-clock timeout (default 180 s —
the three slowest legitimate oracles must survive a contended box. On
sf0.01, 8 workers, an otherwise idle 4-core box: q_kcore's bounded
peeling rounds 58 s, q_bpe_encode's 8-stage materialized merge chain
57 s, q_bpe_merges' unrolled merge rounds 56 s. With 4 workers while a
test run shared the box: 135, 140 and 135 s): a hanging oracle (e.g.
an exponentially-inlined CTE chain) produces ONE printed
FAIL and the worker moves on with a fresh connection — it can never
zero out the whole run. check_one is fully exception-boxed, the pool
iterates submit/as_completed, and a worker-process DEATH (segfault/
OOM) — which breaks the whole ProcessPoolExecutor, failing every
in-flight future with BrokenProcessPool — re-runs each affected query
in a FRESH single-query subprocess (`--one <name>` mode), so even a
DETERMINISTICALLY-crashing oracle costs one FAIL, not the run (an
in-process retry would let it kill the parent).

Queries shard across a PROCESS pool (default 8 workers, each with its
own DuckDB connection over the same parquet views). Results print in
sorted-name order regardless of completion order, so logs stay
diffable. Per-oracle wall time prints on each line; the slowest 5
print at the end (the q_mmr lesson: a quadratic oracle replay should
be visible in-repo before the driver ever sees it).
"""
import sys, json, glob, os, threading, time, subprocess
from concurrent.futures import ProcessPoolExecutor, as_completed

import oracle_lint  # shared TABLES + BANNED + make_con (same dir)

# --one <name>: run exactly one query serially and exit — the retry
# vehicle for pool-breaking oracles (see main): a query that KILLS its
# process (segfault/OOM, not a catchable exception) must cost one FAIL
# in its own subprocess, never take down the parent run.
_argv = list(sys.argv[1:])
ONE = None
if "--one" in _argv:
    _i = _argv.index("--one")
    ONE = _argv[_i + 1]
    del _argv[_i:_i + 2]
sf_dir, out_dir = _argv[0], _argv[1]
TIMEOUT = float(_argv[2]) if len(_argv) > 2 else 180.0
WORKERS = int(_argv[3]) if len(_argv) > 3 else 8

# Output column types that pandas cannot round-trip losslessly: the
# driver's hash canonicalization will diverge from Spark's rendering.
BANNED_TYPES = oracle_lint.BANNED

# Queries whose Spark side rides TextStats.pairScaffold's deterministic
# md5-ranked pair cap; their oracles replay uncapped (see the sentinel
# in _check_one_inner).
PAIR_CAPPED = {"q_rouge", "q_bleu", "q_chrf"}
MAX_PAIR_REPORT = 1 << 20

_con = None


def fresh_con():
    return oracle_lint.make_con(sf_dir)


def run_bounded(sql):
    """Run sql with a wall-clock bound on this worker's connection.
    Returns (df, err). On timeout, interrupt; if the thread still
    doesn't return (e.g. stuck in planning), abandon it and swap in a
    fresh connection so the worker's later queries are unaffected."""
    global _con
    if _con is None:
        _con = fresh_con()
    box = {}
    my_con = _con

    def work():
        try:
            box["df"] = my_con.execute(sql).df()
        except Exception as e:
            box["err"] = str(e)

    th = threading.Thread(target=work, daemon=True)
    th.start()
    th.join(TIMEOUT)
    if th.is_alive():
        try:
            my_con.interrupt()
        except Exception:
            pass
        th.join(10)
        if th.is_alive():
            _con = fresh_con()  # abandon the stuck thread + connection
        return None, f"timeout after {TIMEOUT:.0f}s"
    if "err" in box:
        return None, box["err"]
    return box.get("df"), None


def describe_types(sql):
    """Plan-only output schema of an oracle: [(col, type)]. Raises on
    unparsable SQL (which the main run would also hit)."""
    global _con
    if _con is None:
        _con = fresh_con()
    rows = _con.execute(f"DESCRIBE {sql}").fetchall()
    return [(r[0], r[1]) for r in rows]


def canon(series):
    """Canonical per-cell strings, driver-style: ints render bare,
    floats via repr (so int64 42 vs float64 42.0 DIFFER), NaN/None as
    fixed markers, everything else astype(str). Deliberately NOT
    normalized: -0.0 renders '-0.0' vs '0.0' — a signed-zero
    divergence between engines would hash-differ driver-side too, so
    the local gate must fail on it rather than coerce (strictly-at-
    least-as-strict-as-the-driver is the invariant here)."""
    dt = str(series.dtype)
    if dt.startswith(("float", "Float")):
        return series.map(
            lambda v: "<null>" if v is None else
            ("nan" if v != v else repr(float(v))))
    if dt.startswith(("int", "Int", "uint", "UInt")):
        return series.map(lambda v: "<null>" if v is None else str(int(v)))
    return series.astype(str)


def check_one(item):
    """(name, sql) -> (name, ok, lines_to_print, wall_sec)."""
    t0 = time.monotonic()
    try:
        name, sql = item
        lines = _check_one_inner(name, sql)
    except Exception as e:  # never let one query abort the run
        name = item[0]
        lines = [f"FAIL {name}: checker error: {type(e).__name__}: {e}"]
    wall = time.monotonic() - t0
    ok = not any(l.startswith("FAIL") for l in lines)
    return name, ok, lines, wall


def _check_one_inner(name, sql):
    import pandas as pd
    res_dir = f"{out_dir}/{name}"
    if not os.path.isdir(res_dir):
        return [f"FAIL {name}: no spark result dir"]
    files = glob.glob(f"{res_dir}/*.parquet")
    if not files:
        return [f"FAIL {name}: no spark result parquet files"]
    spark_df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)

    # Plan-only dtype lint BEFORE running: the driver cannot hash-match
    # a HUGEINT output column, period.
    try:
        bad = [(c, t) for c, t in describe_types(sql)
               if any(b in t.upper() for b in BANNED_TYPES)]
    except Exception as e:
        return [f"FAIL {name}: DESCRIBE error: {e}"]
    if bad:
        return [f"FAIL {name}: oracle emits driver-unhashable types: {bad}"
                + " — CAST the aggregate to BIGINT"]

    duck_df, err = run_bounded(sql)
    if err is not None:
        return [f"FAIL {name}: duckdb error: {err}"]

    # Pair-scoring cap sentinel (r14 advice): the Spark side caps the
    # pair report at TextStats.MaxPairReport (2^20, md5-ranked) but the
    # oracle replays the UNCAPPED pair set — a DuckDB ORDER BY md5 /
    # LIMIT CTE was measured to wreck its join planning, so the cap
    # cannot be mirrored. A corpus whose report crosses the cap breaks
    # parity BY CONSTRUCTION; fail with the mechanism named instead of
    # surfacing it as a baffling row-count mismatch. (Every input pair
    # emits a row in these metrics, so the oracle's row count IS the
    # uncapped pair count.)
    if name in PAIR_CAPPED and len(duck_df) >= MAX_PAIR_REPORT:
        return [f"FAIL {name}: oracle pair report has {len(duck_df)} rows "
                f">= the Spark-side 2^20 cap — parity is broken by "
                f"construction on this corpus; bound the scored window "
                f"(the q_chrf id-window precedent) or raise MaxPairReport"]

    # Containment blow-up sentinel (r15 verdict): q_containment's
    # Spark side is UNCAPPED by default (oracle parity holds at any
    # size), but its output squares on a duplicated corpus (sf1
    # measured 979×, 512 → 501,200 pairs). Past the pair-family budget
    # the comparison itself becomes the scale-killer; fail loudly with
    # the valve named (Dedup.containmentPairs maxGramDf) instead of
    # letting the gate degrade silently-slowly.
    if name == "q_containment" and len(duck_df) >= MAX_PAIR_REPORT:
        return [f"FAIL {name}: containment report has {len(duck_df)} rows "
                f">= the 2^20 pair-family budget — enable the "
                f"maxGramDf valve on Dedup.containmentPairs (or bound "
                f"the scored id window) before scaling this corpus"]

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns), ignore_index=True)

    s, d = norm(spark_df), norm(duck_df)
    if list(s.columns) != list(d.columns):
        return [f"FAIL {name}: columns spark={list(s.columns)} duck={list(d.columns)}"]
    if len(s) != len(d):
        return [f"FAIL {name}: rows spark={len(s)} duck={len(d)}"]
    out = []
    for c in s.columns:
        sv, dv = s[c], d[c]
        try:
            eq = canon(sv).equals(canon(dv))
        except Exception as e:
            out.append(f"  col {c} compare error: {e}")
            eq = False
        if not eq:
            out.append(f"FAIL {name}: col {c} differs "
                       f"(dtypes spark={sv.dtype} duck={dv.dtype})")
            out.append(f"   spark: {sv.head(5).tolist()}")
            out.append(f"   duck:  {dv.head(5).tolist()}")
    if out:
        return out
    return [f"OK   {name} ({len(s)} rows)"]


def retry_in_subprocess(name):
    """Re-run one pool-breaking query in a FRESH single-query
    subprocess (--one mode). In-process retry is wrong here: the only
    way a query reaches this path is by killing its worker process
    outright (BrokenProcessPool), so a deterministic crasher re-run
    in-process would kill the whole run — in a subprocess it costs
    exactly one FAIL. Returns (ok, lines, wall)."""
    t0 = time.monotonic()
    cmd = [sys.executable, os.path.abspath(__file__), sf_dir, out_dir,
           str(TIMEOUT), "1", "--one", name]
    try:
        p = subprocess.run(cmd, capture_output=True, text=True,
                           timeout=TIMEOUT * 2 + 60)
        lines = [l for l in p.stdout.splitlines() if l.strip()]
        ok = p.returncode == 0 and bool(lines)
        if not lines:
            tail = (p.stderr or "").strip().splitlines()[-1:] or ["no output"]
            lines = [f"FAIL {name}: retry subprocess died "
                     f"(rc={p.returncode}): {tail[0][:160]}"]
    except subprocess.TimeoutExpired:
        ok, lines = False, [f"FAIL {name}: retry subprocess timed out"]
    if not ok:
        lines = [l + "  (fresh-subprocess retry after worker death)"
                 for l in lines]
    return ok, lines, time.monotonic() - t0


def main():
    oracle_lint.sweep_stale_spill()  # reap SIGKILL'd workers' spill dirs
    oracles = sorted(json.load(open(f"{out_dir}/oracle_sql.json")).items())
    if ONE is not None:
        sql_map = dict(oracles)
        if ONE not in sql_map:
            print(f"FAIL {ONE}: not in oracle_sql.json")
            sys.exit(1)
        name, ok, lines, _ = check_one((ONE, sql_map[ONE]))
        print("\n".join(lines))
        sys.exit(0 if ok else 1)
    results = {}
    if WORKERS <= 1:
        for item in oracles:
            name, ok, lines, wall = check_one(item)
            results[name] = (ok, lines, wall)
    else:
        broken = []
        with ProcessPoolExecutor(max_workers=WORKERS) as pool:
            futs = {pool.submit(check_one, item): item[0] for item in oracles}
            for fut in as_completed(futs):
                name = futs[fut]
                try:
                    name, ok, lines, wall = fut.result()
                except Exception as e:  # worker death breaks the POOL:
                    # every in-flight future fails, so queue them for a
                    # serial in-process retry instead of mass-FAILing
                    broken.append(name)
                    continue
                results[name] = (ok, lines, wall)
        for name in broken:
            results[name] = retry_in_subprocess(name)
    fails = 0
    for name, _ in oracles:
        ok, lines, wall = results.get(
            name, (False, [f"FAIL {name}: no result (worker lost)"], 0.0))
        if len(lines) == 1:
            print(f"{lines[0]}  [{wall:.1f}s]")
        else:
            print("\n".join(lines))
        if not ok:
            fails += 1
    slowest = sorted(results.items(), key=lambda kv: -kv[1][2])[:5]
    print("slowest oracles: " + ", ".join(
        f"{n}={w:.1f}s" for n, (_, _, w) in slowest))
    # The q_mmr lesson: a quadratic oracle replay must be visible
    # in-repo before the driver sees it. Known-slow-but-legitimate:
    # q_kcore (bounded peeling rounds), q_bpe_encode (8 materialized
    # merge stages) and q_bpe_merges (unrolled merge rounds), each near
    # or past 60 s on sf0.01 (timings in the docstring). Anything
    # else past 60 s deserves a look before round-end (the near-dup
    # family replays are inverted-index joins since r10 — sub-second;
    # a reappearing 30 s+ Jaccard oracle means someone reintroduced
    # the all-pairs scan).
    slow = [(n, w) for n, (_, _, w) in results.items() if w > 60.0]
    for n, w in sorted(slow, key=lambda t: -t[1]):
        print(f"WARN slow oracle {n}: {w:.0f}s on this corpus "
              "— check for a quadratic replay before the driver runs it")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
