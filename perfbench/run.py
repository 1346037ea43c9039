#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

  python3 perfbench/run.py --workload batch_hour|speed_layer
                           --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds graft together with the
benchmark's Scala code (perfbench/build.sbt) when the sources changed, makes
the workload's inputs from the seed (cached per seed under
perfbench/.work/corpus), runs the measured loop in one JVM, checks every
output against the generators, and prints the metrics. With --trace 0
the last line carries the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics. The exit code is non-zero when an
output is wrong. Every run also leaves a stamped record under
perfbench/.work/records for compare.py. METRICS.md documents each metric.
"""
import argparse
import glob
import hashlib
import json
import os
import platform
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

WORKLOADS = ("batch_hour", "speed_layer")
CORPORA_KEPT = 12      # per workload; older cached corpora are removed
# A fixed heap size: otherwise the full collection before the measured
# loop shrinks the heap, and the loop's first windows run slower while
# it grows back.
JVM_HEAP = "3g"
# Old-generation marking cycles start early and run often, so that the
# heap left after a collection follows the live data. With G1's defaults
# no cycle starts in a run, and the after-collection heap is whatever
# garbage the first collections of the loop happened to promote.
GC_CYCLES = ["-XX:-G1UseAdaptiveIHOP", "-XX:InitiatingHeapOccupancyPercent=5"]
RUN_LIMIT_S = 170      # after the build; a run must end within 180 s
BUILD_LIMIT_S = 700     # the first run, which builds, must end within 900 s
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]

DEADLINE = [time.time() + RUN_LIMIT_S]  # pushed back once the build is done


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def run_child(cmd, limit, out_path, env=None, cwd=None):
    """Runs cmd in its own process group, output to out_path; kills the
    whole group if it outlives `limit` seconds. Returns the exit code."""
    with open(out_path, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env, cwd=cwd,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(limit, 1))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -9
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail(path, n=30):
    try:
        with open(path) as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles graft and the benchmark's Scala code; returns the JVM classpath."""
    stamp = source_stamp()
    bdir = os.path.join(WORK, "build")
    cp_file = os.path.join(bdir, "classpath-" + stamp[:16])
    if os.path.exists(cp_file):
        return open(cp_file).read().strip(), stamp
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ)
    if "SPARK_HOME" not in env:
        # the repo's own build names the Spark jars it compiles against
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)/jars"\)', f.read())
        if not m:
            fail("SPARK_HOME is not set")
        env["SPARK_HOME"] = m.group(1)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    out = os.path.join(bdir, "sbt.log")
    code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                      "compile", "export Runtime/fullClasspath"],
                     BUILD_LIMIT_S, out, env=env, cwd=HERE)
    lines = [l.strip() for l in open(out) if "scala-2.13" in l and os.pathsep in l]
    if code != 0 or not lines:
        fail(f"build failed (exit {code}):\n{tail(out)}")
    for old in glob.glob(os.path.join(bdir, "classpath-*")):
        os.remove(old)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1], stamp


def java(cp, args, limit, out_path):
    # no hsperfdata file in the system's temp directory
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData"] +
           GC_CYCLES +
           [f"-Djava.io.tmpdir={WORK}/tmp", "-Dspark.ui.enabled=false"] + ADD_OPENS +
           ["-cp", cp, "perfbench.Main"] + args)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")  # local mode needs no resolvable hostname
    return run_child(cmd, limit, out_path, env=env)


def remaining():
    return DEADLINE[0] - time.time()


# ---------------------------------------------------------------- inputs

def evict(prefix, keep):
    dirs = sorted(glob.glob(os.path.join(WORK, "corpus", prefix + "*")), key=os.path.getmtime)
    for d in dirs[:-keep] if keep else dirs:
        shutil.rmtree(d, ignore_errors=True)


def batch_corpus(cp, seed):
    """The corpus directory, written first by a JVM of its own if missing."""
    d = os.path.join(WORK, "corpus", f"batch-{seed}")
    if os.path.exists(os.path.join(d, "manifest.json")):
        os.utime(d)
        return d
    evict("batch-", CORPORA_KEPT - 1)
    shutil.rmtree(d, ignore_errors=True)
    out = os.path.join(WORK, "gen-batch.log")
    code = java(cp, ["gen-batch", "--seed", str(seed), "--data", d], remaining(), out)
    shutil.rmtree(d + ".tmp", ignore_errors=True)
    if code != 0 or not os.path.exists(os.path.join(d, "manifest.json")):
        fail(f"batch_hour inputs failed (exit {code}):\n{tail(out)}")
    return d


def speed_inputs(seed):
    d = os.path.join(WORK, "corpus", f"speedwarm-{seed}")
    if not os.path.isdir(os.path.join(d, "warm")):
        evict("speedwarm-", CORPORA_KEPT - 1)
        shutil.rmtree(d, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "speedgen.py"), "--warm",
                        os.path.join(d, "warm"), "--seed", str(seed)], check=True)
    os.utime(d)
    return d


# ---------------------------------------------------------------- checks

def read_csv_dir(d):
    rows = set()
    for f in glob.glob(os.path.join(d, "*.csv")):
        with open(f) as fh:
            header = fh.readline().strip().split(",")
            for line in fh:
                vals = dict(zip(header, line.strip().split(",")))
                rows.add((vals["token"], int(vals["cnt"])))
    return rows


def check_batch(rec, manifest):
    errors = []
    exp = manifest["expected_top10"]
    out = rec["outputs"]
    for c in out["csv"]:
        got = read_csv_dir(c["path"])
        want = {(t, n) for t, n in exp[c["window"]]}
        if got != want:
            errors.append(f"csv {c['window']}: got {sorted(got)[:3]}..., want {sorted(want)[:3]}...")
    start = manifest["start_epoch_s"]
    # the warm-up published every hour into the store before the timed loop
    want = {(start + 3600 * h, t, n) for h in range(manifest["hours"]) for t, n in exp[f"hour{h}"]}
    got = {tuple(r) for r in out["store_before_backfill"]}
    if got != want:
        errors.append(f"store after the hourly windows: {len(got)} rows, want {len(want)}")
    want = {(start, t, n) for t, n in exp["backfill"]}
    got = {tuple(r) for r in out["store_final"]}
    if got != want:
        errors.append(f"store after the backfill: {len(got)} rows, want {len(want)}")
    return errors


def speed_analysis(rec):
    """Lag, throughput and the generator's own figures, from the
    generator log, the stream's file log and the upsert return times."""
    import pyarrow.parquet as pq
    out = rec["outputs"]
    files, counts = [], []
    for line in open(out["gen_log"]):
        j = json.loads(line)
        if "counts" in j:
            counts = j["counts"]
        else:
            files.append(j)
    batch_of = {}
    for f in glob.glob(os.path.join(out["file_log"], "*")):
        for line in open(f):
            if line.startswith("{"):
                e = json.loads(line)
                batch_of[e["path"].replace("file://", "")] = e["batchId"]
    ret = {}
    for b, t in out["upserts"]:
        ret[int(b)] = max(ret.get(int(b), 0), t)
    lags, missing = [], 0
    ramp_end = files[0]["due_ms"] + out["ramp_s"] * 1e3 if files else 0
    for f in files:
        b = batch_of.get(f["path"])
        if b is None or b not in ret:
            missing += 1
        elif f["due_ms"] >= ramp_end:
            lags.append((ret[b] - f["newest_ms"]) / 1e3)
    files_in, events_in = {}, {}  # by micro-batch
    for f in files:
        b = batch_of.get(f["path"])
        files_in[b] = files_in.get(b, 0) + 1
        events_in[b] = events_in.get(b, 0) + f["events"]
    # steady-state throughput: the least-squares slope of the events
    # reflected in the store against upsert return time, over timed batches;
    # backlog: files landed but not yet in a finished batch, at each upsert
    xs, ys, backlog = [], [], []
    events_done = files_done = 0
    for b, r in sorted(ret.items()):
        events_done += events_in.get(b, 0)
        files_done += files_in.get(b, 0)
        backlog.append(sum(1 for f in files if f["landed_ms"] <= r) - files_done)
        if r >= ramp_end:
            xs.append(r / 1e3)
            ys.append(events_done)
    eps = statistics.linear_regression(xs, ys).slope if len(xs) > 2 else float("nan")
    # closed windows in the store must equal the generator's counts
    errors = []
    wm, win = out["watermark_ms"], out["window_ms"]
    want = {(w, t, n) for w, t, n in counts if wm is not None and w + win <= wm}
    got = set()
    if os.path.isdir(out["store"]):
        tb = pq.read_table(out["store"], columns=["win_start", "token", "cnt"]).to_pydict()
        for w, t, n in zip(tb["win_start"], tb["token"], tb["cnt"]):
            ms = int(w.timestamp() * 1000)
            if ms + win <= (wm or 0):
                got.add((ms, t, n))
    if not want:
        errors.append("no window closed during the run")
    elif got != want:
        errors.append(f"closed windows: store holds {len(got)} (window, tag) counts, "
                      f"generator wrote {len(want)}; {len(got ^ want)} differ")
    q = statistics.quantiles(lags, n=10) if len(lags) >= 2 else [float("nan")] * 9
    return {
        "files": len(files), "missing_files": missing, "errors": errors,
        "stream_lag_p50_s": statistics.median(lags) if lags else float("nan"),
        "stream_lag_p90_s": q[8],
        "stream_eps": eps,
        "gen.lateness_s": statistics.median((f["landed_ms"] - f["due_ms"]) / 1e3 for f in files)
        if files else 0.0,
        "streaming.backlog_files": statistics.median(backlog) if backlog else 0.0,
        "closed_windows_checked": len({w for w, _, _ in want}),
    }


# ---------------------------------------------------------------- stamps

def stamp_env(seed, manifest, src_stamp, rec):
    mem = ""
    try:
        mem = next(l.split(":")[1].strip() for l in open("/proc/meminfo") if l.startswith("MemTotal"))
    except (OSError, StopIteration):
        pass
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
        commit = r.stdout.strip() or None
    return {"nproc": os.cpu_count(), "mem_total": mem, "jvm": rec.get("jvm"),
            "spark": rec.get("spark"), "git_commit": commit, "source_hash": src_stamp,
            "seed": seed, "corpus": {k: v for k, v in manifest.items() if k != "expected_top10"},
            "python": platform.python_version()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft's sources (src/main/scala/graft) are not in this checkout")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    os.makedirs(WORK, exist_ok=True)
    cp, src_stamp = build()
    DEADLINE[0] = time.time() + RUN_LIMIT_S

    args = ["run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    if a.workload == "batch_hour":
        data = batch_corpus(cp, a.seed)
    else:
        data = speed_inputs(a.seed)
        manifest = {"seed": a.seed, "generator": "speedgen.py"}
        args += ["--python", sys.executable, "--gen", os.path.join(HERE, "speedgen.py")]
    run_dir = os.path.join(WORK, "run", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    rec_path = os.path.join(run_dir, "record.json")
    args += ["--data", data, "--work", run_dir, "--out", rec_path]
    jvm_log = os.path.join(run_dir, "jvm.log")
    code = java(cp, args, remaining(), jvm_log)
    if code != 0 or not os.path.exists(rec_path):
        fail(f"{a.workload} run aborted (exit {code}):\n{tail(jvm_log)}")
    rec = json.load(open(rec_path))
    if a.workload == "batch_hour":
        manifest = json.load(open(os.path.join(data, "manifest.json")))

    m = dict(rec["metrics"])
    layers = dict(rec["layers"])
    attempted, failed = rec["attempted"], len(rec["failures"])
    aliases = {}
    if a.workload == "batch_hour":
        errors = check_batch(rec, manifest)
        aliases = {"window_p50_s": m["op_p50_s"], "backfill_s": rec["outputs"]["backfill_s"]}
    else:
        s = speed_analysis(rec)
        errors = s["errors"]
        attempted += s["files"]
        failed += s["missing_files"]
        m.update({"op_p50_s": s["stream_lag_p50_s"], "tail_op_s": s["stream_lag_p90_s"],
                  "throughput_per_s": s["stream_eps"]})
        aliases = {k: s[k] for k in ("stream_lag_p50_s", "stream_lag_p90_s", "stream_eps")}
        layers.update({k: s[k] for k in ("gen.lateness_s", "streaming.backlog_files")})
    errors += [f"{k} was not measured" for k, v in m.items()
               if v is None or v != v or v in (float("inf"), float("-inf"))]
    failed += len(errors)
    attempted += len(errors)
    correct = not errors and not rec["failures"]

    record = {"workload": a.workload, "trace": a.trace, "seconds": a.seconds,
              "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
              "stamp": stamp_env(a.seed, manifest, src_stamp, rec),
              "metrics": m, "aliases": aliases, "layers": layers,
              "samples": {k: v for k, v in rec["outputs"].items()
                          if k in ("window_s", "backfills_s")},
              "setup_session_s": rec["setup_session_s"],
              "heap_retained_mb": rec["heap_retained_mb"], "attempted": attempted,
              "failed": failed, "failures": rec["failures"], "errors": errors}
    units = {e["name"]: e["unit"] for e in spec["end_to_end"] + spec["per_layer"]}
    if a.trace:
        plain = [json.load(open(f)) for f in glob.glob(os.path.join(WORK, "records", "*.json"))]
        plain = [r for r in plain if r["workload"] == a.workload and r["trace"] == 0
                 and r["failed"] == 0 and r["stamp"]["source_hash"] == src_stamp]
        record["tracing_overhead"] = {
            k: v - statistics.median(r["metrics"][k] for r in plain) for k, v in m.items()
        } if plain else "no untraced run of this code and workload in this checkout"
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    with open(os.path.join(WORK, "records", f"{int(time.time() * 1000)}-{a.workload}"
                           f"-{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    for e in rec["failures"]:
        print(f"failed op {e['op']}: {e['class']}: {e['message']}")
    for e in errors:
        print(f"wrong result: {e}")
    print(f"workload {a.workload} seed {a.seed}: {attempted} ops, {failed} failed, "
          f"error_rate {failed / max(attempted, 1):.4f} failed/attempted")
    for k, v in sorted(m.items()):
        print(f"  {k} = {v} {units.get(k, '')}")
    for k, v in sorted(aliases.items()):
        print(f"  {k} = {v} {'events/s' if k == 'stream_eps' else 's'}")
    if a.trace:
        for k, v in sorted(layers.items()):
            print(f"  {k} = {v} {units.get(k, '')}")
        print(f"  tracing overhead: {record['tracing_overhead']}")
    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = layers if a.trace else m
    metrics = {e["name"]: {"value": values.get(e["name"], 0.0), "unit": e["unit"]}
               for e in names}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
