"""Open-loop event generator for the speed_layer workload.

One process, one thread. Every tick (due at start + k / RATE) it writes
one small parquet file of hashtag events into the year=/month=/day=/hour=
layout under --out: written under a temporary name, then renamed in, so
the stream never sees a partial file. Each event is stamped with its
creation time; a few are stamped up to OUT_OF_ORDER_S earlier, which is
inside the stream's one-second watermark, so none may be dropped.

It logs one JSON line per file (path, newest stamp, events, when it was
due and when it landed) and, last, the exact count of every
(window start, hashtag) it wrote, for the checker.

  python3 speedgen.py --out DIR --seed N --seconds S --log FILE
  python3 speedgen.py --warm DIR --seed N      # three files, for warm-up
"""
import argparse
import collections
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

RATE = 5            # files per second
EVENTS = 200        # events per file
TAGS = 2000
OUT_OF_ORDER = 0.03  # share of events stamped early
OUT_OF_ORDER_S = 0.6
WINDOW_US = 2_000_000


def tag_names(seed):
    ranks = np.arange(1, TAGS + 1)
    p = 1.0 / ranks ** 1.1
    names = np.array([f"s{(r * 7919 + seed * 104729) % TAGS:04d}" for r in range(TAGS)])
    return names, p / p.sum()


def write_file(out, k, stamps_us, tags):
    newest = int(stamps_us.max())
    hour = time.gmtime(newest / 1e6)
    d = os.path.join(out, time.strftime("year=%Y/month=%m/day=%d/hour=%H", hour))
    os.makedirs(d, exist_ok=True)
    tmp_dir = os.path.join(out, "_tmp")
    os.makedirs(tmp_dir, exist_ok=True)
    tmp = os.path.join(tmp_dir, f"part-{k:06d}.parquet")
    pq.write_table(pa.table({"ts": pa.array(stamps_us, pa.timestamp("us", tz="UTC")),
                             "hashtag": tags}), tmp)
    final = os.path.join(d, f"part-{k:06d}.parquet")
    os.rename(tmp, final)
    return final, newest


def events(rng, names, p, now_us):
    late = rng.random(EVENTS) < OUT_OF_ORDER
    stamps = np.where(late, now_us - (rng.random(EVENTS) * OUT_OF_ORDER_S * 1e6).astype(np.int64),
                      now_us)
    return stamps.astype(np.int64), rng.choice(names, EVENTS, p=p)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out")
    ap.add_argument("--warm")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--log")
    a = ap.parse_args()
    rng = np.random.default_rng(a.seed)
    names, p = tag_names(a.seed)
    if a.warm:
        base = 1_700_000_000_000_000
        for k in range(3):
            write_file(a.warm, k, *events(rng, names, p, base + k * 500_000))
        return
    counts = collections.Counter()
    start = time.time()
    with open(a.log, "w") as log:
        k = 0
        while True:
            due = start + k / RATE
            if due >= start + a.seconds:
                break
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            stamps, tags = events(rng, names, p, time.time_ns() // 1000)
            path, newest = write_file(a.out, k, stamps, tags)
            landed = time.time()
            for s, t in zip(stamps.tolist(), tags.tolist()):
                counts[(s // WINDOW_US * WINDOW_US // 1000, t)] += 1
            log.write(json.dumps({"path": os.path.abspath(path), "newest_ms": newest / 1e3,
                                  "events": EVENTS, "due_ms": due * 1e3,
                                  "landed_ms": landed * 1e3}) + "\n")
            k += 1
        log.write(json.dumps({"counts": [[w, t, n] for (w, t), n in sorted(counts.items())]})
                  + "\n")


if __name__ == "__main__":
    main()
