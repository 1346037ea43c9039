#!/usr/bin/env python3
"""Adversarial-corpus generator for the cross-engine parity gate.

Builds <outDir> as a copy of an sf directory with `documents` and
`embeddings` replaced by hostile variants that target every known
engine-parity fault line:

  text:  non-BMP code points (UTF-16 surrogate pairs vs UTF-8 runes vs
         grapheme clusters), combining marks, \\x0B vertical tab (in
         Java's \\s but not RE2's), NBSP / NEL / U+2028 / U+3000
         (in NO engine's ASCII \\s), the BPE end-of-word marker U+E000
         embedded in text, BOM, zero-width joiner, quotes/backslashes,
         and cross-doc duplicated 10+-token spans.
  vectors: exact duplicates (cosine ties), vectors mathematically
         equidistant between two stride-init centroids (argmax
         near-ties that round(9) must collapse), tiny magnitudes.

Usage: make_advdata.py [srcSfDir] [outDir]
Then:  java ... graft.Verify <outDir> /tmp/verify_adv
       python3 tools/oracle_check.py <outDir> /tmp/verify_adv
"""
import sys, os, shutil, math
import pyarrow as pa
import pyarrow.parquet as pq

src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "advdata")
os.makedirs(out, exist_ok=True)

for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem"]:
    shutil.copyfile(f"{src}/{t}.parquet", f"{out}/{t}.parquet")

# ---------------------------------------------------------------- events
# hostile event stream: same-timestamp ties (every (ts, event_id)
# tie-break in the window family must resolve identically per engine),
# zero and negative values (decimal paths, CUSUM/EWMA edges), and a
# burst of events in the same microsecond for one hot user
ev = pq.read_table(f"{src}/events.parquet").to_pydict()
ne = len(ev["event_id"])
for i in range(50, 60):          # ten events share one timestamp
    ev["ts"][i] = ev["ts"][50]
for i in range(60, 64):          # same user, same microsecond, burst
    ev["ts"][i] = ev["ts"][60]
    ev["user_id"][i] = ev["user_id"][60]
ev["value"][70] = 0.0
ev["value"][71] = -12.5
ev["value"][72] = 0.01
evschema = pa.schema([pa.field("event_id", pa.int64()),
                      pa.field("ts", pa.timestamp("us")),
                      pa.field("user_id", pa.int64()),
                      pa.field("event_type", pa.string()),
                      pa.field("value", pa.float64()),
                      pa.field("props", pa.string())])
pq.write_table(pa.table({k: ev[k] for k in ["event_id", "ts", "user_id",
                                            "event_type", "value", "props"]},
                        schema=evschema), f"{out}/events.parquet")

# ---------------------------------------------------------------- documents
docs = pq.read_table(f"{src}/documents.parquet").to_pydict()
n = len(docs["doc_id"])

# a clean 12-token span reused across three docs -> substring_dedup fodder
span = "the quick spark stream joins the batch window over a sorted table"

NASTY = [
    # non-BMP: every word carries an astral code point (surrogate pair)
    "\U0001F600 data \U0001D54Apark stream \U0001F600\U0001F600 batch " + span,
    # combining mark vs precomposed: same grapheme, different code points
    "cafe\u0301 latte caf\u00e9 cafe\u0301 mocha " + span,
    # vertical tab: Java \s splits here, RE2 \s does NOT
    "alpha\x0bbeta gamma\x0b\x0bdelta end " + span,
    # NBSP + ideographic space: whitespace to humans, token glue to ASCII \s
    "foo\u00a0bar baz\u3000qux quux " + span,
    # line separator + NEL
    "line1\u2028line2 tail\u0085head mid " + span,
    # the BPE end-of-word marker embedded in raw text
    "pre\ue000post lead\ue000 \ue000trail \ue000 solo " + span,
    # BOM + zero-width joiner
    "\ufeffstart zw\u200dj middle finish " + span,
    # quotes, backslashes, JSON-hostile
    "quote\"back\\slash 'single' `tick` {brace} " + span,
    # tabs/newlines inside text
    "tabbed\ttoken new\nline cr\rreturn formfeed\x0cend " + span,
    # single-char and very long tokens
    "a b c d e " + "x" * 300 + " " + span,
    # whitespace-only and empty-ish
    "   \t\n  ",
    "",
    # high-repetition (repetition filter) with astral chars
    "\U0001F601 ha ha ha ha ha ha ha ha ha ha ha ha " + span,
    # mixed-script
    "\u00fcber stra\u00dfe \u4e2d\u6587 \u0440\u0443\u0441 words " + span,
]

for i, t in enumerate(NASTY):
    # overwrite a block of mid-range docs, keeping ids/sources/langs
    j = 100 + i
    docs["text"][j] = t
    docs["n_chars"][j] = len(t)
# exact duplicate pair (exact dedup + near-dup families)
docs["text"][130] = docs["text"][101]
docs["n_chars"][130] = len(docs["text"][101])
# separator twin: a long doc with ONE inter-token space replaced by
# U+0001. The two tokens around it become one token, so the twin stays
# a 3-shingle Jaccard ~0.93 near-dup of its source (it enters the
# minhash pair report the pair metrics score), yet its token sequence
# differs — a grouping key that joins tokens with U+0001 would wrongly
# score the pair as identical.
twin_src = docs["text"][406]
cut = twin_src.index(" ", len(twin_src) // 2)
docs["text"][140] = twin_src[:cut] + "\u0001" + twin_src[cut + 1:]
docs["n_chars"][140] = len(docs["text"][140])

schema = pa.schema([pa.field("doc_id", pa.int64()),
                    pa.field("text", pa.string()),
                    pa.field("lang", pa.string()),
                    pa.field("source", pa.string()),
                    pa.field("n_chars", pa.int64())])
pq.write_table(pa.table({k: docs[k] for k in
                         ["doc_id", "text", "lang", "source", "n_chars"]},
                        schema=schema), f"{out}/documents.parquet")

# ---------------------------------------------------------------- embeddings
emb = pq.read_table(f"{src}/embeddings.parquet").to_pydict()
m = len(emb["vec_id"])
dim = len(emb["embedding"][0])
stride = max(m // 8, 1)
cent_ids = [i * stride for i in range(8) if i * stride < m]


def unit(v):
    s = math.sqrt(sum(x * x for x in v)) or 1.0
    return [x / s for x in v]


# vectors exactly between two adjacent stride centroids: cosine to both
# is mathematically EQUAL -> the raw-double argmax is a coin flip per
# engine; round(9) + low-cid tie-break must make it deterministic
for k, (a, b) in enumerate(zip(cent_ids, cent_ids[1:])):
    ua, ub = unit(emb["embedding"][a]), unit(emb["embedding"][b])
    mid = [x + y for x, y in zip(ua, ub)]
    emb["embedding"][200 + k] = [float(f) for f in
                                 (pa.array([mid], pa.list_(pa.float32()))[0].as_py())]
# exact duplicate vectors (cosine == 1 ties in ANN ranking)
emb["embedding"][220] = list(emb["embedding"][221])
# tiny-magnitude vector (norm ~1e-6): stresses the normalization path
emb["embedding"][230] = [x * 1e-6 for x in emb["embedding"][230]]

eschema = pa.schema([pa.field("vec_id", pa.int64()),
                     pa.field("embedding", pa.list_(pa.float32())),
                     pa.field("label", pa.int32())])
pq.write_table(pa.table({k: emb[k] for k in ["vec_id", "embedding", "label"]},
                        schema=eschema), f"{out}/embeddings.parquet")

print(f"adversarial data written to {out}: {n} docs, {m} vectors")
