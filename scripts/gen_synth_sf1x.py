"""Generate a synthetic sf1.0-LIKE dataset at /root/synthdata/sf1x for
performance smoke tests only (NOT oracle-comparable — the driver's real
sf1.0 generator is not available). Approximates the driver's scaling:

- documents: keep the 5,000 sf0.1 docs (real near-dup structure) + 45,000
  new docs sampled from the empirical word-unigram and doc-length
  distributions (seeded) — reproduces the ~28k-distinct-3-gram / df~x10
  candidate-volume structure that drives cc_dedup & minhash cost.
- embeddings: keep 2,000 + 18,000 new unit-ish vectors sampled from the
  empirical component distribution (d=64) — drives emb_knn cost (20k x 20k).
- lineitem: 10 replicas with offset order/part/supp keys — drives tpch_q1
  and window_topk scan/agg cost (6M rows).

Usage: python scripts/gen_synth_sf1x.py [--in SF01_DIR] [--out OUT_DIR]
"""
import argparse

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pyarrow as pa
import os

SRC = "/root/testdata/sf0.1"
OUT = "/root/synthdata/sf1x"
ap = argparse.ArgumentParser(description="synthetic sf1.0-like dataset")
ap.add_argument("--in", dest="src", default=SRC, help="sf0.1 input directory")
ap.add_argument("--out", default=OUT, help="output directory")
args = ap.parse_args()
SRC, OUT = args.src, args.out
os.makedirs(OUT, exist_ok=True)
rng = np.random.default_rng(20260822)

# ---------------- documents ----------------
docs = pq.read_table(f"{SRC}/documents.parquet").to_pandas()
assert docs.doc_id.is_unique, "input doc_ids are not unique"
all_words = []
lengths = []
for txt in docs.text:
    w = txt.split()
    all_words.extend(w)
    lengths.append(len(w))
vocab, counts = np.unique(np.array(all_words), return_counts=True)
probs = counts / counts.sum()
lengths = np.array(lengths)
langs = docs.lang.to_numpy()
sources = docs.source.to_numpy()

n_new = 45_000
id_base = int(docs.doc_id.max()) + 1
new_rows = []
lens = rng.choice(lengths, size=n_new)
for i in range(n_new):
    L = int(lens[i])
    words = rng.choice(vocab, size=L, p=probs)
    text = " ".join(words)
    new_rows.append((id_base + i, text, langs[i % len(langs)],
                     sources[i % len(sources)], len(text)))
new = pd.DataFrame(new_rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
new["n_chars"] = new["n_chars"].astype("int64")
out_docs = pd.concat([docs, new], ignore_index=True)
pq.write_table(pa.Table.from_pandas(out_docs, preserve_index=False),
               f"{OUT}/documents.parquet")
print("documents:", len(out_docs))

# ---------------- embeddings ----------------
emb = pq.read_table(f"{SRC}/embeddings.parquet").to_pandas()
d = len(emb.embedding.iloc[0])
base = np.array(emb.embedding.tolist(), dtype=np.float32)
n_new_e = 18_000
idx = rng.integers(0, len(base), size=n_new_e)
noise = rng.normal(0, base.std(), size=(n_new_e, d)).astype(np.float32)
newv = base[idx] * 0.3 + noise
labels = emb.label.to_numpy()
new_e = pd.DataFrame({
    "vec_id": np.arange(len(base), len(base) + n_new_e, dtype=np.int64),
    "embedding": list(newv),
    "label": labels[idx],
})
out_emb = pd.concat([emb, new_e], ignore_index=True)
schema = pa.schema([("vec_id", pa.int64()),
                    ("embedding", pa.list_(pa.float32())),
                    ("label", pa.int32())])
pq.write_table(pa.Table.from_pandas(out_emb, schema=schema, preserve_index=False),
               f"{OUT}/embeddings.parquet")
print("embeddings:", len(out_emb))

# ---------------- lineitem ----------------
li = pq.read_table(f"{SRC}/lineitem.parquet")
n = li.num_rows
frames = []
lp = li.to_pandas()
okey_span = lp.l_orderkey.max() + 1
pkey_span = lp.l_partkey.max() + 1
skey_span = lp.l_suppkey.max() + 1
for r in range(10):
    c = lp.copy()
    if r:
        c["l_orderkey"] = c["l_orderkey"] + r * okey_span
        c["l_partkey"] = c["l_partkey"] + r * pkey_span
        c["l_suppkey"] = c["l_suppkey"] + r * skey_span
    frames.append(c)
out_li = pd.concat(frames, ignore_index=True)
pq.write_table(pa.Table.from_pandas(out_li, preserve_index=False),
               f"{OUT}/lineitem.parquet", row_group_size=1_000_000)
print("lineitem:", len(out_li))
print("done ->", OUT)
