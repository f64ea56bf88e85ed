#!/usr/bin/env python3
"""Generate a k-times scaled copy of the sf0.1 documents/embeddings
tables for local scaling profiles (LlmScalePoint, TierScaleBench).

Scaling model: k INDEPENDENT shards of the same distribution — the way
a real corpus grows — not k literal copies (which would multiply every
shingle's document frequency by k and blow up the d2 join fan-out by
k^2 as a property of the DATA, not the operators).

- documents: shard s gets doc_id += s*1_000_000 and every token tagged
  with the shard id, so shingles never collide across shards: per-shard
  pair structure is identical to sf0.1, df(shingle) stays constant.
- embeddings: shard s gets vec_id += s*10_000_000 and a per-shard
  deterministic permutation + sign-flip of the 64 dims (an orthogonal
  map: norms and in-shard cosines exactly preserved, cross-shard
  cosines decorrelated).

Usage: python3 tools/gen_scale.py [k] [src_dir] [out_dir] [--dense d]

--dense d scales the SAMPLES-PER-SERIES axis of the events table (the
production scrape-cadence shape — the reference's test generators emit
dense per-series cadences): each event is replicated d times at
distinct timestamps spread over the hour after the original, keeping
the series count fixed (the range extends by at most that one hour
past the nominal end). The base fixture averages ~1
sample/series/day, far below the fold-rung crossover; a dense corpus
(e.g. --dense 24 ~= hourly cadence) measures the regime where the
partials tiers actually pay, calibrating the m=1 density gate.
documents/embeddings are unaffected by --dense.
"""
import sys
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

argv = list(sys.argv[1:])
dense = 1
if "--dense" in argv:
    i = argv.index("--dense")
    dense = int(argv[i + 1])
    del argv[i:i + 2]
k = int(argv[0]) if len(argv) > 0 else 10
src = argv[1] if len(argv) > 1 else "/root/testdata/sf0.1"
out = argv[2] if len(argv) > 2 else (
    f"/root/repo/tmpdata/sf0.1x{k}" + (f"d{dense}" if dense > 1 else ""))

import os
os.makedirs(out, exist_ok=True)

docs = pq.read_table(f"{src}/documents.parquet")
doc_ids = docs["doc_id"].to_numpy()
texts = docs["text"].to_pylist()
all_ids, all_texts = [], []
for s in range(k):
    tag = f"s{s}"
    all_ids.append(doc_ids + s * 1_000_000)
    if s == 0:
        all_texts.extend(texts)
    else:
        all_texts.extend(" ".join(f"{w}{tag}" for w in t.split()) for t in texts)
other = {name: pa.concat_arrays([docs[name].combine_chunks()] * k)
         for name in docs.column_names if name not in ("doc_id", "text")}
scaled_docs = pa.table({"doc_id": np.concatenate(all_ids),
                        "text": all_texts, **other})
pq.write_table(scaled_docs, f"{out}/documents.parquet")

emb = pq.read_table(f"{src}/embeddings.parquet")
vec_ids = emb["vec_id"].to_numpy()
V = np.array([np.array(x) for x in emb["embedding"].to_pylist()],
             dtype=np.float32)
labels = emb["label"].to_numpy()
rng = np.random.RandomState(1234)
ids_out, vecs_out, labels_out = [], [], []
for s in range(k):
    ids_out.append(vec_ids + s * 10_000_000)
    if s == 0:
        vecs_out.append(V)
    else:
        perm = rng.permutation(V.shape[1])
        signs = rng.choice([-1.0, 1.0], V.shape[1]).astype(np.float32)
        vecs_out.append(V[:, perm] * signs)
    labels_out.append(labels)
Vs = np.concatenate(vecs_out)
scaled_emb = pa.table({
    "vec_id": np.concatenate(ids_out),
    "embedding": pa.array(list(Vs), type=pa.list_(pa.float32())),
    "label": np.concatenate(labels_out)})
pq.write_table(scaled_emb, f"{out}/embeddings.parquet")

# events: k independent SERIES shards — shard s offsets user_id (one of
# the two series-identity labels) by s*10_000_000, so the series count
# scales k-fold while the time range and per-series cadence stay
# constant. That is how a metrics workload actually grows (more series,
# same retention), and it is the axis the engine's (sig, step) shuffle
# keys scale on. ts/value/event_type are copied verbatim per shard.
ev = pq.read_table(f"{src}/events.parquet")
user_ids = ev["user_id"].to_numpy()
event_ids = ev["event_id"].to_numpy()
ev_other = {name: pa.concat_arrays([ev[name].combine_chunks()] * k)
            for name in ev.column_names if name not in ("user_id", "event_id")}
scaled_ev = pa.table({
    "event_id": np.concatenate([event_ids + s * 100_000_000 for s in range(k)]),
    "user_id": np.concatenate([user_ids + s * 10_000_000 for s in range(k)]),
    **ev_other})
# keep the source column order (the adapter is order-agnostic, but
# diffs against the base table read cleaner)
scaled_ev = scaled_ev.select(ev.column_names)

# --dense: replicate every event d times at distinct timestamps within
# the hour after the original (same series, same 30-day range — only
# the per-series cadence grows). event_id stays unique per replica.
if dense > 1:
    ts = scaled_ev["ts"].to_numpy()  # datetime64
    eid = scaled_ev["event_id"].to_numpy()
    step_ms = max(1, 3_600_000 // dense)
    # replica offset strictly above every SCALED id (next power of 10),
    # not a fixed constant: at k >= ~102 the shard offsets
    # (s*100_000_000) would overlap a fixed 1e10 replica stride and
    # break event_id uniqueness
    rep_off = 10 ** len(str(int(eid.max())))
    parts = []
    for j in range(dense):
        cols = {"ts": ts + np.timedelta64(j * step_ms, "ms"),
                "event_id": eid + j * rep_off}
        parts.append(pa.table({
            name: (pa.array(cols[name]).cast(scaled_ev.schema.field(name).type)
                   if name in cols else scaled_ev[name].combine_chunks())
            for name in scaled_ev.column_names}))
    scaled_ev = pa.concat_tables(parts)

pq.write_table(scaled_ev, f"{out}/events.parquet")
print(f"wrote {out}: {scaled_docs.num_rows} docs, {scaled_emb.num_rows} "
      f"vecs, {scaled_ev.num_rows} events")
