"""Seeded input generator for the graft benchmark.

Every input a workload reads is written here, before the workload's JVM
starts, from one ``numpy`` PCG64 stream seeded by ``--seed``. The same
seed and scale give byte-identical parquet files (fixed writer options,
no timestamps in the data or the file metadata).

Layouts (all under one output directory):

cdc_ingest     base.parquet               the corpus the target starts from
               batches/b0001.parquet ...  change batches (upserts; deletes
               come from the stage's TTL ``delete_where``)
               probes/p0000.parquet ...   (probe_id, orig_id, text): near-dup
                                          copies of docs live after batch N
                                          (p0000: after the base corpus)
stream_ingest  files/f0000.parquet ...    arrival files, same shape
dedup_batch    docs.parquet               corpus with planted near-dups
               vectors.parquet            embeddings with planted near-dups
               planted_docs.parquet       (id_a, id_b) planted text pairs
               planted_vecs.parquet       (id_a, id_b) planted vector pairs

``meta.json`` records the seed, scale, row counts and bytes.
"""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes at sf0.1, the scale the benchmark runs at. Quick mode uses sf0.001
# and scales every size by 1/100 (with floors that keep each operator fed).
SF_BASE = 0.1
CDC_BASE_DOCS = 5000     # the base corpus, sized like sf0.1 `documents`
CDC_INSERTS = 240        # new documents per change batch
CDC_UPDATES = 120        # updates per change batch (Zipf toward recent keys)
CDC_NEARDUP_SHARE = 0.1  # share of inserts that copy a live document
# delete_where drops docs untouched for this many batches. The base corpus
# spreads its epochs over the window, so every batch deletes about
# CDC_BASE_DOCS / CDC_TTL_BATCHES old docs from the first batch on, and the
# target stays near its base size.
CDC_TTL_BATCHES = 20
CDC_PROBES = 1000        # near-duplicate probes of live docs, per batch
STREAM_ROWS = 300        # rows per arrival file
DEDUP_DOCS = 2000        # sf0.1 `documents` has 5000; fewer to fit the time budget
DEDUP_VECS = 1000        # sf0.1 `embeddings` has 2000; likewise
DEDUP_DUP_SHARE = 0.1    # planted near-duplicate rate, text and vectors
VEC_DIM = 64
SOURCES = ["src0", "src1", "src2", "src3"]

VOCAB_SIZE = 20000


def vocabulary():
    """A fixed 20000-word vocabulary (independent of the seed)."""
    rng = np.random.Generator(np.random.PCG64(20240101))
    cons = list("bcdfghjklmnprstvwz")
    vows = list("aeiou")
    words = set()
    while len(words) < VOCAB_SIZE:
        n = int(rng.integers(2, 5))
        words.add("".join(cons[rng.integers(len(cons))] + vows[rng.integers(len(vows))]
                          for _ in range(n)))
    return sorted(words)


class TextGen:
    def __init__(self, rng):
        self.rng = rng
        self.vocab = np.array(vocabulary())
        ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
        p = 1.0 / ranks ** 0.8
        self.cdf = np.cumsum(p / p.sum())

    def words(self, n):
        """`n` words drawn from a Zipf(0.8) law over the vocabulary."""
        idx = np.searchsorted(self.cdf, self.rng.random(n), side="right")
        return list(self.vocab[np.minimum(idx, VOCAB_SIZE - 1)])

    def doc(self):
        return " ".join(self.words(int(self.rng.integers(40, 120))))

    def mutate(self, text, n_words):
        """Replace `n_words` words at seeded positions."""
        toks = text.split(" ")
        for pos in self.rng.choice(len(toks), size=min(n_words, len(toks)), replace=False):
            toks[pos] = self.words(1)[0]
        return " ".join(toks)


def write(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, store_schema=False)


def doc_table(ids, texts, sources, epochs):
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        "epoch": pa.array(epochs, pa.int64()),
    })


def scaled(n, scale, floor):
    return max(floor, int(round(n * scale)))


def gen_changes(rng, tg, n_batches, n_ins, n_upd, ttl, out_dir, prefix, first_index,
                probes=0, probe_dir=None, base=0, base_path=None):
    """Change batches over a corpus. With `base`, the corpus starts as that
    many documents (written to `base_path`) whose epochs spread evenly
    over the `ttl` epochs before batch 1; otherwise it starts empty.
    Updates pick live keys with a Zipf skew toward the most recently
    touched; a share of inserts are near-duplicates of a live document.
    The TTL is simulated so updates only target keys the stage's
    delete_where has not removed. With `probes`, the base corpus and each
    batch get that many near-duplicate copies of documents live after
    them (the recall probes of the MinHash index)."""
    os.makedirs(out_dir, exist_ok=True)
    live = {}  # doc_id -> (text, source, epoch)
    next_id = 1
    rows = 0

    def write_probes(b):
        os.makedirs(probe_dir, exist_ok=True)
        live_keys = sorted(live)
        picks = rng.choice(len(live_keys), size=min(probes, len(live_keys)), replace=False)
        origs = [live_keys[i] for i in sorted(picks)]
        write(pa.table({
            "probe_id": pa.array(range(len(origs)), pa.int64()),
            "orig_id": pa.array(origs, pa.int64()),
            "text": pa.array([tg.mutate(live[k][0], 2) for k in origs], pa.string()),
        }), os.path.join(probe_dir, f"p{b:04d}.parquet"))

    if base:
        ids = list(range(1, base + 1))
        texts = [tg.doc() for _ in ids]
        srcs = [SOURCES[rng.integers(len(SOURCES))] for _ in ids]
        epochs = [-ttl + (i * ttl) // base for i in range(base)]
        write(doc_table(ids, texts, srcs, epochs), base_path)
        live = {k: (t, s, e) for k, t, s, e in zip(ids, texts, srcs, epochs)}
        next_id = base + 1
        rows += base
        if probes:
            write_probes(0)
    for b in range(1, n_batches + 1):
        ids, texts, srcs, epochs = [], [], [], []
        keys = sorted(live, key=lambda k: (-live[k][2], -k))
        n_u = min(n_upd, len(keys))
        if n_u:
            ranks = np.arange(1, len(keys) + 1, dtype=np.float64)
            p = 1.0 / ranks ** 1.2
            picks = rng.choice(len(keys), size=n_u, replace=False, p=p / p.sum())
            for i in sorted(picks):
                k = keys[i]
                text, src, _ = live[k]
                ids.append(k)
                texts.append(tg.mutate(text, 1))
                srcs.append(SOURCES[rng.integers(len(SOURCES))])
                epochs.append(b)
        n_i = n_ins + (n_upd - n_u)
        for j in range(n_i):
            k = next_id
            next_id += 1
            if keys and rng.random() < CDC_NEARDUP_SHARE:
                orig = keys[int(rng.integers(len(keys)))]
                texts.append(tg.mutate(live[orig][0], 2))
            else:
                texts.append(tg.doc())
            ids.append(k)
            srcs.append(SOURCES[rng.integers(len(SOURCES))])
            epochs.append(b)
        for k, t, s, e in zip(ids, texts, srcs, epochs):
            live[k] = (t, s, e)
        if ttl:
            for k in [k for k, v in live.items() if v[2] < b - ttl]:
                del live[k]
        write(doc_table(ids, texts, srcs, epochs),
              os.path.join(out_dir, f"{prefix}{b - 1 + first_index:04d}.parquet"))
        rows += len(ids)
        if probes:
            write_probes(b)
    return rows


def gen_cdc(rng, tg, scale, n_batches, out):
    base = scaled(CDC_BASE_DOCS, scale, 200)
    rows = gen_changes(
        rng, tg, n_batches, scaled(CDC_INSERTS, scale, 24), scaled(CDC_UPDATES, scale, 12),
        CDC_TTL_BATCHES, os.path.join(out, "batches"), "b", 1,
        scaled(CDC_PROBES, scale, 30), os.path.join(out, "probes"),
        base, os.path.join(out, "base.parquet"))
    return {"batches": n_batches, "base_docs": base, "rows": rows,
            "ttl_batches": CDC_TTL_BATCHES}


def gen_stream(rng, tg, scale, n_files, out):
    n = scaled(STREAM_ROWS, scale, 30)
    rows = gen_changes(rng, tg, n_files, (2 * n) // 3, n - (2 * n) // 3, 0,
                          os.path.join(out, "files"), "f", 0)
    return {"files": n_files, "rows": rows}


def gen_dedup(rng, tg, scale, out):
    n_docs = scaled(DEDUP_DOCS, scale, 200)
    n_vecs = scaled(DEDUP_VECS, scale, 200)
    n_dup = int(n_docs * DEDUP_DUP_SHARE)
    base = [tg.doc() for _ in range(n_docs - n_dup)]
    texts = list(base)
    planted_docs = []
    for _ in range(n_dup):
        orig = int(rng.integers(len(base)))
        texts.append(tg.mutate(base[orig], 1))
        planted_docs.append((orig, len(texts) - 1))
    # shuffle so planted copies are spread over the id range
    perm = rng.permutation(n_docs)
    pos = np.empty(n_docs, dtype=np.int64)
    pos[perm] = np.arange(n_docs)
    ids = list(range(n_docs))
    texts = [texts[perm[i]] for i in ids]
    srcs = [SOURCES[rng.integers(len(SOURCES))] for _ in ids]
    langs = [["en", "es", "de", "zh"][rng.integers(4)] for _ in ids]
    docs = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(srcs, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    write(docs, os.path.join(out, "docs.parquet"))
    pd = sorted((min(int(pos[a]), int(pos[b])), max(int(pos[a]), int(pos[b])))
                for a, b in planted_docs)
    write(pa.table({"id_a": pa.array([p[0] for p in pd], pa.int64()),
                    "id_b": pa.array([p[1] for p in pd], pa.int64())}),
          os.path.join(out, "planted_docs.parquet"))

    v_dup = int(n_vecs * DEDUP_DUP_SHARE)
    base_v = rng.standard_normal((n_vecs - v_dup, VEC_DIM))
    base_v /= np.linalg.norm(base_v, axis=1, keepdims=True)
    origs = rng.integers(n_vecs - v_dup, size=v_dup)
    dup_v = base_v[origs] + 0.02 * rng.standard_normal((v_dup, VEC_DIM))
    dup_v /= np.linalg.norm(dup_v, axis=1, keepdims=True)
    vecs = np.vstack([base_v, dup_v]).astype(np.float32)
    vperm = rng.permutation(n_vecs)
    vpos = np.empty(n_vecs, dtype=np.int64)
    vpos[vperm] = np.arange(n_vecs)
    vecs = vecs[vperm]
    write(pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(np.zeros(n_vecs, dtype=np.int32), pa.int32()),
    }), os.path.join(out, "vectors.parquet"))
    pv = sorted((min(int(vpos[o]), int(vpos[n_vecs - v_dup + i])),
                 max(int(vpos[o]), int(vpos[n_vecs - v_dup + i])))
                for i, o in enumerate(origs))
    write(pa.table({"id_a": pa.array([p[0] for p in pv], pa.int64()),
                    "id_b": pa.array([p[1] for p in pv], pa.int64())}),
          os.path.join(out, "planted_vecs.parquet"))
    return {"docs": n_docs, "vectors": n_vecs, "planted_docs": len(pd),
            "planted_vecs": len(pv), "rows": n_docs + n_vecs}


def dir_bytes(path):
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def generate(workload, seed, sf, out, units):
    """Write the inputs of `workload` under `out`; returns the meta dict.
    `units` is the number of change batches / arrival files to write."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    tg = TextGen(rng)
    scale = sf / SF_BASE
    if workload == "cdc_ingest":
        meta = gen_cdc(rng, tg, scale, units, out)
    elif workload == "stream_ingest":
        meta = gen_stream(rng, tg, scale, units, out)
    elif workload == "dedup_batch":
        meta = gen_dedup(rng, tg, scale, out)
    else:
        raise ValueError(f"unknown workload {workload}")
    meta.update({"workload": workload, "seed": seed, "sf": sf,
                 "input_bytes": dir_bytes(out)})
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)
    return meta

