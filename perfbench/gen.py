#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark.

The tables are the sf0.01 fixture, checked in under data/sf0.01 and read as
they are. Everything else a run feeds the engine comes from here and from the
seed alone:

  batch_queries.json      the seeded order over the read-only query mix
  index_ops.jsonl         the index_serving probe loop: ANN / filtered ANN /
                          MaxSim query vectors near fixture embeddings, BM25
                          terms from the rare and common df bands of the
                          corpus, and seeded corpus changes; every fetch and
                          CDF read carries the answer a plain model of the
                          corpus expects
  manifest.json           seed plus the sha256 of every file above and of
                          the fixture tables

The same seed gives byte-identical files (`--selftest` pins that).

    python3 perfbench/gen.py --seed 7 --out <dir>
    python3 perfbench/gen.py --selftest
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import sys
import tempfile
import zlib

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = os.path.join(HERE, "data", "sf0.01")
DIM = 64
# Rare tail for seeded documents: corpus changes bring low-df terms that the
# fixture's 31-word vocabulary does not have.
RARE = [f"term{i:03d}" for i in range(300)]

# The read-only batch mix: relational queries (scan, joins, aggregates, the
# t-digest and HLL sketch kernels, runtime filters) and curation queries
# (containment and embedding dedup, substring dedup, tf-idf). None writes a
# store or builds an index.
BATCH_MIX = [
    "q_scan_pushdown", "q_join_star5", "q_join_range_bucketed", "q_join_asof_native",
    "q_agg_q1", "q_tdigest", "q_agg_hll_sketch", "q_runtime_filter",
    "q_dedup_contain", "q_dedup_embcos_lsh", "q_substr_dedup", "q_tfidf_terms",
]
BATCH_ROUNDS = 200

def unit_vectors(rng, n):
    v = rng.standard_normal((n, DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def vec_list(v):
    return [round(float(x), 6) for x in v]


# ------------------------------------------------------------ index_serving
# One block: probes, document fetches and corpus writes in a fixed order with
# fixed sizes (the seed draws their contents), then a refresh of every index,
# a CDF read of the block's changes and a maintenance CALL. A fixed shape
# keeps runs of different seeds measuring the same work; the first use of
# each op kind always lands on the same slot.
INDEX_BLOCK = ["ann", "doc_append", "bm25_or", "fetch", "maxsim", "doc_upsert", "ann_filtered",
               "vec_stream", "bm25_topn", "doc_delete", "fetch", "vec_delete", "ann"]
INDEX_BLOCKS = 8
FIRST_CHECK_VEC = 20  # vec_ids below this stay put: the checks query them


def text_crc(text):
    """Digest term of a document; Spark's crc32(text) gives the same value."""
    return zlib.crc32(text.encode("utf-8"))


def random_doc(rng, words):
    ws = [words[j] for j in rng.integers(0, len(words), int(rng.integers(10, 100)))]
    ws.append(RARE[int(rng.integers(0, len(RARE)))])
    return " ".join(ws)


def df_bands(docs):
    """(common, rare) terms of a corpus: df above a quarter of the documents,
    and df at most a tenth of them."""
    df = {}
    for t in docs.values():
        for w in set(t.split()):
            df[w] = df.get(w, 0) + 1
    n = len(docs)
    return sorted(w for w in df if df[w] > n / 4), sorted(w for w in df if df[w] <= n / 10)


def gen_index_ops(rng, texts, emb):
    # seeded documents draw from the fixture's own vocabulary
    words = sorted({w for t in texts for w in t.split()})
    docs = dict(enumerate(texts))
    vec_ids = set(range(len(emb)))
    next_doc, next_vec = len(texts), len(emb)

    def corpus_digest():
        return [len(docs), sum(docs), sum(text_crc(t) for t in docs.values())]

    ops = []
    for b in range(INDEX_BLOCKS):
        start = corpus_digest()
        # df bands of the corpus the indexes hold at the block start
        common, rare = df_bands(docs)
        for kind in INDEX_BLOCK:
            op = {"i": len(ops), "kind": kind}
            if kind in ("ann", "ann_filtered"):
                base = emb[rng.integers(0, len(emb), 4)] + 0.05 * rng.standard_normal((4, DIM))
                op["vecs"] = [vec_list(v) for v in base.astype(np.float32)]
                if kind == "ann_filtered":
                    op["label"] = int(rng.integers(0, 10))
            elif kind == "bm25_or":
                # one term from the common df band, one from the rare band
                op["terms"] = sorted([str(rng.choice(common)), str(rng.choice(rare))])
            elif kind == "maxsim":
                # two multi-vector queries of four tokens each
                base = emb[rng.integers(0, len(emb), 8)] + 0.05 * rng.standard_normal((8, DIM))
                op["vecs"] = [vec_list(v) for v in base.astype(np.float32)]
            elif kind == "fetch":
                live = sorted(docs)
                ids = sorted(int(k) for k in rng.choice(live, 10, replace=False))
                ids.append(next_doc + 1000)  # one id that does not exist
                hit = [k for k in ids if k in docs]
                op.update(ids=ids, expect=[len(hit), sum(hit), sum(text_crc(docs[k]) for k in hit)])
            elif kind == "doc_append":
                rows = [[k, random_doc(rng, words)] for k in range(next_doc, next_doc + 6)]
                next_doc += len(rows)
                docs.update(dict(rows))
                op["rows"] = rows
            elif kind == "doc_upsert":
                live = sorted(docs)
                keys = sorted(int(k) for k in rng.choice(live, 6, replace=False))
                keys += list(range(next_doc, next_doc + 2))
                next_doc = keys[-1] + 1
                rows = [[k, random_doc(rng, words)] for k in keys]
                docs.update(dict(rows))
                op["rows"] = rows
            elif kind == "doc_delete":
                lo = int(rng.integers(0, next_doc - 10))
                hi = lo + 3
                for k in range(lo, hi + 1):
                    docs.pop(k, None)
                op.update(lo=lo, hi=hi)
            elif kind == "vec_stream":
                live = sorted(k for k in vec_ids if k >= FIRST_CHECK_VEC)
                keys = sorted(int(k) for k in rng.choice(live, 2, replace=False))
                keys += list(range(next_vec, next_vec + 6))
                next_vec = keys[-1] + 1
                vec_ids.update(keys)
                op["rows"] = [[k, k % 10, vec_list(v)] for k, v in zip(keys, unit_vectors(rng, len(keys)))]
            elif kind == "vec_delete":
                lo = int(rng.integers(FIRST_CHECK_VEC, next_vec - 10))
                hi = lo + 3
                vec_ids.difference_update(range(lo, hi + 1))
                op.update(lo=lo, hi=hi)
            ops.append(op)
        end = corpus_digest()
        ops.append({"i": len(ops), "kind": "refresh"})
        ops.append({"i": len(ops), "kind": "cdf",
                    "expect": [end[0] - start[0], end[2] - start[2]]})
        ops.append({"i": len(ops), "kind": "maintain" if b % 2 == 0 else "compact_if",
                    "digest": end, "vectors": len(vec_ids)})
    return ops


def fixture():
    """Texts and embeddings of the fixture, in key order."""
    d = pq.read_table(f"{TABLES}/documents.parquet", columns=["doc_id", "text"]).to_pydict()
    texts = [t for _, t in sorted(zip(d["doc_id"], d["text"]))]
    assert sorted(d["doc_id"]) == list(range(len(texts))), "doc_id is not 0..n-1"
    e = pq.read_table(f"{TABLES}/embeddings.parquet", columns=["vec_id", "embedding"]).to_pydict()
    emb = np.array([v for _, v in sorted(zip(e["vec_id"], e["embedding"]))], dtype=np.float32)
    assert sorted(e["vec_id"]) == list(range(len(emb))) and emb.shape[1] == DIM
    return texts, emb


def sha256(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def generate(seed, out, workload=None):
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    if workload in (None, "batch_queries"):
        order = []
        shuffler = random.Random(seed)
        for _ in range(BATCH_ROUNDS):
            r = list(BATCH_MIX)
            shuffler.shuffle(r)
            order += r
        with open(f"{out}/batch_queries.json", "w") as f:
            json.dump({"mix": BATCH_MIX, "order": order}, f)
    if workload in (None, "index_serving"):
        texts, emb = fixture()
        with open(f"{out}/index_ops.jsonl", "w") as f:
            for op in gen_index_ops(np.random.default_rng([seed, 2]), texts, emb):
                f.write(json.dumps(op, separators=(",", ":")) + "\n")
    digests = {n: sha256(f"{out}/{n}") for n in sorted(os.listdir(out))}
    tables = {n: sha256(f"{TABLES}/{n}") for n in sorted(os.listdir(TABLES))}
    with open(f"{out}/manifest.json", "w") as f:
        json.dump({"seed": seed, "sha256": digests, "tables": tables}, f, indent=1, sort_keys=True)
    return digests


def selftest():
    """Same seed -> byte-identical inputs; another seed -> different ones."""
    scratch = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".bench_build")
    os.makedirs(scratch, exist_ok=True)
    base = tempfile.mkdtemp(prefix="gen-selftest-", dir=scratch)
    try:
        a = generate(11, f"{base}/a")
        b = generate(11, f"{base}/b")
        c = generate(12, f"{base}/c")
    finally:
        shutil.rmtree(base, ignore_errors=True)
    assert a == b, "same seed produced different inputs"
    assert all(a[p] != c[p] for p in a), "seed does not reach every input"
    print(f"gen selftest ok: {len(a)} files identical for one seed")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--out")
    ap.add_argument("--workload", help="write only this workload's op files (default: all)")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        selftest()
    elif a.seed is None or not a.out:
        ap.error("--seed and --out are required (or --selftest)")
    else:
        generate(a.seed, a.out, a.workload)


if __name__ == "__main__":
    sys.exit(main())
