"""Seeded input generator for the benchmark.

Every input a workload feeds the engine comes from here, and only from the
workload name and the seed: the same pair always yields byte-identical
parquet files. The corpus is drawn from a Zipf vocabulary of tens of
thousands of pronounceable lowercase words (so the reference normalizer and
the portable tokenizer split it identically), with log-normal document
lengths, and with planted shares of

  * exact duplicates  -- verbatim copies of an earlier document,
  * near duplicates   -- copies of an earlier document with ~5% of tokens
                         replaced, so their 3-gram Jaccard stays near 0.75,
  * shared spans      -- one of a small pool of 61-token passages pasted
                         into an otherwise fresh document.

perfbench/README.md gives the source of each parameter below, or says that
it was chosen and why.

Append batches for the admission op carry their own planted exact and near
copies of snapshot documents; their ids are written to ``truth.json`` so the
harness can check the admission flags against ground truth.
"""

import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
SOURCES = ["src0", "src1", "src2", "src3", "src4"]
# Zipf-Mandelbrot word frequencies, f(r) ~ 1 / (r + ZIPF_Q) ** ZIPF_S: the
# typical English values (Piantadosi 2014, after Zipf and Mandelbrot).
ZIPF_S = 1.0
ZIPF_Q = 2.7
# Shares of a web crawl that are virtually identical to another page (22.2%)
# and very similar but not identical (29.2% - 22.2%), from Fetterly,
# Manasse and Najork 2003. Snapshots and append batches both use them.
EXACT_SHARE = 0.222
NEAR_SHARE = 0.070
# The 61-word sentence that Lee et al. 2022 found repeated over 60,000
# times in C4; the span share and pool size are chosen (see the README).
SPAN_TOKENS = 61
SPAN_SHARE = 0.08
SPAN_POOL = 24
NEAR_EDIT_RATE = 0.05

# Sizes per workload, chosen to fit the run budget: `tfidf-batch` is sized
# so one batch op is seconds of data work on a 4-core box; `curate-append`
# keeps the snapshot small, so the pair joins, closure rounds and store
# probes dominate instead of scanning. Append batch 0 is the admission's
# warm-up input, batch 1 the measured one.
PROFILES = {
    "tfidf-batch": dict(docs=4000, mean_len=110, vocab=40000, vecs=2000, batches=2, batch_docs=200),
    "curate-append": dict(docs=1200, mean_len=90, vocab=30000, vecs=2000, batches=2, batch_docs=200),
}

_CONS = "bcdfghjklmnprstvz"
_VOWS = "aeiou"


def vocabulary(size, rng):
    """`size` distinct lowercase words; frequent ranks get short words."""
    syll = np.array([c + v for c in _CONS for v in _VOWS])
    rng.shuffle(syll)
    n = len(syll)
    words = []
    for rank in range(size):
        k = rank
        parts = []
        # 1 syllable for the top ranks, 2 for the next n*n, 3 beyond
        width = 1 if rank < n else (2 if rank < n + n * n else 3)
        for _ in range(width):
            parts.append(syll[k % n])
            k //= n
        words.append("".join(parts))
    # each width class enumerates distinct digit strings and the classes
    # differ in length, so words never collide
    assert len(set(words)) == size, "vocabulary words collide"
    return np.array(words, dtype=object)


def zipf_probs(size, s=ZIPF_S, q=ZIPF_Q):
    p = 1.0 / np.power(np.arange(size, dtype=np.float64) + q, s)
    return p / p.sum()


class _Drawer:
    def __init__(self, rng, vocab, probs):
        self.rng, self.vocab = rng, vocab
        self.cdf = np.cumsum(probs)
        self.cdf[-1] = 1.0

    def tokens(self, n):
        idx = np.searchsorted(self.cdf, self.rng.random(n), side="right")
        return list(self.vocab[idx])


def _lengths(rng, n, mean):
    sigma = 0.6
    raw = rng.lognormal(math.log(mean) - sigma * sigma / 2, sigma, n)
    return np.clip(raw, 8, 8 * mean).astype(np.int64)


def _near_copy(rng, draw, toks):
    out = list(toks)
    hits = np.nonzero(rng.random(len(out)) < NEAR_EDIT_RATE)[0]
    repl = draw.tokens(len(hits))
    for i, w in zip(hits, repl):
        out[i] = w
    return out


def _corpus(rng, draw, n, mean_len, span, spans, first_id, pool):
    """`n` documents; plants copy from `pool` (earlier token lists) or from
    documents made earlier in this call. Returns (token lists, kinds, parents)."""
    lens = _lengths(rng, n, mean_len)
    kinds = rng.choice(4, size=n, p=[1 - EXACT_SHARE - NEAR_SHARE - span, EXACT_SHARE,
                                     NEAR_SHARE, span])
    docs, kind_names, parents = [], [], []
    for i in range(n):
        k = kinds[i]
        have = len(pool) + len(docs)
        if k in (1, 2) and have > 0:
            j = int(rng.integers(have))
            src = pool[j] if j < len(pool) else docs[j - len(pool)]
            parent = j if j < len(pool) else first_id + j - len(pool)
            toks = list(src) if k == 1 else _near_copy(rng, draw, src)
            docs.append(toks)
            kind_names.append("exact" if k == 1 else "near")
            parents.append(parent)
            continue
        toks = draw.tokens(int(lens[i]))
        if k == 3:
            sp = spans[int(rng.integers(len(spans)))]
            at = int(rng.integers(len(toks) + 1))
            toks = toks[:at] + sp + toks[at:]
            kind_names.append("span")
        else:
            kind_names.append("fresh")
        docs.append(toks)
        parents.append(-1)
    return docs, kind_names, parents


def _grams(toks):
    return {tuple(toks[i:i + 3]) for i in range(len(toks) - 2)}


def _jaccard(a, b):
    ga, gb = _grams(a), _grams(b)
    return len(ga & gb) / max(1, len(ga | gb))


def _doc_table(ids, docs, rng):
    texts = [" ".join(t) for t in docs]
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(ids), pa.string()),
        "source": pa.array([SOURCES[int(i)] for i in rng.integers(len(SOURCES), size=len(ids))],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n):
    centers = rng.normal(0.0, 1.0, (16, DIM))
    labels = rng.integers(16, size=n)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * DIM + 1, DIM), pa.int32()), flat),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    })


def generate(workload, seed, out_dir):
    """Write the workload's inputs for `seed` under `out_dir` and return a
    summary of what was generated (counts, bytes, planted shares)."""
    prof = PROFILES[workload]
    rng = np.random.default_rng([seed, sorted(PROFILES).index(workload)])
    vocab = vocabulary(prof["vocab"], rng)
    draw = _Drawer(rng, vocab, zipf_probs(prof["vocab"]))
    spans = [draw.tokens(SPAN_TOKENS) for _ in range(SPAN_POOL)]
    os.makedirs(out_dir, exist_ok=True)

    n = prof["docs"]
    docs, kinds, _ = _corpus(rng, draw, n, prof["mean_len"], SPAN_SHARE, spans, 0, [])
    table = _doc_table(list(range(n)), docs, rng)
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(_embeddings(rng, prof["vecs"]), os.path.join(out_dir, "embeddings.parquet"))

    batches = []
    next_id = n
    for b in range(prof["batches"]):
        m = prof["batch_docs"]
        bdocs, bkinds, bparents = _corpus(rng, draw, m, prof["mean_len"], 0.0, spans, next_id, docs)
        ids = list(range(next_id, next_id + m))
        pq.write_table(_doc_table(ids, bdocs, rng),
                       os.path.join(out_dir, f"append_{b}.parquet"))
        rows = list(zip(ids, bkinds, bparents, bdocs))
        batches.append({
            "exact": [i for i, k, p, _ in rows if k == "exact" and p < n],
            # only copies whose 3-gram Jaccard clears the 0.5 bar with margin
            # (an edit in a very short document can sink it below the bar)
            "near": [i for i, k, p, t in rows
                     if k == "near" and p < n and _jaccard(docs[p], t) >= 0.7],
            "fresh": [i for i, k, _, _ in rows if k == "fresh"],
            # the admission leaves its benchmark split (doc_id % 53 == 0) out
            "admitted": sum(1 for i in ids if i % 53 != 0),
        })
        next_id += m

    n_tokens = sum(len(t) for t in docs)
    summary = {
        "workload": workload,
        "seed": seed,
        "documents": n,
        "tokens": n_tokens,
        "bytes": int(sum(table.column("n_chars").to_pylist())),
        "vocabulary": prof["vocab"],
        "distinct_terms": len({w for t in docs for w in t}),
        "exact_share": kinds.count("exact") / n,
        "near_share": kinds.count("near") / n,
        "span_share": kinds.count("span") / n,
        "distinct_texts": len(set(table.column("text").to_pylist())),
        "embeddings": prof["vecs"],
        "append_batches": len(batches),
        "append_docs": prof["batch_docs"],
    }
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump({"summary": summary, "batches": batches}, f)
    return summary

