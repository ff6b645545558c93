"""Seeded input generator: the same seed and spec give byte-identical files.

Every random choice draws from one ``numpy.random.Generator`` seeded
with the run's seed, so a workload's inputs (document lengths, which
source and lang each document gets, exact and near-duplicate injection,
shard assignment, embeddings, and the query phrases) are a pure
function of the seed. The amounts that set a workload's cost (document
count, source and lang shares, shard sizes) come from the spec alone,
so two seeds differ in content, not in how much work they make.

The vocabulary keeps the 31 words of the repository's test corpus, so
the registry's phrases, needles and regex patterns still match, plus a
Zipf-distributed tail of synthetic words. The tail lets the number of
distinct n-grams grow with corpus size, where the fixture words alone
cap the trigram space near 30k.
"""

from __future__ import annotations

import gzip
import json
import os
from dataclasses import dataclass

import numpy as np

FIXTURE_WORDS = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch", "dup",
]
SOURCES = [f"src{i}" for i in range(20)]
LANGS = ["en", "de", "fr", "es", "zh"]
DIM = 64


@dataclass(frozen=True)
class CorpusSpec:
    n_docs: int
    mean_tokens: int
    tail_words: int  # distinct synthetic words beyond the fixture's
    tail_share: float  # share of tokens drawn from the Zipf tail
    exact_dup_rate: float  # docs that copy an earlier doc verbatim
    near_dup_rate: float  # docs that copy an earlier doc with one edit
    n_shards: int = 1
    n_vectors: int = 0
    vec_dup_rate: float = 0.0  # vectors that are a perturbed earlier one


def _tail_vocab(n: int) -> list[str]:
    # letters only, so \b-anchored and [a-z] patterns see ordinary words
    letters = "bcdfghjklmnpqrstvwxz"
    out = []
    for i in range(n):
        w, j = "", i
        for _ in range(3):
            w += letters[j % 20]
            j //= 20
        out.append("q" + w + "o" + letters[j % 20])
    return out


def _deal(rng: np.random.Generator, n: int, k: int) -> np.ndarray:
    """n labels in 0..k-1, as even as n allows, in a seeded order."""
    return rng.permutation(np.arange(n) % k)


def make_documents(spec: CorpusSpec, rng: np.random.Generator) -> dict:
    """Columns doc_id, text, lang, source, n_chars (the ``documents``
    table shape of the repository's test data)."""
    vocab = np.array(FIXTURE_WORDS + _tail_vocab(spec.tail_words), dtype=object)
    nfix = len(FIXTURE_WORDS)
    ranks = np.arange(1, spec.tail_words + 1, dtype=np.float64)
    tail_p = 1.0 / ranks**1.1
    tail_p /= tail_p.sum()

    lens = np.clip(
        rng.lognormal(np.log(spec.mean_tokens), 0.5, spec.n_docs), 3, 8 * spec.mean_tokens
    ).astype(np.int64)
    total = int(lens.sum())
    from_tail = rng.random(total) < spec.tail_share
    toks = rng.integers(0, nfix, total)
    toks[from_tail] = nfix + rng.choice(spec.tail_words, int(from_tail.sum()), p=tail_p)
    words = vocab[toks]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(spec.n_docs)]

    # duplicates copy a doc from the first half, so the original precedes it
    kind = rng.random(spec.n_docs)
    src_idx = rng.integers(0, max(1, spec.n_docs // 2), spec.n_docs)
    edit_pos = rng.random(spec.n_docs)
    edit_tok = rng.integers(0, nfix, spec.n_docs)
    for i in range(spec.n_docs // 2, spec.n_docs):
        if kind[i] < spec.exact_dup_rate:
            texts[i] = texts[src_idx[i]]
        elif kind[i] < spec.exact_dup_rate + spec.near_dup_rate:
            t = texts[src_idx[i]].split(" ")
            t[int(edit_pos[i] * len(t))] = FIXTURE_WORDS[edit_tok[i]]
            texts[i] = " ".join(t)

    # every source and lang holds the same share, dealt out at random: a
    # seed changes which documents a slice holds, not how many, so the
    # per-source work (src0 is the contamination eval set) is seed-stable
    source = np.array(SOURCES, dtype=object)[_deal(rng, spec.n_docs, len(SOURCES))]
    lang = np.array(LANGS, dtype=object)[_deal(rng, spec.n_docs, len(LANGS))]
    return {
        "doc_id": np.arange(spec.n_docs, dtype=np.int64),
        "text": texts,
        "lang": list(lang),
        "source": list(source),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def make_embeddings(spec: CorpusSpec, rng: np.random.Generator) -> dict:
    """Columns vec_id, embedding (float32[64]), label. Isotropic
    vectors, plus a seeded share that perturb an earlier vector so the
    pair and kNN operators have true near duplicates to find."""
    n = spec.n_vectors
    vecs = rng.standard_normal((n, DIM)).astype(np.float32)
    dup = rng.random(n) < spec.vec_dup_rate
    dup[: n // 2] = False
    origin = rng.integers(0, max(1, n // 2), n)
    noise = rng.standard_normal((n, DIM)).astype(np.float32) * np.float32(0.15)
    vecs[dup] = vecs[origin[dup]] + noise[dup]
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": [row for row in np.round(vecs, 4)],
        "label": rng.integers(0, 10, n).astype(np.int32),
    }


def make_phrases(rng: np.random.Generator, n: int) -> list[str]:
    """Query phrases: fixture unigrams, bigrams and trigrams, plus one
    that cannot occur (a zero-count row, as ES reports it)."""
    out = []
    for i in range(n - 1):
        k = 1 + i % 3
        out.append(" ".join(rng.choice(FIXTURE_WORDS[:30], k)))
    return out + ["zzz qqq"]


def write_parquet(cols: dict, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    arrays = {}
    for k, v in cols.items():
        if k == "embedding":
            arrays[k] = pa.array([r.tolist() for r in v], type=pa.list_(pa.float32()))
        else:
            arrays[k] = pa.array(v)
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(arrays), os.path.join(path, "part-0.parquet"))


def write_jsonl_shards(
    cols: dict, out_dir: str, n_shards: int, rng: np.random.Generator
) -> list[str]:
    """Gzip JSONL shards in the canonical document shape (``id`` is a
    string). Documents are dealt to equal-sized shards at random; within
    a shard they stay in id order, so keep-first dedup has a defined first."""
    os.makedirs(out_dir, exist_ok=True)
    shard = _deal(rng, len(cols["doc_id"]), n_shards)
    paths = []
    for s in range(n_shards):
        path = os.path.join(out_dir, f"shard-{s:04d}.jsonl.gz")
        lines = [
            json.dumps(
                {
                    "id": str(int(cols["doc_id"][i])),
                    "text": cols["text"][i],
                    "source": cols["source"][i],
                    "lang": cols["lang"][i],
                }
            )
            for i in np.flatnonzero(shard == s)
        ]
        with open(path, "wb") as raw, gzip.GzipFile(
            filename="", mode="wb", fileobj=raw, mtime=0, compresslevel=6
        ) as gz:
            gz.write(("\n".join(lines) + "\n").encode())
        paths.append(path)
    return paths


def corpus_facts(cols: dict) -> dict:
    """The figures BENCHMARK.json states for a workload's corpus."""
    texts = cols["text"]
    distinct = set()
    for t in texts:
        distinct.update(t.split(" "))
    return {
        "docs": len(texts),
        "text_bytes": int(sum(len(t.encode()) for t in texts)),
        "distinct_tokens": len(distinct),
        "distinct_texts": len(set(texts)),
    }
