"""Seeded synthetic document corpus for the corpus-preparation workload.

Written once per seed to parquet with the product's ``documents`` schema
(doc_id, text, lang, source, n_chars). Besides plain English-like
documents the set carries planted cases, recorded by doc id:

- verbatim duplicates: exact copies of an earlier document;
- near duplicates: copies with one word replaced every 8-14 words, so
  their 3-shingle Jaccard stays near 0.6 while no 16-word span survives;
- shared boilerplate headers on a share of documents;
- short documents below the Gopher minimum of 50 words.

Copies always get a higher doc id than their original, so a keep-lowest
dedup removes the copy.
"""

from __future__ import annotations

import json
import os

import numpy as np

SOURCES = ("web", "news", "forum", "wiki")
FUNCTION_WORDS = ("the", "a", "of", "and", "to", "in", "is", "that", "for", "with")
N_HEADERS = 6
HEADER_WORDS = 20
VERBATIM_SHARE = 0.04
NEAR_SHARE = 0.06
HEADER_SHARE = 0.3
SHORT_SHARE = 0.05


def _vocabulary(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lengths = rng.integers(3, 10, size=n)
    return np.array(["".join(rng.choice(letters, size=k)) for k in lengths])


def _words(rng, vocab, p, k) -> list[str]:
    body = vocab[rng.choice(vocab.size, size=k, p=p)].tolist()
    # a function word every few words keeps the language id on "en"
    for i in range(0, k, 4):
        body[i] = FUNCTION_WORDS[rng.integers(len(FUNCTION_WORDS))]
    return body


def generate(out_dir: str, seed: int, docs: int) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, 20_000)
    p = 1.0 / np.arange(1, vocab.size + 1) ** 0.9
    p /= p.sum()
    headers = [_words(rng, vocab, p, HEADER_WORDS) for _ in range(N_HEADERS)]

    texts: list[str] = []
    verbatim, near, short, headed = [], [], [], []
    for i in range(docs):
        u = rng.random()
        if i > 10 and u < VERBATIM_SHARE:
            texts.append(texts[int(rng.integers(i))])
            verbatim.append(i)
            continue
        if i > 10 and u < VERBATIM_SHARE + NEAR_SHARE:
            words = texts[int(rng.integers(i))].split(" ")
            j = int(rng.integers(4, 8))
            while j < len(words):
                words[j] = vocab[rng.integers(vocab.size)]
                j += int(rng.integers(8, 15))
            texts.append(" ".join(words))
            near.append(i)
            continue
        if rng.random() < SHORT_SHARE:
            words = _words(rng, vocab, p, int(rng.integers(10, 40)))
            short.append(i)
        else:
            words = _words(rng, vocab, p, int(rng.integers(80, 240)))
        if rng.random() < HEADER_SHARE:
            words = headers[int(rng.integers(N_HEADERS))] + words
            headed.append(i)
        texts.append(" ".join(words))

    table = pa.table({
        "doc_id": pa.array(np.arange(docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * docs, pa.string()),
        "source": pa.array([SOURCES[i % len(SOURCES)] for i in range(docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    props = {
        "seed": seed,
        "docs": docs,
        "words": int(sum(t.count(" ") + 1 for t in texts)),
        "planted_verbatim": len(verbatim),
        "planted_near": len(near),
        "planted_short": len(short),
        "boilerplate_headed": len(headed),
        "zipf_s": 0.9,
    }
    with open(os.path.join(out_dir, "planted.json"), "w") as fh:
        json.dump({"verbatim": verbatim, "near": near, "short": short}, fh)
    with open(os.path.join(out_dir, "props.json"), "w") as fh:
        json.dump(props, fh)
    return props


def cached(cache_root: str, seed: int, docs: int) -> tuple[str, dict]:
    from harness import build_once

    final = build_once(os.path.join(cache_root, f"corpus_docs{docs}_seed{seed}"),
                       lambda d: generate(d, seed, docs))
    with open(os.path.join(final, "props.json")) as fh:
        return final, json.load(fh)
