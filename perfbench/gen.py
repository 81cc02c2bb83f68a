"""Seeded input generator for the benchmark workloads.

Everything is drawn from one ``numpy.random.Generator(PCG64(seed))`` per
input family, so the same seed gives the same bytes.  Each ``make_*``
function writes its files under ``out`` and returns the input's
properties (bytes, rows, ...) plus the answers the output checks need.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
_PUNCT = (",", ".", ";", "!", "?", ":")


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _vocab(rng: np.random.Generator, size: int, min_len: int = 3,
           max_len: int = 9) -> list[str]:
    """``size`` distinct lowercase words.  Word ``i`` has
    ``min_len + i % (max_len - min_len + 1)`` letters, so a text drawn by
    word rank has nearly the same byte size for every seed."""
    lens = min_len + np.arange(size) % (max_len - min_len + 1)
    letters = rng.choice(_LETTERS, size=int(lens.sum()))
    ends = np.cumsum(lens).tolist()
    seen: set[str] = set()
    words = []
    for end, ln in zip(ends, lens.tolist()):
        w = letters[end - ln:end].tobytes().decode()
        while w in seen:
            w = rng.choice(_LETTERS, size=ln).tobytes().decode()
        seen.add(w)
        words.append(w)
    return words


def _zipf_ids(rng: np.random.Generator, n: int, vocab: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, vocab + 1, dtype=np.float64) ** s
    return rng.choice(vocab, size=n, p=p / p.sum())


def _write_lines(path: str, body: str) -> int:
    data = body.encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def make_text(out: str, seed: int, n_tokens: int, vocab: int = 20_000,
              n_files: int = 8, zipf_s: float = 1.1) -> dict:
    """Zipf-vocabulary text directory for the word-count job.

    Tokens are vocabulary words, some title-cased or carrying trailing
    punctuation, plus numeric tokens the tokenizer drops.  None of the
    decorations adds a letter, so each token normalizes to its word and
    the exact expected counts are a bincount of the drawn word ids.
    """
    rng = _rng(seed, 1)
    words = _vocab(rng, vocab)
    # variant table: plain, Title, plain+punct, Title+punct, number
    variants = np.array(
        words
        + [w.title() for w in words]
        + [w + _PUNCT[i % len(_PUNCT)] for i, w in enumerate(words)]
        + [w.title() + _PUNCT[i % len(_PUNCT)] for i, w in enumerate(words)]
        + [str(1000 + i) for i in range(vocab)],
        dtype=object)
    ids = _zipf_ids(rng, n_tokens, vocab, zipf_s)
    kind = rng.choice(5, size=n_tokens, p=[0.80, 0.08, 0.06, 0.04, 0.02])
    toks = variants[kind * vocab + ids]
    seps = np.full(n_tokens, " ", dtype=object)
    seps[rng.random(n_tokens) < 1 / 12] = "\n"
    seps[-1] = "\n"
    inter = np.empty(2 * n_tokens, dtype=object)
    inter[0::2] = toks
    inter[1::2] = seps
    line_ends = np.flatnonzero(seps == "\n")
    cuts = line_ends[np.linspace(0, len(line_ends) - 1, n_files + 1).astype(int)[1:]]
    os.makedirs(out, exist_ok=True)
    nbytes, start = 0, 0
    for i, end in enumerate(cuts.tolist()):
        nbytes += _write_lines(os.path.join(out, f"part-{i:03d}.txt"),
                               "".join(inter[2 * start:2 * end + 2].tolist()))
        start = end + 1
    counts = np.bincount(ids[kind < 4], minlength=vocab)
    expected = {words[i]: int(c) for i, c in enumerate(counts.tolist()) if c}
    return {"bytes": nbytes, "rows": int(len(line_ends)), "tokens": n_tokens,
            "distinct_words": len(expected), "counts": expected}


def make_ints(out: str, seed: int, n: int, n_files: int = 8) -> dict:
    """Uniform ints in [0, 2^30), one per line, for the sort job."""
    rng = _rng(seed, 2)
    vals = rng.integers(0, 1 << 30, size=n, dtype=np.int64)
    os.makedirs(out, exist_ok=True)
    nbytes = 0
    for i, part in enumerate(np.array_split(vals, n_files)):
        nbytes += _write_lines(os.path.join(out, f"part-{i:03d}.txt"),
                               "\n".join(map(str, part.tolist())) + "\n")
    return {"bytes": nbytes, "rows": n, "sum": int(vals.sum()),
            "sum_sq": int((vals.astype(np.uint64) ** 2).sum())}


def make_curation(out: str, seed: int, n_docs: int, dup_share: float,
                  low_quality_share: float = 0.1, dim: int = 64,
                  vocab: int = 3000) -> dict:
    """``documents`` + ``embeddings`` parquet with planted near-duplicates.

    A ``dup_share`` of the rows are copies of an earlier good document
    with one word replaced, and their embedding is the original's plus
    small noise (cosine > 0.99).  A ``low_quality_share`` of the rows
    are short digit-heavy documents that the quality filter removes.
    ``planted`` lists each (original, copy) id pair, original first.
    """
    rng = _rng(seed, 3)
    words = np.array(_vocab(rng, vocab) + ["the", "a", "of", "to", "and", "in"],
                     dtype=object)
    n_dup = int(round(n_docs * dup_share))
    n_low = int(round(n_docs * low_quality_share))
    n_good = n_docs - n_dup - n_low
    texts: list[str] = []
    for _ in range(n_good):
        ln = int(rng.integers(20, 60))
        texts.append(" ".join(words[_zipf_ids(rng, ln, len(words), 0.9)].tolist()))
    for _ in range(n_low):
        texts.append(" ".join(str(x) for x in rng.integers(0, 10**6, size=6).tolist()))
    src = rng.choice(n_good, size=n_dup, replace=False)
    for s in src.tolist():
        toks = texts[s].split(" ")
        toks[int(rng.integers(0, len(toks)))] = words[int(rng.integers(0, vocab))]
        texts.append(" ".join(toks))
    # shuffle ids so duplicates are not clustered at the end of the table
    perm = rng.permutation(n_docs).astype(np.int64)
    ids = np.empty(n_docs, dtype=np.int64)
    ids[perm] = np.arange(n_docs, dtype=np.int64)  # row i gets id ids[i]
    vec = rng.standard_normal((n_docs, dim)).astype(np.float32)
    noise = rng.standard_normal((n_dup, dim)).astype(np.float32) * 0.05
    vec[n_good + n_low:] = vec[src] + noise
    planted = sorted((int(min(ids[s], ids[n_good + n_low + j])),
                      int(max(ids[s], ids[n_good + n_low + j])))
                     for j, s in enumerate(src.tolist()))
    os.makedirs(out, exist_ok=True)
    order = np.argsort(ids, kind="stable")
    docs = pa.table({
        "doc_id": pa.array(ids[order]),
        "text": pa.array([texts[i] for i in order.tolist()]),
        "lang": pa.array(np.where(ids[order] % 7 == 0, "de", "en").tolist()),
        "source": pa.array([f"src{i % 5}" for i in ids[order].tolist()]),
        "n_chars": pa.array([len(texts[i]) for i in order.tolist()], type=pa.int64()),
    })
    embs = pa.table({
        "vec_id": pa.array(ids[order]),
        "embedding": pa.array(list(vec[order]), type=pa.list_(pa.float32())),
        "label": pa.array((ids[order] % 10).astype(np.int32)),
    })
    pq.write_table(docs, os.path.join(out, "documents.parquet"))
    pq.write_table(embs, os.path.join(out, "embeddings.parquet"))
    low_ids = sorted(int(x) for x in ids[n_good:n_good + n_low].tolist())
    nbytes = sum(os.path.getsize(os.path.join(out, f))
                 for f in ("documents.parquet", "embeddings.parquet"))
    return {"bytes": nbytes, "rows": n_docs, "dup_share": n_dup / n_docs,
            "planted": planted, "low_quality_ids": low_ids, "dim": dim}
