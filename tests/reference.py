"""Slow, obviously-correct twins of the kernels' fast paths, for tests only.

* ``top_ngram_frac`` and ``dup_line_frac``: per-document specs of the
  flat-stream repetition stats in ``kernels.compute_stats``.
* ``token_logprobs_flat``: ``HashedNgramLM.token_logprobs_flat`` as the
  order-by-order backoff recursion it replaced; ``doc_score``: one doc's
  mean log-prob and share of tokens above a threshold.
* ``tokens`` and ``unique_token_stats``: the per-token front end
  ``compute_stats`` had before it moved to Arrow (``str.split``, a
  ``pd.factorize`` of the flattened tokens, ``str.lower`` and the char-class
  regexes on every unique token). They take and return what
  ``kernels._tokens`` and ``kernels._unique_token_stats`` do, so a test can
  swap them in and compare the two front ends through the whole kernel.
"""

from __future__ import annotations

import math
from collections import Counter
from itertools import chain

import numpy as np
import pandas as pd
import pyarrow as pa

from longqc_spark.kernels import _NOT_ALPHA_RE, _SYMBOL_RE
from longqc_spark.models import (
    _BACKOFF,
    _LM_BUCKETS,
    _MAX_ORDER,
    HashedNgramLM,
    hash_tokens,
    ngram_keys_all,
)


def top_ngram_frac(tokens: list[str], n: int) -> float:
    """Fraction of tokens covered by the single most frequent word n-gram
    (Gopher repetition signal; masked-fraction analog of sdust)."""
    m = len(tokens) - n + 1
    if m < 1 or len(tokens) == 0:
        return 0.0
    counts = Counter(tuple(tokens[i : i + n]) for i in range(m))
    top = counts.most_common(1)[0][1]
    if top <= 1:
        return 0.0
    return top * n / len(tokens)


def dup_line_frac(text: str) -> float:
    """Fraction of non-empty lines that are repeats of an earlier line."""
    lines = [ln for ln in (s.strip() for s in text.split("\n")) if ln]
    if len(lines) <= 1:
        return 0.0
    return 1.0 - len(set(lines)) / len(lines)


def tokens(arr: pa.Array) -> tuple[np.ndarray, np.ndarray, pa.Array]:
    """``kernels._tokens`` by ``str.split`` and ``pd.factorize``."""
    split = [t.split() for t in arr.to_pylist()]
    n_tok = np.fromiter(map(len, split), dtype=np.int64, count=len(split))
    flat = pd.Series(list(chain.from_iterable(split)), dtype=object)
    codes, uniques = pd.factorize(flat, use_na_sentinel=False)
    return n_tok, codes, pa.array(list(uniques), type=pa.large_string())


def unique_token_stats(
    uniq: pa.Array,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """``kernels._unique_token_stats`` by ``str.lower`` and the regexes on
    every token."""
    u = pd.Series(uniq.to_pylist(), dtype=object)
    u_lower = u.str.lower()
    n = len(u)
    alpha = np.fromiter((len(_NOT_ALPHA_RE.sub("", t)) for t in u), np.float64, n)
    sym = np.fromiter((len(t) - len(_SYMBOL_RE.sub("", t)) for t in u), np.float64, n)
    return u_lower.to_numpy(), u_lower.str.len().to_numpy(dtype=np.float64), alpha, sym


def token_logprobs_flat(lm: HashedNgramLM, hashes: np.ndarray, pos_in_doc: np.ndarray) -> np.ndarray:
    """Stupid backoff from the highest in-doc order down, one order at a
    time: the first order whose n-gram and context both have counts gives
    log(count / context count), plus log(alpha) per order tried above it."""
    n = hashes.shape[0]
    if n == 0:
        return np.zeros(0, dtype=np.float64)
    keys = ngram_keys_all(hashes, _MAX_ORDER)
    buckets = {k: (keys[k] % np.uint64(_LM_BUCKETS)).astype(np.int32) for k in keys}
    uni = lm.counts[1][buckets[1]]
    out = np.log((uni + 1.0) / (lm.totals[1] + lm.vocab))
    penalty = np.zeros(n, dtype=np.float64)
    resolved = np.zeros(n, dtype=bool)
    for order in range(_MAX_ORDER, 1, -1):
        valid = pos_in_doc >= (order - 1)
        num = lm.counts[order][buckets[order]]
        ctx = np.zeros(n, dtype=np.float64)
        ctx[1:] = lm.counts[order - 1][buckets[order - 1][:-1]]
        hit = (~resolved) & valid & (num > 0) & (ctx > 0)
        if hit.any():
            out[hit] = np.log(num[hit] / ctx[hit]) + penalty[hit]
            resolved |= hit
        penalty[(~resolved) & valid] += math.log(_BACKOFF)
    out[~resolved] += penalty[~resolved]
    return out


def doc_score(lm: HashedNgramLM, text: str, q_threshold: float = -8.0) -> tuple[float, float]:
    """(mean token log-prob, share of tokens above ``q_threshold``) of one
    doc under ``lm``; (-20.0, 0.0) for a doc without tokens."""
    tokens = np.array(text.lower().split(), dtype=object)
    lps = lm.token_logprobs_flat(hash_tokens(tokens), np.arange(tokens.size))
    if lps.size == 0:
        return -20.0, 0.0
    return float(lps.mean()), float((lps > q_threshold).mean())
