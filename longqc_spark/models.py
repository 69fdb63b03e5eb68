"""Deterministic, dependency-free model artifacts — fully vectorized.

Two broadcastable numpy artifacts, the web-text analogs of LongQC's
precomputed lookup tables (q2p table, reference ``lqutils.c:26-58``) and the
pre-built minimap2 index reused across runs (reference ``longQC.py:266-277``):

* ``LangIdModel`` — fastText-style character-trigram linear scorer, profiles
  built at import from embedded seed paragraphs.
* ``HashedNgramLM`` — KenLM-style hashed word n-gram (up to 5) count LM with
  stupid backoff; perplexity = exp(-mean token logprob).

Both score **flat token/char streams** covering a whole Arrow batch of
documents at once (doc boundaries passed as offset arrays, per-doc reductions
via ``np.bincount``); the design mirrors the reference replacing per-base
``pow`` with a lookup table (author note ``lqutils.c:60-69``), applied
batch-wide. The scoring itself is numpy; the only per-row Python is
``LangIdModel.score_batch`` lower-casing and utf-8 encoding each doc's
bounded prefix before the join into one buffer. The LM's stupid backoff is
resolved in one pass per order over the whole stream (the highest order
whose n-gram and context both have counts, then one log-ratio per token).

Token hashing uses ``pandas.util.hash_array`` (SipHash with a fixed key —
deterministic across processes and platforms; Python's builtin ``hash`` is
salted and must never be used here).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# Embedded seed corpora (a few public-domain-style sentences per language).
# These train both the language-ID profiles and the English LM.
# ---------------------------------------------------------------------------

SEED_TEXT: dict[str, str] = {
    "en": (
        "the quick brown fox jumps over the lazy dog and runs into the green "
        "forest where the old river bends toward the quiet village . every "
        "morning the people walk to the market to buy bread milk and fresh "
        "fruit while children play near the stone bridge . history tells us "
        "that knowledge and patience build strong cities and good roads . "
        "the weather in the north is cold in winter but the summer brings "
        "long warm days and clear skies over the mountains . science helps "
        "us understand the world around us from the smallest seed to the "
        "largest star in the night sky . a good book and a cup of tea make "
        "the evening pass with ease and comfort for young and old alike ."
    ),
    "de": (
        "der schnelle braune fuchs springt über den faulen hund und läuft in "
        "den grünen wald wo der alte fluss sich zum stillen dorf wendet . "
        "jeden morgen gehen die leute zum markt um brot milch und frisches "
        "obst zu kaufen während die kinder an der steinernen brücke spielen . "
        "die geschichte lehrt uns dass wissen und geduld starke städte und "
        "gute straßen bauen . das wetter im norden ist kalt im winter aber "
        "der sommer bringt lange warme tage und klaren himmel über den "
        "bergen . die wissenschaft hilft uns die welt zu verstehen ."
    ),
    "fr": (
        "le rapide renard brun saute par dessus le chien paresseux et court "
        "dans la forêt verte où la vieille rivière se courbe vers le village "
        "tranquille . chaque matin les gens marchent au marché pour acheter "
        "du pain du lait et des fruits frais pendant que les enfants jouent "
        "près du pont de pierre . l histoire nous apprend que le savoir et "
        "la patience construisent des villes fortes et de bonnes routes . le "
        "temps au nord est froid en hiver mais l été apporte de longues "
        "journées chaudes et un ciel clair au dessus des montagnes ."
    ),
    "es": (
        "el rápido zorro marrón salta sobre el perro perezoso y corre hacia "
        "el bosque verde donde el viejo río se curva hacia el pueblo "
        "tranquilo . cada mañana la gente camina al mercado para comprar pan "
        "leche y fruta fresca mientras los niños juegan cerca del puente de "
        "piedra . la historia nos enseña que el conocimiento y la paciencia "
        "construyen ciudades fuertes y buenos caminos . el clima del norte "
        "es frío en invierno pero el verano trae días largos y cálidos y "
        "cielos claros sobre las montañas ."
    ),
}

LANGS: tuple[str, ...] = tuple(sorted(SEED_TEXT))


def hash_tokens(tokens: np.ndarray) -> np.ndarray:
    """Vectorized deterministic uint64 hash of an object array of strings."""
    if tokens.size == 0:
        return np.zeros(0, dtype=np.uint64)
    return pd.util.hash_array(tokens, categorize=False)


# ---------------------------------------------------------------------------
# Language ID — hashed character-trigram multinomial profiles
# ---------------------------------------------------------------------------

_LID_BUCKETS = 1 << 16


def _char_trigram_buckets(buf: bytes) -> np.ndarray:
    """Rolling 3-byte multiplicative hash over a utf-8 buffer (vectorized,
    uint32 wrap-around arithmetic — mod 2^32 for free)."""
    n = len(buf)
    if n < 3:
        return np.zeros(0, dtype=np.int32)
    arr = np.frombuffer(buf, dtype=np.uint8).astype(np.uint32)
    with np.errstate(over="ignore"):
        tri = arr[:-2] * np.uint32(65536) + arr[1:-1] * np.uint32(256) + arr[2:]
        tri *= np.uint32(2654435761)
    # int32 indices: this numpy's int64 fancy-index path is ~50× slower
    return (tri & np.uint32(_LID_BUCKETS - 1)).astype(np.int32)


class LangIdModel:
    """Per-language log-probability table over hashed char trigrams.

    score = mean log P(trigram | lang) with add-one smoothing in hashed
    space; prediction = argmax; confidence = best-minus-second margin
    (a fastText-confidence analog).
    """

    def __init__(self) -> None:
        self.langs = LANGS
        table = np.zeros((len(LANGS), _LID_BUCKETS), dtype=np.float64)
        for li, lang in enumerate(LANGS):
            idx = _char_trigram_buckets((" " + SEED_TEXT[lang].lower() + " ").encode("utf-8"))
            np.add.at(table[li], idx, 1.0)
            total = table[li].sum()
            table[li] = np.log((table[li] + 1.0) / (total + _LID_BUCKETS))
        # float32 tables: halves gather/reduce memory traffic; both engines
        # share the same arithmetic so precision is consistent by construction
        self.logprob = table.astype(np.float32)

    def score_batch(self, texts: pd.Series) -> tuple[np.ndarray, np.ndarray]:
        """Batch scoring: one concatenated char buffer, one table gather per
        language, per-doc means as cumulative-sum range differences (no
        scatter/bincount — trigrams of a doc are contiguous in the buffer).
        Trigrams that span two documents land in the 2-position tail of the
        leading doc's range and are excluded by construction of the ranges.
        Returns (lang_pred object array, margin array)."""
        n_docs = len(texts)
        preds = np.full(n_docs, "und", dtype=object)
        margins = np.zeros(n_docs, dtype=np.float64)
        if n_docs == 0:
            return preds, margins
        padded = [(" " + t.lower() + " ").encode("utf-8", "ignore") for t in texts.to_numpy()]
        lens = np.fromiter((len(b) for b in padded), dtype=np.int64, count=n_docs)
        buf = b"".join(padded)
        tri = _char_trigram_buckets(buf)
        ends = np.cumsum(lens)
        starts = ends - lens
        n_tri = np.maximum(lens - 2, 0)
        valid = n_tri > 0
        counts = np.maximum(n_tri, 1).astype(np.float64)
        if tri.shape[0] == 0:
            return preds, margins
        # Interleaved reduceat segments [start_d, start_d + n_tri_d) so each
        # doc's segment contains EXACTLY its in-doc trigrams; the 2 trailing
        # doc-spanning positions fall into discarded odd segments. This makes
        # per-doc sums bit-identical regardless of batch composition
        # (reduceat's pairwise-block summation tree depends on segment LENGTH,
        # so zero-padding segments would change rounding).
        seg = np.empty(2 * n_docs, dtype=np.intp)
        seg[0::2] = np.clip(starts, 0, tri.shape[0] - 1)
        seg[1::2] = np.clip(starts + n_tri, 0, tri.shape[0])
        # reduceat indices must be < len; only the final bound can equal len
        # (that segment implicitly runs to the end of the array)
        if seg[-1] >= tri.shape[0]:
            seg = seg[:-1]
        # reduceat quirk: an empty segment (idx_i == idx_{i+1}) returns the
        # element at idx_i — masked out below via `valid`
        means = np.empty((len(self.langs), n_docs), dtype=np.float64)
        g = np.empty(tri.shape[0], dtype=np.float32)
        for li in range(len(self.langs)):
            np.take(self.logprob[li], tri, out=g, mode="clip")
            means[li] = np.add.reduceat(g, seg)[0::2][:n_docs] / counts
        order = np.argsort(-means, axis=0)
        best, second = order[0], order[1]
        rng = np.arange(n_docs)
        margin = means[best, rng] - means[second, rng]
        lang_arr = np.array(self.langs, dtype=object)
        preds[valid] = lang_arr[best[valid]]
        margins[valid] = margin[valid]
        return preds, margins

    def score(self, text: str) -> tuple[str, float]:
        p, m = self.score_batch(pd.Series([text]))
        return str(p[0]), float(m[0])


# ---------------------------------------------------------------------------
# Hashed n-gram LM (KenLM-style stand-in)
# ---------------------------------------------------------------------------

_LM_BUCKETS = 1 << 18
_LM_MASK = np.uint64(_LM_BUCKETS - 1)
_BACKOFF = 0.4
_MAX_ORDER = 5
_POLY_K = np.uint64(0x9E3779B97F4A7C15)  # 64-bit golden-ratio constant


def ngram_keys(hashes: np.ndarray, order: int) -> np.ndarray:
    """Vectorized polynomial hash (full uint64) of every ``order``-gram ending
    at position i over a flat token-hash stream:
    h[i] = sum_j hash[i-j] * K^j (mod 2^64).
    Positions i < order-1 are garbage; callers mask by in-doc position."""
    n = hashes.shape[0]
    h = np.zeros(n, dtype=np.uint64)
    k = np.uint64(1)
    with np.errstate(over="ignore"):
        for j in range(order):
            if j == 0:
                h += hashes
            else:
                h[j:] += hashes[:-j] * k
            k = k * _POLY_K
    return h


def ngram_keys_all(hashes: np.ndarray, max_order: int) -> dict[int, np.ndarray]:
    """All n-gram keys for orders 1..max_order in ONE incremental sweep:
    keys_k = keys_{k-1} + shift(hashes, k-1)·K^{k-1} — mod-2^64 addition
    commutes, so every array is bit-identical to ``ngram_keys(hashes, k)``
    (including the deterministic partial sums below position k-1) at ~1 pass
    per order instead of k."""
    out: dict[int, np.ndarray] = {1: hashes.astype(np.uint64, copy=True)}
    k = _POLY_K
    with np.errstate(over="ignore"):
        for order in range(2, max_order + 1):
            h = out[order - 1].copy()
            s = order - 1
            h[s:] += hashes[:-s] * k
            k = k * _POLY_K
            out[order] = h
    return out


def ngram_buckets(hashes: np.ndarray, order: int) -> np.ndarray:
    """``ngram_keys`` folded into the LM bucket space (int32 indices — this
    numpy's int64 fancy-index path is pathologically slow). ``_LM_BUCKETS``
    is a power of two, so the fold is a mask (a uint64 ``%`` is ~4× slower
    and gives the same buckets)."""
    return (ngram_keys(hashes, order) & _LM_MASK).astype(np.int32)


class HashedNgramLM:
    """Count-based hashed 5-gram LM with stupid backoff (alpha=0.4).

    meanQ / per-base-quality analog (reference ``lqutils.c:26-58``): per-token
    logprob plays the role of per-base QV; ``frac_tokens_above`` mirrors the
    Q7-base-count kernel (reference ``lqutils.c:72-80``).
    """

    def __init__(self, train_text: str | None = None) -> None:
        text = train_text if train_text is not None else SEED_TEXT["en"]
        tokens = np.array(text.lower().split(), dtype=object)
        hashes = hash_tokens(tokens)
        # float32 tables: halves gather traffic; shared code keeps both
        # engines bit-identical anyway
        self.counts = [np.zeros(_LM_BUCKETS, dtype=np.float32) for _ in range(_MAX_ORDER + 1)]
        for order in range(1, _MAX_ORDER + 1):
            if tokens.size >= order:
                idx = ngram_buckets(hashes, order)[order - 1 :]
                np.add.at(self.counts[order], idx, 1.0)
        self.totals = [float(c.sum()) for c in self.counts]
        self.vocab = max(1.0, float((self.counts[1] > 0).sum()))

    def token_logprobs_flat(
        self,
        hashes: np.ndarray,
        pos_in_doc: np.ndarray,
        keys_by_order: dict[int, np.ndarray] | None = None,
    ) -> np.ndarray:
        """Per-token log P(token | up to 4 in-doc preceding tokens), stupid
        backoff, over a flat multi-document token stream.

        ``pos_in_doc[i]`` = 0-based position of token i inside its document;
        n-grams never cross document boundaries. ``keys_by_order``: optional
        precomputed ``ngram_keys_all`` output (callers that also need the raw
        keys share one hashing sweep).
        """
        n = hashes.shape[0]
        if n == 0:
            return np.zeros(0, dtype=np.float64)
        if keys_by_order is None:
            keys_by_order = ngram_keys_all(hashes, _MAX_ORDER)
        # count of the k-gram ending at each token; the context of the
        # k-gram at i is the (k-1)-gram at i-1
        num = [None] + [
            self.counts[k][(keys_by_order[k] & _LM_MASK).astype(np.int32)]
            for k in range(1, _MAX_ORDER + 1)
        ]
        seen = [None] + [c > 0 for c in num[1:]]
        top = np.minimum(pos_in_doc + 1, _MAX_ORDER)  # highest in-doc order
        # highest order whose n-gram and context both have counts (0: none);
        # the first token of the stream has no in-doc context
        best = np.zeros(n, dtype=np.int64)
        for order in range(2, _MAX_ORDER + 1):
            hit = seen[order][1:] & seen[order - 1][:-1] & (top[1:] >= order)
            best[1:][hit] = order
        # stupid backoff: one log(alpha) per in-doc order above the one used,
        # summed one step at a time as the order-by-order recursion does
        steps = top - np.maximum(best, 1)
        penalty = np.cumsum([0.0] + [math.log(_BACKOFF)] * (_MAX_ORDER - 1))[steps]
        uni = num[1]
        out = np.log((uni + 1.0) / (self.totals[1] + self.vocab)) + penalty
        r = np.flatnonzero(best)
        if r.size:
            b = best[r]
            ratio = np.empty(r.size, dtype=np.float64)
            for order in range(2, _MAX_ORDER + 1):
                sel = b == order
                ratio[sel] = num[order][r[sel]] / num[order - 1][r[sel] - 1].astype(np.float64)
            out[r] = np.log(ratio) + penalty[r]
        # float32 like the unigram log-probs
        return out.astype(np.float32)


# Module-level singletons, built once per process (per-executor lazy init —
# the Spark analog of reusing the pre-built index, reference longQC.py:266-277).
_LANGID: LangIdModel | None = None
_LM: HashedNgramLM | None = None


def langid_model() -> LangIdModel:
    global _LANGID
    if _LANGID is None:
        _LANGID = LangIdModel()
    return _LANGID


def ngram_lm() -> HashedNgramLM:
    global _LM
    if _LM is None:
        _LM = HashedNgramLM()
    return _LM
