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
* ``line_stats``: one doc's line stats as ``kernels._flat_line_stats``
  computes them for a whole batch.
* ``summarize``: ``report.summarize`` as seven separate label queries, the
  shape it had before it read every count from one tagged count table.
"""

from __future__ import annotations

import math
from collections import Counter
from itertools import chain
from typing import Any

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from longqc_spark.config import DEFAULT_CONFIG, QCConfig
from longqc_spark.fits import gamma_mle, gmm_1d
from longqc_spark.kernels import _NOT_ALPHA_RE, _SYMBOL_RE
from longqc_spark.models import (
    _BACKOFF,
    _LM_BUCKETS,
    _MAX_ORDER,
    HashedNgramLM,
    hash_tokens,
    ngram_keys_all,
)
from longqc_spark.operators.relational import histogram, n50_approx
from longqc_spark.report import (
    KEEP_RATE_ERROR,
    KEEP_RATE_WARN,
    LANG_MISMATCH_WARN,
    PII_RATE_WARN,
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
    return line_stats(text)[0]


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


def line_stats(text: str) -> tuple[float, float, float, int]:
    """One doc's ``(dup_line_frac, bullet_line_frac, ellipsis_line_frac,
    n_segments)``: the stats run over the doc's non-empty newline-split
    lines after ``str.strip()``; ``n_segments`` counts every split segment."""
    segments = text.split("\n")
    lines = [ln for ln in (s.strip() for s in segments) if ln]
    total = len(lines)
    dup = 1.0 - len(set(lines)) / total if total > 1 else 0.0
    bullet = sum(ln[0] in "•-*" for ln in lines) / max(total, 1)
    ellipsis = sum(ln.endswith(("...", "…")) for ln in lines) / max(total, 1)
    return dup, bullet, ellipsis, len(segments)


def summarize(labels: DataFrame, cfg: QCConfig = DEFAULT_CONFIG, sample_n: int = 10_000) -> dict[str, Any]:
    """``report.summarize`` as it was before it moved to one tagged count
    table: seven label queries (totals, reasons explode, two ``histogram``
    calls, a lang ``groupBy``, the two-pass ``n50_approx``, the GMM sample)."""
    agg = labels.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("keep")).alias("n_keep"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_words").alias("total_words"),
        F.max("n_words").alias("longest_doc_words"),
        F.avg("n_words").alias("mean_words"),
        F.avg("mean_word_len").alias("mean_word_len"),
        F.avg("symbol_char_frac").alias("mean_symbol_frac"),
        F.avg("dup_line_frac").alias("mean_dup_line_frac"),
        F.avg("perplexity").alias("mean_perplexity"),
        F.expr("percentile(perplexity, 0.5)").alias("median_perplexity"),
        F.sum("pii_match_count").alias("total_pii_matches"),
        F.count_if(F.col("pii_match_count") > 0).alias("n_docs_with_pii"),
        F.sum("tox_match_count").alias("total_tox_matches"),
        # sufficient stats for the gamma fit (Minka needs mean + mean-log)
        F.avg(F.when(F.col("n_words") > 0, F.col("n_words"))).alias("len_mean"),
        F.avg(F.when(F.col("n_words") > 0, F.log("n_words"))).alias("len_meanlog"),
    ).collect()[0]

    n_docs = agg["n_docs"] or 0
    n_keep = agg["n_keep"] or 0

    # reasons histogram (A14 adapter-count-histogram analog)
    reasons = {
        r["reason"]: r["n"]
        for r in labels.select(F.explode("reasons").alias("reason"))
        .groupBy("reason")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # binned tables ARE the report payload (A11)
    len_hist = {
        int(r["bin"]): r["n"] for r in histogram(labels, "n_words", 50.0).collect()
    }
    ppl_hist = {
        int(r["bin"]): r["n"]
        for r in histogram(labels.filter(F.col("perplexity") < 20000), "perplexity", 500.0).collect()
    }
    lang_counts = {
        r["lang_pred"]: r["n"]
        for r in labels.groupBy("lang_pred").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # NXX via the bucketed two-pass (property-tested equal to the exact
    # window nxx): the summary is computed over the FULL labels table, so
    # the scale-safe path — no single-task global-sort window — is the one
    # production uses
    n50_rows = {
        int(r["pct"]): r["nxx"]
        for r in n50_approx(labels, "n_words", [0.5, 0.9]).collect()
    }

    # fits: gamma from sufficient stats (MF1); GMM on a bounded deterministic
    # sample of perplexities (MF2) — SA1-replacement sampling
    gamma_shape, gamma_scale = (
        gamma_mle(agg["len_mean"], agg["len_meanlog"]) if agg["len_mean"] else (0.0, 0.0)
    )
    ppl_sample = [
        r["perplexity"]
        for r in labels.select("perplexity")
        .orderBy(F.xxhash64("perplexity", F.lit(13)))
        .limit(sample_n)
        .collect()
    ]
    gmm = gmm_1d(ppl_sample, k=2) if len(ppl_sample) >= 10 else []

    keep_rate = n_keep / n_docs if n_docs else 0.0
    pii_rate = (agg["n_docs_with_pii"] or 0) / n_docs if n_docs else 0.0
    lang_ok = sum(v for k, v in lang_counts.items() if k in cfg.allowed_langs)
    lang_mismatch = 1.0 - lang_ok / n_docs if n_docs else 0.0

    warnings: dict[str, str] = {}
    errors: dict[str, str] = {}
    if keep_rate < KEEP_RATE_ERROR:
        errors["low_keep_rate"] = f"keep rate {keep_rate:.3f} < {KEEP_RATE_ERROR}"
    elif keep_rate < KEEP_RATE_WARN:
        warnings["low_keep_rate"] = f"keep rate {keep_rate:.3f} < {KEEP_RATE_WARN}"
    if pii_rate > PII_RATE_WARN:
        warnings["high_pii_rate"] = f"{pii_rate:.3f} of docs carried PII"
    if lang_mismatch > LANG_MISMATCH_WARN:
        warnings["high_lang_mismatch"] = f"{lang_mismatch:.3f} docs outside {cfg.allowed_langs}"

    return {
        "totals": {
            "n_docs": n_docs,
            "n_keep": n_keep,
            "keep_rate": keep_rate,
            "total_chars": agg["total_chars"],
            "total_words": agg["total_words"],
            "longest_doc_words": agg["longest_doc_words"],
            "mean_words": agg["mean_words"],
            "n50_words": n50_rows.get(50),
            "n90_words": n50_rows.get(90),
        },
        "quality": {
            "mean_word_len": agg["mean_word_len"],
            "mean_symbol_frac": agg["mean_symbol_frac"],
            "mean_dup_line_frac": agg["mean_dup_line_frac"],
            "mean_perplexity": agg["mean_perplexity"],
            "median_perplexity": agg["median_perplexity"],
        },
        "scrub": {
            "total_pii_matches": agg["total_pii_matches"],
            "n_docs_with_pii": agg["n_docs_with_pii"],
            "pii_rate": pii_rate,
            "total_tox_matches": agg["total_tox_matches"],
        },
        "langs": lang_counts,
        "reasons": reasons,
        "histograms": {"n_words_b50": len_hist, "perplexity_b500": ppl_hist},
        "fits": {
            "gamma_length": {"shape": gamma_shape, "scale": gamma_scale},
            "gmm_perplexity": gmm,
        },
        "warnings": warnings,
        "errors": errors,
    }
