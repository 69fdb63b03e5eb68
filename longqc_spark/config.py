"""Rule configuration for the web-text QC engine.

Analog of LongQC's preset resolution (reference ``longQC.py:171-233``): one
frozen config object binds every threshold, and one rule table (``RULES``)
binds each keep/drop rule to its stat column, comparison and threshold field.
The pure-pandas reference labeler evaluates that table through
``rule_failures``; the Spark rule stage writes the same table out as one SQL
expression (``pipeline.reasons_sql``), so the two sides cannot drift.

Thresholds follow the Gopher/C4 heuristic families named in BASELINE.json
(doc length, mean word length, symbol/word ratio, repetition fractions,
language-ID, perplexity, toxicity).
"""

from __future__ import annotations

import operator
from dataclasses import dataclass, replace
from typing import Any, Callable


# Deterministic stand-in toxicity lexicon (harmless sci-fi pseudo-profanity).
# The corpus generator injects exactly these tokens, so the lexicon is a pure
# config artifact — swap for a real list in production.
TOX_WORDS: tuple[str, ...] = ("frak", "gorram", "smeg", "drek", "felgercarb")

# Small English stopword list (C4-style "has enough stopwords" signal).
STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "a", "in", "that", "have", "i",
    "it", "for", "not", "on", "with", "he", "as", "you", "do", "at",
    "this", "but", "his", "by", "from", "is", "was", "are", "an",
)


@dataclass(frozen=True)
class QCConfig:
    """All keep/drop thresholds (LongQC decision-cascade analog,
    reference ``longQC.py:787-824``)."""

    # Gopher length rules
    min_words: int = 50
    max_words: int = 100_000
    min_mean_word_len: float = 2.5
    max_mean_word_len: float = 12.0

    # C4/Gopher character-class rules
    max_symbol_char_frac: float = 0.12      # GC-fraction analog (lq_gcfrac.py:25-35)
    min_alpha_char_frac: float = 0.60
    min_alpha_word_frac: float = 0.80       # Gopher: ≥80% words contain a letter
    min_stopwords: int = 2

    # Repetition rules — masked-fraction analog (sdust, reference sdust.c:136-175)
    max_dup_line_frac: float = 0.30
    max_top_ngram_frac_2: float = 0.20
    max_top_ngram_frac_3: float = 0.18
    max_top_ngram_frac_4: float = 0.16

    # Gopher line-shape rules: ≤90% of lines may start with a bullet glyph,
    # ≤30% may end with an ellipsis. C4 code rule: any '{' drops the page.
    max_bullet_line_frac: float = 0.90
    max_ellipsis_line_frac: float = 0.30
    max_brace_chars: int = 0

    # Language ID (fastText-style analog)
    allowed_langs: tuple[str, ...] = ("en",)
    min_lang_score: float = 0.20            # margin best-vs-second, per char trigram
    # langid reads only the first N chars (reference analog: windowed GC
    # sampling, lq_gcfrac.py:37-47 — stats on a bounded sample of the record)
    langid_max_chars: int = 512

    # Hashed 5-gram LM perplexity (KenLM-style analog; meanQ analog
    # reference lqutils.c:26-58)
    max_perplexity: float = 5000.0

    # Toxicity: any lexicon hit drops the doc; PII is scrubbed, never dropped.
    max_tox_matches: int = 0

    # Scrub stage (adapter-trim analog, reference lq_adapt.py:10-78)
    scrub_pii: bool = True
    scrub_tox: bool = True

    # Fuzzy scrub (OPT-IN): tolerance-based term matching, the analog of the
    # reference's APPROXIMATE adapter alignment (edlib infix with identity
    # > 0.75, lq_adapt.py:45-78) vs the exact-regex cascade above. A
    # whitespace token matches a lexicon term when edit distance ≤
    # ``fuzzy_max_dist`` AND identity = 1 − dist/max(len) ≥
    # ``fuzzy_min_identity`` — catching obfuscations ("fr4k", "frak!").
    scrub_fuzzy: bool = False
    fuzzy_max_dist: int = 1
    fuzzy_min_identity: float = 0.75

    def with_overrides(self, **kw) -> "QCConfig":
        return replace(self, **kw)


DEFAULT_CONFIG = QCConfig()

# Preset for the driver-provided TPC-H-style `documents` table (short
# keyword-soup docs): relaxed LM/length thresholds so keep/drop has a real
# mix there — the analog of LongQC's per-platform presets
# (reference longQC.py:171-233 binds thresholds per sequencing chemistry).
DRIVER_DOCS_CONFIG = QCConfig(
    min_words=30,
    min_stopwords=1,
    min_lang_score=0.15,
    max_perplexity=6500.0,
)


def _not_in(values, allowed):
    return ~values.isin(list(allowed))


# The keep/drop rules (decision-cascade analog, reference
# ``longQC.py:787-824``): (rule name, stat column, comparison that is True
# when the doc FAILS the rule, QCConfig threshold field). Row order is the
# evaluation order, so ``reasons`` arrays compare byte-identically.
RULES: tuple[tuple[str, str, Callable, str], ...] = (
    ("too_few_words", "n_words", operator.lt, "min_words"),
    ("too_many_words", "n_words", operator.gt, "max_words"),
    ("mean_word_len_low", "mean_word_len", operator.lt, "min_mean_word_len"),
    ("mean_word_len_high", "mean_word_len", operator.gt, "max_mean_word_len"),
    ("symbol_ratio_high", "symbol_char_frac", operator.gt, "max_symbol_char_frac"),
    ("alpha_char_frac_low", "alpha_char_frac", operator.lt, "min_alpha_char_frac"),
    ("alpha_word_frac_low", "alpha_word_frac", operator.lt, "min_alpha_word_frac"),
    ("too_few_stopwords", "stopword_count", operator.lt, "min_stopwords"),
    ("dup_line_frac_high", "dup_line_frac", operator.gt, "max_dup_line_frac"),
    ("top_2gram_frac_high", "top_ngram_frac_2", operator.gt, "max_top_ngram_frac_2"),
    ("top_3gram_frac_high", "top_ngram_frac_3", operator.gt, "max_top_ngram_frac_3"),
    ("top_4gram_frac_high", "top_ngram_frac_4", operator.gt, "max_top_ngram_frac_4"),
    ("bullet_line_frac_high", "bullet_line_frac", operator.gt, "max_bullet_line_frac"),
    ("ellipsis_line_frac_high", "ellipsis_line_frac", operator.gt, "max_ellipsis_line_frac"),
    ("has_braces", "brace_char_count", operator.gt, "max_brace_chars"),
    ("lang_not_allowed", "lang_pred", _not_in, "allowed_langs"),
    ("lang_score_low", "lang_score", operator.lt, "min_lang_score"),
    ("perplexity_high", "perplexity", operator.gt, "max_perplexity"),
    ("toxicity", "tox_match_count", operator.gt, "max_tox_matches"),
)


def rule_failures(col: Callable[[str], Any], cfg: QCConfig) -> dict[str, Any]:
    """rule name → expression that is True when the rule fails, in ``RULES``
    order. ``col`` maps a stat name to a pandas Series (``stats.__getitem__``)
    or a Spark Column (``F.col``); the comparisons work the same on both."""
    return {name: fails(col(stat), getattr(cfg, knob)) for name, stat, fails, knob in RULES}
