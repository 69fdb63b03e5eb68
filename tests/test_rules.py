"""Written-out truth table for the 19 keep/drop rules.

Each rule is probed at its threshold, one step inside it and one step past
it, for both shipped presets, through the pandas evaluator and through the
Spark ``with_labels`` stage. The table's values and expected failures are
literals on purpose: it is the independent check on every rule's threshold
and comparison, so nothing in it is derived from ``RULES``.
"""

import dataclasses

import pandas as pd
import pytest

from longqc_spark.config import DEFAULT_CONFIG, DRIVER_DOCS_CONFIG, QCConfig, RULES, rule_failures
from longqc_spark.pipeline import SCRUB_FIELDS, STATS_FIELDS, with_labels

EPS = 1e-9

# A row that passes every rule under both presets.
BASE = {
    "n_chars": 6000,
    "n_words": 1000,
    "n_lines": 20,
    "mean_word_len": 5.0,
    "symbol_char_frac": 0.01,
    "alpha_char_frac": 0.9,
    "alpha_word_frac": 0.95,
    "stopword_count": 10,
    "dup_line_frac": 0.0,
    "top_ngram_frac_2": 0.05,
    "top_ngram_frac_3": 0.04,
    "top_ngram_frac_4": 0.03,
    "lang_pred": "en",
    "lang_score": 0.5,
    "logprob_mean": -3.0,
    "perplexity": 100.0,
    "frac_tokens_above_q": 0.1,
    "bullet_line_frac": 0.0,
    "ellipsis_line_frac": 0.0,
    "brace_char_count": 0,
    "scrubbed_text": "clean text",
    "pii_match_count": 0,
    "tox_match_count": 0,
}

# (stat, value, expected failures in rule order), shared by both presets.
COMMON = [
    ("n_words", 100_000, []),
    ("n_words", 99_999, []),
    ("n_words", 100_001, ["too_many_words"]),
    ("mean_word_len", 2.5, []),
    ("mean_word_len", 2.5 + EPS, []),
    ("mean_word_len", 2.5 - EPS, ["mean_word_len_low"]),
    ("mean_word_len", 12.0, []),
    ("mean_word_len", 12.0 - EPS, []),
    ("mean_word_len", 12.0 + EPS, ["mean_word_len_high"]),
    ("symbol_char_frac", 0.12, []),
    ("symbol_char_frac", 0.12 - EPS, []),
    ("symbol_char_frac", 0.12 + EPS, ["symbol_ratio_high"]),
    ("alpha_char_frac", 0.60, []),
    ("alpha_char_frac", 0.60 + EPS, []),
    ("alpha_char_frac", 0.60 - EPS, ["alpha_char_frac_low"]),
    ("alpha_word_frac", 0.80, []),
    ("alpha_word_frac", 0.80 + EPS, []),
    ("alpha_word_frac", 0.80 - EPS, ["alpha_word_frac_low"]),
    ("dup_line_frac", 0.30, []),
    ("dup_line_frac", 0.30 - EPS, []),
    ("dup_line_frac", 0.30 + EPS, ["dup_line_frac_high"]),
    ("top_ngram_frac_2", 0.20, []),
    ("top_ngram_frac_2", 0.20 - EPS, []),
    ("top_ngram_frac_2", 0.20 + EPS, ["top_2gram_frac_high"]),
    ("top_ngram_frac_3", 0.18, []),
    ("top_ngram_frac_3", 0.18 - EPS, []),
    ("top_ngram_frac_3", 0.18 + EPS, ["top_3gram_frac_high"]),
    ("top_ngram_frac_4", 0.16, []),
    ("top_ngram_frac_4", 0.16 - EPS, []),
    ("top_ngram_frac_4", 0.16 + EPS, ["top_4gram_frac_high"]),
    ("bullet_line_frac", 0.90, []),
    ("bullet_line_frac", 0.90 - EPS, []),
    ("bullet_line_frac", 0.90 + EPS, ["bullet_line_frac_high"]),
    ("ellipsis_line_frac", 0.30, []),
    ("ellipsis_line_frac", 0.30 - EPS, []),
    ("ellipsis_line_frac", 0.30 + EPS, ["ellipsis_line_frac_high"]),
    # max_brace_chars = 0: the threshold is the "inside" value too.
    ("brace_char_count", 0, []),
    ("brace_char_count", 1, ["has_braces"]),
    ("lang_pred", "en", []),
    ("lang_pred", "und", ["lang_not_allowed"]),
    # max_tox_matches = 0: as for braces.
    ("tox_match_count", 0, []),
    ("tox_match_count", 1, ["toxicity"]),
    # A row failing every rule of one side at once pins the reasons order.
    ({"n_words": 1, "mean_word_len": 1.0, "symbol_char_frac": 0.5,
      "alpha_char_frac": 0.1, "alpha_word_frac": 0.1, "stopword_count": 0,
      "dup_line_frac": 0.9, "top_ngram_frac_2": 0.9, "top_ngram_frac_3": 0.9,
      "top_ngram_frac_4": 0.9, "bullet_line_frac": 0.95,
      "ellipsis_line_frac": 0.9, "brace_char_count": 3, "lang_pred": "und",
      "lang_score": 0.0, "perplexity": 1e6, "tox_match_count": 2}, None,
     ["too_few_words", "mean_word_len_low", "symbol_ratio_high",
      "alpha_char_frac_low", "alpha_word_frac_low", "too_few_stopwords",
      "dup_line_frac_high", "top_2gram_frac_high", "top_3gram_frac_high",
      "top_4gram_frac_high", "bullet_line_frac_high", "ellipsis_line_frac_high",
      "has_braces", "lang_not_allowed", "lang_score_low", "perplexity_high",
      "toxicity"]),
    ({"n_words": 200_000, "mean_word_len": 20.0}, None,
     ["too_many_words", "mean_word_len_high"]),
]

CASES = {
    "default": COMMON + [
        ("n_words", 50, []),
        ("n_words", 51, []),
        ("n_words", 49, ["too_few_words"]),
        ("stopword_count", 2, []),
        ("stopword_count", 3, []),
        ("stopword_count", 1, ["too_few_stopwords"]),
        ("lang_score", 0.20, []),
        ("lang_score", 0.20 + EPS, []),
        ("lang_score", 0.20 - EPS, ["lang_score_low"]),
        ("perplexity", 5000.0, []),
        ("perplexity", 5000.0 - EPS, []),
        ("perplexity", 5000.0 + EPS, ["perplexity_high"]),
    ],
    "driver_docs": COMMON + [
        ("n_words", 30, []),
        ("n_words", 31, []),
        ("n_words", 29, ["too_few_words"]),
        ("stopword_count", 1, []),
        ("stopword_count", 2, []),
        ("stopword_count", 0, ["too_few_stopwords"]),
        ("lang_score", 0.15, []),
        ("lang_score", 0.15 + EPS, []),
        ("lang_score", 0.15 - EPS, ["lang_score_low"]),
        ("perplexity", 6500.0, []),
        ("perplexity", 6500.0 - EPS, []),
        ("perplexity", 6500.0 + EPS, ["perplexity_high"]),
    ],
}
CONFIGS = {"default": DEFAULT_CONFIG, "driver_docs": DRIVER_DOCS_CONFIG}

# QCConfig fields read by the kernels rather than by a rule.
KERNEL_FIELDS = [
    "langid_max_chars", "scrub_pii", "scrub_tox", "scrub_fuzzy",
    "fuzzy_max_dist", "fuzzy_min_identity",
]


def _rows(preset: str) -> tuple[pd.DataFrame, dict[str, list[str]]]:
    rows, expected = [], {}
    for i, (stat, value, want) in enumerate(CASES[preset]):
        patch = stat if isinstance(stat, dict) else {stat: value}
        url = f"r{i}:" + ",".join(f"{k}={v!r}" for k, v in patch.items())
        rows.append({"url": url, **BASE, **patch})
        expected[url] = want
    return pd.DataFrame(rows), expected


@pytest.mark.parametrize("preset", sorted(CASES))
def test_truth_table_pandas(preset):
    pdf, expected = _rows(preset)
    fails = pd.DataFrame(rule_failures(pdf.__getitem__, CONFIGS[preset]))
    got = {
        url: [name for name in fails.columns if row[name]]
        for url, (_, row) in zip(pdf.url, fails.iterrows())
    }
    assert got == expected


@pytest.mark.parametrize("preset", sorted(CASES))
def test_truth_table_spark(spark, preset):
    from pyspark.sql import types as T

    pdf, expected = _rows(preset)
    schema = T.StructType([T.StructField("url", T.StringType())] + STATS_FIELDS + SCRUB_FIELDS)
    df = spark.createDataFrame(pdf[schema.fieldNames()].to_dict("records"), schema)
    got = {
        r.url: (list(r.reasons), r.keep)
        for r in with_labels(df, CONFIGS[preset]).select("url", "reasons", "keep").collect()
    }
    assert got == {url: (want, not want) for url, want in expected.items()}


def test_rules_match_schema_and_config():
    stat_names = {f.name for f in STATS_FIELDS + SCRUB_FIELDS}
    fields = {f.name for f in dataclasses.fields(QCConfig)}
    assert len({name for name, *_ in RULES}) == len(RULES) == 19
    for name, stat, _, field in RULES:
        assert stat in stat_names, name
        assert field in fields, name
    # Every knob is read by a rule or a kernel: a threshold no rule reads
    # would be a silent no-op.
    assert fields == {field for *_, field in RULES} | set(KERNEL_FIELDS)
