"""The Spark rule stage's SQL text (``pipeline.reasons_sql``) on thresholds
the shipped presets do not use: an empty language list, a quote in a
language code, infinite and tiny float thresholds and an int beyond 32
bits, and on a null ``lang_pred``. ``with_labels`` must agree with the
pandas evaluator, ``config.rule_failures``, on each."""

import math

import pandas as pd
import pytest

from longqc_spark.config import DEFAULT_CONFIG, rule_failures
from longqc_spark.pipeline import SCRUB_FIELDS, STATS_FIELDS, with_labels

ROW = {
    "n_chars": 6000, "n_words": 1000, "n_lines": 20, "mean_word_len": 5.0,
    "symbol_char_frac": 0.01, "alpha_char_frac": 0.9, "alpha_word_frac": 0.95,
    "stopword_count": 10, "dup_line_frac": 0.0, "top_ngram_frac_2": 0.05,
    "top_ngram_frac_3": 0.04, "top_ngram_frac_4": 0.03, "lang_pred": "en",
    "lang_score": 0.5, "logprob_mean": -3.0, "perplexity": 100.0,
    "frac_tokens_above_q": 0.1, "bullet_line_frac": 0.0, "ellipsis_line_frac": 0.0,
    "brace_char_count": 0, "scrubbed_text": "", "pii_match_count": 0, "tox_match_count": 0,
}
ROWS = [
    ROW,
    {**ROW, "lang_pred": "o'x", "perplexity": 1e308},
    {**ROW, "lang_pred": "de", "n_words": 2**40 + 1, "lang_score": 1e-320},
    {**ROW, "lang_pred": None},
]

CONFIGS = [
    DEFAULT_CONFIG.with_overrides(allowed_langs=()),
    DEFAULT_CONFIG.with_overrides(allowed_langs=("o'x", "back\\slash"), max_perplexity=math.inf),
    DEFAULT_CONFIG.with_overrides(max_words=2**40, min_lang_score=5e-324, max_perplexity=-math.inf),
]


@pytest.mark.parametrize("cfg", CONFIGS, ids=["no_langs", "quoted_inf", "wide_int_tiny_float"])
def test_sql_rules_agree_with_pandas_rules(spark, cfg):
    from pyspark.sql import types as T

    pdf = pd.DataFrame([{"url": f"u{i}", **r} for i, r in enumerate(ROWS)])
    fails = pd.DataFrame(rule_failures(pdf.__getitem__, cfg))
    want = {
        url: [name for name in fails.columns if row[name]]
        for url, (_, row) in zip(pdf.url, fails.iterrows())
    }
    schema = T.StructType([T.StructField("url", T.StringType())] + STATS_FIELDS + SCRUB_FIELDS)
    df = spark.createDataFrame(pdf[schema.fieldNames()].to_dict("records"), schema)
    got = {r.url: list(r.reasons) for r in with_labels(df, cfg).select("url", "reasons").collect()}
    assert got == want
