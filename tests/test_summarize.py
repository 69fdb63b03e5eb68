"""``report.summarize`` against its slow twin, ``reference.summarize`` (the
seven-query report it replaced), and its Spark job budget.

Summaries are compared as JSON with sorted keys, so dict order does not
matter and NaN equals NaN; keys go through ``repr`` first, so a ``None``
lang sorts beside the string ones and ``1`` stays apart from ``"1"``.
"""

import json

import pandas as pd
import pytest

import reference
from test_rules_sql import ROW

from longqc_spark.pipeline import SCRUB_FIELDS, STATS_FIELDS, qc_pipeline, with_labels
from longqc_spark.report import summarize


def _canon(x):
    if isinstance(x, dict):
        return {repr(k): _canon(v) for k, v in x.items()}
    if isinstance(x, list):
        return [_canon(v) for v in x]
    return x


def _as_json(summary: dict) -> str:
    return json.dumps(_canon(summary), sort_keys=True, default=float)


def _labels(spark, rows: list[dict]):
    from pyspark.sql import types as T

    schema = T.StructType(STATS_FIELDS + SCRUB_FIELDS)
    pdf = pd.DataFrame(rows)[schema.fieldNames()]
    return with_labels(spark.createDataFrame(pdf.to_dict("records"), schema))


@pytest.fixture(scope="module")
def corpus_labels(spark, corpus_path):
    labels = qc_pipeline(spark.read.parquet(corpus_path)).cache()
    yield labels
    labels.unpersist()


def _edge_rows() -> dict[str, list[dict]]:
    # lengths and perplexities spread so both histograms, N50/N90 and the
    # GMM sample (≥ 10 rows) all see more than one value
    base = [
        {**ROW, "n_words": 40 + 37 * i, "perplexity": 90.0 + 611.0 * i, "pii_match_count": i % 3}
        for i in range(16)
    ]
    return {
        "null_lang": base + [{**ROW, "lang_pred": None}, {**ROW, "lang_pred": None, "n_words": 7}],
        "high_perplexity": base + [{**ROW, "perplexity": p} for p in (19999.9, 20000.0, 25000.0, 1e9)],
        # the running length sum hits exactly half the total at 300
        "n50_on_the_boundary": [{**ROW, "n_words": w} for w in (300, 100, 100, 100)],
        "many_rules_fail": base + [
            {**ROW, "n_words": 3, "lang_pred": "xx", "perplexity": 1e6, "tox_match_count": 9},
            {**ROW, "mean_word_len": 40.0, "symbol_char_frac": 0.9, "brace_char_count": 4},
            {**ROW, "alpha_char_frac": 0.1, "stopword_count": 0, "lang_score": 0.0},
        ],
    }


def test_summarize_equals_reference_on_the_corpus(corpus_labels):
    got = summarize(corpus_labels)
    assert got["totals"]["n_docs"] == 1000
    assert _as_json(got) == _as_json(reference.summarize(corpus_labels))


def test_summarize_equals_reference_on_no_rows(spark, corpus_labels):
    empty = spark.createDataFrame([], corpus_labels.schema)
    got = summarize(empty)
    assert got["totals"]["n_docs"] == 0 and got["totals"]["n50_words"] is None
    assert _as_json(got) == _as_json(reference.summarize(empty))


@pytest.mark.parametrize("case", sorted(_edge_rows()))
def test_summarize_equals_reference_on_edge_rows(spark, case):
    labels = _labels(spark, _edge_rows()[case])
    got = summarize(labels)
    assert _as_json(got) == _as_json(reference.summarize(labels))
    if case == "null_lang":
        assert got["langs"][None] == 2
    if case == "many_rules_fail":
        assert sum(got["reasons"].values()) > 3
    if case == "n50_on_the_boundary":
        assert got["totals"]["n50_words"] == 300
    if case == "high_perplexity":
        assert sum(got["histograms"]["perplexity_b500"].values()) == 17


def test_summarize_runs_at_most_five_spark_jobs(spark, corpus_labels):
    sc = spark.sparkContext
    group = "test_summarize_job_count"
    sc.setJobGroup(group, group)
    try:
        summarize(corpus_labels)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert 0 < len(sc.statusTracker().getJobIdsForGroup(group)) <= 5
