"""CCNet-style perplexity head/middle/tail bucketing + distributed
hashed-ngram LM training (the scorer fit ON the corpus being filtered —
CCNet retrains its KenLM per snapshot; reference analog: per-batch model
refits, ``lq_nanopore.py`` Q-score band reporting)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from longqc_spark.models import _LM_BUCKETS, _MAX_ORDER, HashedNgramLM, hash_tokens, ngram_keys_all
from longqc_spark.operators.text import perplexity_buckets, train_ngram_lm

from reference import doc_score


# ---------------------------------------------------------------------------
# perplexity_buckets
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def scored(spark):
    rows = [(i, "en" if i % 2 == 0 else "de", float(i)) for i in range(90)]
    rows.append((90, "en", None))  # unscorable doc
    return spark.createDataFrame(rows, "doc_id long, lang string, ppl double")


def test_exact_ntile_tertiles(spark, scored):
    out = perplexity_buckets(scored, "ppl", by_col="lang", k=3).collect()
    by = {(r["lang"], r["ppl_bucket"]): 0 for r in out}
    for r in out:
        by[(r["lang"], r["ppl_bucket"])] += 1
    # 46 en docs (incl. NULL) -> ntile(3) = 16/15/15; 45 de -> 15/15/15
    assert by[("en", 1)] == 16 and by[("en", 2)] == 15 and by[("en", 3)] == 15
    assert by[("de", 1)] == 15 and by[("de", 2)] == 15 and by[("de", 3)] == 15
    # monotone: every head score < every tail score within a language
    en = [(r["ppl"], r["ppl_bucket"]) for r in out if r["lang"] == "en" and r["ppl"] is not None]
    assert max(p for p, b in en if b == 1) < min(p for p, b in en if b == 3)
    # NULL score lands in the tail band
    assert [r["ppl_bucket"] for r in out if r["ppl"] is None] == [3]


def test_sampled_boundaries_approximate_exact(spark, scored):
    exact = {r["doc_id"]: r["ppl_bucket"] for r in perplexity_buckets(scored, "ppl", k=3).collect()}
    approx = {
        r["doc_id"]: r["ppl_bucket"]
        for r in perplexity_buckets(scored, "ppl", k=3, sample_size=30).collect()
    }
    agree = sum(exact[d] == approx[d] for d in exact)
    assert agree / len(exact) >= 0.8  # sample tertiles track exact tertiles
    assert approx[90] == 3  # NULL still tail


def test_sampled_path_is_pure_map_on_corpus(spark, scored):
    """Bucket assignment must not shuffle the corpus: boundaries ride in via
    a broadcast join only."""
    plan = (
        perplexity_buckets(scored, "ppl", k=3, sample_size=30)
        ._jdf.queryExecution().executedPlan().toString()
    )
    corpus_side = plan.split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in corpus_side


def test_full_group_in_one_bucket_when_k_exceeds_rows(spark):
    df = spark.createDataFrame([(0, "fr", 1.0), (1, "fr", 2.0)], "doc_id long, lang string, ppl double")
    out = perplexity_buckets(df, "ppl", k=3).collect()
    assert sorted(r["ppl_bucket"] for r in out) == [1, 2]  # ntile spreads


# ---------------------------------------------------------------------------
# train_ngram_lm
# ---------------------------------------------------------------------------


def _serial_lm(texts) -> HashedNgramLM:
    lm = HashedNgramLM.__new__(HashedNgramLM)
    lm.counts = [np.zeros(_LM_BUCKETS, dtype=np.float32) for _ in range(_MAX_ORDER + 1)]
    for text in texts:
        if not text:
            continue
        tokens = np.array(text.lower().split(), dtype=object)
        if tokens.size == 0:
            continue
        hashes = hash_tokens(tokens)
        kall = ngram_keys_all(hashes, _MAX_ORDER)
        for o in range(1, _MAX_ORDER + 1):
            if tokens.size >= o:
                idx = (kall[o] % np.uint64(_LM_BUCKETS)).astype(np.int64)[o - 1 :]
                np.add.at(lm.counts[o], idx, 1.0)
    lm.totals = [float(c.sum()) for c in lm.counts]
    lm.vocab = max(1.0, float((lm.counts[1] > 0).sum()))
    return lm


def test_spark_fit_identical_to_serial_fit(spark):
    texts = [
        "the cat sat on the mat and the cat slept",
        "a quick brown fox jumps over the lazy dog",
        "the the the the the",
        None,
        "",
        "one",
        "pack my box with five dozen liquor jugs",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).repartition(4)
    got = train_ngram_lm(df)
    ref = _serial_lm(texts)
    for o in range(1, _MAX_ORDER + 1):
        assert np.array_equal(got.counts[o], ref.counts[o]), f"order {o}"
    assert got.totals == ref.totals and got.vocab == ref.vocab


def test_trained_lm_scores_in_domain_higher(spark):
    train = [f"the cat sat on mat number {i} and purred" for i in range(30)]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(train)], "doc_id long, text string")
    lm = train_ngram_lm(df)
    in_dom, _ = doc_score(lm, "the cat sat on mat number 3 and purred")
    out_dom, _ = doc_score(lm, "zebra quantum hieroglyph velvet thunder")
    assert in_dom > out_dom


def test_ngram_boundaries_do_not_cross_documents(spark):
    """Two docs 'a b' + 'c d' must NOT produce the bigram 'b c'."""
    df = spark.createDataFrame([(0, "a b"), (1, "c d")], "doc_id long, text string")
    lm2 = train_ngram_lm(df)
    one = spark.createDataFrame([(0, "a b c d")], "doc_id long, text string")
    lm1 = train_ngram_lm(one)
    # same unigrams, different bigram totals: crossing would add 'b c'
    assert lm2.totals[1] == lm1.totals[1] == 4.0
    assert lm2.totals[2] == 2.0 and lm1.totals[2] == 3.0
