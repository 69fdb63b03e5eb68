"""Driver-side fits (pure-numpy scipy stand-ins) + the summary report stage."""

import math

import numpy as np
import pytest

from longqc_spark.fits import digamma, gamma_mle, gmm_1d, norm_lognorm_em, trigamma


def test_digamma_known_values():
    # ψ(1) = -γ, ψ(0.5) = -γ - 2 ln 2
    g = 0.5772156649015329
    assert digamma(1.0) == pytest.approx(-g, abs=1e-10)
    assert digamma(0.5) == pytest.approx(-g - 2 * math.log(2), abs=1e-10)
    # recurrence ψ(x+1) = ψ(x) + 1/x
    assert digamma(3.7) == pytest.approx(digamma(2.7) + 1 / 2.7, abs=1e-10)


def test_trigamma_known_values():
    assert trigamma(1.0) == pytest.approx(math.pi**2 / 6, abs=1e-10)
    assert trigamma(2.5) == pytest.approx(trigamma(1.5) - 1 / 1.5**2, abs=1e-10)


def test_gamma_mle_recovers_params():
    rng = np.random.default_rng(3)
    x = rng.gamma(shape=4.0, scale=120.0, size=200_000)
    k, theta = gamma_mle(float(x.mean()), float(np.log(x).mean()))
    assert k == pytest.approx(4.0, rel=0.02)
    assert theta == pytest.approx(120.0, rel=0.02)


def test_gmm_separates_two_modes():
    rng = np.random.default_rng(4)
    x = np.concatenate([rng.normal(0, 1, 5000), rng.normal(10, 2, 15000)])
    comps = gmm_1d(x, k=2)
    assert comps[0]["mu"] == pytest.approx(0.0, abs=0.15)
    assert comps[1]["mu"] == pytest.approx(10.0, abs=0.15)
    assert comps[0]["weight"] == pytest.approx(0.25, abs=0.03)


def test_norm_lognorm_em():
    rng = np.random.default_rng(5)
    x = np.concatenate(
        [rng.normal(50, 5, 8000), rng.lognormal(mean=5.0, sigma=0.3, size=12000)]
    )
    fit = norm_lognorm_em(x)
    assert fit["normal"]["mu"] == pytest.approx(50, rel=0.1)
    assert fit["lognormal"]["mu"] == pytest.approx(5.0, abs=0.1)
    assert fit["lognormal_mode"] == pytest.approx(math.exp(5.0 - 0.09), rel=0.15)


def test_kde_gaussian():
    from longqc_spark.fits import kde_gaussian

    rng = np.random.default_rng(7)
    x = rng.normal(5.0, 2.0, 20000)
    grid, dens = kde_gaussian(x, n_grid=256)
    assert np.trapz(dens, grid) == pytest.approx(1.0, abs=0.02)
    assert grid[np.argmax(dens)] == pytest.approx(5.0, abs=0.5)
    # matches the closed-form N(5,2) density at the mode to KDE accuracy
    assert dens.max() == pytest.approx(1 / (2 * math.sqrt(2 * math.pi)), rel=0.05)
    # fixed grid + bandwidth path
    g2, d2 = kde_gaussian(x, grid=np.linspace(0, 10, 11), bandwidth=0.5)
    assert g2.shape == d2.shape == (11,)


def test_summarize_report(spark, corpus_path, tmp_path):
    from longqc_spark.pipeline import qc_pipeline
    from longqc_spark.report import summarize, write_html_report, write_json_report

    labels = qc_pipeline(spark.read.parquet(corpus_path))
    s = summarize(labels)
    assert s["totals"]["n_docs"] == 1000
    assert 0 < s["totals"]["keep_rate"] < 1
    assert s["totals"]["n50_words"] > 0
    # the summary's NXX walks the exact per-length count table on the driver
    # (no single-task global-sort window anywhere in the production report
    # path); values must equal the exact window nxx
    from longqc_spark.operators.relational import nxx

    exact = {int(r["pct"]): r["nxx"] for r in nxx(labels, "n_words", [0.5, 0.9]).collect()}
    assert s["totals"]["n50_words"] == exact[50]
    assert s["totals"]["n90_words"] == exact[90]
    assert sum(s["reasons"].values()) > 0
    assert sum(s["histograms"]["n_words_b50"].values()) == 1000
    assert s["fits"]["gamma_length"]["shape"] > 0
    assert len(s["fits"]["gmm_perplexity"]) == 2
    assert "en" in s["langs"]
    # decision cascade fires: synthetic corpus keeps ~60% → no error
    assert "low_keep_rate" not in s["errors"]

    jp, hp = str(tmp_path / "r.json"), str(tmp_path / "r.html")
    write_json_report(s, jp)
    write_html_report(s, hp)
    import json

    assert json.load(open(jp))["totals"]["n_docs"] == 1000
    assert "<h1>" in open(hp).read()


def test_drift_report_stable_vs_shifted(spark, corpus_path):
    """Run-over-run PSI drift: identical label tables are stable on every
    metric; a truncated-text re-crawl shifts the length metrics into the
    'major' band while the orderable output puts the worst metric first."""
    from pyspark.sql import functions as F

    from longqc_spark.pipeline import qc_pipeline
    from longqc_spark.report import drift_report

    docs = spark.read.parquet(corpus_path)
    base = qc_pipeline(docs)
    same = drift_report(base, base).toPandas()
    assert (same.verdict == "stable").all()
    assert (same.psi.abs() < 1e-6).all()

    shifted = qc_pipeline(docs.withColumn("text", F.substring("text", 1, 80)))
    out = drift_report(base, shifted).toPandas()
    assert out.set_index("metric").loc["n_chars", "verdict"] == "major"
    # ordered by psi descending: the first row is the worst drift
    assert out.psi.iloc[0] == out.psi.max()
    # unknown metrics are skipped, not fatal; all-unknown raises
    import pytest as _pytest

    with _pytest.raises(ValueError, match="none of"):
        drift_report(base, shifted, metrics=("no_such_col",))
