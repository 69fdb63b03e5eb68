"""Summary report stage: batch aggregates → driver-side fits → decision
cascade → JSON (+ optional HTML).

Transplants LongQC's aggregate/model/decision/report phases (reference
``longQC.py:449-517`` aggregates, ``462-686`` JSON dict, ``787-824`` warn/
error cascade, ``826-831`` jinja2 HTML). ``summarize`` reads the labels in
three queries (≤ 5 Spark jobs): one totals aggregation, one count table of
per-doc ``(k, v)`` tags (reasons, langs, perplexity bins and exact lengths;
the length histogram and N50/N90 are built from it on the driver) and one
bounded hash-ordered perplexity sample. Fits run on sufficient statistics
or that sample; no result larger than one row per distinct length reaches
the driver.
"""

from __future__ import annotations

import json
import math
from typing import Any

from pyspark.sql import DataFrame, functions as F

from .config import DEFAULT_CONFIG, QCConfig
from .fits import gamma_mle, gmm_1d

# decision thresholds — the Q7-fraction warn/error analog
# (reference longQC.py:141-143: warn 0.65 / error 0.5)
KEEP_RATE_WARN = 0.5
KEEP_RATE_ERROR = 0.25
PII_RATE_WARN = 0.3
LANG_MISMATCH_WARN = 0.3

# perplexities in the GMM fit's hash-ordered sample
GMM_SAMPLE_N = 10_000

# per-doc (k, v) tags, one groupBy counts them all: one ``reason`` per failed
# rule, the ``lang``, the ``ppl`` bin (floor(perplexity / 500), only below
# 20000) and the exact ``words`` length
_TAGS_SQL = """concat(
  transform(reasons, r -> named_struct('k', 'reason', 'v', r)),
  array(named_struct('k', 'lang', 'v', lang_pred),
        named_struct('k', 'words', 'v', CAST(n_words AS STRING))),
  IF(perplexity < 20000,
     array(named_struct('k', 'ppl', 'v', CAST(floor(perplexity / 500.0) AS STRING))),
     array()))"""


def _nxx(lengths: list[tuple[int, int]], frac: float) -> int | None:
    """N50-style weighted quantile (reference ``lq_utils.py:33-53``) of an
    exact ``(length, count)`` table in descending length order: the first
    length whose running ``length * count`` reaches ``frac * total``, as in
    ``operators.relational.nxx``. None for an empty table."""
    total = float(sum(w * n for w, n in lengths))
    run = 0
    for w, n in lengths:
        run += w * n
        if run >= frac * total:
            return w
    return None


def summarize(labels: DataFrame, cfg: QCConfig = DEFAULT_CONFIG) -> dict[str, Any]:
    """labels (qc_pipeline output) → nested summary dict (JSON-ready)."""
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

    # every other count comes from one groupBy over per-doc (k, v) tags:
    # the reasons histogram (A14 adapter-count-histogram analog), the langs,
    # the perplexity bins and the exact length table; the binned tables ARE
    # the report payload (A11)
    counts: dict[str, dict] = {"reason": {}, "lang": {}, "ppl": {}, "words": {}}
    for r in labels.select(F.inline(F.expr(_TAGS_SQL))).groupBy("k", "v").count().collect():
        counts[r["k"]][r["v"]] = r["count"]
    reasons, lang_counts = counts["reason"], counts["lang"]
    ppl_hist = {int(v): n for v, n in counts["ppl"].items()}
    words = sorted(((int(v), n) for v, n in counts["words"].items()), reverse=True)
    len_hist: dict[int, int] = {}
    for w, n in words:
        b = math.floor(w / 50.0)
        len_hist[b] = len_hist.get(b, 0) + n

    # fits: gamma from sufficient stats (MF1); GMM on a bounded deterministic
    # sample of perplexities (MF2) — SA1-replacement sampling
    gamma_shape, gamma_scale = (
        gamma_mle(agg["len_mean"], agg["len_meanlog"]) if agg["len_mean"] else (0.0, 0.0)
    )
    ppl_sample = [
        r["perplexity"]
        for r in labels.select("perplexity")
        .orderBy(F.xxhash64("perplexity", F.lit(13)))
        .limit(GMM_SAMPLE_N)
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
            "n50_words": _nxx(words, 0.5),
            "n90_words": _nxx(words, 0.9),
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


# stat-vector columns a run-over-run drift check watches by default: the
# continuous quality signals whose distribution shifting means the UPSTREAM
# corpus changed (scraper regression, spam wave), plus keep itself (a 0/1
# column PSI-bins cleanly) so decision drift is visible even when every
# individual signal moves sub-threshold.
DRIFT_METRICS: tuple[str, ...] = (
    "n_chars",
    "n_words",
    "mean_word_len",
    "symbol_char_frac",
    "alpha_char_frac",
    "stopword_count",
    "dup_line_frac",
    "perplexity",
    "keep",
)


def drift_report(
    prev_labels: DataFrame,
    new_labels: DataFrame,
    metrics: tuple[str, ...] = DRIFT_METRICS,
    n_bins: int = 10,
) -> DataFrame:
    """Run-over-run distribution drift: PSI of each stat-vector column
    between a PREVIOUS run's committed labels (the reference) and the
    current run's — the release-over-release QC-summary comparison a
    production filter pipeline alerts on (reference analog: eyeballing two
    batches' HTML report histograms, ``lq_nanopore.py:294-314``,
    mechanized). → ``(metric, psi, verdict)`` ordered by psi descending;
    verdicts use the standard PSI bands (<0.1 stable, <0.25 moderate,
    else major).

    Scale: one ``score_drift`` plan per metric — each is two partial-agg
    groupBys of ≤ ``n_bins`` rows; the k metric plans share the two label
    scans via Spark's scan reuse, and everything stays lazy until the
    caller collects."""
    from .operators.web import score_drift

    per_metric = []
    for m in metrics:
        if m not in prev_labels.columns or m not in new_labels.columns:
            continue
        a = prev_labels.select(F.col(m).cast("double").alias("_s"))
        b = new_labels.select(F.col(m).cast("double").alias("_s"))
        per_metric.append(
            score_drift(a, b, "_s", n_bins=n_bins).agg(
                F.lit(m).alias("metric"),
                F.round(F.sum("psi_term"), 6).alias("psi"),
            )
        )
    if not per_metric:
        raise ValueError(f"none of {metrics} present in both label tables")
    out = per_metric[0]
    for p in per_metric[1:]:
        out = out.unionByName(p)
    return out.select(
        "metric",
        "psi",
        F.when(F.col("psi") < 0.1, "stable")
        .when(F.col("psi") < 0.25, "moderate")
        .otherwise("major")
        .alias("verdict"),
    ).orderBy(F.col("psi").desc(), "metric")


def write_json_report(summary: dict, path: str) -> None:
    with open(path, "w") as f:
        # round-trip first: json writes a None key (a null lang_pred) as
        # "null", and sort_keys then compares only strings
        summary = json.loads(json.dumps(summary, default=float))
        json.dump(summary, f, indent=1, sort_keys=True)


_HTML_TPL = """<!doctype html><html><head><meta charset="utf-8">
<title>longqc-spark QC report</title></head><body>
<h1>Web-text QC summary</h1>
<h2>Decisions</h2>
{% if summary.errors %}<ul>{% for k, v in summary.errors.items() %}
<li style="color:red"><b>ERROR {{k}}</b>: {{v}}</li>{% endfor %}</ul>{% endif %}
{% if summary.warnings %}<ul>{% for k, v in summary.warnings.items() %}
<li style="color:orange"><b>WARN {{k}}</b>: {{v}}</li>{% endfor %}</ul>{% endif %}
{% if not summary.errors and not summary.warnings %}<p>all checks passed</p>{% endif %}
<h2>Totals</h2><table border="1">
{% for k, v in summary.totals.items() %}<tr><td>{{k}}</td><td>{{v}}</td></tr>{% endfor %}
</table>
<h2>Drop reasons</h2><table border="1">
{% for k, v in summary.reasons.items() %}<tr><td>{{k}}</td><td>{{v}}</td></tr>{% endfor %}
</table>
<h2>Languages</h2><table border="1">
{% for k, v in summary.langs.items() %}<tr><td>{{k}}</td><td>{{v}}</td></tr>{% endfor %}
</table>
</body></html>"""


def write_html_report(summary: dict, path: str) -> None:
    """Minimal HTML render (reference web_summary template analog)."""
    import jinja2

    html = jinja2.Template(_HTML_TPL).render(summary=summary)
    with open(path, "w") as f:
        f.write(html)
