"""Pure-pandas reference labeler — the oracle the Spark pipeline must match.

Single-node, serial, no Spark: plays the role LongQC's native kernels play as
ground truth (the sdust table contract, reference ``README.md:139-145``).
Produces per-document ``(keep, reasons, scrubbed_text)`` from the SAME kernels
(:mod:`longqc_spark.kernels`), the SAME config and the SAME rule table
(``config.RULES`` through ``config.rule_failures``, here over pandas Series;
decision-cascade analog of ``longQC.py:787-824``).

The pytest gate (tests/test_pipeline_vs_labeler.py) asserts keep/drop
F1 ≥ 0.99 (empirically 1.0) and byte-identical scrubbed text;
tests/test_rules.py pins each rule's threshold and comparison.
"""

from __future__ import annotations

import pandas as pd

from .config import DEFAULT_CONFIG, QCConfig, rule_failures
from .kernels import compute_stats, scrub_batch


def label_corpus(pdf: pd.DataFrame, cfg: QCConfig = DEFAULT_CONFIG) -> pd.DataFrame:
    """documents_cc pandas frame → qc_labels frame (FIXTURES.md §4).

    Returns columns: url, keep, reasons (list[str] in rule order),
    scrubbed_text, pii_match_count, tox_match_count, plus the full stat
    vector (for operator-level tests).
    """
    stats = compute_stats(
        pdf["text"].reset_index(drop=True), langid_max_chars=cfg.langid_max_chars
    )
    scrub = scrub_batch(pdf["text"].reset_index(drop=True), cfg)
    stats = pd.concat([stats, scrub], axis=1)
    fails = pd.DataFrame(rule_failures(stats.__getitem__, cfg))
    reasons = fails.apply(lambda row: [n for n in fails.columns if row[n]], axis=1)
    out = pd.DataFrame(
        {
            "url": pdf["url"].reset_index(drop=True),
            "keep": ~fails.any(axis=1),
            "reasons": reasons,
        }
    )
    return pd.concat([out, stats], axis=1)
