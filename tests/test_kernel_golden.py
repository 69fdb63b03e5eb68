"""The shared kernels against the golden fixture, bit for bit.

``tests/golden/kernels.parquet`` holds the full ``compute_stats`` and
``scrub_batch`` output of a fixed input set (corpus docs plus Unicode,
line-separator and PII-shape edge cases; see tools/make_kernel_golden.py).
The labeler runs these same kernels, so this is the check that sees a kernel
change: any edit must reproduce the fixture exactly, or regenerate it in a
change that says why.
"""

import os
import sys

import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from make_kernel_golden import GOLDEN_PATH, kernel_outputs  # noqa: E402


def test_kernels_match_golden_fixture():
    golden = pd.read_parquet(GOLDEN_PATH)
    got = kernel_outputs(golden["text"])
    # parquet round-trips the string columns as object and the rest as-is
    pd.testing.assert_frame_equal(got, golden, check_exact=True)


def test_golden_fixture_covers_edge_cases():
    golden = pd.read_parquet(GOLDEN_PATH)
    texts = golden["text"]
    assert texts.isna().sum() == 1 and (texts == "").sum() == 1
    # the fixture exercises both outcomes of every scrub kind
    spans = golden["default__scrub_spans"].str
    for kind in ("EMAIL", "SSN", "PHONE", "IPV4", "TOX"):
        assert spans.contains(f'"{kind}"').any(), kind
    assert (golden["fuzzy__tox_match_count"] > golden["default__tox_match_count"]).any()
