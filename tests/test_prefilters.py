"""The Arrow/RE2 front end of the kernels against Python's own semantics.

``scrub_batch`` runs a Python scrub pattern on a doc only when the RE2
prefilter derived from it (``kernels._re2_superset``) flags the doc, so
every prefilter must match at least every doc its Python pattern finds a
match in.
``_flat_line_stats`` strips lines with Arrow's ``utf8_trim_whitespace``, so
its whitespace set must be exactly ``str.isspace``'s. The code-point checks
cover every code point; the property test covers how the pieces compose.
The EMAIL pattern runs through ``kernels._email_finditer``, which must find
exactly what ``finditer`` does, in linear time.
"""

import os
import re
import subprocess
import sys
import textwrap

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pytest
from hypothesis import given, settings, strategies as st

from longqc_spark.config import DEFAULT_CONFIG, TOX_WORDS
from longqc_spark.kernels import (
    PII_PATTERNS,
    TOX_PATTERN,
    _email_finditer,
    _re2_superset,
    _scrub_candidates,
    scrub_batch,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PATTERNS = PII_PATTERNS + (("TOX", TOX_PATTERN),)


@pytest.fixture(scope="module")
def code_points() -> str:
    """Every code point except the surrogates, as one string."""
    return "".join(
        chr(c) for c in range(sys.maxunicode + 1) if not 0xD800 <= c <= 0xDFFF
    )


def _all_match(chars, re2_pattern: str) -> bool:
    return pc.all(pc.match_substring_regex(pa.array(list(chars)), re2_pattern)).as_py()


def test_re2_digit_class_covers_python_digits(code_points):
    digits = re.findall(r"\d", code_points)
    assert len(digits) > 600 and "٠" in digits
    assert _all_match(digits, r"^\p{Nd}$")
    # RE2's own \d is ASCII-only: it would miss all but ten of them
    assert not _all_match(digits, r"^\d$")
    for kind, pat in PII_PATTERNS[1:]:
        assert r"\d" not in _re2_superset(pat) and r"\p{Nd}" in _re2_superset(pat), kind


def test_re2_ignorecase_covers_python_ignorecase_on_lexicon_letters(code_points):
    folded = set()
    for letter in sorted(set("".join(TOX_WORDS))):
        chars = re.findall(letter, code_points, re.IGNORECASE)
        assert _all_match(chars, f"(?i)^{letter}$"), letter
        folded.update(chars)
    # beyond ASCII, Python folds the long s onto s and the Kelvin sign onto k
    assert {c for c in folded if not c.isascii()} == {"ſ", "K"}


def test_arrow_trim_whitespace_is_str_isspace(code_points):
    chars = pa.array(list(code_points))
    trimmed_away = pc.equal(pc.binary_length(pc.utf8_trim_whitespace(chars)), 0)
    arrow_ws = set(chars.filter(trimmed_away).to_pylist())
    python_ws = {c for c in code_points if c.isspace()}
    assert arrow_ws == python_ws
    assert len(python_ws) == 29
    # the fuzzy prefilter tokenizes with str.split(), scrub_text with \S+
    assert set(re.findall(r"\s", code_points)) == python_ws


# small alphabets that reach the edges: \b next to letters, digits and '_',
# non-ASCII digits and case folds, and the PII separators
_CHARS = "ab_1٣@.-()+ \nſ" + "K"
_FRAGMENTS = [
    "frak", "FRAK", "ſmeg", "SMEG", "gorram", "drek", "felgercarb", "x",
    "123", "45", "6789", "١٢٣", "٤٥", "٦٧٨٩", "1", "192", "168", ".", "-",
    " ", "(", ")", "+1 ", "@", "bob", "ex.com", "a.b", "cc", "_", "\n",
]
_texts = st.one_of(
    st.text(alphabet=_CHARS, max_size=40),
    st.lists(st.sampled_from(_FRAGMENTS), max_size=12).map("".join),
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_texts, min_size=1, max_size=16))
def test_prefilter_flags_every_python_match(texts):
    flags = _scrub_candidates(pa.array(texts, type=pa.large_string()), PATTERNS)
    for k, (kind, pat) in enumerate(PATTERNS):
        found = np.array([pat.search(t) is not None for t in texts])
        missed = [t for t, f in zip(texts, found & ~flags[:, k]) if f]
        assert not missed, (kind, missed)
        if kind == "EMAIL":
            # no \b or \d in the EMAIL pattern: its RE2 mask is exact
            assert (found == flags[:, k]).all(), texts


HOSTILE_EMAIL = textwrap.dedent(
    """
    import sys, time
    sys.path.insert(0, sys.argv[1])
    import pandas as pd
    from longqc_spark.config import DEFAULT_CONFIG
    from longqc_spark.kernels import scrub_batch

    doc = "a" * 1_000_000 + " 1"
    t0 = time.perf_counter()
    out = scrub_batch(pd.Series([doc]), DEFAULT_CONFIG)
    elapsed = time.perf_counter() - t0
    assert out["scrubbed_text"][0] == doc and out["pii_match_count"][0] == 0
    print(elapsed)
    """
)


def test_hostile_email_doc_scrubs_in_bounded_time():
    # Python's EMAIL regex is quadratic on a long run of local-part chars
    # with no '@' (~3 s at 40k chars; at 1 MB it ran past a 120 s timeout).
    # The exact RE2 EMAIL mask keeps such a doc away from it, and the digit
    # completes no other PII shape.
    r = subprocess.run(
        [sys.executable, "-c", HOSTILE_EMAIL, REPO],
        capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert float(r.stdout.split()[-1]) < 5.0


_EMAIL_FRAGMENTS = ["a", "b", "x", "y", "cc", "zz", "@", "@@", ".", "..", "_", "-", "%", "9", " ", "ü"]


@settings(max_examples=500, deadline=None)
@given(st.lists(st.sampled_from(_EMAIL_FRAGMENTS), max_size=24).map("".join))
def test_email_finditer_equals_regex_finditer(text):
    email = PII_PATTERNS[0][1]
    assert [m.span() for m in _email_finditer(text)] == [m.span() for m in email.finditer(text)]


HOSTILE_EMAIL_MATCH = textwrap.dedent(
    """
    import sys, time
    sys.path.insert(0, sys.argv[1])
    from longqc_spark.config import DEFAULT_CONFIG
    from longqc_spark.kernels import scrub_text

    doc = "a" * 1_000_000 + " bob@example.com"
    t0 = time.perf_counter()
    out, n_pii, _, _ = scrub_text(doc, DEFAULT_CONFIG)
    elapsed = time.perf_counter() - t0
    assert out == "a" * 1_000_000 + " <EMAIL>" and n_pii == 1
    print(elapsed)
    """
)


def test_email_after_a_long_local_part_run_scrubs_in_bounded_time():
    # the RE2 mask flags this doc, so the Python side runs; plain finditer
    # took 0.06 / 0.26 / 0.99 s at 5k / 10k / 20k chars of "a" (quadratic)
    r = subprocess.run(
        [sys.executable, "-c", HOSTILE_EMAIL_MATCH, REPO],
        capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert float(r.stdout.split()[-1]) < 5.0


def test_scrub_batch_runs_only_flagged_patterns():
    # one row of flags per doc, one column per pattern; a doc runs only its
    # flagged patterns, and the bytes equal the full cascade's
    texts = pd.Series(["no pii here, frak", "mail bob@example.com", "plain"])
    flags = _scrub_candidates(pa.array(texts.tolist(), type=pa.large_string()), PATTERNS)
    assert flags.tolist() == [
        [False, False, False, False, True],
        [True, False, False, False, False],
        [False, False, False, False, False],
    ]
    out = scrub_batch(texts, DEFAULT_CONFIG)
    assert out["scrubbed_text"].tolist() == ["no pii here, <TOX>", "mail <EMAIL>", "plain"]
