"""The Arrow token front end of ``compute_stats`` against its slow twin.

``kernels._tokens`` splits with Arrow's ``utf8_split_whitespace`` and
``kernels._unique_token_stats`` classifies ASCII tokens from byte tables;
``tests/reference.py`` holds the ``str.split`` / ``pd.factorize`` /
per-token regex front end they replaced. The code-point checks cover every
code point; the property test runs the whole kernel on each front end and
compares the outputs bit for bit. ``kernels._flat_line_stats`` is compared
the same way with ``reference.line_stats``, one doc at a time.
"""

import string
import sys
from itertools import chain

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

import reference
from longqc_spark import kernels
from longqc_spark.kernels import _flat_line_stats, _tokens, _unique_token_stats, compute_stats
from longqc_spark.models import HashedNgramLM, hash_tokens


@pytest.fixture(scope="module")
def code_points() -> list[str]:
    """Every code point except the surrogates."""
    return [chr(c) for c in range(sys.maxunicode + 1) if not 0xD800 <= c <= 0xDFFF]


def _token_lists(arr: pa.Array) -> tuple[np.ndarray, list[str]]:
    n_tok, codes, uniq = _tokens(arr)
    return n_tok, np.asarray(uniq.to_pylist(), dtype=object)[codes].tolist()


def test_arrow_split_is_str_split_on_every_code_point(code_points):
    # each code point leading, inside and trailing a doc
    docs = [f"{c}a{c}b{c}" for c in code_points]
    n_tok, flat = _token_lists(pa.array(docs, type=pa.large_string()))
    split = [d.split() for d in docs]
    assert n_tok.tolist() == [len(s) for s in split]
    assert flat == list(chain.from_iterable(split))
    assert sum(n == 2 for n in n_tok) == sum(c.isspace() for c in code_points) == 29


def test_split_drops_the_empty_tokens_of_empty_and_blank_docs():
    docs = ["", " ", "　a ", "a  b", "\x1c"]
    n_tok, flat = _token_lists(pa.array(docs, type=pa.large_string()))
    assert n_tok.tolist() == [0, 0, 1, 2, 0]
    assert flat == ["a", "a", "b"]
    n_tok, codes, uniq = _tokens(pa.array([], type=pa.large_string()))
    assert len(n_tok) == len(codes) == len(uniq) == 0


def test_unique_token_stats_match_regexes_on_every_code_point(code_points):
    # every non-whitespace code point alone, and the 1- and 2-byte ones also
    # between ASCII chars, so both the byte-table path and the
    # str.lower/regex path see mixed tokens
    chars = [c for c in code_points if not c.isspace()]
    mixed = [f"A{c}_" for c in chars if c < "\u0800"]
    uniq = pa.array(chars + mixed + ["AΣ_"], type=pa.large_string())
    got = _unique_token_stats(uniq)
    want = reference.unique_token_stats(uniq)
    for g, w in zip(got, want):
        assert g.dtype == w.dtype
        np.testing.assert_array_equal(g, w)
    # non-ASCII tokens get str.lower: Arrow's utf8_lower maps U+0130 to one
    # code point and has no final-sigma context
    lower = dict(zip(uniq.to_pylist(), got[0]))
    assert lower["İ"] == "i\u0307" and lower["AΣ_"] == "aς_"


_ALPHABET = (
    string.ascii_letters + string.digits + "_" + string.punctuation
    + "İΣσςé" + " \t\n\x1c　 \x85"
)
_docs = st.one_of(st.none(), st.text(alphabet=_ALPHABET, max_size=80))


@settings(max_examples=200, deadline=None)
@given(st.lists(_docs, min_size=1, max_size=12))
def test_compute_stats_equals_the_per_token_oracle(docs):
    texts = pd.Series(docs, dtype=object)
    got = compute_stats(texts)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(kernels, "_tokens", reference.tokens)
        mp.setattr(kernels, "_unique_token_stats", reference.unique_token_stats)
        want = compute_stats(texts)
    pd.testing.assert_frame_equal(got, want, check_exact=True)


# line breaks, the Unicode separators that str.splitlines would also break
# on but "\n"-splitting must not, and the bullet and ellipsis marks
_LINE_ALPHABET = "ab \n\r\u2028\x85•-*.…"


@settings(max_examples=300, deadline=None)
@given(st.lists(st.text(alphabet=_LINE_ALPHABET, max_size=40), min_size=1, max_size=10))
def test_flat_line_stats_equal_the_per_doc_spec(docs):
    got = _flat_line_stats(pa.array(docs, type=pa.large_string()))
    want = [reference.line_stats(d) for d in docs]
    for g, w in zip(got, zip(*want)):
        np.testing.assert_array_equal(g, np.asarray(w, dtype=g.dtype))


@pytest.fixture(scope="module")
def dense_lm() -> HashedNgramLM:
    # a 12-word vocabulary, so streams over it hit every order
    rng = np.random.default_rng(5)
    return HashedNgramLM(" ".join(rng.choice(_VOCAB, size=400)))


_VOCAB = [f"w{i}" for i in range(12)]


@settings(max_examples=100, deadline=None)
@given(st.lists(st.lists(st.sampled_from(_VOCAB), max_size=30), min_size=1, max_size=8))
def test_lm_logprobs_equal_the_order_by_order_recursion(dense_lm, docs):
    hashes = hash_tokens(np.array(list(chain.from_iterable(docs)), dtype=object))
    pos_in_doc = np.concatenate([np.arange(len(d)) for d in docs]).astype(np.int64)
    got = dense_lm.token_logprobs_flat(hashes, pos_in_doc)
    want = reference.token_logprobs_flat(dense_lm, hashes, pos_in_doc)
    assert got.dtype == want.dtype or len(hashes) == 0
    np.testing.assert_array_equal(got, want)
