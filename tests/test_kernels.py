"""Unit tests for the shared kernels on hand-computed fixtures
(FIXTURES.md §5 micro-fixture strategy; the reference ships no tests —
SURVEY.md §5 — so exact expectations are derived by hand here)."""

import pandas as pd
import pytest

from longqc_spark.config import DEFAULT_CONFIG
from longqc_spark.kernels import (
    compute_stats,
    extract_text_batch,
    scrub_batch,
    scrub_text,
)

from reference import dup_line_frac, top_ngram_frac


def test_basic_counts():
    s = compute_stats(pd.Series(["ab cd ef", ""]))
    assert s.n_chars.tolist() == [8, 0]
    assert s.n_words.tolist() == [3, 0]
    assert s.n_lines.tolist() == [1, 0]
    assert s.mean_word_len.tolist() == [2.0, 0.0]


def test_char_class_fracs():
    s = compute_stats(pd.Series(["abc! def?"]))
    # 9 chars: 6 alpha, 2 symbols (! ?), 1 space
    assert s.alpha_char_frac.iloc[0] == pytest.approx(6 / 9)
    assert s.symbol_char_frac.iloc[0] == pytest.approx(2 / 9)


def test_alpha_word_frac_and_stopwords():
    s = compute_stats(pd.Series(["the 123 cat 456"]))
    assert s.alpha_word_frac.iloc[0] == pytest.approx(0.5)
    assert s.stopword_count.iloc[0] == 1


def test_dup_line_frac():
    assert dup_line_frac("a\nb\nc") == 0.0
    assert dup_line_frac("a\na\nb\nb") == pytest.approx(0.5)
    assert dup_line_frac("x") == 0.0
    assert dup_line_frac("a\n\n\na") == pytest.approx(0.5)  # empty lines ignored


def test_top_ngram_frac():
    toks = "a b a b a b".split()
    # bigram ("a","b") occurs 3 times among 5 bigrams → 3*2/6 tokens
    assert top_ngram_frac(toks, 2) == pytest.approx(1.0)
    assert top_ngram_frac(["x", "y", "z"], 2) == 0.0  # no repeats → 0
    assert top_ngram_frac(["x"], 2) == 0.0


def test_scrub_email_and_phone():
    text = "contact me at bob@example.com or 555-123-4567 today"
    out, n_pii, n_tox, spans = scrub_text(text, DEFAULT_CONFIG)
    assert out == "contact me at <EMAIL> or <PHONE> today"
    assert n_pii == 2 and n_tox == 0
    assert [s[2] for s in spans] == ["EMAIL", "PHONE"]
    # spans index the ORIGINAL text
    assert text[spans[0][0] : spans[0][1]] == "bob@example.com"


def test_scrub_tox_case_insensitive():
    out, n_pii, n_tox, _ = scrub_text("well FRAK that", DEFAULT_CONFIG)
    assert out == "well <TOX> that"
    assert n_tox == 1


def test_scrub_idempotent_on_clean():
    text = "nothing sensitive here"
    out, p, t, spans = scrub_text(text, DEFAULT_CONFIG)
    assert out == text and p == 0 and t == 0 and spans == []


def test_scrub_overlap_earlier_start_wins():
    # EMAIL requires an alphabetic TLD, so "a@1.2.3.4" is scrubbed as IPV4
    out, p, _, spans = scrub_text("x a@1.2.3.4 y", DEFAULT_CONFIG)
    assert out == "x a@<IPV4> y" and p == 1
    # overlapping EMAIL ⊃ embedded pattern: the earlier-starting span wins
    out2, p2, _, spans2 = scrub_text("x bob@mail.example.com y", DEFAULT_CONFIG)
    assert out2 == "x <EMAIL> y" and p2 == 1 and [s[2] for s in spans2] == ["EMAIL"]


def test_fuzzy_scrub_identity_threshold():
    """Opt-in tolerance pass (reference lq_adapt.py:45-78 semantics): tokens
    within 1 edit of a lexicon term at identity ≥ 0.75 are scrubbed; the
    exact cascade alone must NOT touch the obfuscations."""
    cfg = DEFAULT_CONFIG.with_overrides(scrub_fuzzy=True)
    texts = pd.Series(
        [
            "say fr4k now",        # substitution, dist 1, identity 0.75
            "say frak! now",       # exact hit inside a longer token
            "say smeeg now",       # insertion, dist 1, identity 0.8
            "say smg now",         # deletion → dist 1 BUT identity 0.75 on len-4 term
            "say table now",       # clean
        ]
    )
    got = scrub_batch(texts, cfg)
    assert got.scrubbed_text.tolist() == [
        "say <TOXF> now",
        "say <TOXF> now",  # fuzzy token span (frak!) is longer → wins the tie
        "say <TOXF> now",
        "say <TOXF> now",  # 1 - 1/max(3,4) = 0.75 ≥ 0.75 → matches
        "say table now",
    ]
    assert got.tox_match_count.tolist() == [1, 1, 1, 1, 0]
    # exact-only cascade leaves the obfuscations untouched
    exact = scrub_batch(texts, DEFAULT_CONFIG)
    assert exact.scrubbed_text.tolist() == [
        "say fr4k now",
        "say <TOX>! now",  # word-boundary regex scrubs only the inner 'frak'
        "say smeeg now",
        "say smg now",
        "say table now",
    ]


def test_fuzzy_scrub_distance_cap():
    """Two edits never match at max_dist=1; raising the knobs widens it."""
    cfg1 = DEFAULT_CONFIG.with_overrides(scrub_fuzzy=True)
    assert scrub_batch(pd.Series(["fr44k"]), cfg1).tox_match_count.tolist() == [0]
    cfg2 = DEFAULT_CONFIG.with_overrides(
        scrub_fuzzy=True, fuzzy_max_dist=2, fuzzy_min_identity=0.5
    )
    assert scrub_batch(pd.Series(["fr44k"]), cfg2).tox_match_count.tolist() == [1]


def test_scrub_batch_columns():
    df = scrub_batch(pd.Series(["a@b.co hi", "clean"]), DEFAULT_CONFIG)
    assert df.scrubbed_text.tolist() == ["<EMAIL> hi", "clean"]
    assert df.pii_match_count.tolist() == [1, 0]


def test_extract_text_strips_script_style_comments_tags():
    html = (
        b"<html><head><script type='t'>var x = '<p>hidden</p>';</script>"
        b"<style>a { color: red }</style><!-- secret --></head>"
        b"<body><p>Hello &amp; welcome</p></body></html>"
    )
    out = extract_text_batch(pd.Series([html, None, b"plain, no markup"]))
    # block-level <p> tags become newlines; inline/head tags vanish
    assert out.tolist() == ["\nHello & welcome\n", "", "plain, no markup"]


def test_extract_text_invalid_utf8_replaced():
    out = extract_text_batch(pd.Series([b"<b>a\xffb</b>"]))
    assert out.tolist() == ["a�b"]


def test_extract_text_preserves_whitespace_verbatim():
    html = b"<span>line1\n\n  line2\t</span>"
    assert extract_text_batch(pd.Series([html])).tolist() == ["line1\n\n  line2\t"]


def test_extract_text_block_tags_make_lines():
    html = b"<body><p>a</p><p>b</p>one<br>two<em>x</em></body>"
    assert extract_text_batch(pd.Series([html])).tolist() == ["\na\n\nb\none\ntwox"]


def test_extract_roundtrip_on_corpus(corpus_pdf):
    """input_hint invariant: byte-identical extracted text per url — the
    synthetic corpus wraps text in markup that extraction must invert."""
    out = extract_text_batch(corpus_pdf["html"])
    assert (out == corpus_pdf["text"]).all()


def test_line_shape_and_brace_stats():
    s = compute_stats(
        pd.Series(
            [
                "• one\n• two\nplain line here",          # 2/3 bullet lines
                "first part...\nsecond line .\nthird…",   # 2/3 ellipsis lines
                "int main() { return 0; } { }",           # 2 open braces
                "no shapes at all",
            ]
        )
    )
    assert s.bullet_line_frac.tolist() == pytest.approx([2 / 3, 0.0, 0.0, 0.0])
    assert s.ellipsis_line_frac.tolist() == pytest.approx([0.0, 2 / 3, 0.0, 0.0])
    assert s.brace_char_count.tolist() == [0, 0, 2, 0]
