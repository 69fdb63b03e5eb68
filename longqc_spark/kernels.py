"""Shared pure kernels: per-document stat vectors and the PII/toxicity scrub.

This module is the single source of truth for every per-document number the
engine computes — the analog of ``sdust.c`` being the only implementation of
the masked-fraction stats in the reference (``sdust.c:136-175``,
``lq_gcfrac.py:25-35``, ``lqutils.c:26-80``, ``lq_adapt.py:10-78``).

Both sides call these functions on pandas inputs:

* the Spark pipeline, inside Arrow-batched ``mapInPandas`` / pandas UDFs;
* the pure-pandas reference labeler (``labeler.py``).

Because the floats and scrubbed bytes are produced by literally the same
code, keep/drop F1 vs the reference labels is a structural identity and the
scrub output is byte-identical per url (BASELINE.json north_rule).

Everything operates on Arrow-sized batches. Most per-doc numbers are numpy
reductions over flat token/line streams, or Arrow compute kernels (the
tokenizer and its dictionary codes, the line stats, the RE2 scrub
prefilters). Per-row Python remains in four places:

* ``scrub_text`` on each doc a prefilter flags (~1 in 6 on ``qc_text``),
  running only the patterns flagged for that doc;
* ``str.lower`` and the char-class regexes once per UNIQUE non-ASCII token
  (~0.5 % of the uniques on ``qc_text``; ASCII tokens use byte tables);
* turning each unique token's lower-cased form into a Python ``str`` for
  the SipHash token hash;
* C-speed generator loops over the batch (the ``{`` count, the langid
  prefix).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from .config import STOPWORDS, TOX_WORDS, QCConfig
from .models import hash_tokens, langid_model, ngram_keys_all, ngram_lm

# ---------------------------------------------------------------------------
# Tokenization / char classes (fixed: both sides must agree exactly)
# ---------------------------------------------------------------------------

_NOT_ALPHA_RE = re.compile(r"[^A-Za-zÀ-ÖØ-öø-ÿ]")
_SYMBOL_RE = re.compile(r"[^\w\s]", re.UNICODE)
_STOPWORD_HASHES = hash_tokens(np.array(sorted(STOPWORDS), dtype=object))
# The same two classes as byte tables, valid for ASCII tokens only: column 0
# flags an alpha char, column 1 a symbol char. Arrow's Unicode classes and
# case mappings differ from Python's beyond ASCII (RE2's \w on 4,388 code
# points, utf8_lower on U+0130 and final sigma), so non-ASCII tokens keep
# the regexes and ``str.lower``.
_ASCII_CLASS_LUT = np.array(
    [
        [_NOT_ALPHA_RE.match(chr(b)) is None, _SYMBOL_RE.match(chr(b)) is not None]
        if b < 128 else [False, False]
        for b in range(256)
    ],
    dtype=np.int64,
)

# grow-only scratch for arange (fresh large allocations page-fault
# expensively on this host; workers are long-lived so reuse wins)
_SCRATCH: dict[str, np.ndarray] = {}


def _arange(n: int) -> np.ndarray:
    buf = _SCRATCH.get("arange")
    if buf is None or buf.shape[0] < n:
        buf = np.arange(max(n, 1 << 20), dtype=np.int64)
        _SCRATCH["arange"] = buf
    return buf[:n]


STAT_COLUMNS: tuple[str, ...] = (
    "n_chars",
    "n_words",
    "n_lines",
    "mean_word_len",
    "symbol_char_frac",
    "alpha_char_frac",
    "alpha_word_frac",
    "stopword_count",
    "dup_line_frac",
    "top_ngram_frac_2",
    "top_ngram_frac_3",
    "top_ngram_frac_4",
    "lang_pred",
    "lang_score",
    "logprob_mean",
    "perplexity",
    "frac_tokens_above_q",
    "bullet_line_frac",
    "ellipsis_line_frac",
    "brace_char_count",
)

# Gopher line-shape specs (shared by both engines; see config.QCConfig)
_BULLET_CHARS = ("•", "-", "*")
_ELLIPSIS_SUFFIXES = ("...", "…")


def _flat_top_ngram_frac(
    keys_full: np.ndarray,
    pos_in_doc: np.ndarray,
    doc_ids: np.ndarray,
    n_tok: np.ndarray,
    order: int,
) -> np.ndarray:
    """Per-doc fraction of tokens covered by the most frequent word n-gram,
    computed over the flat token stream: hashed n-gram keys (``keys_full`` =
    precomputed ``ngram_keys`` for this order) → lexsort by (doc, key) →
    run-length counts → per-doc max via ``np.maximum.reduceat`` over each
    doc's runs (the runs are sorted by doc).

    Hashed counting (64-bit keys) is the declared spec; collision probability
    per doc is ~m²/2⁶⁵ — negligible, and both engines share this code.
    """
    n_docs = n_tok.shape[0]
    out = np.zeros(n_docs, dtype=np.float64)
    valid = pos_in_doc >= (order - 1)
    if not valid.any():
        return out
    keys = keys_full[valid]
    docs = doc_ids[valid]
    # single-sort composite key: doc id in the top 24 bits, 40-bit ngram hash
    # below (within-doc collision odds ~m²/2⁴¹ — negligible, and shared by
    # both engines). One np.sort beats lexsort ~4×.
    comp = (docs.astype(np.uint64) << np.uint64(40)) | (keys >> np.uint64(24))
    comp.sort()
    boundary = np.empty(comp.shape[0], dtype=bool)
    boundary[0] = True
    boundary[1:] = comp[1:] != comp[:-1]
    run_starts = np.flatnonzero(boundary)
    run_counts = np.diff(np.append(run_starts, comp.shape[0]))
    run_docs = (comp[run_starts] >> np.uint64(40)).astype(np.int64)
    doc_first = np.flatnonzero(np.append(True, run_docs[1:] != run_docs[:-1]))
    top = np.zeros(n_docs, dtype=np.int64)
    top[run_docs[doc_first]] = np.maximum.reduceat(run_counts, doc_first)
    covered = np.where(top > 1, top * order, 0).astype(np.float64)
    return np.divide(covered, n_tok, out=out, where=n_tok > 0)


def _flat_line_stats(
    arr: pa.Array,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """One pass over the flat line stream of the docs in ``arr`` → per-doc
    ``(dup_line_frac, bullet_line_frac, ellipsis_line_frac, n_segments)``
    where n_segments = number of newline-split segments (callers zero it for
    empty docs to get n_lines).

    dup_line_frac: fraction of non-empty stripped lines repeating an earlier
    line. bullet/ellipsis: Gopher line-shape fractions over the same
    non-empty stripped lines.

    Runs in Arrow kernels: ``utf8_trim_whitespace`` strips exactly the 29
    code points ``str.isspace`` accepts (tests/test_prefilters.py), and
    distinct lines are counted on exact ``dictionary_encode`` codes."""
    n_docs = len(arr)
    lines = pc.split_pattern(arr, "\n")
    n_lines = pc.list_value_length(lines).to_numpy().astype(np.int64)
    stripped = pc.utf8_trim_whitespace(lines.flatten())
    nonempty = pc.greater(pc.binary_length(stripped), 0)
    stripped = stripped.filter(nonempty)
    doc_ids = np.repeat(np.arange(n_docs), n_lines)[nonempty.to_numpy(zero_copy_only=False)]
    total = np.bincount(doc_ids, minlength=n_docs)
    safe_total = np.maximum(total, 1).astype(np.float64)

    codes = stripped.dictionary_encode().indices.to_numpy().astype(np.int64)
    n_codes = int(codes.max()) + 1 if codes.shape[0] else 1
    distinct = np.bincount(np.unique(doc_ids * n_codes + codes) // n_codes, minlength=n_docs)
    dup = np.zeros(n_docs, dtype=np.float64)
    many = total > 1
    dup[many] = 1.0 - distinct[many] / total[many]

    first = pc.utf8_slice_codeunits(stripped, 0, 1)
    is_bullet = pc.is_in(first, value_set=pa.array(_BULLET_CHARS, pa.large_string()))
    is_ell = pc.or_(*(pc.ends_with(stripped, s) for s in _ELLIPSIS_SUFFIXES))
    bullet, ellipsis = (
        np.bincount(
            doc_ids,
            weights=hits.to_numpy(zero_copy_only=False).astype(np.float64),
            minlength=n_docs,
        )
        / safe_total
        for hits in (is_bullet, is_ell)
    )
    return dup, bullet, ellipsis, n_lines


def _tokens(arr: pa.Array) -> tuple[np.ndarray, np.ndarray, pa.Array]:
    """The ``str.split()`` tokens of the docs in ``arr`` as one flat stream →
    ``(n_tok per doc, code per token, unique tokens)``; ``uniques[codes]``
    is the stream in doc order.

    ``utf8_split_whitespace`` splits on exactly the ``str.isspace`` set
    (tests/test_reference.py checks every code point) but, unlike
    ``str.split()``, emits an empty token for leading or trailing whitespace
    and for an empty doc; those are dropped and ``n_tok`` is counted after.

    It also decodes one code point past a doc's trailing whitespace (pyarrow
    16.1). After the last doc that byte is the data buffer's padding, and
    when it is not valid UTF-8 the whitespace stays glued to the last token
    (``".\\n"`` for ``"."``, changing that doc's stats from run to run). A
    one-space sentinel doc, dropped from the result, makes that byte a
    space."""
    sentinel = pa.array([" "], type=arr.type)
    parts = pc.utf8_split_whitespace(pa.concat_arrays([arr, sentinel]))[: len(arr)]
    flat = parts.flatten()
    keep = pc.greater(pc.binary_length(flat), 0).to_numpy(zero_copy_only=False)
    per_doc = pc.list_value_length(parts).to_numpy()
    doc_ids = np.repeat(np.arange(len(arr)), per_doc)[keep]
    enc = flat.filter(pa.array(keep)).dictionary_encode()
    n_tok = np.bincount(doc_ids, minlength=len(arr))
    return n_tok, enc.indices.to_numpy(), enc.dictionary


def _unique_token_stats(
    uniq: pa.Array,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Per unique token → ``(lower-cased form (object array), its length,
    alpha-char count, symbol-char count)``; the char classes are
    ``_NOT_ALPHA_RE``'s complement and ``_SYMBOL_RE``.

    ASCII tokens (all but ~0.5 % of the uniques on web text) are classified
    from the UTF-8 byte buffer through ``_ASCII_CLASS_LUT`` and lower-cased
    by ``ascii_lower``; the rest go through ``str.lower`` and the regexes."""
    n = len(uniq)
    offsets = np.frombuffer(uniq.buffers()[1], dtype=np.int64)[uniq.offset : uniq.offset + n + 1]
    data = np.frombuffer(uniq.buffers()[2], dtype=np.uint8)[offsets[0] : offsets[-1]]
    # per-token class counts as differences of a running count over the bytes
    run = np.zeros((data.shape[0] + 1, 2), dtype=np.int64)
    np.cumsum(_ASCII_CLASS_LUT[data], axis=0, out=run[1:])
    rel = offsets - offsets[0]
    counts = (run[rel[1:]] - run[rel[:-1]]).astype(np.float64)
    u_alpha_cnt, u_sym_cnt = counts[:, 0], counts[:, 1]
    u_len = np.diff(rel).astype(np.float64)
    u_lower = pc.ascii_lower(uniq).to_numpy(zero_copy_only=False)
    wide = np.flatnonzero(~pc.string_is_ascii(uniq).to_numpy(zero_copy_only=False))
    for i, t in zip(wide, uniq.take(pa.array(wide)).to_pylist()):
        low = t.lower()
        u_lower[i] = low
        u_len[i] = len(low)
        u_alpha_cnt[i] = len(_NOT_ALPHA_RE.sub("", t))
        u_sym_cnt[i] = len(t) - len(_SYMBOL_RE.sub("", t))
    return u_lower, u_len, u_alpha_cnt, u_sym_cnt


def compute_stats(
    texts: pd.Series,
    q_threshold: float = -8.0,
    langid_max_chars: int = 512,
) -> pd.DataFrame:
    """Per-document stat vector (FIXTURES.md §3 ``qc_stats`` shape minus the
    scrub counters, which the scrub kernel produces).

    Flat-token-stream design: the whole Arrow batch is one token array (doc
    ids via ``np.repeat``), every per-doc number is a ``np.bincount`` /
    sorted-run reduction. Tokens, their codes and the per-unique-token char
    classes come from Arrow kernels and byte tables (``_tokens``,
    ``_unique_token_stats``); Python-level work is per UNIQUE non-ASCII
    token plus the hashing of each unique token's lower-cased form. The
    line stats and ``n_chars`` run in Arrow kernels too. This is what makes
    the UDF stage memory-lean enough to scale past the SMT knee on wide
    hosts.
    """
    texts = texts.fillna("")
    lid = langid_model()
    lm = ngram_lm()
    n_docs = len(texts)
    if n_docs == 0:
        return pd.DataFrame(
            {
                c: pd.Series(dtype=("object" if c == "lang_pred" else
                                    "int64" if c in ("n_chars", "n_words", "n_lines", "stopword_count", "brace_char_count") else "float64"))
                for c in STAT_COLUMNS
            }
        )

    docs = texts.to_numpy()
    arr = pa.array(docs, type=pa.large_string())
    n_chars = pc.utf8_length(arr).to_numpy()
    safe_chars = np.maximum(n_chars, 1).astype(np.float64)

    # ---- flat token stream ----
    # all per-token work (length, char classes, hashing, stopword
    # membership) runs once per UNIQUE token, then fans out via codes
    n_tok, codes, uniq = _tokens(arr)
    total = codes.shape[0]
    doc_ids = np.repeat(np.arange(n_docs), n_tok)
    starts = np.concatenate(([0], np.cumsum(n_tok)[:-1]))
    pos_in_doc = _arange(total) - np.repeat(starts, n_tok)
    safe_tok = np.maximum(n_tok, 1).astype(np.float64)

    u_lower, u_len, u_alpha_cnt, u_sym_cnt = _unique_token_stats(uniq)
    u_alpha = (u_alpha_cnt > 0).astype(np.float64)
    u_hash = hash_tokens(u_lower)
    # stopword membership via token hashes (uint64 isin beats object isin
    # ~10×; SipHash collisions against a 29-word list are negligible)
    u_stop = np.isin(u_hash, _STOPWORD_HASHES).astype(np.float64)
    # alpha/symbol chars never occur in whitespace, so per-doc totals over
    # the token stream are exactly the per-doc totals over the text
    alpha_chars = np.bincount(doc_ids, weights=u_alpha_cnt[codes], minlength=n_docs)
    symbol_chars = np.bincount(doc_ids, weights=u_sym_cnt[codes], minlength=n_docs)

    mean_word_len = np.bincount(doc_ids, weights=u_len[codes], minlength=n_docs) / safe_tok
    alpha_word_frac = np.bincount(doc_ids, weights=u_alpha[codes], minlength=n_docs) / safe_tok
    stopword_count = np.bincount(doc_ids, weights=u_stop[codes], minlength=n_docs).astype(np.int64)
    hashes = u_hash[codes]
    # one incremental hashing sweep shared by the top-ngram stats (orders
    # 2-4) and the 5-gram LM (orders 1-5)
    keys_all = ngram_keys_all(hashes, 5)
    top2 = _flat_top_ngram_frac(keys_all[2], pos_in_doc, doc_ids, n_tok, 2)
    top3 = _flat_top_ngram_frac(keys_all[3], pos_in_doc, doc_ids, n_tok, 3)
    top4 = _flat_top_ngram_frac(keys_all[4], pos_in_doc, doc_ids, n_tok, 4)

    lps = lm.token_logprobs_flat(hashes, pos_in_doc, keys_by_order=keys_all)
    logprob_mean = np.full(n_docs, -20.0, dtype=np.float64)
    nonempty = n_tok > 0
    sums = np.bincount(doc_ids, weights=lps, minlength=n_docs)
    logprob_mean[nonempty] = sums[nonempty] / n_tok[nonempty]
    frac_above = np.bincount(doc_ids, weights=(lps > q_threshold).astype(np.float64), minlength=n_docs) / safe_tok

    dup_line, bullet_line, ellipsis_line, n_segments = _flat_line_stats(arr)
    n_lines = np.where(n_chars > 0, n_segments, 0)
    # str.count and str slicing over the object array beat count_substring
    # and utf8_slice_codeunits here (~0.6 vs 2.8 and ~0.5 vs 2.0 µs/doc)
    brace_count = np.fromiter((t.count("{") for t in docs), np.int64, n_docs)
    # langid reads a bounded prefix (spec: langid_max_chars) — trigram volume
    # is ~6× token volume, so this is the kernel's main memory-traffic knob
    lang_pred, lang_score = lid.score_batch(pd.Series([t[:langid_max_chars] for t in docs]))

    return pd.DataFrame(
        {
            "n_chars": n_chars,
            "n_words": n_tok,
            "n_lines": n_lines,
            "mean_word_len": mean_word_len,
            "symbol_char_frac": symbol_chars / safe_chars,
            "alpha_char_frac": alpha_chars / safe_chars,
            "alpha_word_frac": alpha_word_frac,
            "stopword_count": stopword_count,
            "dup_line_frac": dup_line,
            "top_ngram_frac_2": top2,
            "top_ngram_frac_3": top3,
            "top_ngram_frac_4": top4,
            "lang_pred": lang_pred.astype(str),
            "lang_score": lang_score,
            "logprob_mean": logprob_mean,
            "perplexity": np.exp(-logprob_mean),
            "frac_tokens_above_q": frac_above,
            "bullet_line_frac": bullet_line,
            "ellipsis_line_frac": ellipsis_line,
            "brace_char_count": brace_count,
        }
    )


# ---------------------------------------------------------------------------
# Scrub kernel (adapter-trim analog, reference lq_adapt.py:10-103)
# ---------------------------------------------------------------------------

# Compiled once per process; order is part of the spec (fixed cascade, like
# the reference's fixed 5'-then-3' trim order, longQC.py:314-320).
PII_PATTERNS: tuple[tuple[str, re.Pattern], ...] = (
    ("EMAIL", re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")),
    ("SSN", re.compile(r"\b\d{3}-\d{2}-\d{4}\b")),
    ("PHONE", re.compile(r"\b(?:\+?\d{1,2}[ .-])?(?:\(\d{3}\)|\d{3})[ .-]\d{3}[ .-]\d{4}\b")),
    ("IPV4", re.compile(r"\b(?:\d{1,3}\.){3}\d{1,3}\b")),
)

# EMAIL's local part is a run of chars that excludes '@', so a match can only
# start where such a run starts or where the last match ended, and the match
# from any start inside a run ends where the one from the run start does.
# Trying only those starts keeps ``_email_finditer`` linear; plain
# ``finditer`` re-scans the rest of the run from every char of it.
_EMAIL_RUN_START = re.compile(r"(?<![A-Za-z0-9._%+-])" + PII_PATTERNS[0][1].pattern)


def _email_finditer(text: str):
    """``PII_PATTERNS``' EMAIL ``finditer``, in time linear in ``text``."""
    email = PII_PATTERNS[0][1]
    pos = 0
    while True:
        m = email.match(text, pos) or _EMAIL_RUN_START.search(text, pos)
        if m is None:
            return
        yield m
        pos = m.end()


TOX_PATTERN: re.Pattern = re.compile(
    r"\b(?:" + "|".join(re.escape(w) for w in TOX_WORDS) + r")\b", re.IGNORECASE
)

SCRUB_COLUMNS: tuple[str, ...] = ("scrubbed_text", "pii_match_count", "tox_match_count")

_TOKEN_RE = re.compile(r"\S+")
# per-process memo of token → fuzzy-hit, keyed by the FULL operating point
# (term list included — different lexicons must not share entries); tokens
# repeat heavily across a corpus, so each unique token pays the DP at most
# once per worker. Size-capped: a web-scale token stream has unbounded
# unique-token cardinality (URLs, hashes, typos), so the memo resets once
# it reaches _FUZZY_MEMO_CAP entries rather than leaking executor memory.
_FUZZY_MEMO: dict[tuple, dict[str, bool]] = {}
_FUZZY_MEMO_CAP = 1_000_000


def _edit_distance_capped(a: str, b: str, cap: int) -> int:
    """Levenshtein with early exit: returns cap+1 as soon as the distance
    provably exceeds ``cap`` (banded-DP spirit of the reference's bounded
    edlib alignment, lq_adapt.py:45-78)."""
    la, lb = len(a), len(b)
    if abs(la - lb) > cap:
        return cap + 1
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        ca = a[i - 1]
        cur = [i] + [0] * lb
        row_min = i
        for j in range(1, lb + 1):
            c = prev[j - 1] if ca == b[j - 1] else 1 + min(prev[j - 1], prev[j], cur[j - 1])
            cur[j] = c
            if c < row_min:
                row_min = c
        if row_min > cap:
            return cap + 1
        prev = cur
    # a row minimum within cap doesn't bound the final cell — saturate so the
    # contract is exact: returns the true distance iff it is ≤ cap, else cap+1
    return prev[lb] if prev[lb] <= cap else cap + 1


def fuzzy_term_match(
    token_lower: str,
    max_dist: int,
    min_identity: float,
    terms: tuple[str, ...] = TOX_WORDS,
) -> bool:
    """True when the token is within ``max_dist`` edits of ANY lexicon term
    AND identity = 1 − dist/max(len) clears ``min_identity`` — the identity-
    threshold semantics of the reference's approximate adapter match
    (lq_adapt.py:45-78: accept alignment only above 75% identity)."""
    memo = _FUZZY_MEMO.setdefault((max_dist, min_identity, terms), {})
    hit = memo.get(token_lower)
    if hit is None:
        hit = False
        for t in terms:
            d = _edit_distance_capped(token_lower, t, max_dist)
            if d <= max_dist and 1.0 - d / max(len(token_lower), len(t)) >= min_identity:
                hit = True
                break
        if len(memo) >= _FUZZY_MEMO_CAP:
            # evict the oldest half (dict preserves insertion order) instead
            # of a wholesale clear: on a high-unique-token stream a full wipe
            # oscillates full→empty and repays the DP for every hot token
            # right after each reset; hot lexicon-adjacent tokens re-inserted
            # since the last eviction survive this one
            for k in list(memo)[: _FUZZY_MEMO_CAP // 2]:
                del memo[k]
        memo[token_lower] = hit
    return hit


def scrub_text(text: str, cfg: QCConfig) -> tuple[str, int, int, list[tuple[int, int, str]]]:
    """Rewrite one document; returns (scrubbed, n_pii, n_tox, spans).

    Spans are (start, end, kind) in ORIGINAL coordinates — the analog of the
    reference recording trimmed adapter positions (``longQC.py:348-357``).
    Replacement is a fixed tag per kind, applied in one pass per pattern in
    declaration order; byte-identical across both engines because this is the
    only implementation.
    """
    return _scrub(text, _scrub_patterns(cfg), cfg.scrub_fuzzy, cfg)


def _scrub_patterns(cfg: QCConfig) -> tuple[tuple[str, re.Pattern], ...]:
    """The exact-regex cascade ``cfg`` enables, in declaration order."""
    return (PII_PATTERNS if cfg.scrub_pii else ()) + (
        (("TOX", TOX_PATTERN),) if cfg.scrub_tox else ()
    )


def _scrub(
    text: str,
    patterns: tuple[tuple[str, re.Pattern], ...],
    fuzzy: bool,
    cfg: QCConfig,
) -> tuple[str, int, int, list[tuple[int, int, str]]]:
    """``scrub_text`` running only ``patterns`` (a subsequence of
    ``_scrub_patterns(cfg)``) and the fuzzy pass only if ``fuzzy``. Equal to
    ``scrub_text`` whenever the skipped passes have no match in ``text``."""
    spans: list[tuple[int, int, str]] = []
    n_pii = 0
    n_tox = 0
    # Overlapping spans: earlier start wins, then longer match; ties resolve
    # by pattern declaration order (PII, then TOX, then TOXF) because sort
    # is stable.
    for kind, pat in patterns:
        for m in _email_finditer(text) if kind == "EMAIL" else pat.finditer(text):
            spans.append((m.start(), m.end(), kind))
    if fuzzy:
        # tolerance pass (opt-in): whitespace tokens within fuzzy_max_dist
        # edits of a lexicon term at ≥ fuzzy_min_identity; exact TOX spans
        # appended first win equal-start/equal-length ties (stable sort)
        for m in _TOKEN_RE.finditer(text):
            if fuzzy_term_match(
                m.group(0).lower(), cfg.fuzzy_max_dist, cfg.fuzzy_min_identity
            ):
                spans.append((m.start(), m.end(), "TOXF"))
    if not spans:
        return text, 0, 0, []
    spans.sort(key=lambda s: (s[0], -(s[1] - s[0])))
    kept: list[tuple[int, int, str]] = []
    last_end = -1
    for s in spans:
        if s[0] >= last_end:
            kept.append(s)
            last_end = s[1]
    out: list[str] = []
    pos = 0
    for start, end, kind in kept:
        out.append(text[pos:start])
        out.append(f"<{kind}>")
        pos = end
        if kind in ("TOX", "TOXF"):
            n_tox += 1
        else:
            n_pii += 1
    out.append(text[pos:])
    return "".join(out), n_pii, n_tox, kept


def _re2_superset(pat: re.Pattern) -> str:
    r"""An RE2 pattern that matches every string ``pat`` finds a match in.

    RE2's ``\b`` and ``\d`` are ASCII-only, unlike Python's, so ``\b`` is
    dropped (an assertion only narrows a match) and ``\d`` becomes
    ``\p{Nd}``, which contains every code point Python's ``\d`` matches.
    RE2's ``(?i)`` folds every character Python's ``re.IGNORECASE`` folds
    onto a lexicon letter, the long s and the Kelvin sign included.
    tests/test_prefilters.py checks all three claims. EMAIL uses neither
    ``\b`` nor ``\d``, so its mask is exact."""
    src = pat.pattern.replace(r"\b", "").replace(r"\d", r"\p{Nd}")
    return ("(?i)" if pat.flags & re.IGNORECASE else "") + src


def _scrub_candidates(arr: pa.Array, patterns) -> np.ndarray:
    """Bool matrix (docs × patterns): True where the doc may contain a match
    of that pattern. One linear-time RE2 pass per pattern over the batch."""
    out = np.zeros((len(arr), len(patterns)), dtype=bool)
    for k, (_, pat) in enumerate(patterns):
        out[:, k] = pc.match_substring_regex(arr, _re2_superset(pat)).to_numpy(
            zero_copy_only=False
        )
    return out


def scrub_batch(texts: pd.Series, cfg: QCConfig, emit_spans: bool = False) -> pd.DataFrame:
    """Batch scrub → DataFrame(scrubbed_text, pii_match_count, tox_match_count
    [, scrub_spans]).

    Each doc runs only the Python patterns its RE2 prefilter flags
    (``_scrub_candidates``); docs flagged for none skip ``scrub_text``'s
    cascade, and the bytes of the others still come from it.

    ``emit_spans`` is opt-in: converting per-row lists of structs through
    Arrow costs more than the scrub itself; the default hot path ships only
    the counters (the reference likewise keeps only adapter-position
    aggregates in the main flow, ``longQC.py:348-357``).
    """
    texts = texts.fillna("")
    n = len(texts)
    arr = texts.to_numpy()
    scrubbed = arr.copy()
    n_pii = np.zeros(n, dtype=np.int64)
    n_tox = np.zeros(n, dtype=np.int64)
    span_col = [[] for _ in range(n)] if emit_spans else None
    patterns = _scrub_patterns(cfg)
    arr_pa = pa.array(arr, type=pa.large_string())
    flags = _scrub_candidates(arr_pa, patterns)
    fuzzy = np.zeros(n, dtype=bool)
    if cfg.scrub_fuzzy:
        # fuzzy candidacy via the unique-token stream of compute_stats: the
        # DP runs once per UNIQUE token (memoized), then fans out via codes.
        # Exact: str.split() and _TOKEN_RE cut the same tokens.
        n_tok_f, codes_f, uniq_f = _tokens(arr_pa)
        u_hit = np.fromiter(
            (
                fuzzy_term_match(t.lower(), cfg.fuzzy_max_dist, cfg.fuzzy_min_identity)
                for t in uniq_f.to_pylist()
            ),
            dtype=bool,
            count=len(uniq_f),
        )
        doc_ids_f = np.repeat(np.arange(n), n_tok_f)
        fuzzy = np.bincount(doc_ids_f, weights=u_hit[codes_f].astype(np.float64), minlength=n) > 0
    for i in np.flatnonzero(flags.any(axis=1) | fuzzy):
        pats = tuple(patterns[k] for k in np.flatnonzero(flags[i]))
        s, p, t, spans = _scrub(arr[i], pats, fuzzy[i], cfg)
        scrubbed[i] = s
        n_pii[i] = p
        n_tox[i] = t
        if emit_spans:
            span_col[i] = [
                {"start": int(a), "end": int(b), "kind": k} for a, b, k in spans
            ]
    out = {
        "scrubbed_text": scrubbed,
        "pii_match_count": n_pii,
        "tox_match_count": n_tox,
    }
    if emit_spans:
        out["scrub_spans"] = span_col
    return pd.DataFrame(out)


# ---------------------------------------------------------------------------
# HTML → text extraction (top of the CC funnel: WARC payload → document text)
# ---------------------------------------------------------------------------

# Deterministic extraction SPEC (this implementation is the reference —
# "byte-identical extracted text per url" means both engines call exactly
# this function, the same single-source-of-truth discipline as the stats):
#   1. utf-8 decode, errors → U+FFFD;
#   2. drop <script>/<style> blocks, then <!-- comments -->;
#   3. block-level tags (p/div/br/li/ul/ol/h1-6/tr/table/blockquote, opening
#      or closing) become "\n" so the line-shape quality rules (dup-line,
#      bullet, ellipsis) see real line structure;
#   4. strip every remaining <...> tag (regex spec, not an HTML5 tree parse:
#      a literal '>' inside an attribute value ends the tag — documented
#      determinism over parser-version-dependent DOM repair);
#   5. unescape character entities;
#   6. whitespace is otherwise preserved verbatim (rules downstream own it).
_SCRIPT_STYLE_RE = re.compile(r"(?is)<(script|style)\b[^>]*>.*?</\1\s*>")
_COMMENT_RE = re.compile(r"(?s)<!--.*?-->")
_BLOCK_TAG_RE = re.compile(r"(?i)</?(?:p|div|br|li|ul|ol|h[1-6]|tr|table|blockquote)\b[^>]*>")
_TAG_RE = re.compile(r"<[^>]*>")


def extract_text_batch(html_bytes: pd.Series) -> pd.Series:
    """``html binary`` column → extracted text, one Arrow batch at a time."""
    import html as _html

    s = html_bytes.map(
        lambda b: b.decode("utf-8", "replace")
        if isinstance(b, (bytes, bytearray))
        else ("" if b is None else str(b))
    )
    s = s.str.replace(_SCRIPT_STYLE_RE, "", regex=True)
    s = s.str.replace(_COMMENT_RE, "", regex=True)
    s = s.str.replace(_BLOCK_TAG_RE, "\n", regex=True)
    s = s.str.replace(_TAG_RE, "", regex=True)
    # entity unescape only where '&' occurs (same prefilter idea as the scrub)
    amp = s.str.contains("&", regex=False).to_numpy()
    if amp.any():
        arr = s.to_numpy(copy=True)
        for i in np.flatnonzero(amp):
            arr[i] = _html.unescape(arr[i])
        s = pd.Series(arr, index=s.index)
    return s
