"""Write the golden kernel fixture: ``tests/golden/kernels.parquet``.

The labeler calls the same ``compute_stats`` and ``scrub_batch`` as the
Spark pipeline, so the pipeline-vs-labeler F1 gate cannot see a change in
the kernels themselves. This fixture freezes their full output on a fixed
input set; ``tests/test_kernel_golden.py`` checks the current kernels
against it bit for bit.

Inputs (stored in the fixture, so the test does not depend on the corpus
generator staying the same):

* 300 ``generate_corpus`` docs (seed 20261018);
* hand-written edge cases: Arabic-Indic and other non-ASCII digits in
  SSN/phone/IPv4 shapes, lexicon words written with the long s (U+017F) and
  the Kelvin sign (U+212A), lines separated or padded by ``\\x1c``-``\\x1f``,
  U+0085, NBSP and U+2028, bullets, ``…`` line endings, CRLF, empty text,
  ``None``, non-BMP characters, combining marks and RTL text.

Columns: ``text``, the ``compute_stats`` columns, and for each scrub config
in ``SCRUB_CONFIGS`` the ``scrub_batch`` columns prefixed ``<name>__`` (the
default config also ships its spans, as JSON).

Regenerate only in a change that means to alter kernel output, and say why
in that change::

    python tools/make_kernel_golden.py
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from longqc_spark.config import DEFAULT_CONFIG  # noqa: E402
from longqc_spark.kernels import compute_stats, scrub_batch  # noqa: E402

GOLDEN_PATH = os.path.join(REPO, "tests", "golden", "kernels.parquet")
CORPUS_DOCS = 300
CORPUS_SEED = 20261018

SCRUB_CONFIGS = {
    "default": DEFAULT_CONFIG,
    "fuzzy": DEFAULT_CONFIG.with_overrides(scrub_fuzzy=True),
    "tox_only": DEFAULT_CONFIG.with_overrides(scrub_pii=False),
}

_AR = "١٢٣٤٥٦٧٨٩٠"  # Arabic-Indic digits 1..9, 0
_KELVIN = "K"

EDGE_CASES: list[str | None] = [
    "",
    None,
    " \n \t\n",
    # non-ASCII digits in PII shapes (Python's \d is Unicode Nd)
    f"ssn {_AR[:3]}-{_AR[3:5]}-{_AR[5:9]} here",
    f"call {_AR[:3]}-{_AR[3:6]}-{_AR[6:9]}{_AR[9]} or ({_AR[:3]}) {_AR[3:6]}.{_AR[6:9]}{_AR[9]}",
    f"host {_AR[:3]}.{_AR[3]}.{_AR[4:6]}.{_AR[6]} up",
    "math 𝟙𝟚𝟛-𝟜𝟝-𝟞𝟟𝟠𝟡 and devanagari १२३-४५६-७८९०",
    "mixed 12٣-45-6789 and 1.2.3.٤",
    # case folding beyond ASCII: long s and the Kelvin sign
    "ſmeg and FRA" + _KELVIN + " and SMEG and ſMEG",
    "what the " + _KELVIN.join(["dre", ""]) + "! gorram felgerCARB",
    # \b edges around lexicon words and PII
    "frak_smeg smeg1 xfrak frakfrak FRAK-drek (drek) drek.",
    "_123-45-6789_ a123-45-6789 123-45-67890 123-45-6789",
    "+1 (555) 123-4567, 555.123.4567, 55-555-123-4567x",
    "192.168.0.1 999.1.1.1 1.2.3.4.5 1.2.3 10.0.0.256",
    "bob@example.com a.b@c.de_x@y.zz ü@example.com x@y.z @@ foo@bar",
    "a" * 3000 + " 1",
    # line separators that str.split("\n") keeps but str.strip() removes
    "a\x1cb\nline\x1d\n\x1eline\x1f\nline",
    "\x1fdup\x1c\n\x85dup\xa0\n dup \ndup　\n dup",
    "first second third\nfirst second third",
    # bullets, ellipses, CRLF
    "• item one\r\n• item one\r\n- two\r\n* three\r\nplain",
    "and so on…\nwait...\r\nend…\r\n  … \n...\n..",
    "\r\n\r\n\r\n",
    "\t\v\f\nline\v\nline\f",
    # non-BMP, combining marks, RTL
    "𝔣𝔯𝔞𝔨 😀😀 𐍈 smeg 😀\n😀😀 𐍈",
    "école frák smëg the of and\nécole",
    "שלום עולם frak\nمرحبا بالعالم ١٢٣-٤٥-٦٧٨٩\nשלום עולם frak",
    "{ braces } {{ }} and a brace { line\n{",
    "The quick brown fox. The quick brown fox. The quick brown fox.\n" * 5,
    # case mappings where Arrow's utf8_lower differs from str.lower: dotted
    # capital I (U+0130 lowers to two code points) and final sigma
    "İstanbul İ istanbul İSTANBUL",
    "ΟΔΟΣ ΟΔΟΣ. οδος ΣΑΣ Σ",
    # tokens made only of '_', digits or punctuation
    "___ 123 ... !?! _1_ ٣٤ --- ¿¡ «» 1.5 _ 9",
    # docs starting or ending with whitespace str.split() drops
    "\x1cstart mid end\x1c",
    "　wide space　",
    " line sep ",
    "\x85next line\x85",
    # a non-ASCII token repeated among ASCII ones
    "the café and the café of café the naïve café",
]


def golden_inputs() -> pd.Series:
    from longqc_spark.corpus import generate_corpus

    corpus = generate_corpus(CORPUS_DOCS, seed=CORPUS_SEED)["text"].tolist()
    return pd.Series(corpus + EDGE_CASES, dtype=object, name="text")


def kernel_outputs(texts: pd.Series) -> pd.DataFrame:
    """The full kernel output for ``texts``, in the fixture's column layout."""
    parts = [texts.reset_index(drop=True).to_frame("text"), compute_stats(texts)]
    for name, cfg in SCRUB_CONFIGS.items():
        scrub = scrub_batch(texts, cfg, emit_spans=(name == "default"))
        if "scrub_spans" in scrub:
            scrub["scrub_spans"] = [json.dumps(s) for s in scrub["scrub_spans"]]
        parts.append(scrub.add_prefix(f"{name}__"))
    return pd.concat(parts, axis=1)


def main() -> None:
    out = kernel_outputs(golden_inputs())
    os.makedirs(os.path.dirname(GOLDEN_PATH), exist_ok=True)
    out.to_parquet(GOLDEN_PATH, index=False, compression="zstd", compression_level=19)
    print(f"wrote {len(out)} rows, {out.shape[1]} columns to {GOLDEN_PATH}")


if __name__ == "__main__":
    main()
