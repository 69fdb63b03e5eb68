"""Generate the driver-CORRECTNESS window for the next round.

The driver checks the FIRST 50 entries of ``__spark_entry__.queries()``
each round; ``_DRIVER_WINDOW_FIRST`` pins that prefix. Rounds 1-4
maintained the list by hand against the growing pile of
``CORRECTNESS_r*.json`` files — a manual diff that burned three window
slots in round 4 on entries that could never go driver-green
(``no_oracle`` rows-only designs). This tool automates the bookkeeping
(VERDICT r4 item 5):

1. registry  = every ``queries()`` name, in registration order;
2. checked   = every name with a row in any ``CORRECTNESS_r*.json``;
3. window    = never-checked names, **oracled entries first** (they can
   turn fully green; rows-only entries only get the weaker rows-count
   check), each group in registry order;
4. top-up    = if fewer than 50 remain unchecked, pad with
   previously-driver-green anchors (hash_match in their latest row),
   evenly spaced across the registry as regression canaries.
   Rows-only entries are deliberately EXCLUDED from anchor rotation
   once checked: they can never be hash-green, so a repeat visit only
   re-runs the weaker rows-count check — their regression coverage
   lives in the golden pins in pytest, not in window slots (ADVICE r5).

Usage::

    python tools/rotate_window.py            # print the 50-name window
    python tools/rotate_window.py --check    # exit 1 unless
                                             # _DRIVER_WINDOW_FIRST matches

``--check`` is wired into tests/test_rotate_window.py so the pinned
tuple can never silently drift from the generated one.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 50


def load_history(
    repo: str = REPO, max_round: int | None = None
) -> dict[str, list[dict]]:
    """name -> list of driver rows across CORRECTNESS_r*.json (round
    order). ``max_round`` caps the files considered — the window pinned
    for round N must be reproduced from the history that EXISTED when it
    was generated (rounds ≤ N-1); without the cap, the driver landing
    CORRECTNESS_r{N}.json would immediately change the generated window
    and fail the drift test."""
    hist: dict[str, list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        stem = os.path.basename(path)
        try:
            rnd = int(stem.replace("CORRECTNESS_r", "").split(".")[0])
        except ValueError:
            rnd = None
        if max_round is not None and rnd is not None and rnd > max_round:
            continue
        with open(path) as f:
            for name, row in json.load(f).items():
                hist.setdefault(name, []).append(row)
    return hist


# the history the CURRENT pinned window was generated from (bump when
# regenerating _DRIVER_WINDOW_FIRST for a new round)
PINNED_THROUGH_ROUND = 4


def compute_window(
    registry: list[str],
    oracled: set[str],
    history: dict[str, list[dict]],
    size: int = WINDOW,
) -> list[str]:
    never = [n for n in registry if n not in history]
    window = [n for n in never if n in oracled]  # can go fully green
    window += [n for n in never if n not in oracled]  # rows-only check
    window = window[:size]
    if len(window) < size:
        green = [
            n
            for n in registry
            if n in history and history[n][-1].get("hash_match") is True
        ]
        need = size - len(window)
        # evenly spaced across registry order → anchors span categories
        step = max(1, len(green) // need) if green else 1
        for n in green[::step]:
            if len(window) >= size:
                break
            if n not in window:
                window.append(n)
        for n in green:  # remainder, if the stride under-filled
            if len(window) >= size:
                break
            if n not in window:
                window.append(n)
    return window


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--check", action="store_true")
    args = ap.parse_args(argv)

    sys.path.insert(0, REPO)
    import __spark_entry__ as entry

    registry = list(entry._queries_raw().keys())
    oracled = set(entry.oracle_sql().keys())
    history = load_history(max_round=PINNED_THROUGH_ROUND if args.check else None)
    window = compute_window(registry, oracled, history)

    if args.check:
        pinned = list(entry._DRIVER_WINDOW_FIRST)
        if pinned != window:
            extra = [n for n in pinned if n not in window]
            missing = [n for n in window if n not in pinned]
            print(
                f"_DRIVER_WINDOW_FIRST drifted from generated window\n"
                f"  pinned-only: {extra}\n  generated-only: {missing}",
                file=sys.stderr,
            )
            return 1
        print(f"window ok ({len(window)} names)")
        return 0

    for name in window:
        tag = "oracled" if name in oracled else "rows-only"
        seen = "never-checked" if name not in history else "anchor"
        print(f'    "{name}",  # {tag}, {seen}')
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
