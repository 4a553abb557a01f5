"""Window order of the catalog, derived from the correctness gate's record.

The external correctness gate records only the FIRST ``WINDOW`` entries of
``ALL_ENTRIES`` per round, one ``CORRECTNESS_r<N>.json`` file each.  The
catalog is larger than the window, so its order rotates — for coverage
only: every entry gets an official row at least every other round.  The
order is a pure function of the committed files, so a round edits no list.
"""

from __future__ import annotations

import glob
import json
import os
import re
from typing import Iterable, Mapping, Sequence

#: entries the external correctness gate checks per round
WINDOW = 50

_REPO = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def correctness_history(root: str = _REPO) -> list[dict]:
    """Rows of every ``CORRECTNESS_r<N>.json`` under ``root``, oldest
    round first; empty when the gate has recorded nothing there."""
    paths = glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))
    paths.sort(key=lambda p: int(re.search(r"_r(\d+)\.json$", p).group(1)))
    history = []
    for path in paths:
        with open(path) as fh:
            history.append(json.load(fh))
    return history


def green(rows: Mapping[str, object]) -> set[str]:
    """Names whose row in one correctness file matched the oracle."""
    return {n for n, r in rows.items()
            if isinstance(r, dict) and r.get("hash_match")}


def window_order(names: Iterable[str],
                 correctness_rows: Sequence[Mapping[str, object]],
                 ) -> list[str]:
    """``names`` reordered for the gate's window.

    Entries with no green row in any file come first; the rest follow by
    the round of their latest GREEN row, oldest first.  Ties keep the
    order of ``names``.  Keying on the latest green row rather than the
    latest row keeps an entry the gate could not check (say, one with no
    oracle) at the front instead of letting one red row rotate it out.

    Every entry without a green row in the newest file sorts ahead of
    every entry with one, so while at most ``WINDOW`` entries lack such a
    row (a catalog of at most ``2 * WINDOW`` entries and an all-green
    newest file), each entry gets a row at least every other round.
    """
    latest: dict[str, int] = {}
    for rnd, rows in enumerate(correctness_rows):
        for name in green(rows):
            latest[name] = rnd
    return sorted(names, key=lambda n: latest.get(n, -1))
