"""Staleness gate for the generated registry index (r9 verdict item 7).

r10 verdict item 2: the driver drops CORRECTNESS_r*.json AFTER the
builder's last commit, so the committed QUERIES.md is always one artifact
behind at round start.  That is not registry drift — only the
"Driver rounds" column and the driver-green union count change.  The gate
therefore compares a STRUCTURAL normalization (query names, module path,
tags, oracle status) strictly, and tolerates rounds/union drift so a
fresh driver drop never opens the round with a red suite.  Regenerating
(`python scripts/gen_queries_md.py`) at round start is still the
convention; this test just stops punishing the window between the drop
and the first commit.
"""

from __future__ import annotations

import os
import re
import sys


def _structural(text: str) -> str:
    """Strip the driver-verification-derived parts of the index.

    Removes the trailing "Driver rounds" cell from table rows and the
    "driver-green union N/M" sentence — exactly the fields recomputed
    from CORRECTNESS_r*.json artifacts, which arrive asynchronously —
    and the ``:line`` suffix of each "Where" cell: any edit above a
    query moves it, and it says nothing about the registry.
    """
    out = []
    for line in text.splitlines():
        if line.startswith("|"):
            cells = line.split("|")
            # drop the last non-empty cell (Driver rounds / header / ---)
            line = "|".join(cells[:-2]) + "|"
            line = re.sub(r"(\.py):\d+ ", r"\1 ", line)
        line = re.sub(r"driver-green union \*\*\d+/\d+\*\*", "", line)
        out.append(line)
    return "\n".join(out)


def test_queries_md_is_current():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "scripts"))
    import gen_queries_md

    with open(os.path.join(root, "QUERIES.md")) as fh:
        committed = fh.read()
    regenerated = gen_queries_md.generate()
    if committed == regenerated:
        return
    assert _structural(committed) == _structural(regenerated), (
        "QUERIES.md is structurally stale (queries added/renamed/moved) — "
        "run `python scripts/gen_queries_md.py` and commit the result"
    )
    # Rounds-column drift only: a CORRECTNESS_r*.json landed after the
    # last regeneration.  Benign; refresh at the next convenient commit.


def test_structural_normalization_still_gates():
    """Self-check of the relaxed gate (r11): _structural must TOLERATE
    driver-rounds drift (the column and the union count recomputed from
    CORRECTNESS artifacts) and line moves, but CATCH every real registry
    change — renames, a move to another module, tag edits, oracle-status
    flips.  Without
    this, a bug in the normalization would silently turn the staleness
    gate into a no-op."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "scripts"))
    import gen_queries_md

    t = gen_queries_md.generate()
    # tolerated: rounds-cell drift and a changed driver-green union
    assert _structural(t.replace("| r10 |", "| r10, r11 |")) == _structural(t)
    assert _structural(
        re.sub(r"driver-green union \*\*\d+/\d+\*\*", "driver-green union **0/0**", t)
    ) == _structural(t)
    assert _structural(re.sub(r"\.py:\d+ ", ".py:1 ", t)) == _structural(t)
    # caught: rename, moved module, tag edit, oracle flip
    for broken in (
        t.replace("q374_poisson", "q374_renamed", 1),
        t.replace("analytics6.py", "analyticsX.py", 1),
        re.sub(r"\| sketch, ", "| sketchX, ", t, count=1),
        t.replace("| sql |", "| rows-only |", 1),
    ):
        assert broken != t  # the probe actually edited something
        assert _structural(broken) != _structural(t)
