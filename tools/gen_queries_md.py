#!/usr/bin/env python
"""Regenerate QUERIES.md from the query catalog: one row per
`__spark_entry__.CATALOG` entry (first docstring sentence). Every row
carries an oracle by construction. Run from the repo root:

    python tools/gen_queries_md.py
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as E  # noqa: E402

QUERIES_MD = os.path.join(ROOT, "QUERIES.md")

# abbreviations whose trailing '. ' is not a sentence boundary
_ABBREV = ("et al", "i.e", "e.g", "cf", "vs", "etc")


def first_sentence(doc: str | None) -> str:
    if not doc:
        return "(no docstring)"
    text = " ".join(line.strip() for line in doc.strip().splitlines())
    i = 0
    while (j := text.find(". ", i)) >= 0:
        if any(text[:j].endswith(a) for a in _ABBREV):
            i = j + 2
            continue
        return text[:j] + "."
    return text if len(text) < 160 else text[:157] + "..."


def render() -> str:
    qm = E.queries()
    lines = [
        f"# Query catalog — {len(qm)} oracle-checked entries",
        "",
        "Every row of `__spark_entry__.CATALOG` pairs a query with an ANSI-SQL",
        "oracle that DuckDB runs on the identical parquet (`queries()` and",
        "`oracle_sql()` are the table's two views); the driver compares rows +",
        "schema + values at sf0.01 (`tests/test_driver_contract.py` mirrors this",
        "gate locally, and `tests/test_oracle_adversarial.py` re-runs the",
        "text/embedding entries on adversarial tables). First docstring sentence",
        "per query:",
        "",
        "| query | what it does |",
        "|---|---|",
    ]
    lines += [f"| `{name}` | {first_sentence(fn.__doc__)} |" for name, fn in qm.items()]
    lines += ["", "Regenerate with `python tools/gen_queries_md.py`.", ""]
    return "\n".join(lines)


def main() -> None:
    text = render()
    with open(QUERIES_MD, "w") as f:
        f.write(text)
    print(f"QUERIES.md: {len(E.CATALOG)} entries")


if __name__ == "__main__":
    main()
