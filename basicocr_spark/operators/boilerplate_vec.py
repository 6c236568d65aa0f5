"""Batch form of the boilerplate-strip kernel: one scalar pass per
distinct block.

Same frozen semantics as reference.extract_main_text and the Catalyst
column pipeline in boilerplate.py. A call splits every span on "\\n",
scores each distinct block once (nav and footer blocks repeat across the
spans of a batch) and joins the kept blocks per span. Whitespace is
collapsed with `" ".join(s.split())`: `str.split()` and the reference's
Unicode `\\s` match the same `str.isspace` code points.

The stop-term strip is gated per batch: each term is looked up once in
the NUL-joined kept text of all spans, and the longest-first `sub` runs
only on spans that contain a term found there. This is exact. A term
absent from the joined batch is absent from every span, a span skipped
by the gate contains no term at all (so `sub` would leave it unchanged),
and the separator can only add matches, never hide one. Equality with
the reference is pinned by tests/test_boilerplate_vec.py.
"""

from __future__ import annotations

import re

import pandas as pd

from .. import reference as R

_tag_sub = R._TAG_RE.sub
_link_findall = R._A_RE.findall


def _kept_text(block: str) -> str:
    """The block's collapsed tagless text if the scorer keeps it, else ''
    (reference.boilerplate_keep_score > 0 and block_tagless)."""
    words = (_tag_sub("", block) if "<" in block else block).split()
    tagless = " ".join(words)
    link_len = 0
    if "<a" in block:
        link_len = sum(
            len(" ".join((_tag_sub("", m) if "<" in m else m).split()))
            for m in _link_findall(block)
        )
    bonus = 0
    if "<p>" in block or 'class="content"' in block:
        bonus += 25
    if (
        "<li>" in block
        or 'class="nav"' in block
        or 'class="footer"' in block
        or 'class="sidebar"' in block
    ):
        bonus -= 25
    score = len(words) + bonus - 50.0 * (link_len / max(len(tagless), 1))
    return tagless if score > 0 else ""


def make_vectorized_extractor(stop_terms: list[str]):
    stop_sub = re.compile(R.stop_term_pattern(stop_terms)).sub if stop_terms else None

    def extract(raw: pd.Series) -> pd.Series:
        """Series of raw span texts -> Series of extracted main text, on
        the input's index. The block memo lives for one call, so its
        size is bounded by the Arrow batch."""
        memo: dict[str, str] = {}
        out = []
        for span in raw.fillna("").to_numpy():
            kept = []
            for block in span.split("\n"):
                text = memo.get(block)
                if text is None:
                    text = memo[block] = _kept_text(block)
                if text:
                    kept.append(text)
            out.append(" ".join(kept))
        # batch prefilter: a term absent from the whole batch is absent
        # from every span, and the strip only runs on spans holding a
        # term that is present
        batch = "\x00".join(out) if stop_terms else ""
        present = [t for t in stop_terms if t in batch]
        if present:
            for i, joined in enumerate(out):
                if any(t in joined for t in present):
                    stripped = stop_sub("", joined)
                    # kept blocks are non-empty and collapsed, so the join
                    # is already normalized unless the strip removed text
                    if len(stripped) != len(joined):
                        out[i] = " ".join(stripped.split())
        return pd.Series(out, index=raw.index, dtype=object)

    return extract
