"""Vectorized (pandas str-ops) twin of the boilerplate-strip kernel.

Same frozen semantics as reference.extract_main_text / the Catalyst
column pipeline in boilerplate.py — implemented over whole Arrow batches
so the fused extraction pipeline spends its Python time in pandas' C
string kernels instead of per-row Python. Equality with the reference is
pinned by tests/test_boilerplate_vec.py across the fixture corpus.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from .. import reference as R

_TAG_RE = R._TAG_RE
_A_RE = R._A_RE
_WS_RE = R._WS_RE
_NEG_CLASS_RE = R._NEG_CLASS_RE


def make_vectorized_extractor(stop_terms: list[str]):
    stop_re = re.compile(R.stop_term_pattern(stop_terms)) if stop_terms else None

    def extract(raw: pd.Series) -> pd.Series:
        """Series of raw span texts -> Series of extracted main text.
        Index of the result matches the input index. Hot-path layout is
        positional numpy (profiled: the pandas groupby-join machinery and
        running tag/link regexes on blocks that contain no '<' were ~60%
        of kernel time); semantics are byte-identical to the reference
        (pinned by tests/test_boilerplate_vec.py)."""
        if raw.empty:
            return raw.astype(object)
        raw = raw.fillna("")
        split = [s.split("\n") for s in raw.to_numpy()]
        counts = np.fromiter((len(x) for x in split), dtype=np.int64, count=len(split))
        vals = np.array([b for lst in split for b in lst], dtype=object)
        n = len(vals)
        row_of = np.repeat(np.arange(len(split)), counts)

        # clean: strip tags only where a '<' exists; collapse whitespace
        tag_sub, ws_sub = _TAG_RE.sub, _WS_RE.sub
        tagless = np.empty(n, dtype=object)
        for i in range(n):
            v = vals[i]
            if "<" in v:
                v = tag_sub("", v)
            tagless[i] = ws_sub(" ", v).strip()

        # link length: only blocks containing '<a' can have inners
        link_len = np.zeros(n, dtype=np.float64)
        findall = _A_RE.findall
        for i in range(n):
            v = vals[i]
            if "<a" in v:
                lst = findall(v)
                if lst:
                    link_len[i] = sum(
                        len(ws_sub(" ", tag_sub("", s)).strip()) for s in lst
                    )

        nonempty = tagless != ""
        wc = np.fromiter(
            (len(t.split()) if t else 0 for t in tagless), dtype=np.float64, count=n
        )
        neg_search = _NEG_CLASS_RE.search
        bonus = np.fromiter(
            (
                (25.0 if ("<p>" in v or 'class="content"' in v) else 0.0)
                - (25.0 if ("<li>" in v or neg_search(v) is not None) else 0.0)
                for v in vals
            ),
            dtype=np.float64,
            count=n,
        )
        denom = np.fromiter((len(t) or 1 for t in tagless), dtype=np.float64, count=n)
        score = wc + bonus - 50.0 * (link_len / denom)
        keep = (score > 0) & nonempty

        # per-row join of kept blocks, in order — row_of is sorted, so
        # boundaries come from searchsorted (no pandas groupby machinery)
        kept_rows = row_of[keep]
        kept_vals = tagless[keep]
        out_vals = [""] * len(split)
        starts = np.searchsorted(kept_rows, np.arange(len(split)), side="left")
        ends = np.searchsorted(kept_rows, np.arange(len(split)), side="right")
        for r in range(len(split)):
            a, b = starts[r], ends[r]
            if b > a:
                out_vals[r] = " ".join(kept_vals[a:b])

        stop_sub = stop_re.sub if stop_re is not None else None
        for r in range(len(out_vals)):
            v = out_vals[r]
            if stop_sub is not None:
                v = stop_sub("", v)
            out_vals[r] = ws_sub(" ", v).strip()
        return pd.Series(out_vals, index=raw.index, dtype=object)

    return extract
