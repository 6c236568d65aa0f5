"""QUERIES.md is generated from the query catalog; pin the committed file
to it so a renamed, reordered, added or re-documented query cannot drift
from the docs (regenerate with `python tools/gen_queries_md.py`)."""

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

import gen_queries_md  # noqa: E402


def test_queries_md_matches_catalog():
    with open(gen_queries_md.QUERIES_MD) as f:
        assert f.read() == gen_queries_md.render()
