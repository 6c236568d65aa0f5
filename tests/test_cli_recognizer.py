"""run_extraction.load_recognizer: CLI resolution of the model seam."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from run_extraction import load_recognizer  # noqa: E402


def test_none_means_fixture_default():
    assert load_recognizer(None) is None


def test_factory_spec_resolves_and_is_called(tmp_path, monkeypatch):
    mod = tmp_path / "my_rec.py"
    mod.write_text(
        "def factory():\n"
        "    def forward(refs):\n"
        "        return [None for _ in refs]\n"
        "    return forward\n"
    )
    monkeypatch.syspath_prepend(str(tmp_path))
    fwd = load_recognizer("my_rec:factory")
    assert callable(fwd)
    assert fwd(["a", "b"]) == [None, None]


def test_bad_spec_fails_fast():
    for spec in ("no-colon-here", "mod:"):
        with pytest.raises(SystemExit):
            load_recognizer(spec)
