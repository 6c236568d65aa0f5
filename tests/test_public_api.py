"""The package's lazy public surface: every exported name resolves."""

import basicocr_spark


def test_every_exported_name_resolves():
    """A stale `_PUBLIC` entry would otherwise fail only when someone
    imports that name."""
    for name in basicocr_spark.__all__:
        assert callable(getattr(basicocr_spark, name)), name
