"""The package's lazy public surface: every exported name resolves."""

import basicocr_spark


def test_every_exported_name_resolves():
    """A stale `_PUBLIC` entry would otherwise fail only when someone
    imports that name."""
    for name in basicocr_spark.__all__:
        assert callable(getattr(basicocr_spark, name)), name


def test_kernel_signature_is_pinned():
    """The benchmark and the bench scripts call the kernel positionally:
    a reordered or added parameter must fail here first."""
    import inspect

    from basicocr_spark.operators.extraction import extract_documents_fused_arrow

    params = inspect.signature(extract_documents_fused_arrow).parameters.values()
    assert [(p.name, p.default) for p in params] == [
        ("docs", inspect.Parameter.empty),
        ("logits_rows", inspect.Parameter.empty),
        ("dict_lines", inspect.Parameter.empty),
        ("stop_terms", inspect.Parameter.empty),
        ("recognizer", None),
    ]


def test_session_factory_signature_is_pinned():
    """The benchmark calls get_spark by keyword."""
    import inspect

    from basicocr_spark.session import get_spark

    params = inspect.signature(get_spark).parameters.values()
    assert [(p.name, p.default) for p in params] == [
        ("parallelism", None),
        ("app_name", "basicocr_spark"),
        ("extra_conf", None),
    ]
