"""basicocr_spark — a PySpark-native main-content extraction engine.

A from-scratch re-expression of the capabilities of the reference repo
(tongpi/basicOCR, a scene-text OCR research codebase) as set-level Spark
operators over tables of interleaved text+media documents:

- CTC greedy decode recognition (reference: contrib/crnn/utils.py:66-101)
  as a pure Catalyst column expression (and a vectorized numpy cross-check).
- Dictionary correction with exact reference tie-break semantics
  (reference: contrib/trietree/src/trietree_correct.py) as a broadcast
  levenshtein theta-join + window top-1.
- Boilerplate stripping / stop-content removal (reference analogs:
  contrib/acautomata Test.java, trietree wordFrequency/readData.py) as
  column math over parsed blocks.
- Anchor-proposal + line grouping (reference: docs SegLink/TextBoxes
  analyses) as per-doc vectorized union-find.
- Plus the large-scale training-data-pipeline operators a 100 TB corpus
  needs: dedup (exact/minhash/simhash/jaccard), similarity search,
  text quality stats, multimodal column plumbing.

Design rules (see SURVEY.md §7): DataFrame-first, zero per-row Python,
Arrow-batched UDFs only where column expressions cannot express the
semantics, broadcast every dictionary-sized side, never split a document
across partitions.

Importing the package inside a Spark Python worker on Python < 3.13
patches `zipimport.zipimporter.invalidate_caches` to re-read an archive
only when its (mtime, size) stamp changed, because PySpark invalidates
import caches before every task and each re-read of pyspark.zip and the
spark-core jar costs 0.1-0.2 CPU-s per task on a 4-vCPU host.
"""

import sys

__version__ = "0.1.0"


def _reread_zip_archives_only_when_changed() -> None:
    """Make `zipimporter.invalidate_caches` a stamp check: re-read the
    archive's directory only when `(st_mtime_ns, st_size)` differs from
    the stamp this importer last read, or when the stat fails. The
    directory is a pure function of the archive's bytes, so skipping an
    unchanged archive rebuilds nothing that would differ (the same
    freshness rule `FileFinder` applies to directories)."""
    import os
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_archive_stamp", None):
            reread(self)
            self._archive_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if "pyspark.worker" in sys.modules and sys.version_info < (3, 13):
    _reread_zip_archives_only_when_changed()

# Public API: the operators a reference user migrates onto. Imports are
# lazy (PEP 562) so `import basicocr_spark` stays cheap and never pulls
# pyspark submodules before a session exists.
_PUBLIC = {
    "get_spark": ("basicocr_spark.session", "get_spark"),
    "extract_documents_sql": ("basicocr_spark.operators.extraction", "extract_documents_sql"),
    "extract_documents_fused_arrow": (
        "basicocr_spark.operators.extraction",
        "extract_documents_fused_arrow",
    ),
    "flatten_extracted": ("basicocr_spark.operators.extraction", "flatten_extracted"),
    "ctc_greedy_decode": ("basicocr_spark.functions.ctc", "ctc_greedy_decode"),
    "correct_tokens": ("basicocr_spark.operators.correction", "correct_tokens"),
    "extract_main_text": ("basicocr_spark.operators.boilerplate", "extract_main_text"),
    "parse_pdf_layout": ("basicocr_spark.operators.pdfparse", "parse_pdf_layout"),
    "pdf_documents_text": ("basicocr_spark.operators.pdfparse", "pdf_documents_text"),
    "sample_frames": ("basicocr_spark.operators.multimodal", "sample_frames"),
    "salt_heavy_docs": ("basicocr_spark.operators.salting", "salt_heavy_docs"),
    "merge_salted_extraction": ("basicocr_spark.operators.salting", "merge_salted_extraction"),
}

__all__ = sorted(_PUBLIC)


def __getattr__(name: str):
    try:
        mod_name, attr = _PUBLIC[name]
    except KeyError:
        raise AttributeError(f"module 'basicocr_spark' has no attribute {name!r}") from None
    import importlib

    return getattr(importlib.import_module(mod_name), attr)
