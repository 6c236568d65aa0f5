"""Canonical schemas for the extraction engine.

The primary input shape is the interleaved document table mandated by
BASELINE.json `input_hint`:

    (doc_id string, spans array<struct<kind:string, text:string,
                                       media_ref:string, offset:int32>>)

The reference's implicit row model — LMDB keys `image-%09d` / `label-%09d`
(reference: contrib/crnn/dataset.py:45-61) — generalizes to this explicit
columnar schema; media bytes live behind `media_ref` (content-addressed
blob key) so the hot table stays columnar and scan-prunable.
"""

from __future__ import annotations

from pyspark.sql import types as T

SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),  # 'text' | 'media'
        T.StructField("text", T.StringType(), True),  # raw block text; null for media
        T.StructField("media_ref", T.StringType(), True),  # blob key; null for text
        T.StructField("offset", T.IntegerType(), False),  # strictly increasing per doc
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN), False),
    ]
)

# Deterministic recognition fixture: stands in for the CRNN forward pass
# (reference: contrib/crnn/models/crnn.py:68-79 emits [T, batch, nclass]
# logits; weights are absent from the repo so tests pin logits directly).
MEDIA_LOGITS = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("logits", T.ArrayType(T.ArrayType(T.FloatType())), False),
        T.StructField("gold_text", T.StringType(), False),
    ]
)

DICTIONARY = T.StructType(
    [
        T.StructField("line_id", T.LongType(), False),  # file order — pins tie-break
        T.StructField("word", T.StringType(), False),
        T.StructField("freq", T.DoubleType(), False),
    ]
)

STOPWORDS = T.StructType([T.StructField("term", T.StringType(), False)])

BOX = T.StructType(
    [
        T.StructField("x", T.FloatType(), False),
        T.StructField("y", T.FloatType(), False),
        T.StructField("w", T.FloatType(), False),
        T.StructField("h", T.FloatType(), False),
        T.StructField("theta", T.FloatType(), False),
        T.StructField("score", T.FloatType(), False),
    ]
)

LINK = T.StructType(
    [
        T.StructField("src", T.IntegerType(), False),
        T.StructField("dst", T.IntegerType(), False),
        T.StructField("score", T.FloatType(), False),
    ]
)

BOXES = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("boxes", T.ArrayType(BOX), False),
        T.StructField("links", T.ArrayType(LINK), False),
        T.StructField("gold_groups", T.ArrayType(T.ArrayType(T.IntegerType())), False),
    ]
)

EXTRACTED_SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("order", T.IntegerType(), False),
    ]
)

EXTRACTED = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(EXTRACTED_SPAN), False),
    ]
)
