"""Skew handling for heavy-tailed documents (SURVEY.md §7 item 7).

Interleaved corpora are heavy-tailed in spans-per-doc (some docs carry
100× the median). The fused pipeline processes a doc inside one task, so
one mega-doc can straggle its partition. Salting splits each heavy doc
into bounded sub-docs (same doc_id + salt, disjoint span slices), then
merges and renumbers the per-doc output — semantics-preserving because
span processing is per-span and `order` is recomputed from the global
offset sort at merge.

Salting relieves skew only if the slices can reach other tasks, so salt
BEFORE the exchange and partition on (doc_id, salt): range bounds then
count every slice as a row of at most max_spans spans, and a heavy doc's
slices spread over as many tasks as its share of rows
(run_extraction.run). Salting after a doc_id-keyed exchange keeps every
slice in its doc's task.

AQE's skew-join splitting handles *join* skew; this handles *map-side*
task skew, which AQE cannot see.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_MAX_SPANS = 64

# Separator for composite doc_id#salt keys when a salted frame must pass
# through an API keyed only by doc_id (the extraction kernels). A C0
# control char cannot appear in real doc ids — but NEVER inline it as a
# bare literal: it renders invisibly and reads as an empty string (a
# review mistook exactly that for an empty-separator bug).
SALT_SEP = "\x01"


def salt_key(doc_id_col, salt_col):
    """doc_id + salt -> one composite string key."""
    return F.concat_ws(SALT_SEP, doc_id_col, salt_col)


def split_salt_key(key_col):
    """Composite key -> (doc_id string, salt int) columns."""
    parts = F.split(key_col, SALT_SEP)
    return parts[0], parts[1].cast("int")


def salt_heavy_docs(docs: DataFrame, max_spans: int = DEFAULT_MAX_SPANS) -> DataFrame:
    """(doc_id, spans) -> (doc_id, salt, spans) with every row bounded by
    max_spans spans. Light docs pass through with salt 0; heavy docs are
    sliced. Null spans count as `[]`, so such a doc keeps its one row.
    Pure column ops (sequence + slice), no Python."""
    if max_spans < 1:
        raise ValueError(f"max_spans must be >= 1, got {max_spans}")
    spans = F.coalesce(F.col("spans"), F.array())
    # slices must be contiguous OFFSET ranges for the merge's
    # (salt, local_order) key to equal global order — a heavy doc is
    # sorted by offset first (input contract: offsets strictly increasing
    # per doc); a light doc's one slice is ordered by the kernel itself
    docs = docs.select(
        "doc_id",
        F.when(F.size(spans) <= max_spans, spans)
        .otherwise(
            F.array_sort(
                spans,
                lambda a, b: F.when(a["offset"] < b["offset"], -1)
                .when(a["offset"] > b["offset"], 1)
                .otherwise(0),
            )
        )
        .alias("spans"),
    )
    n = F.size("spans")
    n_chunks = F.ceil(n / F.lit(max_spans)).cast("int")
    chunked = docs.select(
        "doc_id",
        F.explode(
            F.when(
                n <= max_spans,
                F.array(F.struct(F.lit(0).alias("salt"), F.col("spans").alias("spans"))),
            ).otherwise(
                F.transform(
                    F.sequence(F.lit(0), n_chunks - 1),
                    lambda c: F.struct(
                        c.cast("int").alias("salt"),
                        F.slice(F.col("spans"), c * max_spans + 1, max_spans).alias("spans"),
                    ),
                )
            )
        ).alias("chunk"),
    )
    return chunked.select(
        "doc_id", F.col("chunk.salt").alias("salt"), F.col("chunk.spans").alias("spans")
    )


def merge_salted_extraction(extracted_salted: DataFrame) -> DataFrame:
    """Merge per-(doc_id, salt) extraction output back to per-doc arrays,
    re-sorting by the composite key and renumbering `order` globally.

    Works because extraction writes per-span results keyed by the span's
    original offset — carried here inside `order` of each salted slice
    being LOCAL; we therefore require the caller to keep the pre-sorted
    slice layout (salt slices are contiguous offset ranges), so global
    order = (salt, local order).

    A doc whose spans array is empty keeps its row, with `[]`:
    `explode_outer` yields one null span for it, which `collect_list`
    skips."""
    s = F.col("s")
    exploded = extracted_salted.select("doc_id", "salt", F.explode_outer("spans").alias("s"))
    agg = exploded.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(
                F.when(
                    s.isNotNull(),
                    F.struct(
                        F.col("salt"),
                        s["order"].alias("local_order"),
                        s["kind"].alias("kind"),
                        s["text"].alias("text"),
                        s["media_ref"].alias("media_ref"),
                    ),
                )
            )
        ).alias("sorted_spans")
    )
    return agg.select(
        "doc_id",
        F.transform(
            "sorted_spans",
            lambda s, i: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                i.cast("int").alias("order"),
            ),
        ).alias("spans"),
    )
