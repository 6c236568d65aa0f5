"""Vector math over array<float>/array<double> embedding columns.

Pure higher-order-function arithmetic (zip_with/aggregate) — stays in the
JVM, vectorizes under whole-stage codegen, and has exact DuckDB list-op
oracles. Inputs are cast to double before accumulation so Spark and the
oracle agree to float64 ULPs; ranking outputs round to 6 decimals to keep
cross-engine top-k stable.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    d = norm(a) * norm(b)
    return F.when(d == 0, F.lit(0.0)).otherwise(dot(a, b) / d)


def _cosine_seq_batch(a: pd.Series, b: pd.Series) -> pd.Series:
    """Vectorized cosine whose float64 summation ORDER is the sequential
    left-to-right fold of the expression form (np.cumsum is an inclusive
    sequential prefix scan), so results are bit-identical to
    cosine(a, b) — pinned by tests/test_hash_kernels.py. Exists because
    a per-pair F.aggregate lambda evaluates interpreted: on a
    probes x corpus scoring join the arithmetic is ~100x the FLOPs cost."""

    def stack(s: pd.Series) -> np.ndarray:
        return np.stack([np.asarray(v, dtype=np.float64) for v in s])

    A, B = stack(a), stack(b)
    dot = np.cumsum(A * B, axis=1)[:, -1]
    na = np.sqrt(np.cumsum(A * A, axis=1)[:, -1])
    nb = np.sqrt(np.cumsum(B * B, axis=1)[:, -1])
    d = na * nb
    with np.errstate(divide="ignore", invalid="ignore"):
        out = np.where(d == 0.0, 0.0, dot / d)
    return pd.Series(out)


def cosine_seq_kernel(a: Column, b: Column) -> Column:
    """pandas-UDF wrapper for _cosine_seq_batch, created per call — the
    DDL return-type parse needs an active SparkSession, so module-import
    time (driver contract loads before any session exists) is too early."""
    return pandas_udf(_cosine_seq_batch, "double")(a, b)


def cosine_rounded_fast(a: Column, b: Column, scale: int = 6) -> Column:
    """cosine(a, b) rounded to `scale` places, computed by the vectorized
    kernel on scoring joins (the rounding stays a Spark-side F.round, so
    tie behavior matches rounding the expression form)."""
    return F.round(cosine_seq_kernel(a, b), scale)


def group_vector_sums_df(df, group_col: str = "label", vec_col: str = "embedding"):
    """Per-partition per-group element-wise vector sums + PER-DIMENSION
    non-null counts, Arrow-batched: ONE partial row per (input
    partition, group) instead of the n x d row explosion a
    posexplode-based centroid build shuffles (at 100 TB of embeddings
    that explode IS the job). The tiny partial table (partitions x
    labels rows) is what flows into the final per-dimension combine.

    Null semantics mirror the posexplode + avg form exactly (review
    finding, pinned by test): a NULL vector contributes nothing (a
    group with only null vectors is absent), a null ELEMENT is skipped
    per dimension (hence per-dim counts, not one row count), and ragged
    vector lengths contribute only to the dimensions they have."""
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            df.schema[group_col],
            T.StructField("counts", T.ArrayType(T.LongType())),
            T.StructField("sums", T.ArrayType(T.DoubleType())),
        ]
    )

    def _accumulate(prev, arrs):
        lens = {len(a) for a in arrs}
        if len(lens) == 1:  # fast path: rectangular group slice
            M = np.stack(arrs)
            valid = ~np.isnan(M)
            s = np.where(valid, M, 0.0).sum(axis=0)
            c = valid.sum(axis=0).astype(np.int64)
        else:  # ragged: accumulate per vector
            width = max(lens)
            s = np.zeros(width)
            c = np.zeros(width, dtype=np.int64)
            for a in arrs:
                valid = ~np.isnan(a)
                s[: len(a)] += np.where(valid, a, 0.0)
                c[: len(a)] += valid
        if prev is None:
            return [c, s]
        pc, ps = prev
        if len(pc) < len(c):
            pc = np.pad(pc, (0, len(c) - len(pc)))
            ps = np.pad(ps, (0, len(s) - len(ps)))
        elif len(c) < len(pc):
            c = np.pad(c, (0, len(pc) - len(c)))
            s = np.pad(s, (0, len(ps) - len(s)))
        return [pc + c, ps + s]

    def gen(batches):
        acc: dict = {}
        for pdf in batches:
            for g, vecs in pdf.groupby(group_col, sort=False, dropna=False)[vec_col]:
                arrs = [np.asarray(v, dtype=np.float64) for v in vecs if v is not None]
                if not arrs:
                    continue  # only-null-vector group: absent, like the explode
                acc[g] = _accumulate(acc.get(g), arrs)
        if acc:
            yield pd.DataFrame(
                {
                    group_col: list(acc.keys()),
                    "counts": [v[0] for v in acc.values()],
                    "sums": [v[1] for v in acc.values()],
                }
            )

    return df.select(group_col, vec_col).mapInPandas(gen, schema=schema)


def hyperplane_sign_bucket(a: Column, num_planes: int = 8, plane_offset: int = 0) -> Column:
    """Deterministic LSH bucket id: sign bits against `num_planes` fixed
    pseudo-random hyperplanes h_j[i] = (((i+1)*(j+1)*2654435761) % 1000)
    / 499.5 - 1 — pure arithmetic, reproducible in any SQL engine.
    `plane_offset` selects a disjoint plane family (j starts there), so
    banded LSH reuses the same formula with per-band offsets."""
    bucket = F.lit(0).cast("long")
    for j in range(plane_offset, plane_offset + num_planes):
        proj = F.aggregate(
            F.transform(
                a,
                lambda v, i: v.cast("double")
                * (
                    ((((i + 1) * F.lit(j + 1) * F.lit(2654435761)) % F.lit(1000)).cast("double"))
                    / F.lit(499.5)
                    - F.lit(1.0)
                ),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket * 2 + F.when(proj >= 0, 1).otherwise(0)
    return bucket


def minmax_partials_df(df, vec_col: str = "embedding"):
    """Per-partition element-wise min/max arrays: ONE partial row per
    input partition (vs the n x d posexplode). The tiny partial table
    (#partitions rows) feeds the final per-dimension combine — the same
    two-level shape as group_vector_sums_df. Null vectors contribute
    nothing; ragged vectors only to the dimensions they have."""
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("mins", T.ArrayType(T.DoubleType())),
            T.StructField("maxs", T.ArrayType(T.DoubleType())),
        ]
    )

    def gen(batches):
        mn = mx = None
        for pdf in batches:
            arrs = [
                np.asarray(v, dtype=np.float64) for v in pdf[vec_col] if v is not None
            ]
            if not arrs:
                continue
            width = max(len(a) for a in arrs)
            bmn = np.full(width, np.inf)
            bmx = np.full(width, -np.inf)
            if all(len(a) == width for a in arrs):  # rectangular fast path
                M = np.stack(arrs)
                bmn = M.min(axis=0)
                bmx = M.max(axis=0)
            else:
                for a in arrs:
                    bmn[: len(a)] = np.minimum(bmn[: len(a)], a)
                    bmx[: len(a)] = np.maximum(bmx[: len(a)], a)
            if mn is None:
                mn, mx = bmn, bmx
            else:
                if len(mn) < width:
                    mn = np.pad(mn, (0, width - len(mn)), constant_values=np.inf)
                    mx = np.pad(mx, (0, width - len(mx)), constant_values=-np.inf)
                elif width < len(mn):
                    bmn = np.pad(bmn, (0, len(mn) - width), constant_values=np.inf)
                    bmx = np.pad(bmx, (0, len(mx) - width), constant_values=-np.inf)
                mn = np.minimum(mn, bmn)
                mx = np.maximum(mx, bmx)
        if mn is not None:
            yield pd.DataFrame({"mins": [mn], "maxs": [mx]})

    return df.select(vec_col).mapInPandas(gen, schema=schema)


def quantize_errors_df(df, vec_col: str, mins_col: str, maxs_col: str, id_col: str):
    """Per-vector int8 scalar quantization against global per-dim
    [min, max]: code = floor((v - mn) / (mx - mn) * 255 + 0.5)
    (constant dims -> code 0), emitting the integer code sum (an exact
    cross-engine checksum) and the reconstruction MSE. One Arrow pass;
    the mins/maxs arrays arrive via a broadcast single-row cross join."""
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, code_sum long, mse double"

    def gen(batches):
        for pdf in batches:
            ids, sums, mses = [], [], []
            for vid, v, mn, mx in zip(
                pdf[id_col], pdf[vec_col], pdf[mins_col], pdf[maxs_col]
            ):
                a = np.asarray(v, dtype=np.float64)
                m0 = np.asarray(mn, dtype=np.float64)[: len(a)]
                m1 = np.asarray(mx, dtype=np.float64)[: len(a)]
                rng = m1 - m0
                safe = rng != 0.0
                t = np.where(safe, (a - m0) / np.where(safe, rng, 1.0), 0.0)
                code = np.floor(t * 255.0 + 0.5)
                recon = m0 + code * rng / 255.0
                err = a - recon
                ids.append(vid)
                sums.append(int(code.sum()))
                # fsum: correctly-rounded, so the result can't drift
                # with numpy's partition-dependent pairwise-sum order
                mses.append(math.fsum(err * err) / len(a) if len(a) else 0.0)
            yield pd.DataFrame({id_col: ids, "code_sum": sums, "mse": mses})

    return df.mapInPandas(gen, schema=schema)
