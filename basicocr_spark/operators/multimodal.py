"""Multimodal (binary media) column plumbing.

Media rides the table as an opaque `binary` column plus typed metadata —
the Spark-side contract (schema, partitioning, Arrow batch shape, UDF
signatures) is real and tested; the pixel-level kernels are
deterministic stand-ins because no image/audio libs exist in this
container (decode raises cleanly when asked for real pixels).

Reference analogs: image bytes in LMDB (dataset.py:45-55: imageBuf ->
cv2.imdecode), the decode/resize/normalize chain (dataset.py:69-80,
tolmdb.py:10-22 checkImageIsValid), and plateGen's synthetic labeled
images (genplate_plate.py:151-226).
"""

from __future__ import annotations

import struct
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_BLOB = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("content", T.BinaryType(), False),
        T.StructField("mime", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)

# Deterministic fake "image": header magic + (w, h) + zlib-compressed
# synthetic gray payload. Lets the full decode->validate->feature chain
# run bit-stable without cv2/PIL.
_MAGIC = b"BOCR"


def encode_fake_image(media_ref: str, width: int = 100, height: int = 32) -> bytes:
    payload = bytes(
        (ord(media_ref[i % len(media_ref)]) * (i + 3)) % 256 for i in range(width * height)
    )
    return _MAGIC + struct.pack("<II", width, height) + zlib.compress(payload, 1)


def decode_fake_image(buf: bytes):
    """-> (width, height, payload bytes) or None if invalid — the P1
    validity predicate (tolmdb.py:10-22: decode fails / h*w == 0)."""
    if buf is None or len(buf) < 12 or buf[:4] != _MAGIC:
        return None
    w, h = struct.unpack("<II", buf[4:12])
    if w * h == 0:
        return None
    try:
        payload = zlib.decompress(buf[12:])
    except zlib.error:
        return None
    if len(payload) != w * h:
        return None
    return w, h, payload


# ---------------------------------------------------------------------------
# Decoder protocol (the real-model adapter seam)
# ---------------------------------------------------------------------------
# A MediaDecoder is any callable `bytes | None -> (width, height,
# grayscale_payload_row_major_uint8_bytes) | None` (None = invalid blob,
# P1/P2 skip semantics). decode_fake_image satisfies it and is the
# default on every host; a real pixel decoder (e.g. one wrapping
# cv2.imdecode) is always an explicit injection. Every media operator
# takes `decoder=` and defaults through resolve_decoder, so plugging one
# in requires ZERO engine edits — exactly the reference's decode chain
# boundary (dataset.py:69-80: imageBuf -> cv2.imdecode -> grayscale).


def resolve_decoder(decoder=None):
    """Decoder resolution: an explicitly injected callable wins; else the
    deterministic fake codec, whatever imaging libraries the host has
    (the blob tables behind the media oracles are fake-encoded)."""
    return decode_fake_image if decoder is None else decoder


def validate_media(blobs: DataFrame, decoder=None) -> DataFrame:
    """P1/P2: drop undecodable blobs (the reference skips corrupted rows,
    dataset.py:51-55). Vectorized over Arrow batches; emits decoded dims
    so downstream stages never re-decode just for metadata."""
    decoder = resolve_decoder(decoder)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ok, ws, hs = [], [], []
            for buf in pdf["content"]:
                d = decoder(bytes(buf) if buf is not None else None)
                ok.append(d is not None)
                ws.append(d[0] if d else None)
                hs.append(d[1] if d else None)
            out = pdf[["media_ref", "mime"]].copy()
            out["valid"] = ok
            out["dec_width"] = pd.array(ws, dtype="Int32")
            out["dec_height"] = pd.array(hs, dtype="Int32")
            yield out

    return blobs.mapInPandas(
        kernel,
        "media_ref string, mime string, valid boolean, dec_width int, dec_height int",
    ).filter(F.col("valid"))


def media_features(
    blobs: DataFrame, resize_to: tuple[int, int] = (100, 32), decoder=None
) -> DataFrame:
    """Decode (pluggable, resolve_decoder) -> grayscale 'resize'
    (nearest-neighbor index arithmetic, P9/F10 stand-in for
    dataset.py:69-80) -> per-image feature vector (mean/std/aspect +
    8-bin histogram). Arrow-batched; numpy inside."""
    tw, th = resize_to
    decoder = resolve_decoder(decoder)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            refs, feats = [], []
            for ref, buf in zip(pdf["media_ref"], pdf["content"]):
                d = decoder(bytes(buf) if buf is not None else None)
                if d is None:
                    continue
                w, h, payload = d
                img = np.frombuffer(payload, dtype=np.uint8).reshape(h, w)
                yi = (np.arange(th) * h // th)[:, None]
                xi = (np.arange(tw) * w // tw)[None, :]
                resized = img[yi, xi].astype(np.float32) / 127.5 - 1.0  # [-1,1], F8
                hist = np.histogram(resized, bins=8, range=(-1.0, 1.0))[0]
                feats.append(
                    [float(resized.mean()), float(resized.std()), float(w) / h]
                    + [float(x) for x in hist]
                )
                refs.append(ref)
            yield pd.DataFrame({"media_ref": refs, "features": feats})

    return blobs.mapInPandas(kernel, "media_ref string, features array<double>")


def media_batches_dynamic_width(
    blobs: DataFrame, target_h: int = 32, max_w: int = 400, decoder=None
) -> DataFrame:
    """A6/keep_ratio dynamic batch width (reference: alignCollate with
    keep_ratio, dataset.py:109-136): each ARROW BATCH is resized to
    height target_h and padded to that batch's own max aspect-derived
    width instead of a global constant — cutting padding waste for
    narrow crops. Emits per-image tensors plus the batch width actually
    used, so tests can assert the width varies with batch content."""
    decoder = resolve_decoder(decoder)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            decoded = []
            for ref, buf in zip(pdf["media_ref"], pdf["content"]):
                d = decoder(bytes(buf) if buf is not None else None)
                if d is not None:
                    decoded.append((ref, d))
            if not decoded:
                continue
            # batch max ratio (ratios.sort(); ratios[-1] — dataset.py:122-130)
            max_ratio = max(w / float(h) for _, (w, h, _) in decoded)
            batch_w = min(max_w, max(1, int(np.floor(max_ratio * target_h))))
            refs, tensors = [], []
            for ref, (w, h, payload) in decoded:
                img = np.frombuffer(payload, dtype=np.uint8).reshape(h, w)
                scaled_w = min(batch_w, max(1, int(round(w * target_h / float(h)))))
                yi = (np.arange(target_h) * h // target_h)[:, None]
                xi = (np.arange(scaled_w) * w // scaled_w)[None, :]
                resized = img[yi, xi].astype(np.float32) / 127.5 - 1.0
                padded = np.full((target_h, batch_w), -1.0, dtype=np.float32)
                padded[:, :scaled_w] = resized
                refs.append(ref)
                tensors.append([float(x) for x in padded.mean(axis=0)])
            yield pd.DataFrame(
                {
                    "media_ref": refs,
                    "batch_width": [batch_w] * len(refs),
                    "col_means": tensors,
                }
            )

    return blobs.mapInPandas(
        kernel, "media_ref string, batch_width int, col_means array<float>"
    )


# hamming radius for perceptual near-dup: < 8 byte-bands keeps the
# banded candidate join EXACT by pigeonhole (see queries.hamming_ball_pairs)
MEDIA_PHASH_HAM_MAX = 6


def media_dhash(blobs: DataFrame, decoder=None, grid: int = 8) -> DataFrame:
    """Perceptual difference-hash (dHash) per media blob: decode
    (pluggable, resolve_decoder) -> grayscale 'resize' to
    (grid+1) x grid by nearest-neighbor index arithmetic (the same
    sampling as media_features) -> one bit per adjacent-column gradient,
    y-major MSB-first -> a 64-bit signature (grid=8). Near-identical
    images (re-encodes, small edits, noise) land within a small hamming
    ball of each other — the standard perceptual-dedup signature for
    image corpora (dHash; same family as aHash/pHash). Emitted as a
    SIGNED long (two's-complement wrap) so banding/xor stay native JVM
    column ops downstream. Undecodable blobs emit nothing (P1/P2 skip).
    Arrow-batched; zero per-row Python at the Spark layer.

    Reference analog: the decode->grayscale->resize chain of
    dataset.py:69-80 — repurposed from recognition preprocessing into a
    corpus-dedup signature."""
    decoder = resolve_decoder(decoder)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            refs, hashes = [], []
            for ref, buf in zip(pdf["media_ref"], pdf["content"]):
                d = decoder(bytes(buf) if buf is not None else None)
                if d is None:
                    continue
                w, h, payload = d
                img = np.frombuffer(payload, dtype=np.uint8).reshape(h, w)
                yi = (np.arange(grid) * h // grid)[:, None]
                xi = (np.arange(grid + 1) * w // (grid + 1))[None, :]
                small = img[yi, xi]
                bits = (small[:, :-1] > small[:, 1:]).flatten()
                hv = 0
                for bit in bits:
                    hv = (hv << 1) | int(bit)
                if hv >= 1 << 63:  # two's-complement wrap to signed long
                    hv -= 1 << 64
                refs.append(ref)
                hashes.append(hv)
            yield pd.DataFrame({"media_ref": refs, "phash": pd.array(hashes, dtype="int64")})

    return blobs.mapInPandas(kernel, "media_ref string, phash long")


def perturb_fake_image(
    buf: bytes, rows: tuple[int, ...], frac: float = 0.5
) -> bytes:
    """Near-dup fixture helper: invert the left `frac` of the given pixel
    ROWS of a fake image and re-encode — a deterministic stand-in for the
    re-encode/small-edit variants perceptual dedup must catch. Inversion
    (255 - v) reverses gradient comparisons in the touched region, so the
    dHash provably flips SOME bits (a uniform brightness shift would
    preserve ordering and hash identically), while untouched rows keep
    the pair inside a small hamming ball."""
    d = decode_fake_image(buf)
    if d is None:
        raise ValueError("cannot perturb an invalid fake image")
    w, h, payload = d
    arr = bytearray(payload)
    for r in rows:
        for x in range(int(w * frac)):
            arr[r * w + x] = 255 - arr[r * w + x]
    return _MAGIC + struct.pack("<II", w, h) + zlib.compress(bytes(arr), 1)


def build_phash_blob_table(spark, n_base: int = 12) -> DataFrame:
    """Deterministic perceptual-dedup fixture: n_base distinct images,
    plus for every 3rd base a near-dup variant (2 pixel rows brightened)
    and for every 4th an exact byte clone under a new ref, plus one
    corrupt blob (skip path). Planted structure the phash near-dup
    operator must recover: clone pairs at hamming 0, perturbed pairs in
    a small ball, distinct bases unpaired."""
    rows = []
    for i in range(n_base):
        ref = f"img{i:04d}-{chr(97 + i)}{i * i + 7}"
        w, h = 96 + 8 * (i % 5), 32
        buf = encode_fake_image(ref, w, h)
        rows.append((ref, buf, "image/x-bocr", w, h))
        if i % 3 == 0:
            rows.append(
                (f"{ref}_near", perturb_fake_image(buf, (4, 5)), "image/x-bocr", w, h)
            )
        if i % 4 == 0:
            rows.append((f"{ref}_clone", buf, "image/x-bocr", w, h))
    rows.append(("imgbad", b"\x00garbage", "image/x-bocr", None, None))
    return spark.createDataFrame(rows, schema=MEDIA_BLOB)


_VMAGIC = b"BOCV"


def encode_fake_video(media_ref: str, n_frames: int, width: int = 48, height: int = 32) -> bytes:
    """Deterministic fake 'video': magic + frame count + concatenated
    per-frame fake images (each frame varies with its index so sampled
    frames are distinguishable)."""
    frames = b"".join(
        encode_fake_image(f"{media_ref}#{i}", width, height) for i in range(n_frames)
    )
    return _VMAGIC + struct.pack("<I", n_frames) + frames


def _iter_fake_video_frames(buf: bytes):
    """Yield (frame_idx, frame_bytes) — frames are length-delimited by
    their own zlib stream; walk via decompressobj to find boundaries."""
    if buf is None or len(buf) < 8 or buf[:4] != _VMAGIC:
        return
    (n,) = struct.unpack("<I", buf[4:8])
    pos = 8
    for i in range(n):
        if buf[pos : pos + 4] != _MAGIC:
            return
        d = zlib.decompressobj()
        d.decompress(buf[pos + 12 :])
        consumed = len(buf) - pos - 12 - len(d.unused_data)
        frame = buf[pos : pos + 12 + consumed]
        yield i, frame
        pos += 12 + consumed


def sample_frames(videos: DataFrame, n_samples: int = 4, frame_iter=None) -> DataFrame:
    """Uniform frame sampling for video media: each blob yields
    `n_samples` frames at evenly spaced indices (floor(j*(T-1)/(k-1))),
    each re-emitted as a standalone image blob row ready for the image
    pipeline (validate_media / media_features compose downstream). One
    mapInPandas pass — a row-multiplying Arrow UDTF in effect, the
    standard shape for video -> per-frame training examples. Videos
    shorter than n_samples emit every frame once; undecodable blobs emit
    nothing (P1/P2 skip semantics, dataset.py:51-55).

    `frame_iter` is the container-walker seam (same adapter pattern as
    resolve_decoder): any callable `bytes | None -> iterable of
    (frame_idx, frame_bytes)`; default is the fake-container walker. A
    production deployment passes an ffmpeg/PyAV-backed walker and the
    Spark plumbing is unchanged."""
    frame_iter = frame_iter or _iter_fake_video_frames

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            refs, idxs, frames = [], [], []
            for ref, buf in zip(pdf["media_ref"], pdf["content"]):
                all_frames = list(frame_iter(bytes(buf) if buf is not None else None))
                t = len(all_frames)
                if t == 0:
                    continue
                if t <= n_samples:
                    take = range(t)
                elif n_samples == 1:
                    take = [0]  # degenerate k=1 case of the index formula
                else:
                    take = sorted({(j * (t - 1)) // (n_samples - 1) for j in range(n_samples)})
                for j in take:
                    i, frame = all_frames[j]
                    refs.append(ref)
                    idxs.append(i)
                    frames.append(frame)
            yield pd.DataFrame({"media_ref": refs, "frame_idx": idxs, "content": frames})

    return videos.mapInPandas(kernel, "media_ref string, frame_idx int, content binary")


def build_video_table(spark, media_refs: list[str], corrupt_every: int = 5) -> DataFrame:
    """Deterministic video fixture: frame counts vary per ref; every
    `corrupt_every`-th blob is garbage to exercise the skip path."""
    rows = []
    for i, ref in enumerate(media_refs):
        if corrupt_every and i % corrupt_every == corrupt_every - 1:
            rows.append((ref, b"\x00notavideo", "video/x-bocr", None, None))
        else:
            rows.append((ref, encode_fake_video(ref, 3 + (i % 9)), "video/x-bocr", 48, 32))
    return spark.createDataFrame(rows, schema=MEDIA_BLOB)


def build_blob_table(spark, media_refs: list[str], corrupt_every: int = 7) -> DataFrame:
    """Deterministic blob fixture: every `corrupt_every`-th blob is
    truncated garbage to exercise the validity filter."""
    rows = []
    for i, ref in enumerate(media_refs):
        if corrupt_every and i % corrupt_every == corrupt_every - 1:
            rows.append((ref, b"\x00garbage", "image/x-bocr", None, None))
        else:
            w, h = 64 + 4 * (i % 9), 32
            rows.append((ref, encode_fake_image(ref, w, h), "image/x-bocr", w, h))
    return spark.createDataFrame(rows, schema=MEDIA_BLOB)


# ---------------------------------------------------------------------------
# Audio: opaque binary waveform column + windowed features / voice gate
# ---------------------------------------------------------------------------
# Same contract as images/video: the container format is a deterministic
# stand-in (no audio libs in this container), the Spark plumbing —
# binary column, Arrow batch shape, row-multiplying mapInPandas,
# corrupt-blob skip semantics — is real. A production deployment swaps
# decode_fake_audio for an ffmpeg/soundfile-backed decoder through the
# same `decoder=` seam as resolve_decoder; every feature below is
# integer-exact (sum of squared int16 samples, strict sign-change
# counts), so the oracle side needs no float tolerance at all.

_AMAGIC = b"FAUD"
AUDIO_WINDOW = 256  # samples per analysis window
# voice gate: a window is voiced iff mean square >= SILENCE_MSQ, i.e.
# sum_sq >= SILENCE_MSQ * n in exact integer arithmetic
SILENCE_MSQ = 100


def encode_fake_audio(media_ref: str, n_samples: int, rate: int = 8000) -> bytes:
    """Deterministic fake waveform: magic + rate + count + int16 LE
    samples from an LCG seeded by the ref. Windows where
    (window_index + seed) % 3 == 2 are written as EXACT silence (all
    zeros) so the voice gate has real negatives to drop."""
    seed = 0
    for ch in media_ref:
        seed = (seed * 31 + ord(ch)) % (1 << 31)
    samples = []
    x = seed | 1
    for i in range(n_samples):
        w = i // AUDIO_WINDOW
        if (w + seed) % 3 == 2:
            samples.append(0)
        else:
            x = (1103515245 * x + 12345) % (1 << 31)
            samples.append(((x >> 16) % 2001) - 1000)
    return (
        _AMAGIC
        + struct.pack("<II", rate, n_samples)
        + struct.pack(f"<{n_samples}h", *samples)
    )


def decode_fake_audio(buf: bytes):
    """-> (rate, int16 samples tuple) or None if invalid — P1/P2 skip
    semantics for the audio column."""
    if buf is None or len(buf) < 12 or buf[:4] != _AMAGIC:
        return None
    rate, n = struct.unpack("<II", buf[4:12])
    if len(buf) != 12 + 2 * n or rate == 0:
        return None
    return rate, struct.unpack(f"<{n}h", buf[12:])


def audio_window_features(blobs: DataFrame, decoder=None) -> DataFrame:
    """Windowed audio featurization + voice-activity gate — the audio
    analog of the image feature chain: each decodable blob explodes
    into fixed-AUDIO_WINDOW analysis windows carrying (n, sum_sq, zcr,
    voiced): sample count (the last window may be partial), EXACT
    integer energy (sum of squared int16 samples — int64-safe:
    1000^2 * 256 per window), strict zero crossings
    (#{i : x[i-1] * x[i] < 0}, window-local), and the silence verdict
    sum_sq >= SILENCE_MSQ * n. Undecodable blobs emit nothing.

    Scale shape: one row-multiplying mapInPandas pass (Arrow-batched
    numpy int64 kernels, no Python per-sample loop), zero shuffle —
    the same UDTF shape as sample_frames; downstream consumers filter
    on `voiced` to trim silence before any expensive recognizer, the
    audio twin of the boilerplate gate."""
    import numpy as np

    decoder = decoder or decode_fake_audio

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            refs, widx, ns, sqs, zcs, voiced = [], [], [], [], [], []
            for ref, buf in zip(pdf["media_ref"], pdf["content"]):
                d = decoder(bytes(buf) if buf is not None else None)
                if d is None:
                    continue
                _, samples = d
                x = np.asarray(samples, dtype=np.int64)
                for w in range(0, len(x), AUDIO_WINDOW):
                    seg = x[w : w + AUDIO_WINDOW]
                    n = int(len(seg))
                    sq = int(np.dot(seg, seg))
                    zc = int(np.count_nonzero(seg[:-1] * seg[1:] < 0))
                    refs.append(ref)
                    widx.append(w // AUDIO_WINDOW)
                    ns.append(n)
                    sqs.append(sq)
                    zcs.append(zc)
                    voiced.append(sq >= SILENCE_MSQ * n)
            yield pd.DataFrame(
                {
                    "media_ref": refs,
                    "win_idx": widx,
                    "n": ns,
                    "sum_sq": sqs,
                    "zcr": zcs,
                    "voiced": voiced,
                }
            )

    return blobs.mapInPandas(
        kernel,
        "media_ref string, win_idx int, n int, sum_sq long, zcr long, voiced boolean",
    )


def build_audio_table(spark, media_refs: list[str], corrupt_every: int = 6) -> DataFrame:
    """Deterministic audio fixture: sample counts vary per ref (always
    ending in a partial window); every `corrupt_every`-th blob is
    garbage to exercise the skip path."""
    rows = []
    for i, ref in enumerate(media_refs):
        if corrupt_every and i % corrupt_every == corrupt_every - 1:
            rows.append((ref, b"\x00notaudio", "audio/x-bocr", None, None))
        else:
            n = 3 * AUDIO_WINDOW + 40 + 97 * i
            rows.append((ref, encode_fake_audio(ref, n), "audio/x-bocr", None, None))
    return spark.createDataFrame(rows, schema=MEDIA_BLOB)


# ---------------------------------------------------------------------------
# Audio fingerprint near-dup (the audio leg of crawl dedup)
# ---------------------------------------------------------------------------
# 2 bits per analysis window from the window's integer mean-square
# energy, first AUDIO_FP_WINDOWS windows packed into one 64-bit
# fingerprint — a deterministic, integer-exact stand-in for a
# chromaprint-style acoustic fingerprint. Identical clips collide
# exactly; zeroing/re-encoding a few windows flips <= 2 bits per touched
# window; unrelated clips differ in ~3/4 of windows. Pairs come from the
# SAME byte-band hamming engine as the image dHash and text simhash
# (queries.hamming_ball_pairs), completing crawl dedup across all three
# media modalities.

AUDIO_FP_WINDOWS = 32
AUDIO_FP_MSQ_BIN = 12500  # mean-square bin width; %4 -> 2-bit code
AUDIO_FP_HAM_MAX = 6  # < 8 bands: byte-band candidates are exact


def encode_pcm(samples, rate: int = 8000) -> bytes:
    """Pack raw int16 samples into the fake-audio container."""
    n = len(samples)
    return (
        _AMAGIC + struct.pack("<II", rate, n) + struct.pack(f"<{n}h", *samples)
    )


def perturb_fake_audio(buf: bytes, windows: tuple) -> bytes:
    """Zero the given analysis windows and re-encode — the seeded
    'same clip, small edit' fixture for near-dup tests."""
    rate, samples = decode_fake_audio(buf)
    out = list(samples)
    for w in windows:
        for i in range(w * AUDIO_WINDOW, min((w + 1) * AUDIO_WINDOW, len(out))):
            out[i] = 0
    return encode_pcm(out, rate)


def _afp_of_samples(samples) -> int:
    """Scalar-loop fingerprint twin (shared by the numpy kernel's test
    oracle): code_w = ((sum_sq_w // n_w) // BIN) % 4 (0 for absent
    windows), packed little-endian 2 bits per window, wrapped to a
    signed int64 like the image dHash."""
    fp = 0
    for w in range(AUDIO_FP_WINDOWS):
        seg = samples[w * AUDIO_WINDOW : (w + 1) * AUDIO_WINDOW]
        if seg:
            sq = sum(v * v for v in seg)
            code = ((sq // len(seg)) // AUDIO_FP_MSQ_BIN) % 4
        else:
            code = 0
        fp |= code << (2 * w)
    if fp >= 1 << 63:
        fp -= 1 << 64
    return fp


def audio_fingerprint(blobs: DataFrame, decoder=None) -> DataFrame:
    """(media_ref, afp) via one Arrow-batched mapInPandas pass (numpy
    int64 segment math, no per-sample Python); undecodable or empty
    blobs emit no row (P1/P2 skip semantics)."""
    import numpy as np

    decoder = decoder or decode_fake_audio

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            refs, fps = [], []
            for ref, buf in zip(pdf["media_ref"], pdf["content"]):
                d = decoder(bytes(buf) if buf is not None else None)
                if d is None or len(d[1]) == 0:
                    continue
                x = np.asarray(d[1], dtype=np.int64)
                fp = 0
                for w in range(AUDIO_FP_WINDOWS):
                    seg = x[w * AUDIO_WINDOW : (w + 1) * AUDIO_WINDOW]
                    if len(seg):
                        code = int(
                            (int(np.dot(seg, seg)) // len(seg)) // AUDIO_FP_MSQ_BIN
                        ) % 4
                    else:
                        code = 0
                    fp |= code << (2 * w)
                if fp >= 1 << 63:
                    fp -= 1 << 64
                refs.append(ref)
                fps.append(fp)
            yield pd.DataFrame({"media_ref": refs, "afp": fps})

    return blobs.mapInPandas(kernel, "media_ref string, afp long")


def build_audio_fp_blob_list(n_base: int = 12) -> list:
    """Deterministic audio near-dup fixture rows (media_ref, bytes):
    base clips, byte-exact clones (hamming 0), lightly zero-window
    perturbed re-encodes (small hamming), one corrupt blob (skipped)."""
    rows = []
    for i in range(n_base):
        ref = f"a{i:05d}"
        if i % 6 == 5:
            rows.append((ref, b"\x00notaudio"))
            continue
        buf = encode_fake_audio(ref, 40 * AUDIO_WINDOW + 40 + 97 * i)
        rows.append((ref, buf))
        if i % 4 == 0:
            rows.append((f"{ref}_clone", buf))
        if i % 3 == 0:
            rows.append((f"{ref}_near", perturb_fake_audio(buf, (1, 2))))
    return rows


def build_audio_fp_table(spark) -> DataFrame:
    rows = [
        (ref, buf, "audio/x-bocr", None, None)
        for ref, buf in build_audio_fp_blob_list()
    ]
    return spark.createDataFrame(rows, schema=MEDIA_BLOB)
