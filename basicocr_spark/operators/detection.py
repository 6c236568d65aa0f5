"""Detection-stage set operators: anchor proposal, link grouping, NMS.

Reference semantics (docs-only — the reference implements these in
external frameworks and documents the algorithms):
- SegLink box param (x, y, w, h, θ) + link labels between neighbor
  segments, thresholds α=0.9 / β=0.7, combine-by-connected-component
  ("Alg.1"): docs/nizhan/SegLink/SegLink_t.md:45, 73-103, 168.
- TextBoxes default-box generation, aspect ratios {1,2,3,5,7,10} × 2
  vertical offsets: docs/yushan/textbox.md:25-53.
- NMS grouping: docs/maoshaojiang/基于TensorFlow的车牌号识别系统.md:103-110.

Scale shape: boxes/links for one media span are tiny (tens) and NEVER
cross documents, so grouping is a per-row kernel inside an Arrow batch —
zero shuffle, embarrassingly parallel. Default-box generation is pure
closed-form column arithmetic.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ALPHA = 0.9  # segment confidence threshold (SegLink_t.md:168)
BETA = 0.7  # link confidence threshold

TEXTBOX_RATIOS = (1.0, 2.0, 3.0, 5.0, 7.0, 10.0)  # textbox.md:25-53


def default_boxes(
    cell_x: Column, cell_y: Column, cell_size: Column, ratios=TEXTBOX_RATIOS
) -> Column:
    """TextBoxes-style default boxes for one feature-map cell: each aspect
    ratio at two vertical offsets (cell center and half-cell down) —
    closed-form arithmetic, emitted as array<struct<x,y,w,h>>."""
    boxes = []
    for r in ratios:
        for dy in (0.0, 0.5):
            boxes.append(
                F.struct(
                    (cell_x + 0.5 * cell_size).cast("double").alias("x"),
                    (cell_y + (0.5 + dy) * cell_size).cast("double").alias("y"),
                    (cell_size * (r ** 0.5)).cast("double").alias("w"),
                    (cell_size / (r ** 0.5)).cast("double").alias("h"),
                )
            )
    return F.array(*boxes)


def group_segments_df(
    boxes_df: DataFrame, alpha: float = ALPHA, beta: float = BETA
) -> DataFrame:
    """(media_ref, boxes, links) -> (media_ref, groups array<array<int>>,
    combined array<struct<...>>): filter by α/β, union-find components,
    combine each component into one word box (union extents, mean θ) —
    SegLink Alg.1. Vectorized per Arrow batch via mapInPandas."""

    out_schema = (
        "media_ref string, groups array<array<int>>, "
        "combined array<struct<x:double,y:double,w:double,h:double,theta:double,score:double>>"
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            groups_col, combined_col = [], []
            for boxes, links in zip(pdf["boxes"], pdf["links"]):
                scores = [b["score"] for b in boxes]
                n = len(boxes)
                keep = [i for i in range(n) if scores[i] >= alpha]
                keep_set = set(keep)
                parent = {i: i for i in keep}

                def find(x):
                    while parent[x] != x:
                        parent[x] = parent[parent[x]]
                        x = parent[x]
                    return x

                for lk in links:
                    if lk["score"] >= beta and lk["src"] in keep_set and lk["dst"] in keep_set:
                        ra, rb = find(lk["src"]), find(lk["dst"])
                        if ra != rb:
                            parent[max(ra, rb)] = min(ra, rb)
                comps: dict[int, list[int]] = {}
                for i in keep:
                    comps.setdefault(find(i), []).append(i)
                groups = [sorted(v) for _, v in sorted(comps.items())]
                combined = []
                for g in groups:
                    xs0 = [boxes[i]["x"] - boxes[i]["w"] / 2 for i in g]
                    xs1 = [boxes[i]["x"] + boxes[i]["w"] / 2 for i in g]
                    ys0 = [boxes[i]["y"] - boxes[i]["h"] / 2 for i in g]
                    ys1 = [boxes[i]["y"] + boxes[i]["h"] / 2 for i in g]
                    combined.append(
                        {
                            "x": float((min(xs0) + max(xs1)) / 2),
                            "y": float((min(ys0) + max(ys1)) / 2),
                            "w": float(max(xs1) - min(xs0)),
                            "h": float(max(ys1) - min(ys0)),
                            "theta": float(np.mean([boxes[i]["theta"] for i in g])),
                            "score": float(np.mean([boxes[i]["score"] for i in g])),
                        }
                    )
                groups_col.append(groups)
                combined_col.append(combined)
            yield pd.DataFrame(
                {"media_ref": pdf["media_ref"], "groups": groups_col, "combined": combined_col}
            )

    return boxes_df.select("media_ref", "boxes", "links").mapInPandas(kernel, out_schema)


def nms_df(boxes_df: DataFrame, iou_thresh: float = 0.5) -> DataFrame:
    """(media_ref, boxes) -> (media_ref, kept array<int>): greedy NMS per
    media span, vectorized IoU matrix per row inside the Arrow batch."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            kept_col = []
            for boxes in pdf["boxes"]:
                n = len(boxes)
                if n == 0:
                    kept_col.append([])
                    continue
                x = np.array([b["x"] for b in boxes])
                y = np.array([b["y"] for b in boxes])
                w = np.array([b["w"] for b in boxes])
                h = np.array([b["h"] for b in boxes])
                s = np.array([b["score"] for b in boxes])
                x0, x1 = x - w / 2, x + w / 2
                y0, y1 = y - h / 2, y + h / 2
                order = np.lexsort((np.arange(n), -s))
                kept: list[int] = []
                for i in order:
                    ok = True
                    for j in kept:
                        ix = max(0.0, min(x1[i], x1[j]) - max(x0[i], x0[j]))
                        iy = max(0.0, min(y1[i], y1[j]) - max(y0[i], y0[j]))
                        inter = ix * iy
                        union = w[i] * h[i] + w[j] * h[j] - inter
                        if union > 0 and inter / union > iou_thresh:
                            ok = False
                            break
                    if ok:
                        kept.append(int(i))
                kept_col.append(sorted(kept))
            yield pd.DataFrame({"media_ref": pdf["media_ref"], "kept": kept_col})

    return boxes_df.select("media_ref", "boxes").mapInPandas(kernel, "media_ref string, kept array<int>")


def _rect_corners(x, y, w, h, theta):
    """CCW corners of a rotated rectangle (numpy, one box)."""
    import numpy as np

    c, s = np.cos(theta), np.sin(theta)
    out = []
    for dx, dy in ((-w / 2, -h / 2), (w / 2, -h / 2), (w / 2, h / 2), (-w / 2, h / 2)):
        out.append((x + dx * c - dy * s, y + dx * s + dy * c))
    return out


def _clip_area(subject, clip):
    """Area of the intersection of two convex CCW polygons via
    Sutherland–Hodgman clipping + shoelace."""
    poly = list(subject)
    n = len(clip)
    for i in range(n):
        if not poly:
            return 0.0
        ax, ay = clip[i]
        bx, by = clip[(i + 1) % n]
        ex, ey = bx - ax, by - ay
        inside = lambda p: ex * (p[1] - ay) - ey * (p[0] - ax) >= 0.0  # noqa: E731
        nxt = []
        for j, cur in enumerate(poly):
            prev = poly[j - 1]
            cur_in, prev_in = inside(cur), inside(prev)
            if cur_in != prev_in:
                dx, dy = cur[0] - prev[0], cur[1] - prev[1]
                denom = ex * dy - ey * dx
                if denom != 0.0:
                    # solve f(prev) + t*denom = 0 with f(p) = ex*(py-ay) - ey*(px-ax)
                    t = (ex * (ay - prev[1]) - ey * (ax - prev[0])) / denom
                    nxt.append((prev[0] + t * dx, prev[1] + t * dy))
            if cur_in:
                nxt.append(cur)
        poly = nxt
    if len(poly) < 3:
        return 0.0
    area = 0.0
    for j in range(len(poly)):
        x0, y0 = poly[j]
        x1, y1 = poly[(j + 1) % len(poly)]
        area += x0 * y1 - x1 * y0
    return abs(area) / 2.0


def rotated_iou(b1, b2) -> float:
    """θ-aware IoU of two (x, y, w, h, theta) boxes: exact polygon
    intersection over union — the RRPN overlap measure (reference:
    docs/nizhan RRPN analysis; rotated proposals need rotated overlap,
    an axis-aligned IoU over-suppresses crossing lines and
    under-suppresses parallel rotated dups)."""
    p1 = _rect_corners(*b1)
    p2 = _rect_corners(*b2)
    inter = _clip_area(p1, p2)
    union = b1[2] * b1[3] + b2[2] * b2[3] - inter
    return inter / union if union > 0 else 0.0


def rotated_nms_df(boxes_df: DataFrame, iou_thresh: float = 0.5) -> DataFrame:
    """(media_ref, boxes) -> (media_ref, kept array<int>): greedy NMS per
    media span with ROTATED IoU — suppression respects each box's θ, so
    two elongated lines crossing at right angles both survive (their
    rotated overlap is small even though their axis-aligned extents
    coincide) while near-parallel rotated duplicates suppress. Same
    per-doc Arrow-batch shape as nms_df: boxes per span are tiny, zero
    shuffle, embarrassingly parallel."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            kept_col = []
            for boxes in pdf["boxes"]:
                n = len(boxes)
                if n == 0:
                    kept_col.append([])
                    continue
                geo = [
                    (b["x"], b["y"], b["w"], b["h"], b["theta"]) for b in boxes
                ]
                s = np.array([b["score"] for b in boxes])
                order = np.lexsort((np.arange(n), -s))
                kept: list[int] = []
                for i in order:
                    ok = True
                    for j in kept:
                        if rotated_iou(geo[i], geo[j]) > iou_thresh:
                            ok = False
                            break
                    if ok:
                        kept.append(int(i))
                kept_col.append(sorted(kept))
            yield pd.DataFrame({"media_ref": pdf["media_ref"], "kept": kept_col})

    return boxes_df.select("media_ref", "boxes").mapInPandas(
        kernel, "media_ref string, kept array<int>"
    )
