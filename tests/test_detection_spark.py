"""Detection grouping / NMS kernels vs the pure-Python reference."""

import random

from basicocr_spark import reference as R
from basicocr_spark.operators.detection import group_segments_df, nms_df


def test_group_segments_matches_gold(fx):
    out = group_segments_df(fx["boxes"])
    joined = out.join(fx["boxes"].select("media_ref", "gold_groups"), "media_ref")
    rows = joined.collect()
    assert rows
    for r in rows:
        got = [list(g) for g in r.groups]
        want = [list(g) for g in r.gold_groups]
        assert got == want, r.media_ref


def test_combined_boxes_cover_members(fx):
    rows = group_segments_df(fx["boxes"]).join(fx["boxes"], "media_ref").collect()
    for r in rows:
        for g, c in zip(r.groups, r.combined):
            xs0 = min(r.boxes[i]["x"] - r.boxes[i]["w"] / 2 for i in g)
            xs1 = max(r.boxes[i]["x"] + r.boxes[i]["w"] / 2 for i in g)
            assert abs((c["x"] - c["w"] / 2) - xs0) < 1e-6
            assert abs((c["x"] + c["w"] / 2) - xs1) < 1e-6


def test_nms_matches_reference(spark):
    rng = random.Random(3)
    rows = []
    for i in range(12):
        n = rng.randint(1, 8)
        boxes = [
            {
                "x": round(rng.uniform(0, 60), 1),
                "y": round(rng.uniform(0, 40), 1),
                "w": 20.0,
                "h": 16.0,
                "theta": 0.0,
                "score": round(rng.uniform(0.1, 1.0), 3),
            }
            for _ in range(n)
        ]
        rows.append((f"r{i}", boxes))
    df = spark.createDataFrame(
        rows, "media_ref string, boxes array<struct<x:double,y:double,w:double,h:double,theta:double,score:double>>"
    )
    got = {r.media_ref: list(r.kept) for r in nms_df(df).collect()}
    for ref, boxes in rows:
        want = R.nms([(b["x"], b["y"], b["w"], b["h"]) for b in boxes], [b["score"] for b in boxes])
        assert got[ref] == want, ref


def test_rotated_nms_theta_awareness(spark):
    """The planted cross (two elongated lines at θ=0 / θ=π/2, same
    center) must BOTH survive rotated NMS — an axis-aligned NMS sees
    identical upright extents and suppresses one — while the parallel
    same-θ near-dup pair suppresses its lower-score member."""
    from basicocr_spark import fixtures as FX
    from basicocr_spark.operators.detection import nms_df, rotated_nms_df

    rows = FX.gen_rotated_boxes(6, FX.SEED)
    df = spark.createDataFrame(rows, schema=FX.ROTATED_BOXES_SCHEMA)
    rot = {r.media_ref: list(r.kept) for r in rotated_nms_df(df).collect()}
    axis = {r.media_ref: list(r.kept) for r in nms_df(df).collect()}
    for ref, _boxes in rows:
        # boxes 0,1 are the cross; 2,3 the parallel dup (3 loses)
        assert 0 in rot[ref] and 1 in rot[ref], (ref, rot[ref])
        assert 2 in rot[ref] and 3 not in rot[ref], (ref, rot[ref])
        # axis-aligned NMS wrongly suppresses one arm of the cross
        assert not (0 in axis[ref] and 1 in axis[ref]), (ref, axis[ref])


def test_rotated_nms_matches_reference(spark):
    from basicocr_spark import fixtures as FX
    from basicocr_spark.operators.detection import rotated_nms_df

    rows = FX.gen_rotated_boxes(24, FX.SEED)
    df = spark.createDataFrame(rows, schema=FX.ROTATED_BOXES_SCHEMA)
    got = {r.media_ref: list(r.kept) for r in rotated_nms_df(df).collect()}
    for ref, boxes in rows:
        want = R.rotated_nms(
            [(x, y, w, h, th) for x, y, w, h, th, _ in boxes],
            [b[5] for b in boxes],
        )
        assert got[ref] == want, ref
