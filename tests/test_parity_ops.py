"""Parity operators: color-tolerance match, VOC XML round-trip, feature
stats artifacts, pivoted tag matrix."""

from __future__ import annotations

import json
import os

import numpy as np
import pyspark.sql.functions as F

from jigsaw_spark.operators.filters import tag_pivot
from jigsaw_spark.operators.transforms import match_colors_with_tolerance
from jigsaw_spark.sources.registry import read_voc_bboxes
from jigsaw_spark.sources.sinks import write_feature_stats, write_voc_xml


def test_color_match_within_tolerance(spark):
    palette = spark.createDataFrame(
        [("sky", 100, 150, 200), ("tree", 10, 200, 30)],
        "label string, r int, g int, b int",
    )
    pixels = spark.createDataFrame(
        [
            (1, 100, 150, 200),  # exact
            (2, 102, 148, 201),  # within ±2 on every channel
            (3, 103, 150, 200),  # r off by 3 -> no match
            (4, 10, 200, 30),
        ],
        "pid int, r int, g int, b int",
    )
    got = {
        r["pid"]: r["label"]
        for r in match_colors_with_tolerance(pixels, palette, tol=2).collect()
    }
    assert got == {1: "sky", 2: "sky", 3: None, 4: "tree"}


def test_color_match_fixed_tolerance_is_symmetric(spark):
    """Quirk #2: the reference's typo'd band [-3,0,1,2] would accept r-3
    but reject r+3 asymmetrically; ours is a symmetric ±2."""
    palette = spark.createDataFrame([("x", 50, 50, 50)], "label string, r int, g int, b int")
    pix = spark.createDataFrame(
        [(1, 47, 50, 50), (2, 53, 50, 50)], "pid int, r int, g int, b int"
    )
    got = {
        r["pid"]: r["label"]
        for r in match_colors_with_tolerance(pix, palette, tol=2).collect()
    }
    assert got == {1: None, 2: None}


def test_voc_xml_roundtrip(spark, tmp_path):
    bb = spark.createDataFrame(
        [
            ("img1", "car", 10, 50, 20, 60, 640, 480),
            ("img1", "person", 5, 15, 8, 40, 640, 480),
            ("img2", "car", 1, 2, 3, 4, 100, 100),
        ],
        "image_id string, label string, xmin int, xmax int, ymin int, ymax int, width int, height int",
    )
    out = str(tmp_path / "voc")
    n = write_voc_xml(bb, out)
    assert n == 2
    assert sorted(os.listdir(out)) == ["img1_labels.xml", "img2_labels.xml"]
    back = read_voc_bboxes(spark, out)
    got = sorted(tuple(r) for r in back.collect())
    want = sorted(tuple(r) for r in bb.collect())
    assert got == want


def test_feature_stats_artifacts(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, [float(i), float(2 * i)]) for i in range(5)],
        "id int, embedding array<double>",
    )
    out = str(tmp_path / "stats")
    info = write_feature_stats(df, out, feature_names=["a", "b"])
    assert info["dims"] == 2
    mean = np.load(os.path.join(out, "mean.npy"))
    stdev = np.load(os.path.join(out, "stdev.npy"))
    assert np.allclose(mean, [2.0, 4.0])
    arr = np.array([[i, 2 * i] for i in range(5)], dtype=float)
    assert np.allclose(stdev, arr.std(axis=0))
    with open(os.path.join(out, "feature_points.json")) as f:
        assert json.load(f) == {"feature_points": ["a", "b"]}


def test_tag_pivot_boolean_matrix(spark):
    df = spark.createDataFrame(
        [("i1", ["a", "b"]), ("i2", ["b"]), ("i3", ["untagged"])],
        "image_id string, tags array<string>",
    )
    out = {r["image_id"]: r.asDict() for r in tag_pivot(df, "image_id").collect()}
    assert out["i1"]["a"] and out["i1"]["b"] and not out["i1"]["untagged"]
    assert not out["i2"]["a"] and out["i2"]["b"]
    assert out["i3"]["untagged"]


def test_money_sums_invariant_under_partitioning(spark, tables):
    """The exact-decimal money-sum contract: rounded totals must be
    bit-identical whether the data arrives in 1 partition or 32 (double
    accumulation would flip cents near half-cent boundaries)."""
    from pyspark.sql import functions as F

    from jigsaw_spark.plans.registry import dec2, dsum

    orders = tables["orders"].select("o_orderstatus", "o_totalprice")

    def totals(df):
        return {
            r.o_orderstatus: r.total
            for r in df.groupBy("o_orderstatus")
            .agg(dsum(dec2("o_totalprice")).alias("total"))
            .collect()
        }

    a = totals(orders.repartition(1))
    b = totals(orders.repartition(32))
    c = totals(orders.orderBy(F.desc("o_totalprice")).repartition(7))
    assert a == b == c
