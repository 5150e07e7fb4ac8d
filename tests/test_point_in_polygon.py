"""Strict-interior point-in-polygon UDF (the ``j2_points_in_polygon``
kernel): points on the polygon's edges are outside, as in the query's
oracle ``|x-50| + |y-50| < 30``."""

from __future__ import annotations

import random

from openskidata_processor_spark.functions.geometry import (
    make_point_in_polygon_udf, point_in_polygon)
from openskidata_processor_spark.plans.analytics import DIAMOND

# on the diamond's edges: its four corners and points along each side,
# including a fractional x like the query's ``value % 100.0``
ON_EDGE = [(50.0, 20.0), (80.0, 50.0), (50.0, 80.0), (20.0, 50.0),
           (65.0, 35.0), (65.0, 65.0), (35.0, 65.0), (35.0, 35.0),
           (70.5, 40.5), (29.25, 70.75)]
INSIDE = [(50.0, 50.0), (64.0, 35.5), (21.0, 50.0), (50.0, 79.0),
          (70.25, 40.5)]
OUTSIDE = [(0.0, 0.0), (66.0, 35.0), (19.0, 50.0), (80.5, 50.0),
           (99.9, 99.0)]


def _algebraic(x, y):
    return abs(x - 50) + abs(y - 50) < 30


def _udf_result(spark, polygon, points):
    inside = make_point_in_polygon_udf(polygon)
    df = spark.createDataFrame(points, "x double, y double")
    return {(r.x, r.y): r.inside for r in
            df.select("x", "y", inside("x", "y").alias("inside")).collect()}


def test_point_in_polygon_udf_edges_are_outside(spark):
    # plus a grid of the query's points: x with two decimals, integral y
    rng = random.Random(5)
    grid = [(rng.randrange(10_000) / 100.0, float(rng.randrange(100)))
            for _ in range(300)]
    points = ON_EDGE + INSIDE + OUTSIDE + grid
    assert [_algebraic(x, y) for x, y in ON_EDGE] == [False] * len(ON_EDGE)
    assert _udf_result(spark, DIAMOND, points) == \
        {p: _algebraic(*p) for p in points}


def test_point_in_polygon_udf_holes(spark):
    """Inside the hole, and on either ring's edge, is outside."""
    square = [[[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]],
              [[3.0, 3.0], [6.0, 3.0], [6.0, 6.0], [3.0, 6.0]]]
    points = [(1.0, 1.0), (8.0, 8.0), (4.0, 4.0), (3.0, 4.0), (5.0, 6.0),
              (0.0, 5.0), (10.0, 10.0), (11.0, 5.0)]
    assert _udf_result(spark, square, points) == {
        (1.0, 1.0): True, (8.0, 8.0): True, (4.0, 4.0): False,
        (3.0, 4.0): False, (5.0, 6.0): False, (0.0, 5.0): False,
        (10.0, 10.0): False, (11.0, 5.0): False}


def test_shared_point_in_polygon_keeps_ray_casting():
    """The shared kernel (enrichment, ``point_in_geom``) is unchanged: ray
    casting counts the two left edges as inside."""
    assert point_in_polygon(35.0, 35.0, DIAMOND)
    assert point_in_polygon(35.0, 65.0, DIAMOND)
    assert point_in_polygon(20.0, 50.0, DIAMOND)
    assert not point_in_polygon(65.0, 65.0, DIAMOND)
    assert not point_in_polygon(50.0, 20.0, DIAMOND)
