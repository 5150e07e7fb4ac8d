"""Each pandas UDF of ``prepare()`` runs once per input row.

A frame read by several branches re-runs its Python UDFs once per branch
unless it is materialized where it fans out.  These tests count what the
formatter UDFs actually see during a whole ``prepare()``, and check that
the spot formatter crosses into Python in one pass.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import functions as F

from openskidata_processor_spark.pipeline import formatters as fmt
from openskidata_processor_spark.pipeline.prepare import prepare
from openskidata_processor_spark.sources.synthetic import resort_grid


def _counting(spark, udf):
    """``udf`` plus an accumulator of how often it saw each input value."""
    class CounterParam(AccumulatorParam):
        def zero(self, value):
            return Counter()

        def addInPlace(self, a, b):
            a.update(b)
            return a

    seen = spark.sparkContext.accumulator(Counter(), CounterParam())
    fn = udf.func

    @F.pandas_udf(udf.returnType)
    def counted(s: pd.Series) -> pd.Series:
        seen.add(Counter(s))
        return fn(s)

    return counted, seen


def test_prepare_runs_each_formatter_udf_once_per_row(spark, monkeypatch):
    seen = {}
    for name in ("valid_geometry_parts_udf", "geometry_valid_udf",
                 "centroid_udf"):
        udf, seen[name] = _counting(spark, getattr(fmt, name))
        monkeypatch.setattr(fmt, name, udf)

    grid = resort_grid(spark, 3)
    out = prepare(spark, **grid)
    assert out["runs"].count() > 0

    def geometries(*names):
        return Counter(r.geometry for n in names
                       for r in grid[n].select("geometry").collect())

    expected = {
        "valid_geometry_parts_udf": geometries("runs_raw"),
        "geometry_valid_udf": geometries("lifts_raw", "ski_areas_raw"),
        "centroid_udf": geometries("spots_raw"),
    }
    for name, want in expected.items():
        assert want and set(want.values()) == {1}
        assert seen[name].value == want, name


def test_format_spots_runs_one_python_node(spark):
    """The five subtype extractors share one centroid pass; a feature
    matching two subtypes still becomes two spots."""
    raw = spark.createDataFrame(
        [("node", 1, {"aerialway": "station", "piste:dismount": "yes"},
          '{"type":"Point","coordinates":[11.1,47.5]}'),
         ("way", 2, {"man_made": "piste:halfpipe"},
          '{"type":"LineString","coordinates":[[11.1,47.5],[11.2,47.6]]}')],
        "osm_type string, osm_id long, tags map<string,string>, "
        "geometry string")
    spots = fmt.format_spots(raw)
    plan = spots._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert sorted(r.spot_type for r in spots.collect()) == [
        "crossing", "halfpipe", "lift_station"]
