"""Ski-area clustering (SURVEY.md §2.9) — the reference's PostGIS-backed
recursive clustering service re-expressed as checkpointed DataFrame passes.

Reference semantics (src/clustering/SkiAreaClusteringService.ts:337-447):
 1. site ski areas get geometry + activities from their members
 2. OSM polygon ski areas claim contained objects; removed when empty or
    when >50% of member length already belongs to a site relation
 3. OSM ski areas expand transitively (500 m, shared activity) over
    objects not yet in any ski area
 4. Skimap.org ski areas within 250 m of an OSM ski area's objects merge
    into it (property union) and disappear
 5. remaining Skimap.org ski areas expand transitively
 6. still-unassigned runs seed *generated* ski areas; downhill is dropped
    when the cluster has no lift
 7. geocoding — optional enrichment, not part of clustering parity
 8. lift stations associate to the nearest lift within 30 m
 9. ski areas are augmented (statistics, representative geometry);
    OSM ski areas without members are removed
10. ski areas still on a placeholder geometry are removed

The per-seed recursion (visitObject, :705-779) becomes per-activity
connected components over the 500 m spatial graph: every "claim" pass is
one grid-bucketed distance self-join + one ``operators.graph`` call (a
partition-local union-find, one link shuffle, the contracted graph
resolved in one task) instead of one SQL round-trip per object.  A lazy
lineage cut between passes (``operators.barrier.truncate_lineage`` —
reliable ``checkpoint()`` on a cluster when
``SPARK_GRAFT_RELIABLE_CHECKPOINT`` is set) keeps plans bounded.

Documented deviations from the sequential reference (the integration
suite's scenarios still hold): contested transitive claims resolve to the
lexicographically-smallest ski-area id instead of iteration order, and
generated ski-area ids are content hashes of the member set instead of
random UUIDs (deterministic across runs — a distributed-engine
requirement).

At 100 TB scale: all passes shuffle on grid cells / object ids; CC never
iterates, but its contracted graph (cross-partition links, fewer than two
per edge) must fit one task; per-ski-area python work
(geometry collections) runs in Arrow-batched UDFs over member arrays.
"""

from __future__ import annotations

import json
import math
import os

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, DoubleType, StringType

from ..functions import geometry as geo
from ..functions.geometry import (geometry_collection_udf,
                                  representative_point_udf,
                                  geometry_length_km_udf)
from ..operators.barrier import truncate_lineage
from ..operators.graph import connected_components
from .formatters import STATION_ARRAY_DDL
from .statistics import ski_area_statistics

def _cut(df: DataFrame) -> DataFrame:
    return truncate_lineage(df, eager=False)


MAX_DISTANCE_KM = 0.5       # SkiAreaClusteringService.ts:66
MERGE_DISTANCE_KM = 0.25    # :826
STATION_DISTANCE_KM = 0.03  # LiftStationAssociator.ts:12
ALL_ACTIVITIES = ("downhill", "nordic")


def _act_array(*acts: str) -> Column:
    return F.array(*[F.lit(a) for a in acts])


def _is_placeholder(geom: Column) -> Column:
    """Site placeholder Point [360, 360, id] (PlaceholderSiteGeometry.ts).
    Null-safe: non-Point geometries yield false, not null (a null here
    would silently drop rows in ``filter(~...)``)."""
    return F.coalesce(
        (F.get_json_object(geom, "$.coordinates[0]") == "360")
        & (F.get_json_object(geom, "$.coordinates[1]") == "360"),
        F.lit(False))


# ---------------------------------------------------------------------------
# object preparation (SkiAreaClusteringService.ts:188-335)
# ---------------------------------------------------------------------------

def prepare_objects(runs: DataFrame, lifts: DataFrame,
                    spots: DataFrame) -> DataFrame:
    """Unified working table of runs/lifts/spots with clustering flags."""
    backcountry_unpatrolled = (
        (F.size("ski_areas") == 0)
        & (F.col("grooming") == "backcountry")
        & (F.coalesce(F.col("patrolled"), F.lit(False)) != True))  # noqa: E712
    run_acts = F.when(backcountry_unpatrolled, _act_array()).otherwise(
        F.array_distinct(F.filter(F.transform(
            F.col("uses"),
            lambda u: (F.when(u.isin("downhill", "snow_park"), "downhill")
                        .when(u == "nordic", "nordic"))),
            lambda a: a.isNotNull())))
    r = runs.select(
        F.col("id"), F.lit("run").alias("obj_type"), F.col("geometry"),
        run_acts.alias("activities"),
        F.col("ski_areas"),
        (F.size("ski_areas") > 0).alias("is_in_ski_area_site"),
        F.col("difficulty"), F.col("snowmaking"), F.col("snowfarming"),
        F.lit(None).cast("string").alias("lift_type"),
        F.lit(None).cast("string").alias("spot_type"),
        ((F.arrays_overlap(F.col("uses"), _act_array("downhill", "nordic")))
         & (F.size(run_acts) > 0)
         & (F.size("ski_areas") == 0)).alias("is_basis_for_new_ski_area"),
    )
    l = lifts.select(
        F.col("id"), F.lit("lift").alias("obj_type"), F.col("geometry"),
        F.when(F.col("status") == "operating", _act_array("downhill"))
         .otherwise(_act_array()).alias("activities"),
        F.col("ski_areas"),
        (F.size("ski_areas") > 0).alias("is_in_ski_area_site"),
        F.lit(None).cast("string").alias("difficulty"),
        F.lit(None).cast("boolean").alias("snowmaking"),
        F.lit(None).cast("boolean").alias("snowfarming"),
        F.col("lift_type"),
        F.lit(None).cast("string").alias("spot_type"),
        F.lit(False).alias("is_basis_for_new_ski_area"),
    )
    spot_acts = (
        F.when(F.col("spot_type").isin("lift_station", "halfpipe"),
               _act_array("downhill"))
        .when(F.col("spot_type").isin("crossing",
                                      "avalanche_transceiver_training",
                                      "avalanche_transceiver_checkpoint"),
              _act_array("downhill", "nordic"))
        .otherwise(_act_array()))
    s = spots.select(
        F.col("id"), F.lit("spot").alias("obj_type"), F.col("geometry"),
        spot_acts.alias("activities"),
        F.col("ski_areas"),
        (F.size("ski_areas") > 0).alias("is_in_ski_area_site"),
        F.lit(None).cast("string").alias("difficulty"),
        F.lit(None).cast("boolean").alias("snowmaking"),
        F.lit(None).cast("boolean").alias("snowfarming"),
        F.lit(None).cast("string").alias("lift_type"),
        F.col("spot_type"),
        F.lit(False).alias("is_basis_for_new_ski_area"),
    )
    return r.unionByName(l).unionByName(s) \
        .withColumn("is_in_ski_area_polygon", F.lit(False))


# ---------------------------------------------------------------------------
# spatial candidate joins (grid cells → exact predicate)
# ---------------------------------------------------------------------------

def _cover_udf(cell_deg: float, pad_cells: int, radius_km: float = 0.0):
    from pyspark.sql.types import ArrayType, LongType

    n_x = int(math.ceil(360.0 / cell_deg))

    @F.pandas_udf(ArrayType(LongType()))
    def _udf(gj: pd.Series) -> pd.Series:
        out = []
        for s in gj:
            cells = geo.covering_cells(json.loads(s), cell_deg)
            if pad_cells and cells:
                # Longitude degrees shrink by cos(lat): a fixed x-pad sized
                # for the equator under-covers above ~60°N/S and silently
                # drops true pairs.  Size the x-pad from the geometry's own
                # max |lat| (cell edge, + the y-pad the neighbor search can
                # move), clamped near the poles where the grid degenerates.
                max_abs_cy = max(abs(cy) for _, cy in cells)
                lat = min((max_abs_cy + 1 + pad_cells) * cell_deg, 89.0)
                lon_km_per_cell = (geo.KM_PER_DEG_LAT
                                   * math.cos(math.radians(lat)) * cell_deg)
                pad_x = max(pad_cells,
                            int(math.ceil(radius_km / lon_km_per_cell)))
                pad_x = min(pad_x, n_x // 2)  # full wrap cap
            else:
                pad_x = 0
            padded = set()
            for cx, cy in cells:
                for dx in range(-pad_x, pad_x + 1):
                    for dy in range(-pad_cells, pad_cells + 1):
                        padded.add(((cx + dx) % n_x) * 10_000_000 + (cy + dy))
            out.append(sorted(padded))
        return pd.Series(out)
    return _udf


# Skew guard for the cell equi-join: a mega-resort (tens of thousands of
# objects sharing one ~0.45 km grid cell) makes that cell's candidate set
# quadratic, and an unsalted equi-join emits ALL of it from a single join
# task (measured A/B, local[32]: the serial task becomes the bottleneck
# past ~16k objects/cell — 24k: 377 s unsalted vs 324 s salted and the
# gap widens quadratically; on a real cluster the same task also writes
# the entire pair stream to one node's shuffle disk).  Cells where either
# side exceeds HOT_CELL_ROWS are 2-D salted: each side splits into
# HOT_CELL_SALTS hash buckets and is replicated across the other side's
# buckets, so the hot cell's work spreads over SALTS² tasks at a
# SALTS× replication cost paid ONLY inside hot cells.  Hot cells are
# detected from a fixed-seed 5% row sample so the (Python) covering-cells
# UDF does not pay a full second pass; results are identical either way
# (the dedup + exact predicate sit downstream of the join).
#
# Threshold sits at the MEASURED local[32] crossover (16k objects/cell:
# salting break-even; 8k: salting ~34% slower; 24k: salting 14% faster and
# the gap grows quadratically).  Below the crossover the SALTS× replication
# tax outweighs the serial-task win on a single node; the
# shuffle-disk-funneling argument for salting earlier on a real cluster is
# plausible but unmeasured, so it does not move the default — tune via
# OPENSKIDATA_HOT_CELL_ROWS per deployment instead.
HOT_CELL_ROWS = int(os.environ.get("OPENSKIDATA_HOT_CELL_ROWS", "16000"))
HOT_CELL_SALTS = 8
HOT_SAMPLE = 0.05


def _pairs(left: DataFrame, right: DataFrame, radius_km: float,
           predicate) -> DataFrame:
    """Candidate (lid, lgeom) × (rid, rgeom) pairs via cell equi-join +
    exact geometry predicate.  ``left``/``right`` must have columns
    (lid, lgeom) / (rid, rgeom)."""
    cell = max(radius_km / geo.KM_PER_DEG_LAT, 0.002)
    pad = int(math.ceil(radius_km / (geo.KM_PER_DEG_LAT * cell)))
    lx = left.withColumn(
        "__cell", F.explode(_cover_udf(cell, pad, radius_km)("lgeom")))
    rx = right.withColumn("__cell", F.explode(_cover_udf(cell, 0)("rgeom")))

    sampled_threshold = HOT_CELL_ROWS * HOT_SAMPLE
    hot = (left.sample(HOT_SAMPLE, seed=7)
           .withColumn("__cell",
                       F.explode(_cover_udf(cell, pad, radius_km)("lgeom")))
           .groupBy("__cell").count()
           .filter(F.col("count") > sampled_threshold).select("__cell")
           .unionByName(
               right.sample(HOT_SAMPLE, seed=7)
               .withColumn("__cell", F.explode(_cover_udf(cell, 0)("rgeom")))
               .groupBy("__cell").count()
               .filter(F.col("count") > sampled_threshold).select("__cell"))
           .distinct().withColumn("__hot", F.lit(True)))
    n_s = F.lit(HOT_CELL_SALTS)
    salts = F.sequence(F.lit(0), n_s - 1)
    one = F.array(F.lit(0))
    lx = (lx.join(F.broadcast(hot), "__cell", "left")
          .withColumn("__sl", F.when(F.col("__hot").isNotNull(),
                                     F.pmod(F.xxhash64("lid"), n_s))
                      .otherwise(F.lit(0)))
          .withColumn("__sr", F.explode(
              F.when(F.col("__hot").isNotNull(), salts).otherwise(one)))
          .drop("__hot"))
    rx = (rx.join(F.broadcast(hot), "__cell", "left")
          .withColumn("__sr", F.when(F.col("__hot").isNotNull(),
                                     F.pmod(F.xxhash64("rid"), n_s))
                      .otherwise(F.lit(0)))
          .withColumn("__sl", F.explode(
              F.when(F.col("__hot").isNotNull(), salts).otherwise(one)))
          .drop("__hot"))
    cand = (lx.join(rx, ["__cell", "__sl", "__sr"])
            .drop("__cell", "__sl", "__sr")
            .dropDuplicates(["lid", "rid"]))

    @F.pandas_udf(BooleanType())
    def pred(g1: pd.Series, g2: pd.Series) -> pd.Series:
        return pd.Series([predicate(json.loads(a), json.loads(b))
                          for a, b in zip(g1, g2)])

    return cand.filter(pred(F.col("lgeom"), F.col("rgeom")))


def dwithin_pairs(left: DataFrame, right: DataFrame,
                  radius_km: float) -> DataFrame:
    return _pairs(left, right, radius_km,
                  lambda a, b: geo.dwithin(a, b, radius_km))


def covered_by_pairs(objects: DataFrame, polygons: DataFrame) -> DataFrame:
    """(lid = object) covered by (rid = polygon)."""
    return _pairs(objects, polygons, 0.01,
                  lambda a, b: geo.covered_by(a, b))


def _slim(df: DataFrame, prefix: str) -> DataFrame:
    return df.select(F.col("id").alias(f"{prefix}id"),
                     F.col("geometry").alias(f"{prefix}geom"),
                     F.col("activities").alias(f"{prefix}acts"))


def _activity_compatible(lacts: str, racts: str) -> Column:
    """Shared activity, treating an empty ski-area activity set as
    wildcard (activitiesForClustering, :617-620)."""
    return (F.arrays_overlap(F.col(lacts), F.col(racts))
            | (F.size(F.col(lacts)) == 0) | (F.size(F.col(racts)) == 0))


# ---------------------------------------------------------------------------
# membership bookkeeping
# ---------------------------------------------------------------------------

def _assign(objs: DataFrame, assignments: DataFrame,
            mark_polygon: bool = False) -> DataFrame:
    """Add (object_id → ski_area_id) assignments to objs.ski_areas."""
    adds = (assignments.groupBy("object_id")
            .agg(F.array_sort(F.collect_set("ski_area_id")).alias("__new")))
    out = (objs.join(adds, objs["id"] == adds["object_id"], "left")
           .withColumn("ski_areas",
                       F.when(F.col("__new").isNotNull(),
                              F.array_sort(F.array_union("ski_areas", "__new")))
                        .otherwise(F.col("ski_areas"))))
    if mark_polygon:
        out = out.withColumn(
            "is_in_ski_area_polygon",
            F.col("is_in_ski_area_polygon") | F.col("__new").isNotNull())
    return out.drop("__new", "object_id")


def _derive_activities(sas: DataFrame, objs: DataFrame) -> DataFrame:
    """Ski areas with no activities inherit the union of member activities
    ∩ {downhill, nordic} (getActivitiesBasedOnRunsAndLifts)."""
    member_acts = (
        objs.select(F.explode("ski_areas").alias("said"),
                    F.explode_outer("activities").alias("act"))
        .filter(F.col("act").isin(*ALL_ACTIVITIES))
        .groupBy("said")
        .agg(F.array_sort(F.collect_set("act")).alias("__macts")))
    return (sas.join(member_acts, sas["id"] == member_acts["said"], "left")
            .withColumn("activities",
                        F.when((F.size("activities") == 0)
                               & F.col("__macts").isNotNull(),
                               F.col("__macts"))
                         .otherwise(F.col("activities")))
            .drop("said", "__macts"))


def _member_geometry(sas: DataFrame, objs: DataFrame,
                     only_placeholder: bool = True) -> DataFrame:
    """Replace (placeholder) ski-area geometry with the member collection."""
    geoms = (objs.select(F.explode("ski_areas").alias("said"), "geometry")
             .groupBy("said")
             .agg(geometry_collection_udf(
                 F.array_sort(F.collect_list("geometry"))).alias("__mgeom")))
    cond = F.col("__mgeom").isNotNull()
    if only_placeholder:
        cond = cond & _is_placeholder(F.col("geometry"))
    return (sas.join(geoms, sas["id"] == geoms["said"], "left")
            .withColumn("geometry", F.when(cond, F.col("__mgeom"))
                                     .otherwise(F.col("geometry")))
            .withColumn("is_polygon",
                        F.when(cond, F.lit(False)).otherwise(F.col("is_polygon")))
            .drop("said", "__mgeom"))


# ---------------------------------------------------------------------------
# transitive expansion (passes 3/5/6) as per-activity connected components
# ---------------------------------------------------------------------------

def _transitive_claim(sas: DataFrame, objs: DataFrame, source: str) -> DataFrame:
    """Objects in no ski area join the nearest-by-500m-chain ski area of
    ``source`` sharing an activity; returns (object_id, ski_area_id)."""
    seeds_base = sas.filter(F.col("source") == source) \
                    .filter(~_is_placeholder(F.col("geometry")))
    unassigned = objs.filter(F.size("ski_areas") == 0) \
                     .filter(F.size("activities") > 0)
    # Derived seed geometry: own geometry ∪ current members (visitObject
    # searches from the member union, :738-743).
    member_geoms = (objs.select(F.explode("ski_areas").alias("said"), "geometry")
                    .groupBy("said")
                    .agg(F.collect_list("geometry").alias("__mg")))
    seeds = (seeds_base.join(member_geoms,
                             seeds_base["id"] == member_geoms["said"], "left")
             .withColumn("geometry", F.when(
                 F.col("__mg").isNotNull(),
                 geometry_collection_udf(F.array_sort(F.array_union(
                     F.array("geometry"), "__mg"))))
                 .otherwise(F.col("geometry")))
             .drop("said", "__mg"))

    # One CC over the union of the per-activity graphs: vertices are
    # "activity|id" so downhill and nordic chains never mix (the
    # activity-narrowing of visitObject's traversal), yet a single CC call
    # covers both.
    def act_nodes(act):
        act_seeds = seeds.filter(
            F.array_contains("activities", act) | (F.size("activities") == 0))
        act_objs = unassigned.filter(F.array_contains("activities", act))
        return (_slim(act_seeds, "l").select("lid", "lgeom")
                .unionByName(_slim(act_objs, "l").select("lid", "lgeom"))
                .withColumn("__act", F.lit(act)))

    nodes = act_nodes(ALL_ACTIVITIES[0])
    for act in ALL_ACTIVITIES[1:]:
        nodes = nodes.unionByName(act_nodes(act))
    # distance pairs computed once on distinct geometries, then re-keyed
    # per activity (both endpoints must carry the same activity).
    geoms = nodes.select("lid", "lgeom").distinct()
    right = geoms.select(F.col("lid").alias("rid"),
                         F.col("lgeom").alias("rgeom"))
    prs = dwithin_pairs(geoms, right, MAX_DISTANCE_KM) \
        .select(F.col("lid").alias("a"), F.col("rid").alias("b"))
    tagged_a = nodes.select(F.col("lid").alias("a"), F.col("__act").alias("act_a"))
    tagged_b = nodes.select(F.col("lid").alias("b"), F.col("__act").alias("act_b"))
    edges = (prs.join(tagged_a, "a").join(tagged_b, "b")
             .filter(F.col("act_a") == F.col("act_b"))
             .select(F.concat_ws("|", "act_a", "a").alias("src"),
                     F.concat_ws("|", "act_b", "b").alias("dst")))
    comps = connected_components(edges)
    comps = comps.select(
        F.split_part(F.col("vertex"), F.lit("|"), F.lit(2)).alias("vid"),
        "component")

    seed_ids = seeds.select(F.col("id").alias("vid"),
                            F.lit(True).alias("is_seed"))
    labeled = comps.join(seed_ids, "vid", "left")
    # component → claiming seed (min seed id, deterministic)
    claims = (labeled.filter(F.col("is_seed"))
              .groupBy("component")
              .agg(F.min("vid").alias("ski_area_id")))
    obj_ids = unassigned.select(F.col("id").alias("vid"))
    return (labeled.join(obj_ids, "vid")
            .join(claims, "component")
            .select(F.col("vid").alias("object_id"), "ski_area_id")
            .distinct())


# ---------------------------------------------------------------------------
# the clustering driver
# ---------------------------------------------------------------------------

def cluster_ski_areas(ski_areas: DataFrame, runs: DataFrame,
                      lifts: DataFrame, spots: DataFrame) -> dict[str, DataFrame]:
    """Run passes 1–10; returns the augmented layers.

    Inputs are the formatted (and for runs, normalized + site-joined)
    layers.  ``ski_areas.ski_areas``-style membership lives on the objects
    (ids of their ski areas), exactly like the reference's working table.
    """
    objs = prepare_objects(runs, lifts, spots).transform(_cut)
    sas = (ski_areas.select(
        "id", "name", "sources", "activities", "status", "websites",
        "wikidata_id", "run_convention", "geometry",
        F.get_json_object("geometry", "$.type").isin("Polygon", "MultiPolygon")
            .alias("is_polygon"),
        # null-safe first-source probe (ANSI: [0] on empty would throw)
        F.get(F.col("sources"), 0)["type"].alias("source"))
        .transform(_cut))

    # Pass 1 — site ski areas: geometry + activities from members.
    sas = _derive_activities(sas, objs)
    sas = _member_geometry(sas, objs, only_placeholder=True)
    sas = sas.transform(_cut)

    # Pass 2 — OSM polygon ski areas claim contained objects.
    polys = sas.filter(F.col("is_polygon") & (F.col("source") == "openstreetmap"))
    contained = covered_by_pairs(
        _slim(objs, "l"), _slim(polys, "r")) \
        .filter(_activity_compatible("lacts", "racts")) \
        .select(F.col("lid").alias("object_id"),
                F.col("rid").alias("ski_area_id"))
    contained = contained.transform(_cut)

    # removal rules: no members, or >50% of member length in a site.
    member_lengths = (
        contained.join(objs.select(F.col("id").alias("object_id"),
                                   "obj_type", "is_in_ski_area_site",
                                   geometry_length_km_udf("geometry")
                                   .alias("__len")),
                       "object_id")
        .filter(F.col("obj_type").isin("run", "lift"))
        .groupBy("ski_area_id")
        .agg(F.sum("__len").alias("total_len"),
             F.sum(F.when(F.col("is_in_ski_area_site"), F.col("__len"))
                   .otherwise(0.0)).alias("site_len"),
             F.count("*").alias("n_members")))
    removed_polys = member_lengths.filter(
        (F.col("total_len") > 0)
        & (F.col("site_len") / F.col("total_len") > 0.5)) \
        .select(F.col("ski_area_id").alias("id"))
    empty_polys = polys.join(
        member_lengths.select("ski_area_id"),
        polys["id"] == F.col("ski_area_id"), "left_anti").select("id")
    dropped = removed_polys.unionByName(empty_polys).transform(_cut)

    sas = sas.join(dropped, "id", "left_anti").transform(_cut)
    contained_kept = contained.join(
        dropped, contained["ski_area_id"] == dropped["id"], "left_anti")
    objs = _assign(objs, contained_kept, mark_polygon=True)
    sas = _derive_activities(sas, objs).transform(_cut)
    objs = objs.transform(_cut)

    # Pass 3 — transitive expansion of OSM ski areas.
    claims = _transitive_claim(sas, objs, "openstreetmap")
    objs = _assign(objs, claims).transform(_cut)
    sas = _derive_activities(sas, objs).transform(_cut)

    # Pass 4 — merge Skimap.org areas into nearby OSM areas (250 m to any
    # object of the OSM area, activity compatible).
    skimap = sas.filter(F.col("source") == "skimap.org")
    near = dwithin_pairs(_slim(skimap, "l"), _slim(objs, "r"),
                         MERGE_DISTANCE_KM) \
        .filter(_activity_compatible("lacts", "racts"))
    targets = (near.join(objs.select(F.col("id").alias("rid"),
                                     F.explode("ski_areas").alias("target_id")),
                         "rid")
               .select(F.col("lid").alias("skimap_id"), "target_id")
               .distinct())
    # target must have a different source
    t_sa = sas.select(F.col("id").alias("target_id"),
                      F.col("source").alias("target_source"))
    merges = (targets.join(t_sa, "target_id")
              .filter(F.col("target_source") != "skimap.org")
              .drop("target_source")
              .transform(_cut))

    merged_props = (
        merges.join(skimap.select(F.col("id").alias("skimap_id"),
                                  F.col("name").alias("sm_name"),
                                  F.col("sources").alias("sm_sources"),
                                  F.col("activities").alias("sm_acts"),
                                  F.col("websites").alias("sm_sites")),
                    "skimap_id")
        .groupBy("target_id")
        .agg(F.min("sm_name").alias("__sm_name"),
             F.array_sort(F.array_distinct(F.flatten(
                 F.collect_list("sm_sources")))).alias("__sm_sources"),
             F.array_sort(F.array_distinct(F.flatten(
                 F.collect_list("sm_acts")))).alias("__sm_acts"),
             F.array_sort(F.array_distinct(F.flatten(
                 F.collect_list("sm_sites")))).alias("__sm_sites")))
    sas = (sas.join(merged_props, sas["id"] == merged_props["target_id"], "left")
           # A4 merge (MergeSkiAreaObjects.ts:8-100): keep target name,
           # union sources/activities/websites.
           .withColumn("name", F.coalesce("name", "__sm_name"))
           .withColumn("sources", F.when(
               F.col("__sm_sources").isNotNull(),
               F.array_sort(F.array_union("sources", "__sm_sources")))
               .otherwise(F.col("sources")))
           .withColumn("activities", F.when(
               F.col("__sm_acts").isNotNull(),
               F.array_sort(F.array_union("activities", "__sm_acts")))
               .otherwise(F.col("activities")))
           # website preference (MergeSkiAreaObjects.ts:84-100): when the
           # OSM-sourced target has its own websites, keep ONLY those —
           # Skimap.org URLs are usually near-duplicates that can't be
           # string-deduped; union only when the target has none.
           .withColumn("websites", F.when(
               F.col("__sm_sites").isNotNull() & (F.size("websites") == 0),
               F.array_sort(F.array_union("websites", "__sm_sites")))
               .otherwise(F.col("websites")))
           .drop("target_id", "__sm_name", "__sm_sources", "__sm_acts",
                 "__sm_sites"))
    sas = sas.join(merges.select(F.col("skimap_id").alias("id")).distinct(),
                   "id", "left_anti").transform(_cut)

    # Pass 5 — transitive expansion of remaining Skimap.org ski areas.
    claims = _transitive_claim(sas, objs, "skimap.org")
    objs = _assign(objs, claims).transform(_cut)
    sas = _derive_activities(sas, objs).transform(_cut)

    # Pass 6 — generate ski areas from still-unassigned runs.
    gen_sas, gen_assign = _generate_ski_areas(objs)
    if gen_sas is not None:
        sas = sas.unionByName(gen_sas).transform(_cut)
        objs = _assign(objs, gen_assign).transform(_cut)

    # Pass 8 — lift stations ↔ lifts (J5/W1 argmin within 30 m).
    objs, station_assoc = _associate_stations(objs)

    # Pass 9/10 — augment + cleanup.
    member_counts = (objs.select(F.explode("ski_areas").alias("said"))
                     .groupBy("said").agg(F.count("*").alias("n_members")))
    sas = (sas.join(member_counts, sas["id"] == F.col("said"), "left")
           .withColumn("n_members", F.coalesce("n_members", F.lit(0)))
           .drop("said"))
    # OSM ski areas without members removed (:1192-1197); placeholder
    # geometries removed (:1244-1271).
    sas = sas.filter(~((F.col("source") == "openstreetmap")
                       & (F.col("n_members") == 0)))
    sas = sas.filter(~_is_placeholder(F.col("geometry")))

    # representative point for non-polygon ski areas (A5)
    member_geoms = (objs.select(F.explode("ski_areas").alias("said"), "geometry")
                    .groupBy("said")
                    .agg(F.array_sort(F.collect_list("geometry")).alias("__mg")))
    sas = (sas.join(member_geoms, sas["id"] == F.col("said"), "left")
           .withColumn("geometry", F.when(
               (~F.col("is_polygon")) & F.col("__mg").isNotNull(),
               representative_point_udf(F.col("__mg")))
               .otherwise(F.col("geometry")))
           .drop("said", "__mg"))

    stats = ski_area_statistics(
        objs.filter(F.col("obj_type") == "run"),
        objs.filter(F.col("obj_type") == "lift")
            .withColumn("status", F.lit("operating")).withColumn(
                "lift_type", F.col("lift_type")))
    sas = (sas.join(stats, sas["id"] == stats["ski_area_id"], "left")
           .drop("ski_area_id").transform(_cut))

    # write memberships back to the layers
    def apply_membership(layer: DataFrame) -> DataFrame:
        m = objs.select(F.col("id").alias("__oid"), F.col("ski_areas")
                        .alias("__sa"))
        return (layer.drop("ski_areas")
                .join(m, layer["id"] == F.col("__oid"), "left")
                .withColumn("ski_areas",
                            F.coalesce("__sa", F.array().cast("array<string>")))
                .drop("__oid", "__sa"))

    # Station write-back (J5/W3): spots get snapped geometry + liftId +
    # inferred position, orphans drop; lifts get the stations[] array of
    # station features (FeatureExporter.ts:95-114).
    spots_out = (apply_membership(spots).join(
        station_assoc.select(
            "station_id",
            F.col("lift_id").alias("__alift"),
            F.col("snapped_geometry").alias("__snapg"),
            F.col("inferred_position").alias("__ipos")),
        F.col("id") == F.col("station_id"), "left")
        .filter((F.col("spot_type") != "lift_station")
                | F.col("station_id").isNotNull())
        .withColumn("geometry", F.coalesce("__snapg", "geometry"))
        .withColumn("lift_id", F.coalesce("__alift", "lift_id"))
        .withColumn("position", F.coalesce("position", "__ipos"))
        .drop("station_id", "__alift", "__snapg", "__ipos"))

    station_structs = (
        spots_out.filter((F.col("spot_type") == "lift_station")
                         & F.col("lift_id").isNotNull())
        .select(F.col("lift_id").alias("__lid"),
                F.struct("id", "name", "position", "entry", "exit",
                         "geometry").alias("__st")))
    lifts_out = (apply_membership(lifts)
                 .join(station_structs.groupBy("__lid")
                       .agg(F.array_sort(F.collect_list("__st"))
                            .alias("__sts")),
                       F.col("id") == F.col("__lid"), "left")
                 .withColumn("stations",
                             F.coalesce("__sts",
                                        F.array().cast(STATION_ARRAY_DDL)))
                 .drop("__lid", "__sts"))

    return {
        "ski_areas": sas,
        "runs": apply_membership(runs),
        "lifts": lifts_out,
        "spots": spots_out,
        "objects": objs,
    }


def _generate_ski_areas(objs: DataFrame):
    """Pass 6: CC over unassigned activity-sharing objects within 500 m;
    components seeded by a basis run become generated ski areas
    (:903-1032).  Downhill drops when the cluster has no lift."""
    unassigned = objs.filter(F.size("ski_areas") == 0) \
                     .filter(F.size("activities") > 0)
    nodes = _slim(unassigned, "l").select("lid", "lgeom", "lacts")
    right = nodes.select(F.col("lid").alias("rid"),
                         F.col("lgeom").alias("rgeom"),
                         F.col("lacts").alias("racts"))
    prs = (dwithin_pairs(nodes.select("lid", "lgeom"),
                         right.select("rid", "rgeom"), MAX_DISTANCE_KM)
           .join(nodes.select("lid", "lacts"), "lid")
           .join(right.select("rid", "racts"), "rid")
           .filter(F.arrays_overlap("lacts", "racts"))
           .select(F.col("lid").alias("src"), F.col("rid").alias("dst")))
    comps = connected_components(prs)
    members = (unassigned.join(comps, unassigned["id"] == comps["vertex"])
               .drop("vertex").transform(_cut))

    per_comp = members.groupBy("component").agg(
        F.max(F.when(F.col("is_basis_for_new_ski_area"), 1).otherwise(0))
            .alias("has_basis"),
        F.max(F.when(F.col("obj_type") == "lift", 1).otherwise(0))
            .alias("has_lift"),
        F.array_sort(F.array_distinct(F.flatten(F.collect_list(
            F.when(F.col("is_basis_for_new_ski_area"), F.col("activities"))
             .otherwise(_act_array()))))).alias("basis_acts"),
        F.array_sort(F.collect_set("id")).alias("member_ids"),
    ).filter(F.col("has_basis") == 1)

    # downhill requires a lift (:961-976)
    acts = F.when(F.col("has_lift") == 0,
                  F.array_remove("basis_acts", "downhill")) \
            .otherwise(F.col("basis_acts"))
    per_comp = (per_comp.withColumn("activities", acts)
                .filter(F.size("activities") > 0)
                .withColumn("id", F.concat(
                    F.lit("gen_"),
                    F.substring(F.sha2(F.concat_ws("|", F.col("member_ids")
                                                   .cast("string")), 256),
                                1, 28))))
    if per_comp.isEmpty():
        return None, None

    # members keep only objects sharing a surviving activity
    assigns = (members.join(
        per_comp.select("component", F.col("id").alias("__sa_id"),
                        F.col("activities").alias("__sa_acts")),
        "component")
        .filter(F.arrays_overlap("activities", "__sa_acts"))
        .select(F.col("id").alias("object_id"),
                F.col("__sa_id").alias("ski_area_id")))

    member_geoms = (assigns.join(
        objs.select(F.col("id").alias("object_id"), "geometry"), "object_id")
        .groupBy("ski_area_id")
        .agg(geometry_collection_udf(F.array_sort(F.collect_list("geometry")))
             .alias("geometry")))
    gen = (per_comp.select("id", "activities")
           .join(member_geoms.withColumnRenamed("ski_area_id", "__gid"),
                 F.col("id") == F.col("__gid"))
           .drop("__gid"))
    empty_sources = F.array().cast(
        "array<struct<type:string,id:string>>")
    gen_sas = gen.select(
        "id",
        F.lit(None).cast("string").alias("name"),
        empty_sources.alias("sources"),
        "activities",
        F.lit("operating").alias("status"),
        F.array().cast("array<string>").alias("websites"),
        F.lit(None).cast("string").alias("wikidata_id"),
        F.lit("europe").alias("run_convention"),
        "geometry",
        F.lit(False).alias("is_polygon"),
        F.lit("openstreetmap").alias("source"),
    )
    return gen_sas, assigns


def _associate_stations(objs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Pass 8 (LiftStationAssociator.ts:97-153): each lift_station spot
    associates to the argmin-distance lift within 30 m (ties broken by a
    shared ski area, then lift id).

    Returns ``(objs, assoc)``:
    - ``objs`` with stations snapped to the lift line, an
      ``associated_lift_id`` column, and orphaned stations (no lift within
      30 m) removed (ref :88-94).
    - ``assoc`` = (station_id, lift_id, snapped_geometry,
      inferred_position) for the layer write-back — position inferred from
      the station's PRE-snap elevation vs the lift's elevation range
      (ref :37-54, :186-214).
    """
    stations = objs.filter(F.col("spot_type") == "lift_station")
    lifts = objs.filter(F.col("obj_type") == "lift")
    cands = dwithin_pairs(
        stations.select(F.col("id").alias("lid"),
                        F.col("geometry").alias("lgeom"),
                        F.col("ski_areas").alias("lsa")),
        lifts.select(F.col("id").alias("rid"),
                     F.col("geometry").alias("rgeom"),
                     F.col("ski_areas").alias("rsa")),
        STATION_DISTANCE_KM)

    @F.pandas_udf(DoubleType())
    def dist(g1: pd.Series, g2: pd.Series) -> pd.Series:
        return pd.Series([geo.min_distance_km(json.loads(a), json.loads(b))
                          for a, b in zip(g1, g2)])

    @F.pandas_udf(StringType())
    def snap(sg: pd.Series, lg: pd.Series) -> pd.Series:
        out = []
        for a, b in zip(sg, lg):
            pt = json.loads(a)["coordinates"]
            snapped = geo.snap_point_to_line(pt, json.loads(b))
            out.append(json.dumps({"coordinates": snapped, "type": "Point"},
                                  separators=(",", ":"), sort_keys=True))
        return pd.Series(out)

    @F.pandas_udf(StringType())
    def infer_pos(sg: pd.Series, lg: pd.Series) -> pd.Series:
        out = []
        for a, b in zip(sg, lg):
            c = json.loads(a)["coordinates"]
            elev = c[2] if len(c) >= 3 else None
            out.append(geo.infer_station_position(elev, json.loads(b)))
        return pd.Series(out)

    ranked = (cands.withColumn("distance_km", dist("lgeom", "rgeom"))
              .withColumn("shares_ski_area",
                          F.arrays_overlap("lsa", "rsa").cast("int"))
              .withColumn("__rn", F.row_number().over(
                  Window.partitionBy("lid")
                  .orderBy(F.col("distance_km").asc(),
                           F.col("shares_ski_area").desc(),
                           F.col("rid").asc())))
              .filter(F.col("__rn") == 1))
    assoc = (ranked.select(
        F.col("lid").alias("station_id"),
        F.col("rid").alias("lift_id"),
        snap("lgeom", "rgeom").alias("snapped_geometry"),
        infer_pos("lgeom", "rgeom").alias("inferred_position"))
        .transform(_cut))

    out = (objs.join(assoc, objs["id"] == assoc["station_id"], "left")
           # orphaned stations removed (ref :88-94)
           .filter((F.col("spot_type").isNull())
                   | (F.col("spot_type") != "lift_station")
                   | F.col("station_id").isNotNull())
           .withColumn("geometry",
                       F.coalesce("snapped_geometry", "geometry"))
           .withColumn("associated_lift_id", F.col("lift_id"))
           .drop("station_id", "lift_id", "snapped_geometry",
                 "inferred_position")
           .transform(_cut))
    return out, assoc
