"""Run-topology normalization (SURVEY.md §2.10) — the reference's
accumulate-everything ``RunNormalizerAccumulator`` re-expressed as a
distributed plan.

Reference semantics (not implementation):
- shared-arc discovery via coordinate quantization
  (src/transforms/accumulator/RunNormalizerAccumulator.ts:36-47)
- per-arc property merge + oneway/direction reconciliation
  (src/transforms/normalization/MergeOverlappingRuns.ts:25-157,
   src/transforms/normalization/RunJoining.ts:46-208)
- degenerate-segment drop + chain merge of consecutive equal-property
  LineStrings at shared endpoints
  (src/transforms/normalization/CombineRunSegments.ts:14-46,
   src/transforms/normalization/PointGraph.ts:13-134)
- id re-hash after geometry change
  (src/transforms/accumulator/RunNormalizerAccumulator.ts:48-51)

Spark plan (one DAG, no driver-side accumulation):

1. explode LineString runs into quantized *segments* (consecutive
   coordinate pairs; key = sorted endpoint keys at 1e-7 degrees);
2. ``groupBy(segment)`` with the A1 merge aggregation — overlapping runs
   collapse to one segment with merged properties; opposing oneway
   directions reconcile to ``oneway=false``;
3. connected components over segments sharing an endpoint *within the same
   property fingerprint* (the ``isPartOfSameRun`` equality, ignoring
   id/sources/skiAreas), endpoints restricted to degree 2 and
   direction-compatible for oneway runs;
4. per-component coordinate stitching in ``applyInPandas`` (components are
   single run chains — tiny groups), union of per-segment sources;
5. content-hash id recomputation.

At 100 TB the segment explode/groupBy shuffles on spatially-local keys;
the CC iterates only over chain-adjacency edges (linear in segment count);
no stage materializes more than one segment row per quantized arc.

Determinism deviations from the single-threaded reference (documented):
merged array fields and sanitize-unique-joined strings are sorted rather
than first-seen-ordered, and "first non-null" reducers use ``min`` — a
distributed engine has no stable stream order to preserve.
"""

from __future__ import annotations

import json

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import feature_id
from ..operators.barrier import truncate_lineage
from ..operators.graph import connected_components
from ..operators.priority import priority_merge_agg, tristate_or_agg

QUANT = 7  # endpoint quantization decimals (PointMultiMap.ts:19)

DIFFICULTY_PRIORITY = ["novice", "easy", "intermediate", "advanced",
                       "expert", "freeride", "extreme"]
GROOMING_PRIORITY = ["classic+skating", "skating", "classic", "mogul",
                     "scooter", "backcountry"]
STATUS_PRIORITY = ["operating", "construction", "planned", "proposed",
                   "disused", "abandoned"]

# Properties participating in the isPartOfSameRun equality
# (RunJoining.ts:14-44 — everything except id/sources/skiAreas/
# elevationProfile/places/viewportHint; geometry is never compared).
FINGERPRINT_COLS = ["uses", "name", "ref", "description", "difficulty",
                    "difficulty_convention", "oneway", "gladed", "patrolled",
                    "snowmaking", "snowfarming", "tunnel", "lit", "grooming",
                    "status", "websites", "wikidata_id"]


def _sanitize_unique_join(col_name: str):
    """sanitizeUniqueAndJoin (RunJoining.ts:140-153): trim, drop empties,
    dedupe, join ", " (sorted for distributed determinism)."""
    vals = F.array_sort(F.array_distinct(F.filter(
        F.transform(F.collect_list(col_name), lambda v: F.trim(v)),
        lambda v: v != "")))
    return F.when(F.size(vals) > 0, F.concat_ws(", ", vals))


def explode_segments(lines: DataFrame) -> DataFrame:
    """LineString runs → one row per consecutive coordinate pair, in
    canonical (sorted-endpoint-key) orientation.

    Output adds: seg_key, a_key, b_key (quantized), coords (the 2-point
    segment, canonically oriented), is_reversed (true when the run
    traverses the segment b→a).
    """
    coords = F.from_json(
        F.get_json_object("geometry", "$.coordinates"),
        "array<array<double>>")
    seg = (
        lines.withColumn("__coords", coords)
        .withColumn("__i", F.explode(F.sequence(
            F.lit(0), F.greatest(F.size("__coords") - 2, F.lit(0)))))
        .filter(F.size("__coords") >= 2)
        .withColumn("__a", F.col("__coords")[F.col("__i")])
        .withColumn("__b", F.col("__coords")[F.col("__i") + 1])
        .drop("__coords")
    )

    def key(pt):
        return F.concat_ws(",", F.round(pt[0], QUANT), F.round(pt[1], QUANT))

    a_key, b_key = key(F.col("__a")), key(F.col("__b"))
    rev = a_key > b_key  # canonical orientation: min key first
    return (
        seg.withColumn("is_reversed", rev)
        .withColumn("a_key", F.when(rev, b_key).otherwise(a_key))
        .withColumn("b_key", F.when(rev, a_key).otherwise(b_key))
        .withColumn("coords", F.when(rev, F.array("__b", "__a"))
                               .otherwise(F.array("__a", "__b")))
        .withColumn("seg_key", F.concat_ws("|", "a_key", "b_key"))
        .drop("__a", "__b", "__i")
        # degenerate (quantization-collapsed) segments
        # (CombineRunSegments.ts:14-16)
        .filter(F.col("a_key") != F.col("b_key"))
    )


def merge_segments(segments: DataFrame) -> DataFrame:
    """Per-arc A1 merge (mergedProperties + getDirectionData).

    One output row per quantized segment; all property reducers run as a
    single partial+final hash aggregation."""
    n_true_fwd = F.sum(F.when(F.col("oneway") & ~F.col("is_reversed"), 1)
                       .otherwise(0))
    n_true_rev = F.sum(F.when(F.col("oneway") & F.col("is_reversed"), 1)
                       .otherwise(0))
    any_false = F.max(F.when(F.col("oneway") == False, 1).otherwise(0))  # noqa: E712

    merged = segments.groupBy("seg_key").agg(
        F.first("a_key").alias("a_key"),
        F.first("b_key").alias("b_key"),
        F.min("coords").alias("coords"),
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("uses"))))
            .alias("uses"),
        _sanitize_unique_join("name").alias("name"),
        _sanitize_unique_join("ref").alias("ref"),
        _sanitize_unique_join("description").alias("description"),
        priority_merge_agg(F.col("difficulty"), DIFFICULTY_PRIORITY)
            .alias("difficulty"),
        F.min("difficulty_convention").alias("difficulty_convention"),
        priority_merge_agg(F.col("status"), STATUS_PRIORITY).alias("status"),
        tristate_or_agg(F.col("gladed")).alias("gladed"),
        tristate_or_agg(F.col("patrolled")).alias("patrolled"),
        tristate_or_agg(F.col("snowmaking")).alias("snowmaking"),
        tristate_or_agg(F.col("snowfarming")).alias("snowfarming"),
        tristate_or_agg(F.col("tunnel")).alias("tunnel"),
        tristate_or_agg(F.col("lit")).alias("lit"),
        priority_merge_agg(F.col("grooming"), GROOMING_PRIORITY)
            .alias("grooming"),
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("ski_areas"))))
            .alias("ski_areas"),
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("sources"))))
            .alias("sources"),
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("websites"))))
            .alias("websites"),
        F.min("wikidata_id").alias("wikidata_id"),
        n_true_fwd.alias("__n_fwd"),
        n_true_rev.alias("__n_rev"),
        any_false.alias("__any_false"),
    )

    # getDirectionData (MergeOverlappingRuns.ts:128-157): any oneway=false
    # → false; opposing oneway=true directions → false; agreeing
    # oneway=true → true with that orientation; else null.  Geometry
    # orientation follows the oneway=true runs whenever they agree — even
    # when an explicit oneway=false forces the merged flag to false, the
    # reference reduce keeps the oneway path's isReversed (:142-146, pinned
    # by the unit vector at :149); only the no-oneway-info and opposing
    # cases fall back to canonical orientation (first-seen in the
    # reference's stream — unknowable distributed, documented deviation).
    opposing = (F.col("__n_fwd") > 0) & (F.col("__n_rev") > 0)
    oneway = (F.when(F.col("__any_false") == 1, F.lit(False))
               .when(opposing, F.lit(False))
               .when((F.col("__n_fwd") + F.col("__n_rev")) > 0, F.lit(True))
               .otherwise(F.lit(None).cast("boolean")))
    run_reversed = (F.col("__n_rev") > 0) & (F.col("__n_fwd") == 0)

    return (merged
            .withColumn("oneway", oneway)
            .withColumn("is_reversed", F.coalesce(run_reversed, F.lit(False)))
            .drop("__n_fwd", "__n_rev", "__any_false"))


def _with_fingerprint(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "fingerprint",
        F.sha2(F.to_json(F.struct(*FINGERPRINT_COLS)), 256))


def combine_segments(merged: DataFrame) -> DataFrame:
    """Chain-merge consecutive equal-property segments (PointGraph):
    endpoint degree-2 connections within a fingerprint group, direction
    compatible for oneway runs, stitched per connected component.

    The segment table feeds five branches (endpoints, degree, the
    endpoint self-join, isolated vertices, stitching); it is cut once so
    the segment explode and merge run once, not once per branch."""
    seg = truncate_lineage(_with_fingerprint(merged).withColumn(
        "seg_id", F.concat_ws("#", "fingerprint", "seg_key")))

    # Oriented endpoints: 'start'/'end' in travel direction for oneway runs.
    start_key = F.when(F.col("is_reversed"), F.col("b_key")).otherwise(F.col("a_key"))
    end_key = F.when(F.col("is_reversed"), F.col("a_key")).otherwise(F.col("b_key"))
    endpoints = seg.select(
        "fingerprint", "seg_id", "oneway",
        F.explode(F.array(
            F.struct(start_key.alias("point"), F.lit("start").alias("role")),
            F.struct(end_key.alias("point"), F.lit("end").alias("role")),
        )).alias("ep"),
    ).select("fingerprint", "seg_id", "oneway",
             F.col("ep.point").alias("point"), F.col("ep.role").alias("role"))

    # Unambiguous continuations only: points touching exactly 2 segments.
    degree = (endpoints.groupBy("fingerprint", "point")
              .agg(F.countDistinct("seg_id").alias("deg")))
    joinable = endpoints.join(degree.filter(F.col("deg") == 2),
                              ["fingerprint", "point"])

    a = joinable.select("fingerprint", "point",
                        F.col("seg_id").alias("src"),
                        F.col("role").alias("role_a"), "oneway")
    b = joinable.select("fingerprint", "point",
                        F.col("seg_id").alias("dst"),
                        F.col("role").alias("role_b"))
    edges = (
        a.join(b, ["fingerprint", "point"])
        .filter(F.col("src") < F.col("dst"))
        # oneway chains connect only head-to-tail (PointGraph.ts:70-134)
        .filter(~F.coalesce(F.col("oneway"), F.lit(False))
                | (F.col("role_a") != F.col("role_b")))
        .select("src", "dst")
    )

    isolated = seg.select(F.col("seg_id").alias("src"),
                          F.col("seg_id").alias("dst"))
    comps = connected_components(edges.unionByName(isolated))

    with_comp = seg.join(comps, seg["seg_id"] == comps["vertex"]).drop("vertex")

    out_schema = with_comp.drop(
        "component", "seg_id", "seg_key", "a_key", "b_key", "coords",
        "is_reversed", "fingerprint").schema
    out_schema.add("geometry", "string")
    prop_cols = [f.name for f in out_schema.fields if f.name != "geometry"]

    def stitch(pdf: pd.DataFrame) -> pd.DataFrame:
        segs = []
        for _, r in pdf.iterrows():
            s, e = (r["b_key"], r["a_key"]) if r["is_reversed"] \
                else (r["a_key"], r["b_key"])
            coords = [list(c) for c in r["coords"]]
            if r["is_reversed"]:
                coords = coords[::-1]
            segs.append({"start": s, "end": e, "coords": coords})
        oneway = bool(pdf.iloc[0]["oneway"]) if pdf.iloc[0]["oneway"] is not None else False

        # adjacency by endpoint
        by_point: dict[str, list[int]] = {}
        for i, s in enumerate(segs):
            by_point.setdefault(s["start"], []).append(i)
            by_point.setdefault(s["end"], []).append(i)

        # chain start: for oneway, a vertex that is only a start; otherwise
        # any degree-1 vertex; cycles fall back to the min key.
        def starts():
            out = []
            for p, ids in sorted(by_point.items()):
                if len(ids) == 1:
                    i = ids[0]
                    if not oneway or segs[i]["start"] == p:
                        out.append((p, i))
            return out

        cands = starts()
        if cands:
            point, cur = cands[0]
        else:  # cycle
            point = min(by_point)

            # Deterministic first-segment choice — NOT insertion order,
            # which follows nondeterministic row order: prefer the segment
            # that STARTS here (for oneway cycles that is the travel
            # direction; a backwards start would reverse a oneway loop),
            # tie-break on the neighbor endpoint key.
            def cand_key(i: int):
                s = segs[i]
                starts_here = s["start"] == point
                other = s["end"] if starts_here else s["start"]
                return (0 if starts_here else 1, other)

            cur = min(by_point[point], key=cand_key)
        visited = set()
        path: list[list[float]] = []
        while cur is not None and cur not in visited:
            visited.add(cur)
            s = segs[cur]
            coords = s["coords"] if s["start"] == point else s["coords"][::-1]
            nxt_point = s["end"] if s["start"] == point else s["start"]
            path.extend(coords if not path else coords[1:])
            point = nxt_point
            nxt = [i for i in by_point.get(point, []) if i not in visited]
            cur = nxt[0] if nxt else None

        row = pdf.iloc[0].to_dict()
        # chain-level re-merge of the non-fingerprint arrays
        def union_col(col):
            seen, out = set(), []
            for v in pdf[col]:
                for item in list(v):
                    k = json.dumps(item, sort_keys=True, default=str)
                    if k not in seen:
                        seen.add(k)
                        out.append(item)
            return sorted(out, key=lambda x: json.dumps(x, sort_keys=True,
                                                        default=str))
        row["sources"] = union_col("sources")
        row["ski_areas"] = union_col("ski_areas")
        row["wikidata_id"] = (sorted(x for x in pdf["wikidata_id"] if x is not None)
                              or [None])[0]
        geometry = json.dumps(
            {"coordinates": path, "type": "LineString"},
            separators=(",", ":"), sort_keys=True)
        out = {c: [row.get(c)] for c in prop_cols}
        out["geometry"] = [geometry]
        return pd.DataFrame(out)

    return (with_comp.groupBy("component").applyInPandas(stitch, out_schema)
            .withColumn("id", feature_id(F.lit("run"), F.col("geometry"))))


def normalize_runs(runs: DataFrame) -> DataFrame:
    """Full §2.10 normalization: LineString runs are segment-deduped,
    property-merged, and chain-stitched; polygon runs pass through
    unchanged (the reference only normalizes lines)."""
    geom_type = F.get_json_object("geometry", "$.type")
    lines = runs.filter(geom_type == "LineString")
    others = runs.filter(geom_type != "LineString")
    normalized = (combine_segments(merge_segments(explode_segments(lines)))
                  .withColumn("feature_type", F.lit("run")))
    return normalized.select(*runs.columns).unionByName(others)
