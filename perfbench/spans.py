"""Layer spans recorded from outside the program, and the event-log reader
that attributes Spark work to them.

A span is opened around a call into one layer's public function.  While
it is open, every Spark job the driver thread starts carries the span's
job group, so after the session stops the event log tells which jobs,
tasks, CPU and shuffle bytes each span caused.  Spans nest; a span's
metrics include its children's, and ``self_s`` is its wall time minus the
part its children cover.

``install`` wraps the layer functions by replacing module attributes, so
the program itself is unchanged.  Work that Spark defers is counted where
it materializes: a lazy frame built in one layer and executed in the next
is charged to the second.
"""

from __future__ import annotations

import functools
import json
import os
import time

# What each span reports, with units
FIELDS = {"wall_s": "s", "self_s": "s", "jobs": "count", "tasks": "count",
          "driver_gap_s": "s", "task_run_s": "s", "task_cpu_s": "s",
          "shuffle_mb": "MB"}


class Tracer:
    """Spans of one driver thread, kept in memory until the run ends."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.counters: dict[str, float] = {}

    def begin(self, name: str) -> int:
        idx = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        self.spans.append({"name": name, "group": f"perfbench-{idx}",
                           "parent": parent, "start": time.time(),
                           "end": None})
        self.stack.append(idx)
        self.sc.setJobGroup(self.spans[idx]["group"], name)
        return idx

    def end(self, idx: int) -> None:
        if not self.stack or self.stack[-1] != idx:
            raise RuntimeError(f"span {self.spans[idx]['name']} closed "
                               "out of order")
        self.spans[idx]["end"] = time.time()
        self.stack.pop()
        if self.stack:
            parent = self.spans[self.stack[-1]]
            self.sc.setJobGroup(parent["group"], parent["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(idx)
        return traced

    def count(self, name: str, value: float) -> None:
        self.counters[name] = self.counters.get(name, 0) + value


def install(tracer: Tracer) -> None:
    """Wrap the pipeline's layer entry points in spans.

    ``prepare()`` runs its phases through module-level names, so its
    phase spans follow its lineage cuts: the first cut is the end of
    ``pipeline.runs``, the next three end ``pipeline.formatters``, and
    ``pipeline.outputs`` runs from the viewport hints to the return.
    """
    from openskidata_processor_spark.pipeline import clustering, mapbox
    from openskidata_processor_spark.pipeline import prepare as prep
    from openskidata_processor_spark.pipeline import run_normalization
    from openskidata_processor_spark.sinks import csv as csvsink
    from openskidata_processor_spark.sinks import geojson, geopackage

    state = {"cuts": 0, "phase": None, "osm": None}
    truncate = prep.truncate_lineage
    assemble = prep.assemble_osm_features
    prepare_fn = prep.prepare
    hints = prep.attach_viewport_hints

    def assemble_osm_features(elements):
        state["osm"] = tracer.begin("sources.osm")
        return assemble(elements)

    def truncate_lineage(df, *args, **kwargs):
        out = truncate(df, *args, **kwargs)
        if state["osm"] is not None:
            # prepare_from_elements cuts the assembled features first
            tracer.end(state["osm"])
            state["osm"] = None
            return out
        state["cuts"] += 1
        if state["cuts"] == 1:
            tracer.end(state["phase"])
            state["phase"] = tracer.begin("pipeline.formatters")
        elif state["cuts"] == 4:
            tracer.end(state["phase"])
            state["phase"] = None
        return out

    def prepare(*args, **kwargs):
        state["cuts"] = 0
        state["phase"] = tracer.begin("pipeline.runs")
        try:
            return prepare_fn(*args, **kwargs)
        finally:
            if state["phase"] is not None:
                tracer.end(state["phase"])
                state["phase"] = None

    def attach_viewport_hints(layers):
        state["phase"] = tracer.begin("pipeline.outputs")
        return hints(layers)

    def graph_wrapper(fn):
        def connected_components(*args, **kwargs):
            stats = kwargs.setdefault("stats", {})
            idx = tracer.begin("operators.graph")
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(idx)
                tracer.count("operators.graph.rounds",
                             stats.get("iterations", 0))
        return connected_components

    prep.truncate_lineage = truncate_lineage
    prep.assemble_osm_features = assemble_osm_features
    prep.prepare = prepare
    prep.attach_viewport_hints = attach_viewport_hints
    prep.cluster_ski_areas = tracer.wrap("pipeline.clustering",
                                         prep.cluster_ski_areas)
    clustering.connected_components = graph_wrapper(
        clustering.connected_components)
    run_normalization.connected_components = graph_wrapper(
        run_normalization.connected_components)

    # write_outputs imports the sinks and the Mapbox projections at call
    # time, so module attributes are the seam.  A Mapbox projection is
    # lazy; its work runs inside the GeoJSON write of the projected frame,
    # which is therefore charged to pipeline.mapbox.
    projected: set[int] = set()

    def tag(fn):
        @functools.wraps(fn)
        def project(df):
            out = fn(df)
            projected.add(id(out))
            return out
        return project

    for name in ("mapbox_runs", "mapbox_lifts", "mapbox_ski_areas",
                 "mapbox_spots"):
        setattr(mapbox, name, tag(getattr(mapbox, name)))
    write_fc = geojson.write_feature_collection

    def write_feature_collection(df, path, *args, **kwargs):
        name = ("pipeline.mapbox" if id(df) in projected
                else "sinks.geojson")
        return tracer.wrap(name, write_fc)(df, path, *args, **kwargs)

    geojson.write_feature_collection = write_feature_collection
    csvsink.write_csv = tracer.wrap("sinks.csv", csvsink.write_csv)
    geopackage.write_geopackage = tracer.wrap("sinks.geopackage",
                                              geopackage.write_geopackage)


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """Jobs and per-group task totals from an uncompressed event log.

    Returns ``(jobs, groups)``: ``jobs[id] = {group, start, end}`` in epoch
    seconds, and ``groups[group] = {tasks, task_run_s, task_cpu_s,
    shuffle_mb}`` summed over every task whose stage ran in that group."""
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str | None] = {}
    groups: dict[str | None, dict] = {}
    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None}
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = \
                            ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    stage_group[ev["Stage Info"]["Stage ID"]] = \
                        props.get("spark.jobGroup.id")
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    g = groups.setdefault(group, {
                        "tasks": 0, "task_run_s": 0.0, "task_cpu_s": 0.0,
                        "shuffle_mb": 0.0})
                    m = ev.get("Task Metrics") or {}
                    g["tasks"] += 1
                    g["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    w = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_mb"] += w.get("Shuffle Bytes Written", 0) / 1e6
    return jobs, groups


def _covered(intervals: list[tuple[float, float]], lo: float,
             hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def span_metrics(tracer: Tracer, log_dir: str) -> dict[str, dict]:
    """Per span name, the ``FIELDS`` summed over its occurrences."""
    jobs, groups = read_event_log(log_dir)
    spans = tracer.spans
    # every group charged to a span: its own and its descendants'
    owned: list[set[str]] = [{s["group"]} for s in spans]
    for idx in range(len(spans) - 1, -1, -1):
        parent = spans[idx]["parent"]
        if parent is not None:
            owned[parent] |= owned[idx]
    out: dict[str, dict] = {}
    for idx, s in enumerate(spans):
        lo, hi = s["start"], s["end"]
        wall = hi - lo
        children = [(c["start"], c["end"]) for c in spans
                    if c["parent"] == idx]
        mine = [j for j in jobs.values() if j["group"] in owned[idx]]
        spans_jobs = [(j["start"], j["end"] if j["end"] else hi)
                      for j in mine]
        rec = out.setdefault(s["name"], dict.fromkeys(FIELDS, 0.0))
        rec["wall_s"] += wall
        rec["self_s"] += wall - _covered(children, lo, hi)
        rec["jobs"] += len(mine)
        rec["driver_gap_s"] += wall - _covered(spans_jobs, lo, hi)
        for g in owned[idx]:
            for k in ("tasks", "task_run_s", "task_cpu_s", "shuffle_mb"):
                rec[k] += groups.get(g, {}).get(k, 0)
    return out


def uncovered_share(tracer: Tracer, lo: float, hi: float) -> float:
    """Share of [lo, hi] that no top-level span covers."""
    top = [(s["start"], s["end"]) for s in tracer.spans
           if s["parent"] is None]
    return (hi - lo - _covered(top, lo, hi)) / (hi - lo)
