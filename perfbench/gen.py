"""Seeded input generator for the ``osm_publish`` workload.

Everything here is plain Python written with pyarrow, so the inputs exist
before any Spark session does and the program under test receives only
files.

- ``grid_rows``: the six bronze ``prepare()`` inputs of an N-resort grid,
  row for row the content of ``sources.synthetic.resort_grid`` but for a
  block of resort ids that starts at ``first``.  ``first = 0`` reproduces
  ``resort_grid(spark, n)``; the workload checks that it still does.
- ``grid_elements``: the same grid as Overpass-shaped OSM elements (nodes,
  ways, closed ``landuse`` ways, ``site=piste`` relations), the input of
  ``prepare_from_elements``.

The catalog workload reads the repository's test tables instead, copied
under ``data/``.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

RUNS_PER = 6
LIFTS_PER = 2
_DIFFICULTIES = ("easy", "intermediate", "advanced")

TAGS = pa.map_(pa.string(), pa.string())
MEMBER = pa.struct([("type", pa.string()), ("ref", pa.int64()),
                    ("role", pa.string())])
SKIMAP = pa.schema([("id", pa.string()), ("name", pa.string()),
                    ("status", pa.string()),
                    ("activities", pa.list_(pa.string())),
                    ("scalerank", pa.int32()),
                    ("official_website", pa.string()),
                    ("geometry", pa.string())])
ELEMENTS = pa.schema([("type", pa.string()), ("id", pa.int64()),
                      ("lat", pa.float64()), ("lon", pa.float64()),
                      ("nodes", pa.list_(pa.int64())),
                      ("members", pa.list_(MEMBER)), ("tags", TAGS)])


def grid_block(seed: int, n: int) -> int:
    """First resort id of the block a seed picks.  Blocks start on
    multiples of 15 so every block has the same share of Skimap points
    (every 3rd id) and site relations (every 5th id); seed 0 picks the
    block of ``resort_grid``."""
    return (seed % 1000) * 15 * -(-n // 15)


def _origin(i: int) -> tuple[float, float]:
    return (-60.0 + (i % 100) * 0.1, 44.0 + (i // 100) * 0.1)


def _run_tags(i: int, k: int) -> dict:
    tags = {"piste:type": "nordic" if k == RUNS_PER - 1 else "downhill",
            "name": f"Resort {i} run {k}"}
    if k < RUNS_PER - 1:
        tags["piste:difficulty"] = _DIFFICULTIES[k % 3]
    if (i + k) % 4 == 0:
        tags["piste:snowmaking"] = "yes"
    return tags


def _resort(i: int) -> dict:
    """One resort's features as plain data: (id, tags, coordinates)."""
    lon0, lat0 = _origin(i)
    runs = [(i * 100 + k, _run_tags(i, k),
             [[lon0 + 0.002 + k * 0.002, lat0 + 0.002],
              [lon0 + 0.002 + k * 0.002, lat0 + 0.012]])
            for k in range(RUNS_PER)]
    lifts = [(10_000_000 + i * 100 + k,
              {"aerialway": "chair_lift" if k % 2 else "t-bar",
               "name": f"Resort {i} lift {k}"},
              [[lon0 + 0.0015 + k * 0.004, lat0 + 0.002],
               [lon0 + 0.0015 + k * 0.004, lat0 + 0.012]])
             for k in range(LIFTS_PER)]
    area = (20_000_000 + i, {"landuse": "winter_sports",
                             "name": f"Resort {i}"},
            [[lon0, lat0], [lon0 + 0.02, lat0], [lon0 + 0.02, lat0 + 0.02],
             [lon0, lat0 + 0.02], [lon0, lat0]])
    station = (30_000_000 + i, {"aerialway": "station",
                                "name": f"Resort {i} base"},
               [lon0 + 0.0016, lat0 + 0.00205])
    site = None
    if i % 5 == 0:
        site = (40_000_000 + i, {"site": "piste",
                                 "name": f"Resort {i} site"},
                [{"type": "way", "ref": i * 100, "role": ""}])
    skimap = None
    if i % 3 == 0:
        skimap = {"id": f"sm{i}", "name": f"Resort {i} (Skimap)",
                  "status": "operating", "activities": ["downhill"],
                  "scalerank": 1 + i % 5,
                  "official_website": (f"https://example.org/r{i}"
                                       if i % 6 == 0 else None),
                  "geometry": json.dumps({"type": "Point", "coordinates":
                                          [lon0 + 0.01, lat0 + 0.01]})}
    return {"runs": runs, "lifts": lifts, "area": area, "station": station,
            "site": site, "skimap": skimap}


def _table(rows: list[dict], schema: pa.Schema) -> pa.Table:
    return pa.Table.from_pylist(rows, schema=schema)


def _write(table: pa.Table, path: str) -> None:
    """One parquet file in directory ``path``, so Spark reads the input in
    few partitions."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def _line(coords) -> str:
    return json.dumps({"type": "LineString", "coordinates": coords})


def expected_counts(first: int, n: int) -> dict[str, int]:
    """Output layer sizes the grid implies: every run, lift and station
    survives, and each resort yields one ski area (its Skimap point merges
    into it) plus one per site relation."""
    sites = sum(1 for i in range(first, first + n) if i % 5 == 0)
    return {"runs": RUNS_PER * n, "lifts": LIFTS_PER * n, "spots": n,
            "ski_areas": n + sites}


def grid_rows(first: int, n: int) -> dict[str, list[dict]]:
    """The six bronze ``prepare()`` inputs as row dicts, keyed by
    ``prepare()`` argument, in the shapes ``resort_grid`` gives them."""
    rows: dict[str, list] = {k: [] for k in (
        "runs_raw", "lifts_raw", "ski_areas_raw", "spots_raw", "sites",
        "skimap_areas")}
    for i in range(first, first + n):
        r = _resort(i)
        rows["runs_raw"] += [{"osm_type": "way", "osm_id": oid, "tags": t,
                              "geometry": _line(c)} for oid, t, c in r["runs"]]
        rows["lifts_raw"] += [{"osm_type": "way", "osm_id": oid, "tags": t,
                               "geometry": _line(c)}
                              for oid, t, c in r["lifts"]]
        oid, t, ring = r["area"]
        rows["ski_areas_raw"].append({
            "osm_type": "way", "osm_id": oid, "tags": t,
            "geometry": json.dumps({"type": "Polygon",
                                    "coordinates": [ring]})})
        oid, t, pt = r["station"]
        rows["spots_raw"].append({
            "osm_type": "node", "osm_id": oid, "tags": t,
            "geometry": json.dumps({"type": "Point", "coordinates": pt})})
        if r["site"]:
            sid, t, members = r["site"]
            rows["sites"].append({"site_id": sid, "tags": t,
                                  "members": members})
        if r["skimap"]:
            rows["skimap_areas"].append(r["skimap"])
    return rows


def grid_elements(out_dir: str, first: int, n: int) -> dict[str, str]:
    """Write the grid as Overpass elements plus the Skimap points.
    Returns ``{"elements": path, "skimap": path}``."""
    elems, skimap = [], []
    node_id = 50_000_000 + first * 100

    def nodes_for(coords) -> list[int]:
        nonlocal node_id
        refs = []
        for lon, lat in coords:
            elems.append({"type": "node", "id": node_id, "lat": lat,
                          "lon": lon, "tags": {}})
            refs.append(node_id)
            node_id += 1
        return refs

    for i in range(first, first + n):
        r = _resort(i)
        for oid, t, c in r["runs"] + r["lifts"]:
            elems.append({"type": "way", "id": oid, "nodes": nodes_for(c),
                          "tags": t})
        oid, t, ring = r["area"]
        refs = nodes_for(ring[:-1])
        elems.append({"type": "way", "id": oid, "nodes": refs + refs[:1],
                      "tags": t})
        oid, t, (lon, lat) = r["station"]
        elems.append({"type": "node", "id": oid, "lat": lat, "lon": lon,
                      "tags": t})
        if r["site"]:
            sid, t, members = r["site"]
            elems.append({"type": "relation", "id": sid, "members": members,
                          "tags": t})
        if r["skimap"]:
            skimap.append(r["skimap"])
    paths = {"elements": os.path.join(out_dir, "elements"),
             "skimap": os.path.join(out_dir, "skimap")}
    _write(_table(elems, ELEMENTS), paths["elements"])
    _write(_table(skimap, SKIMAP), paths["skimap"])
    return paths
