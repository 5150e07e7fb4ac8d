"""Output checks, run outside the timed regions.

Each check returns a list of failure messages; an empty list passes.
Layer rows are canonicalized the way the golden-output tests canonicalize
GeoJSON (``tests/test_golden_outputs.py``): floats rounded to 6 decimals,
keys sorted, compact separators.
"""

from __future__ import annotations

import csv
import datetime
import glob
import hashlib
import json
import math
import os
import sqlite3

LAYERS = ("runs", "lifts", "spots", "ski_areas")

# sha256 (first 16 hex digits) of the four output layers of
# ``osm_publish``, canonicalized by ``layer_rows``, for the default seed.
LAYER_PIN = "ce941a9e6c124bac"


def _walk(obj):
    if isinstance(obj, dict):
        return {k: _walk(v) for k, v in obj.items()}
    if isinstance(obj, list):
        return [_walk(v) for v in obj]
    return round(obj, 6) if isinstance(obj, float) else obj


def load_geojson(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def layer_rows(layers: dict) -> dict[str, list[dict]]:
    """The four output layers as canonical row dicts, sorted by id."""
    out = {}
    for name in LAYERS:
        rows = [_walk(json.loads(r)) for r in layers[name].toJSON().collect()]
        out[name] = sorted(rows, key=lambda r: r["id"])
    return out


def layers_sha256(rows: dict[str, list[dict]]) -> str:
    h = hashlib.sha256()
    for name in LAYERS:
        h.update(json.dumps(rows[name], sort_keys=True,
                            separators=(",", ":")).encode())
    return h.hexdigest()[:16]


def _csv_rows(path: str) -> int:
    n = 0
    for part in glob.glob(os.path.join(path, "part-*.csv")):
        with open(part, newline="") as fh:
            n += max(sum(1 for _ in csv.reader(fh)) - 1, 0)
    return n


def _gpkg_rows(path: str) -> dict[str, int]:
    """Features per layer.  A ski area is written once as a centroid point
    and, unless it is a point itself, once more as its own geometry; the
    point table alone counts ski areas."""
    con = sqlite3.connect(path)
    try:
        tables = [r[0] for r in con.execute(
            "SELECT table_name FROM gpkg_contents")]
        out = dict.fromkeys(LAYERS, 0)
        for t in tables:
            layer = next(n for n in LAYERS if t.startswith(n + "_"))
            if layer == "ski_areas" and t != "ski_areas_point":
                continue
            (n,) = con.execute(f"SELECT count(*) FROM {t}").fetchone()
            out[layer] += n
        return out
    finally:
        con.close()


def sink_bytes(out_dir: str) -> dict[str, int]:
    """Bytes written per sink format."""
    def size(pattern):
        return sum(os.path.getsize(p) for p in glob.glob(
            os.path.join(out_dir, pattern), recursive=True))
    return {"geojson": sum(size(f"{n}.geojson") for n in LAYERS),
            "mapbox": size("mapboxgl_*.geojson"),
            "csv": size("csv/**/part-*.csv"),
            "geopackage": size("openskidata.gpkg")}


def check_sinks(out_dir: str, counts: dict[str, int]) -> list[str]:
    """Every sink file holds one feature per row of its layer."""
    fails = []
    gpkg = _gpkg_rows(os.path.join(out_dir, "openskidata.gpkg"))
    for name in LAYERS:
        found = {
            "geojson": len(load_geojson(
                os.path.join(out_dir, f"{name}.geojson"))["features"]),
            "mapbox": len(load_geojson(
                os.path.join(out_dir, f"mapboxgl_{name}.geojson"))
                ["features"]),
            "geopackage": gpkg[name],
        }
        csv_dir = os.path.join(out_dir, "csv", name)
        if os.path.isdir(csv_dir):
            found["csv"] = _csv_rows(csv_dir)
        for sink, n in found.items():
            if n != counts[name]:
                fails.append(f"{sink} {name}: {n} features, layer has "
                             f"{counts[name]}")
    return fails


def check_counts(counts: dict[str, int], expected: dict[str, int]
                 ) -> list[str]:
    return [f"{k}: {counts.get(k)} rows, expected {v}"
            for k, v in expected.items() if counts.get(k) != v]


def check_membership(rows: dict[str, list[dict]]) -> list[str]:
    """The grid invariants of ``tests/test_synthetic.py``: no ski area is
    shared by two resorts, and every station is snapped to a lift."""
    fails = []
    owner: dict[str, tuple] = {}
    for layer in ("runs", "lifts"):
        for r in rows[layer]:
            lon, lat = json.loads(r["geometry"])["coordinates"][0][:2]
            resort = (round(lon, 1), round(lat, 1))
            for sa in r.get("ski_areas") or []:
                if owner.setdefault(sa, resort) != resort:
                    fails.append(f"ski area {sa} spans resorts "
                                 f"{owner[sa]} and {resort}")
    fails += [f"station {r['id']} has no lift" for r in rows["spots"]
              if not r.get("lift_id")]
    return fails


# ---------------------------------------------------------------------------
# Catalog
# ---------------------------------------------------------------------------

def _norm(v) -> str:
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return repr(v)


def canonical_rows(cols: list[str], rows) -> list[tuple]:
    """Rows with columns in name order, values normalized, rows sorted —
    the order-insensitive comparison the correctness driver makes."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def check_oracle(con, sql: str, cols: list[str], rows) -> list[str]:
    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    if sorted(c.lower() for c in cols) != sorted(c.lower() for c in dcols):
        return [f"columns {sorted(cols)} vs oracle {sorted(dcols)}"]
    left = canonical_rows(cols, rows)
    right = canonical_rows(dcols, res.fetchall())
    if left != right:
        diff = next((a, b) for a, b in zip(left + [None], right + [None])
                    if a != b)
        return [f"{len(left)} rows vs oracle {len(right)}; first diff {diff}"]
    return []
