#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a checkout.  Each call starts the workload in a new
driver process (``workload.py``) on ``local[nproc]``, samples the peak
RSS of that process tree from ``/proc``, and prints, as its last line,
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``.  ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
runs the workload with layer spans and the Spark event log on and
reports the per-layer metrics.  The line before the result carries the
host record and the run's details.  See README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

from spans import FIELDS
from workload import CATALOG_QUERIES, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = os.path.join(ROOT, "openskidata_processor_spark", "__init__.py")
TIMEOUT_S = 170
# Driver heap, far above what the inputs need.  Left at the session's 8g
# default, G1 grows the heap to 5-8 GB from run to run, and peak RSS then
# measures that growth rather than the engine.
DRIVER_MEMORY = "2g"

END_TO_END = {"setup_s": "s", "timed_s": "s", "peak_rss_mb": "MB",
              "passed_share": "share"}
SPANS = ("sources.osm", "pipeline.runs", "pipeline.formatters",
         "pipeline.clustering", "operators.graph", "pipeline.outputs",
         "sinks.geojson", "pipeline.mapbox", "sinks.csv", "sinks.geopackage")
SINK_FORMATS = ("geojson", "mapbox", "csv", "geopackage")
OVERHEAD = ("setup_s", "timed_s", "peak_rss_mb")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    units = {f"{s}.{f}": u for s in SPANS for f, u in FIELDS.items()}
    units["operators.graph.rounds"] = "count"
    units.update({f"sinks.{f}.bytes": "B" for f in SINK_FORMATS})
    units.update({f"plans.all.{f}": u for f, u in FIELDS.items()})
    units.update({f"plans.{q}.wall_s": "s" for q in CATALOG_QUERIES})
    units.update({f"trace.overhead.{m}": END_TO_END[m] for m in OVERHEAD})
    units["trace.uncovered_share"] = "share"
    return units


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_record() -> dict:
    mem = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            key, val = line.split(":", 1)
            mem[key] = int(val.split()[0]) / 1024
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    return {"nproc": nproc(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "loadavg_start": load, "mem_total_mb": mem.get("MemTotal"),
            "mem_available_mb": mem.get("MemAvailable"),
            "python": platform.python_version()}


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name: state, ppid, …"""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def _descendants(root: int) -> dict[int, str]:
    """``root`` and every process below it, each with its start time, so a
    pid reused after its process ended is never taken for it."""
    children: dict[int, list[tuple[int, str]]] = {}
    for entry in os.listdir("/proc"):
        fields = _stat(int(entry)) if entry.isdigit() else None
        if fields:
            children.setdefault(int(fields[1]), []).append(
                (int(entry), fields[19]))
    out, todo = {}, [(root, (_stat(root) or [""] * 20)[19])]
    while todo:
        pid, start = todo.pop()
        out[pid] = start
        todo += children.get(pid, [])
    return out


def _rss_mb(pids) -> float:
    total = 0.0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1]) / 1024
                        break
        except OSError:
            continue
    return total


def _stop(procs: dict[int, str]) -> None:
    """Terminate what is left of a run's process tree and wait for it."""
    def alive():
        out = []
        for pid, start in procs.items():
            fields = _stat(pid)
            if fields and fields[19] == start and fields[0] != "Z":
                out.append(pid)
        return out

    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in alive():
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.monotonic() + 5
        while alive() and time.monotonic() < deadline:
            time.sleep(0.05)
        if not alive():
            return


def run_child(cfg: dict) -> tuple[dict, float]:
    """Run one workload process; return its result and the peak RSS (MB)
    of its process tree: the Python driver, the JVM and Python workers."""
    work = cfg["work"]
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update({
        "TMPDIR": tmp, "TZ": "UTC", "PYTHONDONTWRITEBYTECODE": "1",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cfg["cpus"]),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_SUBMIT_OPTS": (env.get("SPARK_SUBMIT_OPTS", "")
                              + f" -Djava.io.tmpdir={tmp}").strip(),
    })
    confs = [f"spark.eventLog.enabled={str(cfg['trace']).lower()}"]
    if cfg["trace"]:
        os.makedirs(cfg["event_log"])
        confs += [f"spark.eventLog.dir=file://{cfg['event_log']}",
                  "spark.eventLog.compress=false",
                  "spark.eventLog.rolling.enabled=false"]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {c}" for c in confs) + " pyspark-shell"
    log_path = os.path.join(work, "driver.log")
    seen: dict[int, str] = {}
    peak = 0.0
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "workload.py"),
             json.dumps(cfg)], cwd=work, env=env, stdout=log,
            stderr=subprocess.STDOUT, start_new_session=True)
        start = time.monotonic()
        try:
            while proc.poll() is None:
                if time.monotonic() - start > TIMEOUT_S:
                    raise TimeoutError(f"{cfg['workload']} ran over "
                                       f"{TIMEOUT_S} s")
                tree = _descendants(proc.pid)
                seen.update(tree)
                peak = max(peak, _rss_mb(tree))
                time.sleep(0.1)
        finally:
            _stop(seen)
            proc.wait()
    if proc.returncode != 0 or not os.path.exists(cfg["result"]):
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        raise RuntimeError(f"{cfg['workload']} exited with "
                           f"{proc.returncode}:\n{tail}")
    with open(cfg["result"]) as fh:
        return json.load(fh), peak


def end_to_end(res: dict, peak: float) -> dict[str, float]:
    return {"setup_s": res["setup_s"], "timed_s": res["timed_s"],
            "peak_rss_mb": peak,
            "passed_share": 1 - res["failed"] / res["attempted"]}


def source_digest() -> str:
    """sha256 of the program and benchmark files but their docs, so
    untraced runs are compared only with traced runs of the same code."""
    h = hashlib.sha256()
    for top in (os.path.dirname(PACKAGE), HERE):
        for dirpath, dirnames, files in os.walk(top):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            for name in sorted(f for f in files if not f.endswith(".md")):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _history(workload: str) -> str:
    return os.path.join(WORK, "untraced",
                        f"{workload}-{source_digest()}.json")


def load_untraced(workload: str) -> list[dict[str, float]]:
    path = _history(workload)
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return json.load(fh)


def remember_untraced(workload: str, values: dict[str, float]) -> None:
    """Keep the last ten untraced runs of a workload over this source
    tree; a traced run compares against their median."""
    runs = load_untraced(workload)
    os.makedirs(os.path.dirname(_history(workload)), exist_ok=True)
    with open(_history(workload), "w") as fh:
        json.dump((runs + [values])[-10:], fh)


def per_layer(res: dict, peak: float, untraced: dict[str, float] | None,
              units: dict[str, str]) -> dict[str, float]:
    spans, out = dict(res["spans"]), {}
    traced = end_to_end(res, peak)
    # the catalog's figures per pass, however many passes a run made
    for k, v in spans.items():
        if k.startswith("plans."):
            spans[k] = {f: x / res["passes"] for f, x in v.items()}
    plans = [v for k, v in spans.items() if k.startswith("plans.")]
    for key in units:
        head, field = key.rsplit(".", 1)
        if key == "operators.graph.rounds":
            out[key] = res["counters"].get(key, 0)
        elif key == "trace.uncovered_share":
            out[key] = res["uncovered_share"]
        elif head == "trace.overhead":
            out[key] = traced[field] - untraced[field] if untraced else 0.0
        elif head == "plans.all":
            out[key] = sum(p[field] for p in plans)
        elif field == "bytes":
            out[key] = res["detail"].get("sink_bytes", {}).get(
                head.split(".")[1], 0)
        else:
            out[key] = spans.get(head, {}).get(field, 0.0)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=1,
                    help="least time the catalog's warm passes take; an "
                    "osm_publish run measures one cold operation, which "
                    "takes longer")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its process tree (run_child's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not os.path.exists(PACKAGE):
        print(f"perfbench: no openskidata_processor_spark package under "
              f"{ROOT}; run from the root of a full checkout",
              file=sys.stderr)
        return 2

    host = host_record()
    cfg = {"workload": args.workload, "seed": args.seed, "root": ROOT,
           "seconds": args.seconds, "cpus": nproc(),
           "work": os.path.join(WORK, args.workload)}
    cfg["result"] = os.path.join(cfg["work"], "result.json")
    cfg["event_log"] = os.path.join(cfg["work"], "eventlog")

    untraced = None
    if args.trace:
        history = load_untraced(args.workload)
        if history:
            untraced = {m: statistics.median(h[m] for h in history)
                        for m in OVERHEAD}
        else:
            print("perfbench: no untraced run of this source tree in this "
                  "checkout yet; trace.overhead.* read 0", file=sys.stderr)
    res, peak = run_child(dict(cfg, trace=bool(args.trace)))
    if args.trace:
        units = per_layer_units()
        metrics = per_layer(res, peak, untraced, units)
    else:
        metrics = end_to_end(res, peak)
        units = END_TO_END
        remember_untraced(args.workload, metrics)

    with open("/proc/loadavg") as fh:
        host["loadavg_end"] = [float(x) for x in fh.read().split()[:3]]
    host.update(res.get("versions", {}))
    for msg in res["failures"]:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)
    known = res.get("known_defects", [])
    for msg in known:
        print(f"perfbench: known defect: {msg}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "trace": args.trace, "host": host,
                      "detail": res["detail"], "known_defects": known,
                      "untraced": untraced}))
    print(json.dumps({
        "correct": not res["failures"],
        "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
