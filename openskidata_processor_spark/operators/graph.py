"""Connected components as a partition-local union-find.

The engine needs connected components for run chain-merging (segments
sharing endpoints), ski-area transitive spatial closure (objects within
500 m; SURVEY.md §2.9/§2.10), near-duplicate groups and the
``cc_components`` catalog query.  The reference solves the first two in
memory (``PointGraph``, the recursive ``visitObject``); here one call runs
three steps:

1. **Local union-find.**  Each edge partition runs a union-find in its own
   ``mapInPandas`` task (no shuffle, no id hashing) and emits
   ``(vertex, local_root)``, the local root being the minimum vertex of
   the vertex's component within that partition.
2. **Link.**  One ``groupBy(vertex)`` gathers the local roots of each
   vertex.  A vertex whose edges landed in several partitions links its
   local roots to their minimum; those links are the *contracted graph*,
   whose vertices are local roots.
3. **Resolve.**  The contracted graph is resolved by the same union-find in
   one task, and every vertex is relabelled with
   ``coalesce(final_root, local_root)`` by a window over its local root.

The result is exact for any component diameter: no step iterates over
hops, and the call runs no action of its own.  The per-vertex table feeds
both step 3 and the relabel, so it is a lazy lineage cut
(``operators.barrier.truncate_lineage``: ``localCheckpoint``, or a
reliable ``checkpoint()`` when ``SPARK_GRAFT_RELIABLE_CHECKPOINT`` is set)
and the upstream edge plan runs once.  Under adaptive execution, making
the cut runs the edge plan's shuffle stages, the link shuffle included,
at call time; the rest runs at the caller's first action.

Step 3's size bound: one task holds the contracted graph, which has one
link for each extra edge partition a vertex appears in: fewer than two
links per edge, and at most ``partitions - 1`` per vertex.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F

from .barrier import truncate_lineage

_INTEGRAL = {"tinyint", "smallint", "int", "bigint"}


def _union_find(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """``mapInPandas`` body: the components of one partition's ``(a, b)``
    edges as ``(vertex, root)``, root = minimum vertex of the component."""
    frames = [f for f in batches if len(f)]
    if not frames:
        return
    pdf = pd.concat(frames, ignore_index=True)
    m = len(pdf)
    # sorted codes: the smallest code of a component is its minimum vertex
    codes, uniq = pd.factorize(
        np.concatenate([pdf["a"].to_numpy(), pdf["b"].to_numpy()]),
        sort=True)
    parent = list(range(len(uniq)))
    for x, y in zip(codes[:m].tolist(), codes[m:].tolist()):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        while parent[y] != y:
            parent[y] = parent[parent[y]]
            y = parent[y]
        # the larger root hangs under the smaller, so parent[i] <= i
        if x < y:
            parent[y] = x
        elif y < x:
            parent[x] = y
    root = np.asarray(parent)
    while True:
        up = root[root]
        if np.array_equal(up, root):
            break
        root = up
    yield pd.DataFrame({"vertex": uniq, "root": uniq[root]})


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         stats: dict | None = None) -> DataFrame:
    """Connected components of an undirected graph.

    ``edges``: DataFrame with ``src``/``dst`` columns (isolated vertices may
    be passed as self-loops; a null endpoint is not a vertex).  Returns
    ``(vertex, component)`` where ``component`` is the minimum vertex id in
    the component, typed like the input ids (long for integral inputs,
    string otherwise).

    Replaces the reference's recursive per-seed ``visitObject`` walk
    (SkiAreaClusteringService.ts:705-779) and its ``PointGraph`` chain walk.
    ``stats["iterations"]`` is set to the contraction rounds run (always 1).
    """
    dtypes = dict(edges.dtypes)
    vtype = ("bigint" if dtypes[src] in _INTEGRAL and dtypes[dst] in _INTEGRAL
             else "string")
    a, b = F.col(src).cast(vtype), F.col(dst).cast(vtype)
    pairs = (edges.select(F.coalesce(a, b).alias("a"),
                          F.coalesce(b, a).alias("b"))
             .filter(F.col("a").isNotNull()))

    local = pairs.mapInPandas(_union_find, f"vertex {vtype}, root {vtype}")
    per_vertex = truncate_lineage(
        local.groupBy("vertex")
        .agg(F.min("root").alias("root"),
             F.collect_set("root").alias("roots")), eager=False)
    # every local root but the vertex's minimum is one contracted edge
    links = per_vertex.select(
        F.explode(F.array_remove("roots", F.col("root"))).alias("a"),
        F.col("root").alias("b"))
    final = (links.coalesce(1)
             .mapInPandas(_union_find, f"vertex {vtype}, root {vtype}")
             .select(F.col("vertex").alias("root"),
                     F.lit(None).cast(vtype).alias("vertex"),
                     F.col("root").alias("final")))
    if stats is not None:
        stats["iterations"] = 1
    # relabel by a union and a window over the local root, not a join: a
    # join's size estimate is the product of its sides' estimates, and
    # callers chain several calls through further joins
    by_root = Window.partitionBy("root")
    return (per_vertex.select("root", "vertex",
                              F.lit(None).cast(vtype).alias("final"))
            .unionByName(final)
            .select("vertex", F.coalesce(F.min("final").over(by_root),
                                         F.col("root")).alias("component"))
            .filter(F.col("vertex").isNotNull()))
