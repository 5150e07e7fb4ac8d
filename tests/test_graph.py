"""Connected-components operator tests."""

from __future__ import annotations

import random

import pytest

from openskidata_processor_spark.operators.graph import connected_components


def reference_components(pairs):
    """Pure-Python union-find: vertex -> minimum vertex of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in list(parent)}


def random_graph(seed, n_vertices=400, n_edges=300, chain=300):
    """Random sparse edges plus a shuffled ``chain``-hop path, as ints."""
    rng = random.Random(seed)
    pairs = [(rng.randrange(n_vertices), rng.randrange(n_vertices))
             for _ in range(n_edges)]
    base = 10_000
    nodes = list(range(base, base + chain + 1))
    rng.shuffle(nodes)
    pairs += list(zip(nodes, nodes[1:]))
    pairs += [(v, v) for v in range(base + 5_000, base + 5_010)]
    rng.shuffle(pairs)
    return pairs


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f")],
        "src string, dst string")
    out = {r.vertex: r.component
           for r in connected_components(edges).collect()}
    assert out == {"a": "a", "b": "a", "c": "a",
                   "d": "d", "e": "d", "f": "f"}


@pytest.mark.parametrize("vtype", ["long", "string"])
def test_connected_components_long_chain_is_one_component(spark, vtype):
    """A 300-hop path over many partitions is one component whatever the
    chain length, in both id types."""
    names = list(range(301)) if vtype == "long" else \
        [f"v{i:03d}" for i in range(301)]
    edges = spark.createDataFrame(
        list(zip(names, names[1:])), f"src {vtype}, dst {vtype}"
    ).repartition(16)
    stats = {}
    out = {r.vertex: r.component
           for r in connected_components(edges, stats=stats).collect()}
    assert set(out.values()) == {names[0]}
    assert len(out) == 301
    assert stats["iterations"] == 1


@pytest.mark.parametrize("vtype", ["long", "string"])
@pytest.mark.parametrize("seed", [1, 2])
def test_connected_components_match_reference_union_find(spark, vtype, seed):
    """Exact against a pure-Python union-find on random graphs with a
    shuffled long chain, edges spread over 16 partitions."""
    pairs = random_graph(seed)
    if vtype == "string":
        # zero-padded so string order is numeric order
        pairs = [(f"{a:06d}", f"{b:06d}") for a, b in pairs]
    edges = spark.createDataFrame(
        pairs, f"src {vtype}, dst {vtype}").repartition(16)
    got = {r.vertex: r.component
           for r in connected_components(edges).collect()}
    assert got == reference_components(pairs)


def test_connected_components_empty_and_self_loops(spark):
    empty = spark.createDataFrame([], "src long, dst long")
    out = connected_components(empty)
    assert dict(out.dtypes) == {"vertex": "bigint", "component": "bigint"}
    assert out.collect() == []
    loops = spark.createDataFrame(
        [(v, v) for v in (3, 1, 2)], "src long, dst long").repartition(3)
    got = {r.vertex: r.component
           for r in connected_components(loops).collect()}
    assert got == {1: 1, 2: 2, 3: 3}


def test_connected_components_reliable_checkpoint_mode(spark, monkeypatch,
                                                       tmp_path):
    """Cluster-durable mode: with ``SPARK_GRAFT_RELIABLE_CHECKPOINT`` set,
    the per-vertex cut is a reliable ``checkpoint()`` that writes files,
    and a 300-hop chain is still one component."""
    import os

    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "ckpt"))

    def written():
        d = spark.sparkContext.getCheckpointDir()
        if d is None:
            return set()
        root = d.removeprefix("file:")
        return {os.path.join(p, f)
                for p, _, fs in os.walk(root) for f in fs}

    before = written()
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], "src long, dst long"
    ).repartition(16)
    out = {r.vertex: r.component
           for r in connected_components(edges).collect()}
    assert set(out.values()) == {0}
    assert len(out) == 301
    assert written() - before


def test_connected_components_reads_edges_once(spark):
    """The per-vertex table is a lineage cut: the edge plan runs once,
    however many actions read the result."""
    from pyspark.sql import functions as F

    seen = spark.sparkContext.accumulator(0)

    def count_row(_):
        seen.add(1)
        return True

    edges = (spark.range(0, 50, numPartitions=4)
             .filter(F.udf(count_row, "boolean")("id"))
             .select(F.col("id").alias("src"),
                     (F.col("id") + 1).alias("dst")))
    out = connected_components(edges)
    assert [r.component for r in out.select("component").distinct()
            .collect()] == [0]
    assert out.count() == 51
    assert seen.value == 50


def test_connected_components_keeps_size_estimate_linear(spark):
    """The optimizer's size estimate of the result stays a small multiple
    of the edges' estimate.  A join estimates the product of its sides, so
    a join-based relabel squared it per call and chained calls stalled the
    planner in big-integer arithmetic."""
    def estimate(df):
        return df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "src long, dst long")
    out = connected_components(edges)
    assert estimate(out) < 10 * estimate(edges)


def test_materialize_is_lazy(spark):
    """The shared-subplan barrier must not trigger a job at call time
    (round-2's eager localCheckpoint serialized materialization and caused
    2-5x bench variance)."""
    from openskidata_processor_spark.operators.barrier import materialize

    status = spark.sparkContext.statusTracker()
    before = len(status.getJobIdsForGroup(None) or [])
    df = materialize(spark.range(1000).selectExpr("id", "id * 2 as two"))
    after = len(status.getJobIdsForGroup(None) or [])
    assert after == before  # no job ran at barrier-creation time
    assert df.count() == 1000
    df.unpersist()


def test_connected_components_numeric_fast_path(spark):
    """Integral vertex ids stay longs: output columns are longs and the
    component is the numeric minimum (not a string min)."""
    edges = spark.createDataFrame(
        [(2, 10), (10, 3), (7, 7)], "src long, dst long")
    out = connected_components(edges)
    types = dict(out.dtypes)
    assert types == {"vertex": "bigint", "component": "bigint"}
    got = {r.vertex: r.component for r in out.collect()}
    assert got == {2: 2, 10: 2, 3: 2, 7: 7}


def test_connected_components_numeric_matches_string_semantics(spark):
    """On the same graph, the numeric path groups vertices identically to
    the string path (components compare equal as partitions)."""
    pairs = [(1, 5), (5, 9), (20, 21), (33, 33)]
    num = connected_components(
        spark.createDataFrame(pairs, "src long, dst long"))
    s = connected_components(
        spark.createDataFrame([(f"{a:03d}", f"{b:03d}") for a, b in pairs],
                              "src string, dst string"))
    num_groups = {}
    for r in num.collect():
        num_groups.setdefault(r.component, set()).add(int(r.vertex))
    s_groups = {}
    for r in s.collect():
        s_groups.setdefault(r.component, set()).add(int(r.vertex))
    assert sorted(map(sorted, num_groups.values())) == \
        sorted(map(sorted, s_groups.values()))
