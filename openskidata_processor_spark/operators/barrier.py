"""Materialization barriers with a cluster-durable mode.

Two distinct needs, two helpers:

- ``materialize(df)`` — mark a subplan that is *reused by multiple
  downstream consumers* (e.g. a shingle table feeding both sides of a
  self-join).  Default is a lazy ``persist(MEMORY_AND_DISK)``: nothing runs
  until the first action, blocks spill to disk rather than evicting, and —
  critically for a 1000-executor cluster — lineage is retained, so an
  executor loss triggers recompute instead of job death.  This replaced the
  round-2 eager ``localCheckpoint`` barriers, whose serialized up-front
  materialization caused 2–5× run-to-run variance and whose non-reliable
  blocks are unrecoverable on executor loss.

- ``truncate_lineage(df)`` — cut the logical plan inside iterative
  algorithms (connected components) where plan growth, not reuse, is the
  problem.  It is also the fan-out barrier for pandas-UDF outputs: a
  frame whose Python UDFs feed several branches (a formatted layer read
  by the site join and by normalization, the merged segment table of run
  normalization) is cut once, so each UDF runs once per row instead of
  once per branch.
  Locally this is ``localCheckpoint`` (fast, executor-memory); with
  reliable mode on it becomes a real ``checkpoint()`` to the configured
  checkpoint directory, which survives executor loss.

Reliable mode is enabled per-call (``reliable=True``) or globally with
``SPARK_GRAFT_RELIABLE_CHECKPOINT=1``; the checkpoint directory defaults to
``SPARK_GRAFT_CHECKPOINT_DIR`` or a local temp dir (on a real cluster set
it to an HDFS/S3 path).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


def _reliable_mode(reliable: bool | None) -> bool:
    if reliable is not None:
        return reliable
    return os.environ.get("SPARK_GRAFT_RELIABLE_CHECKPOINT", "") in (
        "1", "true", "yes")


def _ensure_checkpoint_dir(df: DataFrame) -> None:
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        sc.setCheckpointDir(
            os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
            or tempfile.mkdtemp(prefix="spark_graft_ckpt_"))


def materialize(df: DataFrame, reliable: bool | None = None) -> DataFrame:
    """Barrier for a subplan consumed by multiple downstream operators."""
    if _reliable_mode(reliable):
        _ensure_checkpoint_dir(df)
        return df.checkpoint(eager=False)
    return df.persist(StorageLevel.MEMORY_AND_DISK)


def materialize_now(df: DataFrame, reliable: bool | None = None) -> DataFrame:
    """``materialize`` + immediate cache fill, for subplans whose consumers
    are INDEPENDENT leaf stages of one query (self-join sides, multi-leg
    unions).  AQE submits such stages concurrently, and a lazily persisted
    frame is then computed once PER STAGE — none of the racing tasks sees
    the others' in-progress blocks, so an expensive upstream (a pandas-UDF
    chain, a corpus-scale shingle explode) runs N× instead of 1×
    (measured: 12 concurrent ~3 s synth recomputes in
    ``multimodal_near_dup_groups`` before this barrier existed).  The
    ``count()`` is one extra scheduled job but does no extra WORK — it
    performs the cache build the first consumer stage would have done,
    after which every consumer reads the cached blocks.  Lineage is
    retained (eviction/executor loss recomputes), unlike a checkpoint."""
    out = materialize(df, reliable=reliable)
    out.count()
    return out


def spread_input(df: DataFrame) -> DataFrame:
    """Repartition up to the session's parallelism when the input arrives
    as fewer files than cores (bench testdata is single-row-group parquet,
    so EVERY scan stage otherwise runs as one task and serializes the
    per-row work — regex tokenization, shingle explodes, fold expressions,
    encode UDFs — onto one core until the first shuffle; guide §2.5
    "input skew: one huge unsplittable file → repartition right after the
    read").  Uses the scan's file list, not ``df.rdd.getNumPartitions()``
    (which forces an RDD conversion of the plan per call); at real scale
    the scan has many files/splits and this is a no-op.  Only worth
    inserting where the scan stage's per-row compute dominates the one
    round-robin exchange it adds."""
    par = df.sparkSession.sparkContext.defaultParallelism
    try:
        nfiles = len(df.inputFiles())
    except Exception:
        nfiles = 0
    if 0 < nfiles < par:
        return df.repartition(par)
    return df


def truncate_lineage(df: DataFrame, eager: bool = True,
                     reliable: bool | None = None) -> DataFrame:
    """Lineage cut for iterative loops / staged pipelines (plans must stay
    bounded) and for UDF outputs read by several branches.
    ``eager=False`` defers materialization to the first action."""
    if _reliable_mode(reliable):
        _ensure_checkpoint_dir(df)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
