"""Intermediate materialization: executor cache vs written table.

Some pair operators (the n-gram shingle table, the SRP vector table)
compute an intermediate once and read it from several downstream
joins.  On a single machine and
at bench scale ``persist()`` (MEMORY_AND_DISK) is the right tool; at
the 10^12-row end every operator docstring has carried the same note —
"swap the persist for a written table" — because executor block-store
caching of a corpus-sized intermediate competes with shuffle memory,
dies with lost executors, and cannot be shared across jobs or
restarts.

``cache_intermediate`` makes that documented knob real code instead of
a comment: when ``SPARK_GRAFT_SPILL_DIR`` is set (any Hadoop-supported
URI — HDFS / S3A / local), the intermediate is written there as
parquet and read back, so downstream consumers scan a real columnar
table (restartable, partition-pruned, off-JVM-heap) instead of cached
blocks.  Unset (the default), behavior is byte-for-byte the previous
``persist()`` path.

Lifecycle: written intermediates are files the CALLER's directory
owns — the operators' ``unpersist()`` release calls are no-ops on a
read-back frame, matching how a production pipeline manages a scratch
prefix (per-run directory, deleted by the orchestrator).  Paths embed
a per-process counter + pid, so concurrent operators in one session
never collide, and a retried stage overwrites nothing (a fresh call
writes a fresh path).
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame

_SPILL_ENV = "SPARK_GRAFT_SPILL_DIR"
_counter = itertools.count()


def spill_dir() -> str | None:
    """The active spill prefix, or None for executor-cache mode."""
    return os.environ.get(_SPILL_ENV) or None


def _write_roundtrip(df: DataFrame, prefix: str, name: str) -> DataFrame:
    path = os.path.join(
        prefix, f"{name}_{os.getpid()}_{next(_counter)}")
    df.write.mode("error").parquet(path)
    return df.sparkSession.read.parquet(path)


def cache_intermediate(df: DataFrame, name: str) -> DataFrame:
    """Materialize a multiply-consumed intermediate.

    Returns a DataFrame equivalent to ``df`` that downstream plans can
    consume repeatedly without recomputing the producing lineage:
    ``df.persist()`` by default, or a written-and-read-back parquet
    table under ``$SPARK_GRAFT_SPILL_DIR``.  Callers keep calling
    ``.unpersist()`` on the result when done — a no-op in spill mode.
    """
    prefix = spill_dir()
    if not prefix:
        return df.persist()
    return _write_roundtrip(df, prefix, name)


def checkpoint_intermediate(df: DataFrame, name: str) -> DataFrame:
    """Lineage-truncating materialization for ITERATIVE algorithms.

    ``localCheckpoint(eager=True)`` by default — blocks live on
    executors, so a lost executor loses the checkpoint and the
    truncated lineage cannot recompute it (acceptable single-machine,
    fatal on a churning cluster).  With ``SPARK_GRAFT_SPILL_DIR`` set
    this becomes the reliable equivalent: a parquet write + read-back,
    which truncates lineage just the same but survives any executor
    loss (the per-iteration labels of connected_components are narrow
    two-column tables, so the write cost is small relative to the
    iteration's join).
    """
    prefix = spill_dir()
    if not prefix:
        return df.localCheckpoint(eager=True)
    return _write_roundtrip(df, prefix, name)
