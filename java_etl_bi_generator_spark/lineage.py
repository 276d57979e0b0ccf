"""Lineage cuts that survive a real cluster.

Iterative algorithms (label propagation, PageRank) and multi-consumer
subtrees (shared basket tables, the range-partitioned frame inside the
distributed rank) need their lineage cut: without it Spark either
re-executes the subtree per consumer or accumulates an unbounded plan
across iterations.

``localCheckpoint`` cuts lineage by storing blocks on executors — fast,
but NON-RECOMPUTABLE: on a multi-executor cluster a lost executor kills
the job, because the checkpointed blocks have no lineage to rebuild from.
``checkpoint()`` writes to the configured checkpoint directory (HDFS/S3)
and is recoverable, at the cost of a round-trip through storage.

``cut_lineage`` picks automatically: reliable ``checkpoint()`` whenever a
checkpoint directory is configured on the SparkContext (set one with
``configure_checkpoint_dir`` or ``spark.sparkContext.setCheckpointDir``;
any production deployment should), else ``localCheckpoint`` — correct for
single-node/local runs where executor loss means driver loss anyway.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def checkpoint_dir(spark: SparkSession) -> str | None:
    """The configured reliable checkpoint directory, if any."""
    return spark.sparkContext.getCheckpointDir()


def configure_checkpoint_dir(
    spark: SparkSession, path: str | None = None
) -> str | None:
    """Point the session at a reliable checkpoint location.

    ``path`` defaults to ``$SPARK_GRAFT_CHECKPOINT_DIR`` when set; with
    neither, this is a no-op (local runs keep ``localCheckpoint``).
    """
    path = path or os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if path:
        spark.sparkContext.setCheckpointDir(path)
    return checkpoint_dir(spark)


def cut_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` and truncate its lineage.

    Reliable ``checkpoint()`` when the context has a checkpoint dir
    (recomputable from storage after executor loss — the only safe form
    on a 1000-executor cluster), else ``localCheckpoint`` (executor
    block storage; fine where driver and executor share a fate).

    What runs when, with AQE on (the session default):

    - ``eager=True`` runs everything now: each shuffle stage under the
      cut as a job of its own, then a count job that stores the blocks.
    - ``eager=False`` still runs the shuffle stages under the cut now,
      at call time, as jobs: building the checkpoint RDD makes AQE plan
      its final stage, and AQE plans a stage only after the shuffles it
      reads have run.  It defers only the last stage, the one after
      the final exchange: that stage runs, and its blocks are stored,
      in the first action on the result (a stage's funnel count, a
      loop's convergence aggregate), which saves the count job.  A plan
      with no exchange runs nothing at call time.
    """
    if checkpoint_dir(df.sparkSession) is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
