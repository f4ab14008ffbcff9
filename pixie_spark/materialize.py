"""Shared materialization point: every lineage cut in the package.

Iterative operators (connected components, PageRank, the rollup
cascade) and multi-consumer plans (a frame feeding both a count and a
join) need a point where the plan is cut: lineage truncated so
iteration N's plan does not nest N-1 plans, and the rows pinned so two
consumers observe the SAME evaluation (a non-deterministic source must
not diverge between them — see ivf_index_search, shard assignment).

The session's master picks the cut; there is no setting:

- ``local`` / ``local[N]`` / ``local[*]`` — ``localCheckpoint``. The
  driver and the executors are one JVM, so the blocks cannot outlive
  the process that reads them and no recovery story is needed.
- every other master, ``local-cluster[...]`` included —
  ``checkpoint`` into the checkpoint directory
  (``spark.pixie_spark.checkpointDir``, seeded by
  ``SPARK_GRAFT_CHECKPOINT_DIR``; point it at HDFS/S3 on a real
  cluster). A local checkpoint's blocks live only in executor storage,
  so one lost executor would abort the job (SCALE.md "Materialization
  strategy"); the reliable checkpoint truncates lineage and survives
  executor loss.

Both cuts truncate lineage, and ``unpersist()`` frees neither: a
local checkpoint's blocks belong to its internal RDD, not the cache
manager, and a reliable checkpoint is files. Spark's ContextCleaner
reclaims both once the frame is unreferenced (session.py enables
cleanCheckpoints).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

CONF_CKPT_DIR = "spark.pixie_spark.checkpointDir"


def _local_master(master: str) -> bool:
    return master == "local" or master.startswith("local[")


def local_cut(spark: SparkSession) -> bool:
    """True when ``materialize`` cuts with ``localCheckpoint`` on this
    session, False when it writes a reliable checkpoint."""
    return _local_master(spark.sparkContext.master)


def _ensure_checkpoint_dir(df: DataFrame) -> None:
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().getCheckpointDir().isEmpty():
        default = os.path.join(tempfile.gettempdir(), "pixie_spark_checkpoints")
        sc.setCheckpointDir(
            df.sparkSession.conf.get(
                CONF_CKPT_DIR, os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR", default)
            )
        )


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut the plan here, with the cut the session's master calls for.

    ``eager`` — evaluate now (default). ``eager=False`` only marks the
    cut; the first downstream action pays for it (used where the caller
    knows a single action follows immediately, e.g. the rollup
    cascade's next level). A lazy reliable checkpoint evaluates the
    plan twice, once for that action and once for its write pass.
    """
    if local_cut(df.sparkSession):
        return df.localCheckpoint(eager=eager)
    _ensure_checkpoint_dir(df)
    return df.checkpoint(eager=eager)
