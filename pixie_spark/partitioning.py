"""Scale-adaptive parallelism helpers (optimization round 11).

Two problems the optimization guide names, both measured on this repo
(OPTIMIZATION_r11.md "Baseline measurements"):

1. **Heavy map work stranded on the map side of a later exchange**
   (guide §2.3 "project before the exchange" / §8 "move big rows
   once"). The word-explode family (shingles, n-gram stats, features)
   reads documents, posexplodes words, THEN shuffles the exploded word
   rows to the per-doc window. The split/explode/hash work runs at
   SCAN parallelism — 1 task for a single-row-group file — and the
   exchange carries word rows (strictly more bytes than the raw text).
   `by_key` moves the exchange BEFORE the explode: the same single
   shuffle now carries raw text, the heavy per-row work runs at
   shuffle parallelism, and the per-doc window/groupBy downstream
   reuses the hash partitioning (ClusteredDistribution is satisfied by
   HashPartitioning on a key subset), so the exchange COUNT is
   unchanged at any scale and the bytes moved go DOWN.

2. **Scans that cannot feed the cluster** (guide §2.5 "input skew: one
   huge unsplittable file ... repartition immediately after the
   read"). Parquet cannot split inside a row group, so
   `spark.sql.files.maxPartitionBytes` / `minPartitionNum` are
   powerless against few-row-group files; per-row-heavy map-only
   branches (regex shape stats) then run near-serial. `spread_if_narrow`
   round-robins ONLY when the frame's planned partition count is below
   the target — a no-op at 100 TB where scans carry thousands of
   splits, and a few-MB shuffle on the tiers where it engages.

Partition counts are CONFIG-derived (`spark.sql.shuffle.partitions` —
cluster-sized on a real deployment, core-count locally), never
constants. The explicit numPartitions on `by_key` is deliberate: a
numberless repartition is subject to AQE partition coalescing, which
optimizes for shuffle BYTES and serializes CPU-heavy small-byte stages
(measured: gopher's gram pipeline ran 1–4 tasks of 32).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def shuffle_partitions(df: DataFrame) -> int:
    """The session's configured shuffle parallelism (AQE's initial
    partition number when adaptive planning is on)."""
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))


def by_key(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-partition ``df`` by ``cols`` at the configured shuffle
    parallelism, pinned against AQE coalescing (explicit numPartitions
    → REPARTITION_BY_NUM origin). Place it where the per-row payload is
    SMALLEST (before an explode) so downstream windows/groupBys keyed on
    a superset of ``cols`` inherit the partitioning shuffle-free."""
    return df.repartition(shuffle_partitions(df), *cols)


def spread_if_narrow(df: DataFrame, target: int | None = None) -> DataFrame:
    """Round-robin ``df`` to ``target`` partitions ONLY when its planned
    partition count is lower — the single-row-group-file escape hatch.
    No-op (and no added exchange) whenever the source already feeds the
    cluster, so it is safe on any scale path. The count is read off the
    frame's own physical plan (the RDD its execution would run), with no
    Python RDD built around it."""
    if target is None:
        target = shuffle_partitions(df)
    n = df._jdf.queryExecution().toRdd().getNumPartitions()
    return df.repartition(target) if n < target else df
