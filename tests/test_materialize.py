"""Materialization-strategy matrix (round-8 verdict #3).

Every lineage-cut in the package goes through
pixie_spark.materialize.materialize, whose strategy is the session
config ``spark.pixie_spark.materialize``:

- localCheckpoint — local-mode default (executor block storage);
- persist — DISK_ONLY, cluster-safe under executor loss;
- checkpoint — reliable checkpoint dir, the 100 TB-run strategy.

Results must be BIT-IDENTICAL across strategies: the cut changes where
bytes live, never what they are. The matrix runs one dedup query (the
minhash-LSH path: signatures are materialized and feed both the band
explosion and the verify join) and one connected-components query
under each strategy, both as a driver-resolved small graph and, with
the cap forced to -1, through the alternating-star loop (a materialize
per round, truncation-required).
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR

from pixie_spark.materialize import (
    CONF_STRATEGY,
    _STRATEGIES,
    materialize,
)
from pixie_spark.operators import clustering
from pixie_spark.queries import QUERIES


def _run_under(spark, strategy, name):
    old = spark.conf.get(CONF_STRATEGY, "localCheckpoint")
    spark.conf.set(CONF_STRATEGY, strategy)
    try:
        return sorted(map(str, QUERIES[name].fn(spark, SF_DIR).collect()))
    finally:
        spark.conf.set(CONF_STRATEGY, old)


@pytest.mark.parametrize(
    "name,cap",
    [
        pytest.param("dedup_minhash_lsh", None, id="dedup_minhash_lsh"),
        pytest.param("dedup_clusters", None, id="dedup_clusters"),
        # cap -1: the pair graph takes the star loop under every strategy
        pytest.param("dedup_clusters", -1, id="dedup_clusters-star_loop"),
    ],
)
def test_strategies_bit_identical(spark, monkeypatch, name, cap):
    if cap is not None:
        monkeypatch.setattr(clustering, "LOCAL_MAX_EDGES", cap)
    base = _run_under(spark, "localCheckpoint", name)
    assert base  # a vacuous parity proof would prove nothing
    for strategy in ("persist", "checkpoint"):
        assert _run_under(spark, strategy, name) == base, strategy


def test_persist_escalates_when_truncation_required(spark, tmp_path):
    """The corrupt-record scan is semantically broken without lineage
    truncation (Spark refuses a query whose only referenced column is
    the internal corrupt-record column) — under the persist strategy
    materialize must escalate to a real checkpoint, not degrade."""
    from pixie_spark.sources.jsonl import corrupt_line_count

    p = tmp_path / "mixed.jsonl"
    p.write_text('{"doc_id": 1, "text": "ok"}\nnot json at all\n')
    old = spark.conf.get(CONF_STRATEGY, "localCheckpoint")
    spark.conf.set(CONF_STRATEGY, "persist")
    try:
        assert corrupt_line_count(
            spark, str(p), {"doc_id": "long", "text": "string"}
        ) == 1
    finally:
        spark.conf.set(CONF_STRATEGY, old)


def test_release_bounds_persisted_copies(spark):
    """Iterative callers pass release=<last round's frame>: under the
    persist strategy a loop must hold a bounded number of cached copies
    (2), never one per round — the leak a long cluster job cannot
    afford."""
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    old = spark.conf.get(CONF_STRATEGY, "localCheckpoint")
    spark.conf.set(CONF_STRATEGY, "persist")
    try:
        baseline = sc._jsc.sc().getPersistentRDDs().size()
        cur = materialize(spark.range(100))
        for _ in range(6):
            cur = materialize(
                cur.withColumn("id", F.col("id") + 1), release=cur
            )
        assert cur.count() == 100
        grown = sc._jsc.sc().getPersistentRDDs().size() - baseline
        assert grown <= 2, f"{grown} persisted frames left by a 6-round loop"
        cur.unpersist()
    finally:
        spark.conf.set(CONF_STRATEGY, old)


def test_unknown_strategy_rejected(spark):
    df = spark.range(3)
    old = spark.conf.get(CONF_STRATEGY, "localCheckpoint")
    spark.conf.set(CONF_STRATEGY, "ramdisk")
    try:
        with pytest.raises(ValueError, match="ramdisk"):
            materialize(df)
    finally:
        spark.conf.set(CONF_STRATEGY, old)


def test_strategy_constant_matches_docs():
    assert _STRATEGIES == ("localCheckpoint", "persist", "checkpoint")
