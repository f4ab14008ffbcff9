"""The two lineage cuts (round-8 verdict #3).

Every lineage cut in the package goes through
pixie_spark.materialize.materialize, and the session's master picks the
cut: ``localCheckpoint`` under ``local``/``local[...]``, a reliable
``checkpoint`` under every other master. The test session is local, so
the reliable cut is forced through the one private seam,
``materialize._local_master``.

Results must be BIT-IDENTICAL across the two cuts: the cut changes
where bytes live, never what they are. Each case below runs once per
cut: the minhash-LSH dedup query (signatures are materialized and feed
both the band explosion and the verify join), connected components as
a driver-resolved small graph and, with the cap forced to -1, through
the alternating-star loop (a cut per round), PageRank (lazy cuts under
the local cut, eager ones under the reliable cut), and the corrupt-line
scan, which Spark refuses to analyze without a cut.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
# the concrete class: Spark 4 frames are classic DataFrames, whose
# methods override the pyspark.sql.DataFrame base's
from pyspark.sql.classic.dataframe import DataFrame

from tests.conftest import SF_DIR

from pixie_spark import materialize as M
from pixie_spark.operators import clustering
from pixie_spark.queries import QUERIES


def _under_both_cuts(monkeypatch, run):
    """``run()`` under the local cut, then under the reliable cut. The
    reliable run must checkpoint and never reach ``localCheckpoint``."""
    local = run()
    assert local  # a vacuous parity proof would prove nothing
    reliable_cuts = []
    checkpoint = DataFrame.checkpoint

    def refuse(self, *a, **k):
        raise AssertionError("localCheckpoint under the reliable cut")

    def counting(self, *a, **k):
        reliable_cuts.append(1)
        return checkpoint(self, *a, **k)

    with monkeypatch.context() as m:
        m.setattr(M, "_local_master", lambda master: False)
        m.setattr(DataFrame, "localCheckpoint", refuse)
        m.setattr(DataFrame, "checkpoint", counting)
        reliable = run()
    assert reliable_cuts
    return local, reliable


def _query(name):
    return lambda spark, tmp_path: sorted(
        map(str, QUERIES[name].fn(spark, SF_DIR).collect())
    )


def _pagerank(dangling):
    """Full-precision ranks (``str`` of a float is its repr). The
    dangling-free graph takes lazy cuts under the local cut and eager
    ones under the reliable cut; the dangling graph is eager under
    both."""

    def run(spark, tmp_path):
        from pixie_spark.operators.graph import pagerank

        ids = spark.range(200).select(F.col("id").alias("doc_id"))
        edges = ids.select(
            F.col("doc_id").cast("string").alias("src"),
            ((F.col("doc_id") * 31 + 7) % 200).cast("string").alias("dst"),
        ).union(
            ids.select(
                F.col("doc_id").cast("string").alias("src"),
                ((F.col("doc_id") * 17 + 3) % 50).cast("string").alias("dst"),
            )
        )
        if dangling:
            edges = edges.union(
                spark.createDataFrame([("0", "sink")], "src string, dst string")
            )
        edges = edges.where(F.col("src") != F.col("dst")).distinct()
        return sorted(map(str, pagerank(edges, max_iter=7, check_every=3).collect()))

    return run


def _corrupt_line_count(spark, tmp_path):
    """Spark refuses a query whose only referenced column is the
    internal corrupt-record column; either cut turns it into data."""
    from pixie_spark.sources.jsonl import corrupt_line_count

    p = tmp_path / "mixed.jsonl"
    p.write_text('{"doc_id": 1, "text": "ok"}\nnot json at all\n{"doc_id": 2}\n{"doc_id": \n')
    n = corrupt_line_count(spark, str(p), {"doc_id": "long", "text": "string"})
    assert n == 2
    return n


@pytest.mark.parametrize(
    "run,cap",
    [
        pytest.param(_query("dedup_minhash_lsh"), None, id="dedup_minhash_lsh"),
        pytest.param(_query("dedup_clusters"), None, id="dedup_clusters"),
        # cap -1: the pair graph takes the star loop under both cuts
        pytest.param(_query("dedup_clusters"), -1, id="dedup_clusters-star_loop"),
        pytest.param(_pagerank(False), None, id="pagerank-dangling_free"),
        pytest.param(_pagerank(True), None, id="pagerank-dangling"),
        pytest.param(_corrupt_line_count, None, id="corrupt_line_count"),
    ],
)
def test_strategies_bit_identical(spark, monkeypatch, tmp_path, run, cap):
    if cap is not None:
        monkeypatch.setattr(clustering, "LOCAL_MAX_EDGES", cap)
    local, reliable = _under_both_cuts(monkeypatch, lambda: run(spark, tmp_path))
    assert reliable == local


@pytest.mark.parametrize(
    "master,local",
    [
        ("local", True),
        ("local[4]", True),
        ("local[*]", True),
        ("local-cluster[2,1,1024]", False),
        ("spark://h:7077", False),
        ("yarn", False),
        ("k8s://https://kubernetes.default.svc:443", False),
    ],
)
def test_master_picks_the_cut(master, local):
    assert M._local_master(master) is local
