"""Counter/gauge metric semantics over the conn_stats fixture: windowed
deltas, reset clamping, rates — the pattern behind the reference's
overview scripts."""

import pytest
from pyspark.sql import functions as F

from pixie_spark.functions.metrics import counter_delta, counter_rate, gauge_summary
from pixie_spark.sources.fixtures import BASE_NS, conn_stats_fixture


@pytest.fixture(scope="module")
def conn(spark):
    # the upid-grouped counter assertions below assume ONE series per upid;
    # keep the server-side series (the client series tests net_flow_graph)
    return conn_stats_fixture(spark).where(F.col("trace_role") == 2)


WIN = 60_000_000_000  # 1 min windows over 10s samples


def test_counter_delta_positive_and_windowed(spark, conn):
    out = counter_delta(conn, ["upid"], "time_", ["bytes_sent", "bytes_recv"], WIN)
    rows = out.collect()
    assert rows and all(r["bytes_sent_delta"] >= 0 for r in rows)
    # 10 pods x 10 windows of 6 samples
    assert len(rows) == 100
    assert all(r["time_"] % WIN == 0 for r in rows)


def test_counter_reset_clamped(spark, conn):
    """Pod 0 resets counters mid-series; the delta in that window must be
    clamped ≥ 0, not hugely negative."""
    out = counter_delta(conn, ["upid"], "time_", ["bytes_sent"], WIN)
    pod0 = out.where(F.col("upid.high") == (1 << 32) + 1000)
    assert all(r["bytes_sent_delta"] >= 0 for r in pod0.collect())


def test_counter_rate_units(spark, conn):
    out = counter_rate(conn, ["upid"], "time_", ["bytes_sent"], WIN)
    r = out.first()
    assert r["bytes_sent_per_s"] == pytest.approx(r["bytes_sent_delta"] / 60.0)


def test_gauge_summary(spark, conn):
    out = gauge_summary(conn, ["upid"], "time_", ["conn_active"], WIN)
    rows = out.collect()
    assert rows and all(r["conn_active_avg"] == 1.0 and r["conn_active_max"] == 1 for r in rows)


def test_total_traffic_matches_final_counters(spark, conn):
    """Sum of windowed deltas ≈ final counter value per pod (exactly, for
    pods without resets)."""
    out = counter_delta(conn, ["upid"], "time_", ["bytes_recv"], WIN)
    total = {
        r["upid"]["high"]: r["s"]
        for r in out.groupBy("upid").agg(F.sum("bytes_recv_delta").alias("s")).collect()
    }
    finals = {
        r["upid"]["high"]: r["f"]
        for r in conn.groupBy("upid").agg(F.max("bytes_recv").alias("f")).collect()
    }
    no_reset = [(k, v) for k, v in finals.items() if k != (1 << 32) + 1000]
    for k, f in no_reset:
        # deltas miss the increments BETWEEN windows (max-min within each);
        # allow that slack but require ≥ 80% coverage and never exceeding
        assert total[k] <= f
        assert total[k] >= 0.8 * f


def test_flagship_net_flow_graph(spark, conn):
    """Port of net_flow_graph.pxl (ref: src/pxl_scripts/px/net_flow_graph/):
    conn_stats → windowed counter deltas per (upid, remote_addr) →
    resolve both endpoints → edge list with byte totals."""
    import pixie_spark.api as px
    from pixie_spark.functions.metadata import MetadataResolver
    from pixie_spark.sources.fixtures import k8s_fixtures

    pods, services = k8s_fixtures(spark)
    r = MetadataResolver(pods, services)

    deltas = counter_delta(
        conn, ["upid", "remote_addr"], "time_", ["bytes_sent", "bytes_recv"], WIN
    )
    edges = (
        deltas.groupBy("upid", "remote_addr")
        .agg(
            F.sum("bytes_sent_delta").alias("bytes_sent"),
            F.sum("bytes_recv_delta").alias("bytes_recv"),
        )
    )
    px.set_context(spark, tables={}, metadata=r)
    df = px.from_spark(edges)
    df.pod_name = df.ctx["pod_name"]
    df.service_name = df.ctx["service_name"]
    rows = df.to_spark().where(F.col("service_name") != "").collect()
    assert rows
    assert all(row["bytes_sent"] >= 0 and row["bytes_recv"] >= 0 for row in rows)
    assert all("/" in row["service_name"] for row in rows)
