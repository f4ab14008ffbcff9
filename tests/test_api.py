"""PxL API facade tests — ports of reference end-to-end query tests.

The micro tables and expected values follow src/carnot/carnot_test.cc
(test_table at :80-131; cases 'basic', 'map_test', 'range_test',
'group_by_test', 'string_filter', 'multiple_display_calls') and the
FIXTURES.md §7 engine-test tables.
"""

import pytest
from pyspark.sql import functions as F

import pixie_spark.api as px


@pytest.fixture()
def ctx(spark):
    # test_table: col1 float64, col2 int64 — 2 batches: {0.5,1.2,5.3}/{1,2,3}
    # then {0.1,5.1}/{5,6} (carnot_test.cc:80-131)
    test_table = spark.createDataFrame(
        [(0.5, 1), (1.2, 2), (5.3, 3), (0.1, 5), (5.1, 6)], ["col1", "col2"]
    )
    # duration_table (range_test_multiple_rbs): time_ ns + col2
    duration_table = spark.createDataFrame(
        [(i * 1_000_000_000, i) for i in range(10)], ["time_", "col2"]
    )
    strings_table = spark.createDataFrame(
        [("sup", 1), ("hello", 2), ("agh", 3)], ["col1", "col2"]
    )
    px.set_context(
        spark,
        tables={
            "test_table": test_table,
            "duration_table": duration_table,
            "strings_table": strings_table,
        },
    )
    return px


def collect_rows(df):
    sdf = df.to_spark() if hasattr(df, "to_spark") else df
    return [tuple(r) for r in sdf.collect()]


def test_basic_select(ctx):
    """carnot_test.cc 'basic': pass-through select of registered table."""
    df = px.DataFrame("test_table")
    assert sorted(collect_rows(df)) == [(0.1, 5), (0.5, 1), (1.2, 2), (5.1, 6), (5.3, 3)]


def test_map_column_assignment(ctx):
    """carnot_test.cc 'map_test': df['res'] = 2 + df.col2."""
    df = px.DataFrame("test_table")
    df["res"] = 2 + df.col2
    out = df[["res"]]
    assert sorted(r[0] for r in collect_rows(out)) == [3, 4, 5, 7, 8]


def test_filter_bracket(ctx):
    df = px.DataFrame("test_table")
    out = df[df.col1 > 1.0]
    assert sorted(r[1] for r in collect_rows(out)) == [2, 3, 6]


def test_string_filter(ctx):
    """carnot_test.cc 'string_filter' (contains)."""
    df = px.DataFrame("strings_table")
    out = df[df.col1.contains("h")]
    assert sorted(r[0] for r in collect_rows(out)) == ["agh", "hello"]


def test_range_on_time(ctx):
    """carnot_test.cc 'range_test_multiple_rbs': time_-range scan."""
    df = px.DataFrame("duration_table", start_time=2_000_000_000, end_time=6_000_000_000)
    assert sorted(r[1] for r in collect_rows(df)) == [2, 3, 4, 5]


def test_groupby_agg_tuple_syntax(ctx):
    """carnot_test.cc 'group_by_test' + PxL agg tuples (dataframe.h:230)."""
    df = px.DataFrame("test_table")
    df["k"] = df.col2 % 2
    out = df.groupby(["k"]).agg(
        n=("col2", "px.count"),
        total=("col1", "px.sum"),
        biggest=("col1", "px.max"),
    )
    rows = {r[0]: r[1:] for r in collect_rows(out)}
    assert rows[0] == (2, pytest.approx(6.3), pytest.approx(5.1))  # col2 ∈ {2,6}
    assert rows[1] == (3, pytest.approx(5.9), pytest.approx(5.3))  # col2 ∈ {1,3,5}


def test_agg_group_by_none(ctx):
    df = px.DataFrame("test_table")
    out = df.agg(total=("col2", "px.sum"))
    assert collect_rows(out) == [(17,)]


def test_head_and_drop_and_keep(ctx):
    df = px.DataFrame("test_table")
    assert len(collect_rows(df.head(3))) == 3
    assert df.drop("col1").columns == ["col2"]
    assert df[["col2"]].columns == ["col2"]


def test_merge_with_suffixes(ctx):
    """dataframe.h:284 merge semantics incl. suffix renaming."""
    left = px.DataFrame("test_table")
    right = px.DataFrame("test_table")
    out = left.merge(right, how="inner", left_on="col2", right_on="col2", suffixes=("_x", "_y"))
    # every shared name — join keys included — carries its side suffix
    assert sorted(out.columns) == ["col1_x", "col1_y", "col2_x", "col2_y"]
    assert len(collect_rows(out)) == 5
    # PxL-style asymmetric suffixes: left keeps bare names
    out2 = left.merge(right, how="inner", left_on="col2", right_on="col2", suffixes=("", "_x"))
    assert sorted(out2.columns) == ["col1", "col1_x", "col2", "col2_x"]


def test_append_union(ctx):
    df = px.DataFrame("test_table")
    out = df.append(df)
    assert len(collect_rows(out)) == 10


def test_rolling_window_agg(ctx):
    """rolling_ir.h:44-57: tumbling 2s windows over duration_table."""
    df = px.DataFrame("duration_table")
    out = df.rolling("2s").groupby([]).agg(n=("col2", "px.count"))
    rows = dict(collect_rows(out))
    # 10 rows at 0..9s → five 2s buckets of 2
    assert rows == {
        0: 2,
        2_000_000_000: 2,
        4_000_000_000: 2,
        6_000_000_000: 2,
        8_000_000_000: 2,
    }


def test_multiple_display_calls(ctx):
    """carnot_test.cc 'multiple_display_calls': one script, several named
    outputs (MergeNodesRule territory — shared lineage is free here)."""
    df = px.DataFrame("test_table")
    a = df[df.col1 > 1.0]
    b = df.agg(total=("col2", "px.sum"))
    px.display(a, "filtered")
    px.display(b, "total")
    res = px.results()
    assert set(res) == {"filtered", "total"}
    assert res["total"].first()["total"] == 17


def test_display_implicit_limit(ctx, spark):
    """add_limit_to_batch_result_sink_rule.h: batch results are capped."""
    big = spark.range(20_000).withColumnRenamed("id", "col2")
    px.register_table("big", big)
    out = px.display(px.from_spark(big), "big_out")
    assert out.count() == 10_000


def test_equals_any_and_time_helpers(ctx):
    assert px.seconds(2) == 2_000_000_000
    assert px.parse_duration("-5m") == -300_000_000_000
    assert px.strptime("2024-01-01", "%Y-%m-%d") == 1_704_067_200_000_000_000
    df = px.DataFrame("strings_table")
    out = df[px.equals_any(df.col1, ["sup", "agh"])]
    assert len(collect_rows(out)) == 2


def test_sql_surface(ctx):
    out = px.sql("SELECT count(*) AS n FROM test_table WHERE col1 > 1.0")
    assert collect_rows(out) == [(3,)]


def test_uint128():
    high, low = px.uint128("00000001-0000-0002-0000-000000000003")
    assert high == (1 << 32) | 2 and low == 3


def test_run_script_entry_point(ctx):
    """ExecuteScript parity: a PxL-flavored script string → named results
    (ref: query_executor.go:167 Run)."""
    code = """
df = px.DataFrame('test_table')
df['doubled'] = df.col2 * 2
big = df[df.col1 > 1.0]
px.display(big[['col2', 'doubled']], 'big_rows')
px.display(df.agg(total=('col2', 'px.sum')), 'total')
"""
    res = px.run_script(code)
    assert set(res) == {"big_rows", "total"}
    assert res["total"].first()["total"] == 17
    assert sorted(r["doubled"] for r in res["big_rows"].collect()) == [4, 6, 12]


def test_get_agent_status_udtf(ctx):
    df = px.get_agent_status()
    rows = df.collect()
    assert rows and all(r["total_cores"] >= 1 for r in rows)


def test_append_ordered_time_merge(ctx):
    """union_node.cc:172-287 time-ordered merge parity: append(ordered=True)
    yields globally time-sorted output across partitions."""
    a = px.DataFrame("duration_table")[["time_", "col2"]]
    b = px.DataFrame("duration_table")[["time_", "col2"]]
    out = a.append(b, ordered=True).to_spark()
    times = [r["time_"] for r in out.collect()]
    assert times == sorted(times)
    assert len(times) == 20


def test_px_debug_explains(ctx):
    df = px.DataFrame("test_table")
    plan = px.debug(df[df.col1 > 1.0])
    assert "Physical Plan" in plan and "Filter" in plan


def test_rolling_consumed_by_one_agg(ctx):
    """rolling applies to exactly the NEXT agg — a second aggregation on
    the result must NOT re-group by the window column."""
    df = px.DataFrame("duration_table")
    per_win = df.rolling("2s").groupby([]).agg(n=("col2", "px.count"))
    total = per_win.agg(s=("n", "px.sum"))
    rows = collect_rows(total)
    assert rows == [(10,)]  # one global row, not one per window


def test_merge_requires_keys_and_defaults_right_on(ctx):
    df = px.DataFrame("test_table")
    with pytest.raises(ValueError, match="left_on"):
        df.merge(px.DataFrame("test_table"), how="inner")
    out = df.merge(px.DataFrame("test_table"), how="inner", left_on="col2")
    assert len(collect_rows(out)) == 5


def test_strptime_microsecond_exact():
    """Regression: float64 timestamp() quantizes sub-second parts at
    ~238ns near current epochs; strptime must be ns-exact."""
    got = px.strptime("2026-08-13 00:00:00.123456", "%Y-%m-%d %H:%M:%S.%f")
    base = px.strptime("2026-08-13", "%Y-%m-%d")
    assert got - base == 123_456_000


def test_dataframe_select_and_relative_time(ctx):
    """px.DataFrame(select=[...]) projection and relative start_time
    ('-5m' resolves against now — 2024 fixture data is all older)."""
    df = px.DataFrame("duration_table", select=["time_"])
    assert df.columns == ["time_"]
    recent = px.DataFrame("duration_table", start_time="-5m")
    assert recent.to_spark().count() == 0
    all_rows = px.DataFrame("duration_table", start_time=0)
    assert all_rows.to_spark().count() == 10


REQUEST_STATS_SHAPED = """
import px
df = px.DataFrame(table='http_events', start_time='-60m')
df.service = df.ctx['service']
df.timestamp = px.bin(df.time_, px.seconds(10))
df.failure = df.resp_status >= 400
df = df.groupby(['service', 'timestamp']).agg(
    latency_quantiles=('latency', px.quantiles),
    errors=('failure', px.sum),
    throughput=('latency', px.count),
)
df.p99 = px.pluck_float64(df.latency_quantiles, 'p99')
df = df.groupby('service').agg(
    windows=('timestamp', px.count),
    requests=('throughput', px.sum),
    errors=('errors', px.sum),
    p99_max=('p99', px.max),
)
px.display(df, 'request_stats')
"""


def test_script_build_py4j_round_trips(spark):
    """Building a request-stats script's plan (no job) stays cheap in
    driver <-> JVM round trips: no per-call call-site capture, and an
    inlined ctx lookup is one withColumn rather than a re-select of every
    column. With call-site capture on, the same build made ~940."""
    from py4j.clientserver import ClientServerConnection

    from pixie_spark.functions.metadata import MetadataResolver
    from pixie_spark.sources.fixtures import BASE_NS, HOUR_NS, http_events_fixture, k8s_fixtures

    pods, services = k8s_fixtures(spark)
    px.set_context(
        spark, tables={"http_events": http_events_fixture(spark, n=200)},
        metadata=MetadataResolver(pods, services),
    )
    px.set_now(BASE_NS + HOUR_NS)
    real = ClientServerConnection.send_command
    sent = []

    def counting(self, command):
        sent.append(1)
        return real(self, command)

    try:
        px.run_script(REQUEST_STATS_SHAPED)  # prepares the resolver's dims
        ClientServerConnection.send_command = counting
        try:
            px.run_script(REQUEST_STATS_SHAPED)
        finally:
            ClientServerConnection.send_command = real
    finally:
        px.set_now(None)
    assert 0 < len(sent) <= 300, f"{len(sent)} py4j commands to build the plan"
