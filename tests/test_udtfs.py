"""The full UDTF surface of md_udtfs.cc (13 registrations,
/root/reference/src/vizier/funcs/md_udtfs/md_udtfs.cc:32-59), driven
through the px facade with the observability fixtures bound. Column
shapes match the reference OutputRelation() declarations
(md_udtfs_impl.h, cited per test).
"""

import pytest
from pyspark.sql import functions as F

import pixie_spark.api as px
from pixie_spark.sources.fixtures import BASE_NS, HOUR_NS, observability_context


@pytest.fixture(scope="module")
def ctx(spark):
    tables, resolver = observability_context(spark)
    px.set_context(spark, tables=tables, metadata=resolver)
    px.set_now(BASE_NS + HOUR_NS)
    yield
    px.set_now(None)


def test_get_tables_and_schemas(spark, ctx):
    tables = px.GetTables().to_spark()
    assert tables.columns == ["table_name", "table_desc"]
    names = {r["table_name"] for r in tables.collect()}
    assert {"http_events", "conn_stats", "process_stats"} <= names
    schemas = px.GetSchemas().to_spark()
    assert schemas.columns == [
        "table_name", "column_name", "column_type", "pattern_type", "column_desc"
    ]
    assert schemas.where(F.col("table_name") == "conn_stats").count() == 13


def test_get_agent_status(spark, ctx):
    df = px.GetAgentStatus().to_spark()
    assert df.count() >= 1
    assert "executor" in df.columns and "total_cores" in df.columns


def test_get_udf_uda_udtf_lists(spark, ctx):
    udfs = px.GetUDFList().to_spark()
    udas = px.GetUDAList().to_spark()
    udtfs = px.GetUDTFList().to_spark()
    assert udfs.count() >= 50
    assert udas.count() >= 5
    # every registration in md_udtfs.cc:32-59 present by name
    names = {r["name"] for r in udtfs.collect()}
    assert {
        "GetTables", "GetSchemas", "GetAgentStatus", "GetUDFList", "GetUDAList",
        "GetUDTFList", "GetProfilerSamplingPeriodMS", "GetLinuxHeadersStatus",
        "GetTracepointStatus", "GetCronScriptHistory",
        "_DebugMDGetWithPrefix", "_DebugTableInfo",
    } <= names


def test_profiler_sampling_period(spark, ctx):
    """md_udtfs_impl.h:366-380: (asid, profiler_sampling_period_ms) per agent."""
    df = px.GetProfilerSamplingPeriodMS().to_spark()
    rows = df.collect()
    assert rows and all(r["profiler_sampling_period_ms"] == 11 for r in rows)
    spark.conf.set("pixie.profiler.sampling_period_ms", "37")
    try:
        assert px.GetProfilerSamplingPeriodMS().to_spark().first()[
            "profiler_sampling_period_ms"
        ] == 37
    finally:
        spark.conf.unset("pixie.profiler.sampling_period_ms")


def test_linux_headers_status(spark, ctx):
    """md_udtfs_impl.h:420-434: (asid, kernel_headers_installed) per agent."""
    df = px.GetLinuxHeadersStatus().to_spark()
    rows = df.collect()
    assert rows
    assert df.columns == ["asid", "kernel_headers_installed"]
    assert all(isinstance(r["kernel_headers_installed"], bool) for r in rows)


def test_debug_md_with_prefix(spark, ctx):
    """md_udtfs_impl.h:731-744: (key, value) MD state dump, prefix-filtered."""
    all_keys = px._DebugMDGetWithPrefix("").to_spark()
    pods_only = px._DebugMDGetWithPrefix("/pod/").to_spark()
    assert all_keys.count() > pods_only.count() > 0
    rows = pods_only.collect()
    assert all(r["key"].startswith("/pod/") for r in rows)
    assert all(r["value"].startswith("pod-id-") for r in rows)
    svc = px._DebugMDGetWithPrefix("/service/prod/").to_spark().collect()
    assert svc and all(r["value"].startswith("s-") for r in svc)


def test_debug_table_info(spark, ctx):
    """md_udtfs_impl.h:795-858: per-table store stats."""
    df = px._DebugTableInfo().to_spark()
    rows = {r["name"]: r for r in df.collect()}
    assert "http_events" in rows
    r = rows["http_events"]
    assert r["num_batches"] >= 1 and r["size"] > 0
    assert df.columns[:3] == ["asid", "name", "id"]


def test_tracepoint_status_lifecycle(spark, ctx):
    """md_udtfs_impl.h:869-893 over active streaming queries: empty with
    no streams; a started stream appears as running, then disappears."""
    baseline = px.GetTracepointStatus().to_spark().count()
    sdf = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    q = sdf.writeStream.format("memory").queryName("tp_probe").start()
    try:
        rows = px.GetTracepointStatus().to_spark().collect()
        assert len(rows) == baseline + 1
        (probe,) = [r for r in rows if r["name"] == "tp_probe"]
        assert probe["state"] == "running"
        assert probe["output_tables"] == "tp_probe"
        assert probe["tracepoint_id"] is not None
    finally:
        q.stop()
    assert px.GetTracepointStatus().to_spark().count() == baseline


def test_cron_script_history(spark, ctx):
    """md_udtfs_impl.h:987-1014 over the run_script execution log: one
    row per run, content-stable script_id, errors recorded verbatim."""
    px._ctx.pop("script_history", None)
    code = "import px\npx.display(px.GetTables(), 'tbls')\n"
    px.run_script(code)
    px.run_script(code)
    with pytest.raises(KeyError):
        px.run_script("import px\npx.display(px.DataFrame('no_such_table'), 'x')\n")
    hist = px.GetCronScriptHistory().to_spark().collect()
    assert len(hist) == 3
    ok, bad = hist[:2], hist[2]
    assert ok[0]["script_id"] == ok[1]["script_id"] != bad["script_id"]
    assert all(r["error_message"] == "" for r in ok)
    # round-5 compile-error surface: a PxL-phrased CompilerError (still a
    # KeyError subclass, asserted by the raises above) naming the table
    assert bad["error_message"].startswith("PxKeyError")
    assert "Table 'no_such_table' not found" in bad["error_message"]
    assert all(r["execution_time_ns"] > 0 and r["compilation_time_ns"] > 0 for r in hist)
    assert all(r["timestamp"] > 0 for r in hist)


def test_udtf_frames_collect_without_a_job(spark, ctx):
    """Every UDTF frame is driver-side data built as a local frame:
    collecting it launches no Spark job (the list form of
    createDataFrame went through an RDD and cost one job per collect),
    an empty frame included. Counted by statusTracker under a job
    group; the frames are built before the group opens."""
    saved = px._ctx.pop("script_history", None)
    try:
        frames = {
            "GetTables": px.GetTables(),
            "GetSchemas": px.GetSchemas(),
            "GetAgentStatus": px.GetAgentStatus(),
            "GetAgentStatus-no_kelvin": px.GetAgentStatus(include_kelvin=False),
            "GetUDFList": px.GetUDFList(),
            "GetUDAList": px.GetUDAList(),
            "GetUDTFList": px.GetUDTFList(),
            "GetProfilerSamplingPeriodMS": px.GetProfilerSamplingPeriodMS(),
            "GetLinuxHeadersStatus": px.GetLinuxHeadersStatus(),
            "GetTracepointStatus": px.GetTracepointStatus(),
            "GetCronScriptHistory-empty": px.GetCronScriptHistory(),
            "_DebugMDGetWithPrefix": px._DebugMDGetWithPrefix("/pod/"),
            "_DebugTableInfo": px._DebugTableInfo(),
            "_HeapGrowthStacks": px._HeapGrowthStacks(),
        }
    finally:
        if saved is not None:
            px._ctx["script_history"] = saved
    sc = spark.sparkContext
    for name, frame in frames.items():
        group = f"udtf-frame-collect-{name}"
        sc.setJobGroup(group, group)
        try:
            rows = frame.to_spark().collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        if name.endswith("-empty"):
            assert rows == [], name
        elif name != "GetTracepointStatus":  # empty unless a stream runs
            assert rows, name
        assert sc.statusTracker().getJobIdsForGroup(group) == [], name
