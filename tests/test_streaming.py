"""Streaming layer: file-source stream → rolling window agg → memory sink;
px.export's OTel sink on batch and streaming frames; batch/stream
duality of the same plan."""

import json
import os
import pathlib
import time

import pytest
from pyspark.sql import functions as F

from pixie_spark import streaming as st
from pixie_spark.schemas import HTTP_EVENTS
from pixie_spark.sources.fixtures import http_events_fixture


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("events_stream"))
    events = http_events_fixture(spark, n=400)
    events.coalesce(4).write.mode("overwrite").parquet(d)
    return d


def _wait_for(pred, timeout_s=60):
    t0 = time.time()
    while time.time() - t0 < timeout_s:
        if pred():
            return True
        time.sleep(1)
    return False


def test_stream_rolling_agg_matches_batch(spark, events_dir, tmp_path):
    """The same rolling-window plan over the same data must agree between
    readStream and read — the reference's batch/stream duality
    (memory_source_node.cc streaming flag)."""
    aggs = {
        "n": F.count(F.lit(1)),
        "err": F.sum((F.col("resp_status") >= 400).cast("long")),
    }
    batch = st.rolling_agg(
        spark.read.schema(HTTP_EVENTS).parquet(events_dir), "10s", aggs
    )
    expected = {r["time_"]: (r["n"], r["err"]) for r in batch.collect()}
    assert expected

    stream = st.stream_table(spark, events_dir, HTTP_EVENTS, max_files_per_trigger=2)
    out = st.rolling_agg(stream, "10s", aggs)
    q = (
        out.writeStream.format("memory")
        .queryName("rolling_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        ok = _wait_for(
            lambda: q.lastProgress is not None
            and q.lastProgress.get("numInputRows", -1) == 0
            and spark.table("rolling_test").count() == len(expected),
        )
        assert ok, f"stream never converged: {q.lastProgress}"
        got = {
            r["time_"]: (r["n"], r["err"]) for r in spark.table("rolling_test").collect()
        }
        assert got == expected
    finally:
        q.stop()


def _otlp_payloads(out_dir):
    return [
        json.loads(line)
        for f in sorted(os.listdir(out_dir))
        for line in open(os.path.join(out_dir, f))
    ]


def _attrs(kv):
    return tuple((a["key"], a["value"]["stringValue"]) for a in kv)


def _gauge_export(out_dir):
    """px.otel.Data exporting latency_ms as the http.latency Gauge, with
    the service column as a data-point attribute, to a file endpoint."""
    import pixie_spark.api as px

    return px.otel.Data(
        resource={"service.name": "api"},
        data=[
            px.otel.metric.Gauge(
                name="http.latency", value="latency_ms", attributes={"service": F.col("service")}
            )
        ],
        endpoint=px.otel.Endpoint(url=f"file://{out_dir}"),
    )


def _gauge_points(out_dir):
    """Every exported Gauge data point as sorted (name, time, value, attributes)."""
    return sorted(
        (m["name"], dp["timeUnixNano"], dp["asDouble"], _attrs(dp["attributes"]))
        for p in _otlp_payloads(out_dir)
        for rm in p["resourceMetrics"]
        for sm in rm["scopeMetrics"]
        for m in sm["metrics"]
        for dp in m["gauge"]["dataPoints"]
    )


def test_otel_export_batch(spark, tmp_path):
    import pixie_spark.api as px

    df = spark.createDataFrame(
        [
            (1_000_000_000, "svc-a", 12.5),
            (2_000_000_000, "svc-b", 99.0),
            (3_000_000_000, "svc-c", None),
        ],
        "time_ long, service string, latency_ms double",
    )
    out_dir = str(tmp_path / "otel")
    assert px.export(df, _gauge_export(out_dir)) is None
    assert os.listdir(out_dir)
    # the null latency is skipped, not exported and not a crash
    assert _gauge_points(out_dir) == [
        ("http.latency", 1_000_000_000, 12.5, (("service", "svc-a"),)),
        ("http.latency", 2_000_000_000, 99.0, (("service", "svc-b"),)),
    ]


def test_px_export_stream_equals_batch(spark, tmp_path):
    """px.export on a streaming frame (parquet chunks read with
    stream_table, one file per micro-batch) exports exactly the data
    points the batch export of the same rows does, one micro-batch's
    files per chunk, and records its query in px.streams()."""
    import pixie_spark.api as px
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("time_", T.LongType()),
        T.StructField("service", T.StringType()),
        T.StructField("latency_ms", T.DoubleType()),
    ])
    src = str(tmp_path / "src")
    for c in range(3):
        rows = [((10 * c + i) * 1_000_000, f"svc-{i % 2}", float(10 * c + i)) for i in range(5)]
        rows.append(((10 * c + 9) * 1_000_000, "svc-x", None))
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    stream_dir = str(tmp_path / "stream")
    stream = st.stream_table(spark, src, schema, max_files_per_trigger=1)
    q = px.export(stream, _gauge_export(stream_dir))
    try:
        assert q in px.streams().values()
        q.processAllAvailable()
    finally:
        q.stop()
    batch_dir = str(tmp_path / "batch")
    assert px.export(spark.read.schema(schema).parquet(src), _gauge_export(batch_dir)) is None

    assert {f.split("-")[1] for f in os.listdir(stream_dir)} == {"000000", "000001", "000002"}
    want = _gauge_points(batch_dir)
    assert len(want) == 15
    assert _gauge_points(stream_dir) == want


def test_px_exports_sharing_an_endpoint_keep_their_own_files(spark, tmp_path):
    """Every px.export call names its files with a token of its own: two
    streaming exports of one 4-row source into one file endpoint leave 8
    data points, not 4, and a batch export into the same directory adds
    its own files beside theirs."""
    import pixie_spark.api as px
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("time_", T.LongType()),
        T.StructField("service", T.StringType()),
        T.StructField("latency_ms", T.DoubleType()),
    ])
    src = str(tmp_path / "src")
    rows = [(i * 1_000_000, f"svc-{i}", float(i)) for i in range(4)]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    out_dir = str(tmp_path / "shared")
    for _ in range(2):
        stream = st.stream_table(spark, src, schema, max_files_per_trigger=1)
        q = px.export(stream, _gauge_export(out_dir))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    assert len(_gauge_points(out_dir)) == 8
    streamed = set(os.listdir(out_dir))
    assert px.export(spark.read.schema(schema).parquet(src), _gauge_export(out_dir)) is None
    assert streamed < set(os.listdir(out_dir))
    assert len(_gauge_points(out_dir)) == 12


def test_px_stream_flag(spark):
    import pixie_spark.api as px

    px.set_context(spark, tables={"t": spark.range(3).withColumnRenamed("id", "time_")})
    df = px.DataFrame("t").stream()
    assert df._streaming is True
    # display on a stream-marked frame must not apply the batch limit
    out = px.display(df, "s_out")
    assert out is not None


def test_session_window_stream_matches_batch_sessionize(spark, events_dir, tmp_path):
    """Native session_window (stream) vs operators.asof.sessionize (batch):
    same session count per upid for the same gap."""
    from pixie_spark.operators.asof import sessionize
    from pyspark.sql import functions as F2

    gap_ns = 60_000_000_000  # 1 min
    batch_df = spark.read.schema(HTTP_EVENTS).parquet(events_dir)
    batch_sessions = (
        sessionize(batch_df.select("upid", "time_"), "upid", "time_", gap_ns)
        .select("upid", "session_id")
        .distinct()
        .groupBy("upid")
        .count()
    )
    expected = {tuple(r["upid"]): r["count"] for r in batch_sessions.collect()}

    stream = st.stream_table(spark, events_dir, HTTP_EVENTS, max_files_per_trigger=4)
    out = st.session_agg(
        stream, "1m", {"n": F2.count(F2.lit(1))}, by=["upid"], watermark="10 minutes"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("session_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .start()
    )
    try:
        ok = _wait_for(
            lambda: q.lastProgress is not None
            and q.lastProgress.get("numInputRows", -1) == 0
            and spark.table("session_test").count() > 0,
        )
        assert ok
        got_rows = spark.table("session_test").groupBy("upid").count().collect()
        got = {tuple(r["upid"]): r["count"] for r in got_rows}
        assert got == expected
    finally:
        q.stop()


def test_otel_span_export_batch(spark, tmp_path):
    import pixie_spark.api as px

    out_dir = str(tmp_path / "otel_spans")
    df = spark.createDataFrame(
        [(1_000, 5_000, "GET /api", "frontend"), (2_000, None, "GET /open", "frontend")],
        "time_ long, end_time_ long, span_name string, service string",
    )
    px.export(df, px.otel.Data(
        resource={"service.name": "frontend"},
        data=[px.otel.trace.Span(
            name=F.col("span_name"), start_time="time_", end_time="end_time_",
            attributes={"service": F.col("service")},
        )],
        endpoint=px.otel.Endpoint(url=out_dir),
    ))
    spans = [
        s
        for p in _otlp_payloads(out_dir)
        for rs in p["resourceSpans"]
        for ss in rs["scopeSpans"]
        for s in ss["spans"]
    ]
    assert len(spans) == 1  # the span without an end is skipped
    span = spans[0]
    assert span["name"] == "GET /api"
    assert span["endTimeUnixNano"] == 5_000 and span["startTimeUnixNano"] == 1_000
    assert _attrs(span["attributes"]) == (("service", "frontend"),)


def test_stream_static_metadata_join(spark, events_dir, tmp_path):
    """The flagship http_request_stats pipeline AS A STREAM: file stream →
    stream-static broadcast join against the k8s pods dimension →
    watermarked rolling agg → memory sink. Stream-static joins are how
    ctx[...] metadata resolution works in streaming mode."""
    import pixie_spark.api as px
    from pixie_spark.functions.metadata import MetadataResolver
    from pixie_spark.sources.fixtures import k8s_fixtures

    pods, services = k8s_fixtures(spark)
    px.set_context(spark, tables={}, metadata=MetadataResolver(pods, services))

    def with_service(sdf):
        df = px.from_spark(sdf)
        df.service_name = df.ctx["service_name"]
        return df.to_spark().where(F.col("service_name") != "")

    stream = st.stream_table(spark, events_dir, HTTP_EVENTS, max_files_per_trigger=2)
    agg = st.rolling_agg(
        with_service(stream),
        "30s",
        {
            "n": F.count(F.lit(1)),
            "err": F.sum((F.col("resp_status") >= 400).cast("long")),
        },
        by=["service_name"],
        watermark="10 minutes",
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("stream_static_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_ss"))
        .start()
    )
    try:
        ok = _wait_for(
            lambda: q.lastProgress is not None
            and q.lastProgress.get("numInputRows", -1) == 0
            and spark.table("stream_static_test").count() > 0,
        )
        assert ok, f"never converged: {q.lastProgress}"
        got = spark.table("stream_static_test")
        # batch twin over the same data must agree
        batch = st.rolling_agg(
            with_service(spark.read.schema(HTTP_EVENTS).parquet(events_dir)),
            "30s",
            {
                "n": F.count(F.lit(1)),
                "err": F.sum((F.col("resp_status") >= 400).cast("long")),
            },
            by=["service_name"],
        )
        expected = {
            (r["time_"], r["service_name"]): (r["n"], r["err"]) for r in batch.collect()
        }
        actual = {
            (r["time_"], r["service_name"]): (r["n"], r["err"]) for r in got.collect()
        }
        assert actual == expected
    finally:
        q.stop()


def test_refresh_error_is_logged_when_caught(spark, tmp_path, caplog):
    """A streaming refresh that fails is logged, with its batch_id, at
    the moment it is caught — before await_drained raises the errors it
    collected."""
    import logging

    import pixie_spark.api as px
    from pixie_spark.streaming.script_stream import StreamingScriptRun

    caplog.set_level(logging.ERROR, logger="pixie_spark.streaming.script_stream")
    df = spark.createDataFrame([(i * 1_000_000, i) for i in range(8)], "time_ long, v long")
    px.set_context(spark)
    script = "import px\ndf = px.DataFrame('t')\ndf.w = df.no_such_column + 1\npx.display(df, 'out')\n"
    run = StreamingScriptRun(
        spark, script, stream_tables={"t": df}, static_tables={},
        work_dir=str(tmp_path / "refresh_error"), chunks=2,
    )
    try:
        assert _wait_for(lambda: run.refresh_errors)
        logged = [r for r in caplog.records if "streaming refresh failed" in r.getMessage()]
        assert logged and logged[0].exc_info is not None
        assert logged[0].getMessage().endswith("batch_id=0")
        with pytest.raises(RuntimeError, match="refresh errors"):
            run.await_drained()
    finally:
        run.stop()


ROWS_SCRIPT = "import px\ndf = px.DataFrame('t')\npx.display(df, 'out')\n"


def _batch_rows(spark, accum):
    """{batch_id: rows} of a run's manifest directory: the rows of the
    source file each batch's manifest names (0 when it names none)."""
    accum = pathlib.Path(accum)
    src = accum.parent.parent / "src" / accum.name
    return {
        int(m.name): spark.read.parquet(str(src / m.read_text())).count() if m.read_text() else 0
        for m in accum.iterdir()
        if m.name.isdigit()
    }


def _rows_table(spark, n):
    return spark.createDataFrame([(i * 1_000_000, i) for i in range(n)], "time_ long, v long")


def test_held_refresh_sees_its_batch_bounded_snapshot(spark, tmp_path):
    """Ingestion runs ahead of a refresh held in on_refresh, yet each
    refresh reads exactly the batches written when its own batch was
    handed off: the row counts are the prefix sums of the batch sizes,
    one refresh per batch, in batch order."""
    import threading

    import pixie_spark.api as px
    from pixie_spark.streaming.script_stream import StreamingScriptRun

    px.set_context(spark)
    work = tmp_path / "held"
    release = threading.Event()
    seen = []

    def on_refresh(results):
        seen.append(len(results["out"]))
        release.wait(60)

    run = StreamingScriptRun(
        spark, ROWS_SCRIPT, stream_tables={"t": _rows_table(spark, 40)}, static_tables={},
        work_dir=str(work), chunks=4, on_refresh=on_refresh,
    )
    try:
        # batch 2 written: batches 0 and 1 have committed behind the held refresh
        assert _wait_for(lambda: (work / "accum" / "t" / "2").exists())
        assert seen == [len(run.results["out"])] and run.refresh_count == 1
        release.set()
        run.await_drained()
    finally:
        release.set()
        run.stop()
    sizes = _batch_rows(spark, str(work / "accum" / "t"))
    assert sorted(sizes) == list(range(len(sizes))) and len(sizes) >= 3
    prefix = [sum(sizes[b] for b in range(i + 1)) for i in range(len(sizes))]
    assert seen == prefix and prefix[-1] == 40
    assert run.refresh_count == len(sizes)
    assert [(t.batch_id, t.bounds) for t in run.refresh_timings] == [
        (b, {"t": b}) for b in range(len(sizes))
    ]
    assert all(t.wait_s >= 0 and t.run_s > 0 for t in run.refresh_timings)
    assert all(
        t.build_s > 0 and t.collect_s > 0 and t.build_s + t.collect_s <= t.run_s
        for t in run.refresh_timings
    )


def test_stop_with_held_refresh_and_blocked_sink_then_resume(spark, tmp_path):
    """Kill/resume with the pipeline full: a refresh is held, one waits,
    and the sink is blocked on the hand-off. stop() returns once the held
    refresh ends, leaves no worker behind, and nothing of the stopped run
    refreshes afterwards. A second run on the same work_dir resumes from
    the checkpoint and its final refresh equals a batch run."""
    import threading

    import pixie_spark.api as px
    from pixie_spark.streaming.script_stream import StreamingScriptRun

    df = _rows_table(spark, 60)
    px.set_context(spark, tables={"t": df})
    script = (
        "import px\ndf = px.DataFrame('t')\n"
        "df = df.groupby('v').agg(n=('time_', px.count), s=('time_', px.sum))\n"
        "px.display(df, 'out')\n"
    )
    want = sorted(map(tuple, px.run_script(script)["out"].collect()))
    work = tmp_path / "kill"
    release = threading.Event()
    refreshed1 = []

    def hold(results):
        refreshed1.append(len(results["out"]))
        release.wait(60)

    mk = lambda on_refresh: StreamingScriptRun(  # noqa: E731
        spark, script, stream_tables={"t": df}, static_tables={},
        work_dir=str(work), chunks=6, on_refresh=on_refresh,
    )
    run1 = mk(hold)
    stopper = threading.Thread(target=run1.stop)
    try:
        assert _wait_for(lambda: (work / "accum" / "t" / "2").exists())
        stopper.start()
        stopper.join(2)
        assert stopper.is_alive(), "stop() returned while a refresh was still running"
        release.set()
        stopper.join(60)
        assert not stopper.is_alive(), "stop() deadlocked"
    finally:
        release.set()
        if not stopper.is_alive():
            run1.stop()
    assert not run1._worker.is_alive()
    assert refreshed1 == [len(run1.results["out"])] and run1.refresh_count == 1
    time.sleep(2)
    assert run1.refresh_count == 1 and len(refreshed1) == 1

    run2 = mk(None)
    try:
        run2.await_drained()
    finally:
        run2.stop()
        px.register_table("t", df)
    assert run1.refresh_count == 1 and len(refreshed1) == 1
    assert run2.refresh_count >= 1, "the resumed run ingested nothing"
    assert sorted(map(tuple, run2.results["out"])) == want


class _GatedFrame:
    """A script result whose collect() waits for ``gate`` (when given),
    then collects ``df`` and appends ``tag`` to ``done``."""

    def __init__(self, df, tag, done, gate=None, entered=None):
        self.df, self.tag, self.done, self.gate, self.entered = df, tag, done, gate, entered

    def collect(self):
        if self.entered is not None:
            self.entered.append(self.tag)
        if self.gate is not None:
            self.gate.wait(60)
        rows = self.df.collect()
        self.done.append(self.tag)
        return rows


def _gate_run_script(monkeypatch, wrap):
    """Route the refreshes' px.run_script through ``wrap(n, frame)`` for
    the n-th build's result frames."""
    import pixie_spark.api as px

    real = px.run_script
    builds = []

    def run_script(*a, **kw):
        n = len(builds)
        builds.append(n)
        return {k: wrap(n, v) for k, v in real(*a, **kw).items()}

    monkeypatch.setattr(px, "run_script", run_script)


def test_later_refresh_collected_first_still_publishes_second(spark, tmp_path, monkeypatch):
    """Refreshes overlap but publish in hand-off order: with batch 0's
    collect held, batch 1's refresh is built and collected first, yet
    nothing publishes until batch 0's does, and results, on_refresh and
    refresh_timings all follow batch order."""
    import threading

    import pixie_spark.api as px
    from pixie_spark.streaming.script_stream import StreamingScriptRun

    px.set_context(spark)
    gate = threading.Event()
    done, published = [], []
    _gate_run_script(
        monkeypatch, lambda n, df: _GatedFrame(df, n, done, gate if n == 0 else None)
    )
    work = tmp_path / "order"
    run = StreamingScriptRun(
        spark, ROWS_SCRIPT, stream_tables={"t": _rows_table(spark, 30)}, static_tables={},
        work_dir=str(work), chunks=3, on_refresh=lambda r: published.append(len(r["out"])),
    )
    try:
        assert _wait_for(lambda: 1 in done)
        assert published == [] and run.refresh_count == 0 and run.results == {}
        gate.set()
        run.await_drained()
    finally:
        gate.set()
        run.stop()
    assert done[:2] == [1, 0]
    sizes = _batch_rows(spark, str(work / "accum" / "t"))
    assert published == [sum(sizes[b] for b in range(i + 1)) for i in range(len(sizes))]
    assert [t.batch_id for t in run.refresh_timings] == list(range(len(sizes)))
    assert run.refresh_count == len(sizes) and len(run.results["out"]) == 30


def test_stop_with_two_refreshes_in_flight_publishes_neither(spark, tmp_path, monkeypatch):
    """stop() while two refreshes are built and collecting discards both:
    neither publishes, before or after stop() returns, and no thread of
    the run is left. A resumed run's final refresh equals a batch run."""
    import threading

    import pixie_spark.api as px
    from pixie_spark.streaming.script_stream import StreamingScriptRun

    df = _rows_table(spark, 60)
    px.set_context(spark, tables={"t": df})
    script = (
        "import px\ndf = px.DataFrame('t')\n"
        "df = df.groupby('v').agg(n=('time_', px.count), s=('time_', px.sum))\n"
        "px.display(df, 'out')\n"
    )
    want = sorted(map(tuple, px.run_script(script)["out"].collect()))
    work = tmp_path / "inflight"
    gate = threading.Event()
    entered, done, published = [], [], []
    _gate_run_script(monkeypatch, lambda n, df: _GatedFrame(df, n, done, gate, entered))
    mk = lambda on_refresh: StreamingScriptRun(  # noqa: E731
        spark, script, stream_tables={"t": df}, static_tables={},
        work_dir=str(work), chunks=6, on_refresh=on_refresh,
    )
    run1 = mk(published.append)
    stopper = threading.Thread(target=run1.stop)
    try:
        assert _wait_for(lambda: len(entered) == 2)
        stopper.start()
        # release the collects only once stop() has begun
        assert _wait_for(lambda: run1._stopped)
        gate.set()
        stopper.join(60)
        assert not stopper.is_alive(), "stop() deadlocked"
    finally:
        gate.set()
        if not stopper.is_alive():
            run1.stop()
    assert sorted(done) == [0, 1]
    assert published == [] and run1.refresh_count == 0 and run1.results == {}
    assert run1.refresh_timings == [] and run1.refresh_errors == []
    assert [t.name for t in threading.enumerate() if t.name.startswith("pxl-stream")] == []
    time.sleep(2)
    assert published == [] and run1.refresh_count == 0

    monkeypatch.undo()
    run2 = mk(None)
    try:
        run2.await_drained()
    finally:
        run2.stop()
        px.register_table("t", df)
    assert published == [] and run1.refresh_count == 0
    assert sorted(map(tuple, run2.results["out"])) == want


def test_each_batch_reads_one_row_and_copies_nothing(spark, tmp_path, monkeypatch):
    """The sink reads one row of its batch to learn the batch's source
    file and writes no rows: with refreshes that run no job, each batch
    runs exactly one single-task job under the query's group, which
    writes nothing; no parquet appears under accum, and each batch's
    manifest names one source file."""
    import pixie_spark.api as px
    from pixie_spark.streaming.script_stream import StreamingScriptRun

    px.set_context(spark)
    monkeypatch.setattr(px, "run_script", lambda *a, **kw: {})
    work = tmp_path / "manifest"
    run = StreamingScriptRun(
        spark, ROWS_SCRIPT, stream_tables={"t": _rows_table(spark, 40)}, static_tables={},
        work_dir=str(work), chunks=4,
    )
    try:
        run.await_drained()
    finally:
        run.stop()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(str(run._queries[0].runId))
    assert run.refresh_count == 4 and len(jobs) == 4
    for j in jobs:
        (stage,) = tracker.getJobInfo(j).stageIds
        assert tracker.getStageInfo(stage).numTasks == 1
        attempt = store.lastStageAttempt(stage)
        assert attempt.outputRecords() == 0 and attempt.outputBytes() == 0
    assert [f for _, _, fs in os.walk(work / "accum") for f in fs if f.endswith(".parquet")] == []
    accum = work / "accum" / "t"
    manifests = sorted(m for m in os.listdir(accum) if m.isdigit())
    assert manifests == ["0", "1", "2", "3"]
    files = {(accum / m).read_text() for m in manifests}
    assert len(files) == 4 and files <= set(os.listdir(work / "src" / "t"))
    assert sum(_batch_rows(spark, str(accum)).values()) == 40


def test_empty_source_file_records_no_file(spark, tmp_path):
    """A micro-batch whose source file holds no rows commits an empty
    manifest, and a refresh whose manifests name no file reads an empty
    frame of the declared schema."""
    import pixie_spark.api as px
    from pixie_spark.streaming.script_stream import StreamingScriptRun

    px.set_context(spark)
    work = tmp_path / "empty"
    run = StreamingScriptRun(
        spark, ROWS_SCRIPT, stream_tables={"t": _rows_table(spark, 0)}, static_tables={},
        work_dir=str(work), chunks=2,
    )
    try:
        run.await_drained()
    finally:
        run.stop()
    assert (work / "accum" / "t" / "0").read_text() == ""
    assert run.refresh_count == 1 and run.results == {"out": []}


def test_restart_on_a_drained_snapshot_refreshes_it(spark, tmp_path):
    """A run started on a work_dir whose snapshot already holds every
    batch has no new micro-batch to hand off a refresh, yet it refreshes
    once at the snapshot's bounds: its results equal the drained run's."""
    import pixie_spark.api as px
    from pixie_spark.streaming.script_stream import StreamingScriptRun

    px.set_context(spark)
    mk = lambda: StreamingScriptRun(  # noqa: E731
        spark, ROWS_SCRIPT, stream_tables={"t": _rows_table(spark, 12)}, static_tables={},
        work_dir=str(tmp_path / "restart"), chunks=3,
    )
    run1 = mk()
    try:
        run1.await_drained()
    finally:
        run1.stop()
    assert len(run1.results["out"]) == 12
    run2 = mk()
    try:
        run2.await_drained()
    finally:
        run2.stop()
    assert sorted(run2.results["out"]) == sorted(run1.results["out"])
    assert [(t.batch_id, t.bounds) for t in run2.refresh_timings] == [
        (-1, run1.refresh_timings[-1].bounds)
    ]


def test_two_stream_tables_final_refresh_equals_batch(spark, tmp_path):
    """Two stream tables feed one worker: every refresh reads both up
    to their own bounds, and the final one equals the batch result."""
    import pixie_spark.api as px
    from pixie_spark.streaming.script_stream import StreamingScriptRun

    a = spark.createDataFrame([(i * 1_000_000, i % 5, i) for i in range(30)], "time_ long, k long, v long")
    b = spark.createDataFrame([(i * 3_000_000, i % 5, 2 * i) for i in range(20)], "time_ long, k long, w long")
    px.set_context(spark, tables={"a": a, "b": b})
    script = (
        "import px\n"
        "a = px.DataFrame('a').groupby('k').agg(n=('v', px.count), v=('v', px.sum))\n"
        "b = px.DataFrame('b').groupby('k').agg(m=('w', px.count), w=('w', px.sum))\n"
        "df = a.merge(b, how='inner', left_on='k', right_on='k', suffixes=['', '_b'])\n"
        "px.display(df['k', 'n', 'v', 'm', 'w'], 'out')\n"
    )
    want = sorted(map(tuple, px.run_script(script)["out"].collect()))
    assert len(want) == 5
    run = StreamingScriptRun(
        spark, script, stream_tables={"a": a, "b": b}, static_tables={},
        work_dir=str(tmp_path / "two"), chunks=3,
    )
    try:
        run.await_drained()
    finally:
        run.stop()
        px.set_context(spark, tables={"a": a, "b": b})
    assert sorted(map(tuple, run.results["out"])) == want
    assert run.refresh_count == 6  # one per micro-batch of either stream
    last = run.refresh_timings[-1].bounds
    assert last == {"a": 2, "b": 2}


def test_many_stream_tables_hand_off_under_thread_switching(spark, tmp_path):
    """More stream tables than cores hand off to the one worker while the
    interpreter switches threads every 100 us: there is one refresh per
    micro-batch, no table's bound ever goes back from one refresh to the
    next (a lost update of the written ids or an out-of-order hand-off
    would), and the final refresh reads every batch and equals the batch
    result."""
    import sys

    import pixie_spark.api as px
    from pixie_spark.streaming.script_stream import StreamingScriptRun

    names = [f"t{i}" for i in range(6)]
    tables = {
        n: spark.createDataFrame(
            [(j * 1_000_000, j % 3, 10 * i + j) for j in range(9)], "time_ long, k long, v long"
        )
        for i, n in enumerate(names)
    }
    px.set_context(spark, tables=tables)
    script = (
        "import px\ndf = px.DataFrame('t0')\n"
        + "".join(f"df = df.append(px.DataFrame('{n}'))\n" for n in names[1:])
        + "df = df.groupby('k').agg(n=('v', px.count), s=('v', px.sum))\n"
        "px.display(df, 'out')\n"
    )
    want = sorted(map(tuple, px.run_script(script)["out"].collect()))
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        run = StreamingScriptRun(
            spark, script, stream_tables=tables, static_tables={},
            work_dir=str(tmp_path / "many"), chunks=3,
        )
        try:
            run.await_drained()
        finally:
            run.stop()
    finally:
        sys.setswitchinterval(interval)
        px.set_context(spark, tables=tables)
    last = {n: max(_batch_rows(spark, str(tmp_path / "many" / "accum" / n))) for n in names}
    assert run.refresh_count == sum(b + 1 for b in last.values())
    bounds = [t.bounds for t in run.refresh_timings]
    for before, after in zip(bounds, bounds[1:]):
        assert all(before[n] <= after.get(n, -1) for n in before), (before, after)
    assert bounds[-1] == last
    assert sorted(map(tuple, run.results["out"])) == want


def test_refresh_jobs_run_in_the_query_job_group(spark, tmp_path):
    """The refresh worker re-applies the job group Structured Streaming
    gives the sink thread (the query's runId), so a refresh's jobs are
    attributed to the query that handed it off; no job of the run is
    left without a group."""
    import pixie_spark.api as px
    from pixie_spark.streaming.script_stream import StreamingScriptRun

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    px.set_context(spark)
    groups = []

    def on_refresh(_results):
        groups.append(sc.getLocalProperty("spark.jobGroup.id"))

    sc.setJobGroup("refresh-attribution-layout", "layout")
    try:
        spark.range(1).collect()
        first = max(tracker.getJobIdsForGroup("refresh-attribution-layout"))
        run = StreamingScriptRun(
            spark, ROWS_SCRIPT, stream_tables={"t": _rows_table(spark, 12)}, static_tables={},
            work_dir=str(tmp_path / "groups"), chunks=2, on_refresh=on_refresh,
        )
        try:
            run.await_drained()
        finally:
            run.stop()
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(k, None)
    run_id = str(run._queries[0].runId)
    assert groups == [run_id] * run.refresh_count and run.refresh_count == 2
    query_jobs = tracker.getJobIdsForGroup(run_id)
    # each batch's append plus at least one collect per refresh
    assert len(query_jobs) >= 2 * run.refresh_count
    assert [j for j in tracker.getJobIdsForGroup(None) if j > first] == []


def test_display_passthrough_stream_appends(spark, events_dir, tmp_path):
    """px.display of a NON-aggregated stream must fall back to append
    mode (complete is invalid without a streaming aggregation)."""
    import pixie_spark.api as px

    px.set_context(spark, tables={})
    raw = st.stream_table(spark, events_dir, HTTP_EVENTS, max_files_per_trigger=4).select(
        "time_", "req_path", "resp_status"
    )
    result = px.display(px.from_spark(raw), "raw_stream_out")
    q = px.streams()["raw_stream_out"]
    try:
        ok = _wait_for(
            lambda: q.lastProgress is not None
            and q.lastProgress.get("numInputRows", -1) == 0
            and result.count() == 400
        )
        assert ok, q.lastProgress
    finally:
        q.stop()


def test_otel_log_export_batch(spark, tmp_path):
    import pixie_spark.api as px

    out_dir = str(tmp_path / "otel_logs")
    df = spark.createDataFrame(
        [
            (1_000, "request failed", "ERROR", "api"),
            (2_000, None, "INFO", "api"),
            (3_000, "ok", None, "api"),
        ],
        "time_ long, msg string, level string, service string",
    )
    px.export(df, px.otel.Data(
        resource={"service.name": "api"},
        data=[px.otel.log.Log(
            time="time_", body="msg", severity="level", attributes={"service": F.col("service")},
        )],
        endpoint=px.otel.Endpoint(url=f"file://{out_dir}"),
    ))
    recs = sorted(
        (
            rec
            for p in _otlp_payloads(out_dir)
            for rl in p["resourceLogs"]
            for sl in rl["scopeLogs"]
            for rec in sl["logRecords"]
        ),
        key=lambda r: r["timeUnixNano"],
    )
    assert len(recs) == 2  # null body skipped, not crashed
    assert [r["timeUnixNano"] for r in recs] == [1_000, 3_000]
    assert recs[0]["body"]["stringValue"] == "request failed"
    assert recs[0]["severityText"] == "ERROR"
    assert "severityText" not in recs[1]  # null severity: no severity field
    assert all(_attrs(r["attributes"]) == (("service", "api"),) for r in recs)


def test_no_driver_collect_in_streaming_sinks():
    """The OTel sinks must export from EXECUTORS (foreachPartition), never
    funnel the export volume through the driver — a driver-side collect()
    in a sink serializes 100% of sink traffic through one process at
    scale (same class of assert as test_plans.py's no-Python-UDF check)."""
    import inspect

    src = inspect.getsource(st)
    assert ".collect()" not in src
    assert "foreachPartition" in src


def test_stream_exact_dedup_across_microbatches(spark, tmp_path):
    """Duplicates arriving in LATER micro-batches are suppressed by the
    dedup state store, and the surviving content set equals the batch
    exact-dedup result."""
    import pixie_spark.streaming as S
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    batch1 = [(i, f"text number {i}") for i in range(5)]
    # batch 2: 3 duplicates of batch-1 content under NEW ids + 2 fresh
    batch2 = [(10 + i, f"text number {i}") for i in range(3)] + [
        (20, "fresh twenty"), (21, "fresh twentyone"),
    ]
    src = str(tmp_path / "stream_src")
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(src)

    stream = S.stream_table(spark, src, schema, max_files_per_trigger=1)
    dedup = S.stream_exact_dedup(stream, ["text"])
    q = (
        dedup.writeStream.format("memory")
        .queryName("dedup_stream_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql("SELECT * FROM dedup_stream_out").collect()
    texts = [r["text"] for r in out]
    assert len(texts) == len(set(texts)) == 7  # 5 + 2 fresh, 3 dups dropped
    assert set(texts) == {f"text number {i}" for i in range(5)} | {
        "fresh twenty", "fresh twentyone",
    }


def test_stream_quality_ingest_equals_batch(spark, tmp_path):
    """The streaming ingestion front of the corpus pipeline: in-row
    Gopher stats (stateless map — works unchanged on a stream) +
    content dedup, arriving over multiple micro-batches, must equal the
    batch computation on the union of the data."""
    import pixie_spark.streaming as S
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from pixie_spark.operators.quality import doc_shape_stats, line_repetition_stats

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    b1 = [(1, "the cat sat\nthe cat sat\nok fine"), (2, "alpha beta gamma")]
    b2 = [(3, "alpha beta gamma"), (4, "# # # ...\nbullets - here")]
    src = str(tmp_path / "q_src")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)

    def enrich(df):
        exprs = {**line_repetition_stats(F.col("text")), **doc_shape_stats(F.col("text"))}
        return df.withColumns(exprs)

    stream = S.stream_table(spark, src, schema, max_files_per_trigger=1)
    q = (
        enrich(S.stream_exact_dedup(stream, ["text"]))
        .writeStream.format("memory")
        .queryName("q_ingest_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["text"]: r.asDict() for r in spark.sql("SELECT * FROM q_ingest_out").collect()}

    batch = enrich(
        spark.createDataFrame(b1 + b2, schema).dropDuplicates(["text"])
    )
    exp = {r["text"]: r.asDict() for r in batch.collect()}
    assert set(got) == set(exp) and len(got) == 3  # doc 3 deduped
    stat_cols = [c for c in next(iter(exp.values())) if c not in ("doc_id", "text")]
    for text in exp:
        for c in stat_cols:
            assert got[text][c] == exp[text][c], (text, c)


def test_stream_c4_cleaning_funnel_equals_batch(spark, tmp_path):
    """The round-5 cleaning front (unicode normalization -> C4 line/page
    rules) is a stateless in-row rewrite, so it must run UNCHANGED on a
    stream and agree with the batch computation row-for-row — including
    the rewritten text, the per-doc accounting, and the drop reasons."""
    import pixie_spark.streaming as S
    from pyspark.sql import types as T

    from pixie_spark.operators.quality import c4_clean
    from pixie_spark.operators.text import normalize_text

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    b1 = [
        (1, "First good sentence arrives here.\r\nSecond one follows directly now.\r\n"
            "Third sentence of this page too.\nFourth keeps the page alive still.\n"
            "Fifth seals the sentence floor fine."),
        (2, "Code page { with a brace.\nOtherwise a fine sentence."),
    ]
    b2 = [
        (3, "zero​width noise but a sentence.\nAnd then too few remain sadly."),
        (4, "this line never terminates properly\nNor does it have punctuation"),
    ]
    src = str(tmp_path / "c4_src")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)

    def funnel(df):
        return c4_clean(df.withColumn("text", normalize_text(F.col("text"))))

    stream = S.stream_table(spark, src, schema, max_files_per_trigger=1)
    q = (
        funnel(stream)
        .writeStream.format("memory")
        .queryName("c4_funnel_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["doc_id"]: r.asDict() for r in spark.sql("SELECT * FROM c4_funnel_out").collect()}
    exp = {r["doc_id"]: r.asDict() for r in funnel(spark.createDataFrame(b1 + b2, schema)).collect()}
    assert got == exp
    assert got[1]["kept"] and got[2]["drop_reason"] == "brace"
    assert got[3]["drop_reason"] == "too_few_sentences"
    assert "​" not in got[3]["text"]
    assert got[4]["n_lines_kept"] == 0
