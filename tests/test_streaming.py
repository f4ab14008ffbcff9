"""Streaming layer: file-source stream → rolling window agg → memory sink;
OTel export sink; batch/stream duality of the same plan."""

import json
import os
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


def test_otel_export_batch(spark, tmp_path):
    df = spark.createDataFrame(
        [(1_000_000_000, "svc-a", 12.5), (2_000_000_000, "svc-b", 99.0)],
        ["time_", "service", "latency_ms"],
    )
    out_dir = str(tmp_path / "otel")
    st.otel_export(
        df.withColumn("metric", F.lit("http.latency")),
        out_dir,
        value_col="latency_ms",
        attr_cols=["service"],
    )
    files = os.listdir(out_dir)
    assert files
    payloads = [
        json.loads(line)
        for f in files
        for line in open(os.path.join(out_dir, f))
    ]
    assert len(payloads) == 2
    dp = payloads[0]["resourceMetrics"][0]["scopeMetrics"][0]["metrics"][0]["gauge"]["dataPoints"][0]
    assert dp["timeUnixNano"] in (1_000_000_000, 2_000_000_000)
    assert dp["attributes"][0]["key"] == "service"


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
    out_dir = str(tmp_path / "otel_spans")
    df = spark.createDataFrame(
        [(1_000, 5_000, "GET /api", "frontend")],
        ["time_", "end_time_", "span_name", "service"],
    )
    st.otel_export_spans(df, out_dir, name_col="span_name", attr_cols=["service"])
    files = os.listdir(out_dir)
    assert files
    p = json.loads(open(os.path.join(out_dir, files[0])).readline())
    span = p["resourceSpans"][0]["scopeSpans"][0]["spans"][0]
    assert span["name"] == "GET /api"
    assert span["endTimeUnixNano"] == 5_000 and span["startTimeUnixNano"] == 1_000


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
    out_dir = str(tmp_path / "otel_logs")
    df = spark.createDataFrame(
        [(1_000, "request failed", "ERROR", "api"), (2_000, None, "INFO", "api")],
        ["time_", "msg", "level", "service"],
    )
    st.otel_export_logs(
        df, out_dir, body_col="msg", severity_col="level", attr_cols=["service"]
    )
    files = os.listdir(out_dir)
    recs = [
        json.loads(line)["resourceLogs"][0]["scopeLogs"][0]["logRecords"][0]
        for f in files
        for line in open(os.path.join(out_dir, f))
    ]
    assert len(recs) == 1  # null body skipped, not crashed
    assert recs[0]["body"]["stringValue"] == "request failed"
    assert recs[0]["severityText"] == "ERROR"


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
