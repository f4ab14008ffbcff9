"""Streaming layer: the reference's one-model-two-scan-modes duality
(SURVEY §1.3 — MemorySource streaming=true, df.stream(), eow/eos window
flags) mapped onto Structured Streaming.

- ``stream_table``: readStream over the same schema/path a batch query
  reads (memory_source_node.cc:73-88's infinite cursor ≈ file/kafka
  stream source).
- ``rolling_agg``: PxL rolling windows → window() + watermark. The
  reference flushes windowed aggs on eow batch flags (exec_node.h:213-223,
  agg_node 'windowed' mode) — processing-time-ish; here watermarked
  event-time windows give the same results with a documented difference:
  late rows beyond the watermark are dropped rather than flushed into a
  stale window.
- ``display_stream``: the GRPCSink equivalent, an in-memory sink.
- ``_otel_sink``: the executor-side tail of ``px.export`` (the
  OTelExportSink, otel_export_sink_node.cc), for batch and streaming
  frames alike: foreachBatch + foreachPartition partition exporters
  write OTLP-shaped JSON or post it to an OTLP/HTTP collector, so
  export bandwidth scales with the cluster and nothing funnels through
  the driver.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pixie_spark.api.timemod import parse_duration


def stream_table(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int = 16,
) -> DataFrame:
    """readStream over a directory of files with a registered schema
    (no inference — matching the reference's ahead-of-time relations)."""
    return (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
    )


def stream_exact_dedup(
    df: DataFrame,
    content_cols: list[str],
    event_time_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming exact deduplication on a content hash — the ingestion-
    time twin of operators/dedup.exact_dedup: the first arrival of each
    distinct content survives, later arrivals (in the SAME or ANY LATER
    micro-batch — the dedup state is a streaming state store, not
    per-batch) are dropped.

    State sizing is the 100 TB design decision:
    - with ``event_time_col`` + ``watermark``: dedup-within-horizon via
      dropDuplicatesWithinWatermark — state for a content hash is
      evicted once the watermark passes it, so state is bounded by the
      horizon's distinct-content rate. The right mode for endless
      ingestion where re-crawls arrive close together.
    - without: exact global dedup; state grows with distinct content
      (8-byte hash per entry). Right for bounded backfills.

    The stored key is the 8-byte xxhash64, never the content itself —
    the same shuffle-payload rule as the batch dedup family.
    """
    hashed = df.withColumn("__content_hash", F.xxhash64(*content_cols))
    if watermark is not None:
        if event_time_col is None:
            raise ValueError("watermark requires event_time_col")
        return (
            hashed.withWatermark(event_time_col, watermark)
            .dropDuplicatesWithinWatermark(["__content_hash"])
            .drop("__content_hash")
        )
    return hashed.dropDuplicates(["__content_hash"]).drop("__content_hash")


def _window_duration(window: str) -> str:
    """ns duration string → Spark interval string, validated: silent //
    truncation would turn '500us' into '0 milliseconds' and shrink
    '2500us' to 2 ms."""
    ns = parse_duration(window)
    if ns <= 0:
        raise ValueError(f"window must be positive, got {window!r}")
    if ns % 1_000_000:
        raise ValueError(
            f"window must be a whole number of milliseconds (event-time window "
            f"granularity), got {window!r} = {ns} ns"
        )
    return f"{ns // 1_000_000} milliseconds"


def ns_to_ts(col: Column) -> Column:
    # exact ns→µs: (col/1000) via doubles rounds ns-scale longs (>2^53);
    # decimal division keeps every digit
    return F.timestamp_micros(
        F.floor(col.cast("decimal(38,0)") / F.lit(1000)).cast("long")
    )


def rolling_agg(
    df: DataFrame,
    window: str,
    aggs: dict[str, Column],
    by: list[str] | None = None,
    time_col: str = "time_",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Tumbling event-time window aggregate for streams.

    PxL: df.rolling('10s').groupby(...).agg(...) (rolling_ir.h:44-57).
    time_ is ns → converted to a timestamp for window(); the output keeps
    ``time_`` as the window start in ns for API parity.
    """
    dur = _window_duration(window)
    ts = ns_to_ts(F.col(time_col)).alias("__ts")
    wdf = df.withColumn("__ts", ts)
    if wdf.isStreaming:
        wdf = wdf.withWatermark("__ts", watermark)
    keys = [F.window("__ts", dur).alias("__w")] + [F.col(c) for c in (by or [])]
    out = wdf.groupBy(*keys).agg(*[c.alias(n) for n, c in aggs.items()])
    return out.withColumn(
        time_col, (F.unix_micros(F.col("__w.start")) * 1000).cast("long")
    ).drop("__w")


def session_agg(
    df: DataFrame,
    gap: str,
    aggs: dict[str, Column],
    by: list[str],
    time_col: str = "time_",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Gap-based session windows — the streaming twin of
    operators.asof.sessionize, using Spark's native session_window (state
    bounded by the watermark). Output keeps session start/end as ns."""
    dur = _window_duration(gap)
    wdf = df.withColumn("__ts", ns_to_ts(F.col(time_col)))
    if wdf.isStreaming:
        wdf = wdf.withWatermark("__ts", watermark)
    out = wdf.groupBy(F.session_window("__ts", dur).alias("__w"), *[F.col(c) for c in by]).agg(
        *[c.alias(n) for n, c in aggs.items()]
    )
    return (
        out.withColumn("session_start", (F.unix_micros(F.col("__w.start")) * 1000).cast("long"))
        .withColumn("session_end", (F.unix_micros(F.col("__w.end")) * 1000).cast("long"))
        .drop("__w")
    )


def display_stream(
    df: DataFrame, name: str, checkpoint_dir: str | None = None, output_mode: str | None = None
):
    """Streaming px.display: an in-memory sink queryable as ``name`` (the
    query-broker result table of the reference). Batch frames register a
    temp view of the same name (one-model duality) and return None.

    output_mode=None auto-selects: 'complete' for aggregated streams (the
    memory sink treats 'update' like 'append', accumulating stale group
    rows), falling back to 'append' for passthrough streams where
    'complete' is invalid.
    """
    if not df.isStreaming:
        df.createOrReplaceTempView(name)
        return None

    def start(mode: str):
        writer = df.writeStream.format("memory").queryName(name).outputMode(mode)
        if checkpoint_dir:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        return writer.start()

    if output_mode is not None:
        return start(output_mode)
    try:
        return start("complete")
    except Exception as e:  # noqa: BLE001
        # fall back ONLY for the no-streaming-aggregation mode error;
        # anything else (checkpoint, connectivity) must surface as-is
        if "output mode" not in str(e).lower():
            raise
        return start("append")


def _partition_exporter(
    convert,
    out_dir: str,
    batch_id: int,
    token: str,
    exporter: Callable | None,
):
    """Build the per-partition export closure that runs ON EXECUTORS.

    The reference's OTelExportSink posts OTLP from each Carnot instance
    (otel_export_sink_node.cc) — the Spark analogue is each task posting
    its own partition's payloads, not funneling the entire export volume
    through the driver (a driver-side collect() serializes 100% of sink
    traffic through one process at scale). ``convert`` and ``exporter``
    must be picklable (module-level functions / simple closures). The
    default exporter writes one JSONL file per (batch, partition),
    named after ``token`` too so that exports sharing a directory never
    overwrite each other; empty partitions write nothing.
    """

    def run(rows_iter) -> None:
        rows = list(rows_iter)
        payloads = convert(rows)
        if not payloads:
            return
        if exporter is not None:
            exporter(payloads)
            return
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        path = os.path.join(out_dir, f"export-{batch_id:06d}-{token}-p{pid:04d}.jsonl")
        with open(path, "w") as f:
            for p in payloads:
                f.write(json.dumps(p) + "\n")

    return run


def _otel_sink(
    df: DataFrame, convert: Callable, out_dir: str, batch: int, exporter: Callable | None
):
    """``px.export``'s executor-side tail, one for batch and streaming
    frames: ``convert(rows)`` maps each partition's rows to OTLP-JSON
    payloads, written as JSONL under ``out_dir`` (or handed to
    ``exporter``). A batch frame is exported once, its files named after
    ``batch``; a streaming frame becomes a foreachBatch query in update
    mode, its files named after each micro-batch id, and the started
    query is returned. Every call's files also carry a token of their
    own, minted here."""
    token = uuid.uuid4().hex
    if df.isStreaming:

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.foreachPartition(
                _partition_exporter(convert, out_dir, batch_id, token, exporter)
            )

        return df.writeStream.foreachBatch(sink).outputMode("update").start()
    df.foreachPartition(_partition_exporter(convert, out_dir, batch, token, exporter))
    return None
