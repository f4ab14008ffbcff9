"""Per-operator runtime execution stats — the ``analyze=true`` parity
surface.

The reference collects per-exec-node stats when a query runs with
``analyze=true`` (``/root/reference/src/carnot/carnot.cc:371-400``:
node_id, records_output, bytes_output, total/self execution time, extra
metrics per operator) and surfaces them to clients; it is the surator a
real operator debugging a slow query reaches for. Spark already
accumulates the same data — every physical node carries SQLMetric
accumulators (output rows, scan/agg/sort time, shuffle bytes, spill,
peak memory) — it just is not surfaced through the px API. This module
executes a frame's OWN QueryExecution and walks the executed physical
plan reading those accumulators.

Execution detail that makes the numbers real: ``df.write.format("noop")``
or ``df.count()`` would build a NEW QueryExecution whose fresh metric
accumulators never tick for the plan object we can reach from ``df``;
instead the plan is driven via ``queryExecution().toRdd().count()`` —
the same physical plan instance executes (fully distributed; only
per-partition counts return to the driver), so reading each node's
``metrics()`` afterwards sees the accumulated values. Under AQE the
root is an ``AdaptiveSparkPlanExec``; the walk descends through its
final plan, query-stage wrappers, and reused exchanges/subqueries,
deduping by SparkPlan id so a reused stage reports once.

The stats table itself is bounded by plan size (tens of rows), so it is
returned as a local-built DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row

# metricType → milliseconds normalizer (SQLMetrics.scala: "timing" is
# accumulated in ms, "nsTiming" in ns; everything else is not a time)
_TIME_TYPES = {"timing": 1.0, "nsTiming": 1e-6}

def _local_frame(spark, rows: list, schema: str) -> DataFrame:
    """``rows`` (tuples in ``schema`` order) as a local frame built from
    a pyarrow Table. Spark keeps such a frame as a LocalRelation, empty
    or not, so collecting it launches no job; the list form of
    createDataFrame goes through an RDD and costs one job (0.31-0.43 s
    warm on 4 cores) per collect, and so does an empty pandas frame."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    struct = DataType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    return spark.createDataFrame(
        pa.table(
            [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)],
            schema=arrow,
        ),
        struct,
    )


ANALYZE_SCHEMA = (
    "node_id long, node string, depth int, rows_out long, time_ms double, "
    "bytes_out long, shuffle_bytes long, peak_mem_bytes long, "
    "spill_bytes long, metrics map<string,long>"
)


def _node_metrics(jnode) -> dict[str, tuple[str, int]]:
    """Read a SparkPlan node's SQLMetric map → {key: (metricType, value)}."""
    out: dict[str, tuple[str, int]] = {}
    it = jnode.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        sm = kv._2()
        out[kv._1()] = (sm.metricType(), sm.value())
    return out


def _walk(jnode, depth: int, seen: set[int], rows: list[Row]) -> None:
    cls = jnode.getClass().getSimpleName()
    # wrappers: descend without emitting a row of their own
    if cls == "AdaptiveSparkPlanExec":
        _walk(jnode.executedPlan(), depth, seen, rows)
        return
    if "QueryStageExec" in cls:  # Shuffle/Broadcast/ResultQueryStageExec
        _walk(jnode.plan(), depth, seen, rows)
        return
    if cls in ("ReusedExchangeExec", "ReusedSubqueryExec"):
        _walk(jnode.child(), depth, seen, rows)
        return
    nid = jnode.id()
    if nid in seen:  # a reused stage reports once
        return
    seen.add(nid)
    if cls not in ("InputAdapter", "WholeStageCodegenExec", "ColumnarToRowExec"):
        mets = _node_metrics(jnode)
        # size/timing SQLMetrics initialize to -1 in Spark (so empties can
        # be filtered); a node in a never-executed branch would otherwise
        # leak -1 into the derived columns. The raw map keeps the true
        # accumulator values; only the derived columns clamp.
        time_ms = sum(
            max(0.0, v * _TIME_TYPES[t])
            for t, v in mets.values()
            if t in _TIME_TYPES
        )
        raw = {k: int(v) for k, (_t, v) in mets.items()}

        def _sized(key: str) -> int | None:
            v = raw.get(key)
            return None if v is None else max(0, v)

        rows.append(
            Row(
                node_id=int(nid),
                node=str(jnode.nodeName()),
                depth=depth,
                rows_out=raw.get("numOutputRows"),
                time_ms=float(time_ms),
                bytes_out=_sized("dataSize"),
                shuffle_bytes=_sized("shuffleBytesWritten"),
                peak_mem_bytes=_sized("peakMemory"),
                spill_bytes=_sized("spillSize"),
                metrics=raw,
            )
        )
        depth += 1
    ch = jnode.children()
    for i in range(ch.size()):
        _walk(ch.apply(i), depth, seen, rows)
    # uncorrelated scalar subqueries (e.g. a broadcast 1-row aggregate)
    # hang off expressions, not children
    try:
        sq = jnode.subqueries()
        for i in range(sq.size()):
            _walk(sq.apply(i), depth, seen, rows)
    except Exception:
        pass  # not every node exposes subqueries()


def analyze(df: DataFrame) -> DataFrame:
    """Execute ``df`` and return per-operator runtime stats.

    Columns mirror the reference's OperatorExecutionStats
    (``carnot.cc:386-395``): ``node_id`` / ``node`` identify the
    physical operator (depth = position in the executed tree),
    ``rows_out`` = records_output, ``time_ms`` = the node's timing
    metrics total (scan/agg/sort/build time — self-time analogue),
    ``bytes_out`` / ``shuffle_bytes`` / ``peak_mem_bytes`` /
    ``spill_bytes`` the sizing metrics, and ``metrics`` the full raw
    SQLMetric map (extra_metrics analogue).

    Runs ONE distributed pass of the frame's own physical plan (no
    driver collection of the data itself); the returned stats frame is
    plan-sized. Streaming frames have no one-shot execution to measure
    — use the streaming query's progress API instead.
    """
    if df.isStreaming:
        raise ValueError(
            "analyze() executes a batch plan; a streaming frame has no "
            "one-shot execution — read lastProgress on the streaming query"
        )
    jqe = df._jdf.queryExecution()
    jqe.toRdd().count()  # execute THIS plan instance; metrics accumulate
    rows: list[Row] = []
    _walk(jqe.executedPlan(), 0, set(), rows)
    return _local_frame(df.sparkSession, rows, ANALYZE_SCHEMA)


EXEC_SUMMARY_SCHEMA = (
    "rows_processed long, bytes_processed long, rows_output long, "
    "wall_ms double, n_scans int"
)


def _summarize_rows(df: DataFrame, rows: list[Row], n_out, wall_ms) -> DataFrame:
    """Fold walked plan rows into :func:`summarize_execution`'s one-row
    basic-stats frame, after a fresh execution or a consumer's prior
    one."""
    scans = [
        r
        for r in rows
        # file scans + Scan ExistingRDD; BatchScan = DSv2 sources
        if r.node.startswith(("Scan", "BatchScan"))
        or r.node in ("Range", "LocalTableScan", "InMemoryTableScan")
    ]
    return _local_frame(
        df.sparkSession,
        [
            (
                sum(s.rows_out or 0 for s in scans),
                # filesSize is a size metric (init -1): clamp never-ticked
                sum(max(0, s.metrics.get("filesSize") or 0) for s in scans),
                None if n_out is None else int(n_out),
                wall_ms,
                len(scans),
            )
        ],
        EXEC_SUMMARY_SCHEMA,
    )


def summarize_execution(df: DataFrame, execute: bool = True) -> DataFrame:
    """Basic exec stats off the frame's OWN QueryExecution — the wiring
    the reference attaches to EVERY query result even at analyze=false
    (``carnot.cc:455-462``): one row of (rows_processed,
    bytes_processed, rows_output, wall_ms, n_scans).

    rows_processed / bytes_processed sum the source nodes' output-row
    and files-read-size metrics (file scans report bytes; in-memory
    sources — Range, LocalTableScan, InMemoryTableScan — count toward
    rows and n_scans with 0 bytes). If a consumer already executed this exact
    Dataset (``collect``/``toPandas`` run the Dataset's own
    QueryExecution), the accumulated metrics are summarized with NO new
    Spark job; otherwise one distributed pass runs iff ``execute``
    (else a ValueError — callers that must never trigger work pass
    ``execute=False``). ``wall_ms`` is null when reusing a prior
    execution: the consumer's wall time wasn't ours to measure.
    ``rows_output`` likewise comes from the root node's metric when
    available (a collect()'s true return count isn't observable after
    the fact); after a fresh pass it is the count the execution itself
    returned, so a limit-rooted plan reports its limit."""
    import time

    if df.isStreaming:
        raise ValueError(
            "summarize_execution() reads a batch QueryExecution; use "
            "stream_stats(query) for a streaming query's progress"
        )
    jqe = df._jdf.queryExecution()
    rows: list[Row] = []
    _walk(jqe.executedPlan(), 0, set(), rows)
    if any(v > 0 for r in rows for v in r.metrics.values()):
        root_rows = rows[0].rows_out if rows else None
        return _summarize_rows(df, rows, root_rows, None)
    if not execute:
        # all metrics at init values is ambiguous: never executed, OR
        # executed and genuinely empty (an empty run ticks nothing above
        # zero) — the message must not claim the first when it can't know
        raise ValueError(
            "no metric has ticked — the frame was either never executed "
            "or its execution produced an empty result; pass execute=True "
            "for one distributed pass (cheap by construction if empty)"
        )
    t0 = time.time()
    n_out = jqe.toRdd().count()
    wall_ms = round((time.time() - t0) * 1000, 1)
    rows = []
    _walk(jqe.executedPlan(), 0, set(), rows)
    return _summarize_rows(df, rows, n_out, wall_ms)


# one row per micro-batch progress event — the reference's exec-stats-
# over-the-result-stream surface (carnot.cc:450-462) mapped onto
# StreamingQuery.recentProgress
STREAM_STATS_SCHEMA = (
    "batch_id long, rows_processed long, rows_output long, wall_ms double, "
    "rows_per_sec double, processed_rows_per_sec double, "
    "state_rows long, state_mem_bytes long, "
    "state_operators map<string,long>, n_sources int"
)


def stream_stats(query) -> DataFrame:
    """Per-micro-batch runtime stats for an active (or stopped)
    ``StreamingQuery`` — the streaming face of :func:`summarize_execution`.

    The reference's streaming queries report the same exec stats over
    their result stream as batch queries do per-result
    (``/root/reference/src/carnot/carnot.cc:450-462``); Spark already
    collects them per micro-batch in ``recentProgress``. Each progress
    event becomes one row: ``rows_processed`` = numInputRows,
    ``rows_output`` = sink.numOutputRows (null when the sink doesn't
    report), ``wall_ms`` = batchDuration, the two rate columns as
    reported, and the state-store totals (rows + memory, plus a
    per-operator name→numRowsTotal map) for stateful operators.
    Retention is bounded by ``spark.sql.streaming.numRecentProgressUpdates``
    (default 100) — this reads the driver-held ring buffer; no job runs.

    ``query`` may be a ``StreamingQuery`` or anything exposing
    ``recentProgress``; the stats frame is built on the active
    session."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    out: list[tuple] = []
    for p in query.recentProgress:
        state_ops: dict[str, int] = {}
        state_rows = 0
        state_mem = 0
        for so in p.stateOperators or []:
            nm = so.get("operatorName") if hasattr(so, "get") else None
            n = int(so.get("numRowsTotal") or 0) if hasattr(so, "get") else 0
            state_ops[str(nm or f"op{len(state_ops)}")] = n
            state_rows += n
            state_mem += int(so.get("memoryUsedBytes") or 0)
        sink_rows = None
        sink = p.sink
        if sink is not None:
            v = sink.get("numOutputRows") if hasattr(sink, "get") else None
            # -1 = sink doesn't report (size-metric convention)
            sink_rows = None if v is None or int(v) < 0 else int(v)
        out.append(
            (
                int(p.batchId),
                int(p.numInputRows),
                sink_rows,
                float(p.batchDuration),
                float(p.inputRowsPerSecond or 0.0),
                float(p.processedRowsPerSecond or 0.0),
                state_rows if state_ops else None,
                state_mem if state_ops else None,
                state_ops or None,
                len(p.sources or []),
            )
        )
    return _local_frame(spark, out, STREAM_STATS_SCHEMA)
