"""Streaming-mode execution of VERBATIM PxL scripts.

The reference runs the same script batch or streaming: ``df.stream()``
(src/carnot/planner/ir/stream_ir.h:44, dataframe.h:404-419) keeps the
Carnot query alive against the node's in-memory ring-buffer tables, and
every result window is computed over the CURRENT contents of that
bounded table (scripts always scan a ``start_time`` window — the ring
buffer IS the retention).

Spark-first mapping, two tiers:

1. **Single-windowed-aggregate pipelines** run as TRUE incremental
   Structured Streaming: ``readStream → rolling_agg (event-time window
   + watermark) → px.otel/memory sink`` — see streaming/__init__.py.
   This is the shape Spark maintains incrementally with bounded state.

2. **Arbitrary multi-aggregate DAGs** (the flagship corpus scripts:
   chained aggregations + joins OF aggregates — shapes Structured
   Streaming cannot maintain incrementally in one query) run as a
   *streaming-refresh materialized view*: sources are ingested
   continuously via Structured Streaming into an accumulating snapshot
   (the ring-buffer analogue, with optional retention trimming), and
   after every micro-batch the verbatim script re-executes over the
   snapshot, refreshing the named result tables. This matches the
   reference's semantics exactly — a Carnot streaming script's output
   at time t is the script evaluated over the ring buffer's contents
   at time t — while using Spark's scale model: ingestion is
   distributed, each refresh is a full Catalyst-optimized batch plan
   over a time-bounded window (NOT over all history), and at 100 TB/day
   the window-bounded snapshot is the same size the reference's PEM
   ring buffers would collectively hold.

``StreamingScriptRun`` below implements tier 2.
"""

from __future__ import annotations

import logging
import os
import threading
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

_log = logging.getLogger(__name__)


class StreamingScriptRun:
    """Continuous execution of a verbatim PxL script over file streams.

    For each entry in ``stream_tables`` the batch fixture frame is laid
    out as ordered parquet chunks (simulating arrival), read back with
    ``readStream`` (``max_files_per_trigger`` files per micro-batch,
    preserving time order), appended to an accumulating snapshot dir,
    and the script re-runs over the snapshot after every micro-batch.
    ``results`` always holds the latest refresh's named outputs
    (collected rows — a stable copy, immune to later appends).
    """

    def __init__(
        self,
        spark: SparkSession,
        script: str,
        stream_tables: dict[str, DataFrame],
        static_tables: dict[str, DataFrame],
        work_dir: str,
        metadata=None,
        calls=None,
        chunks: int = 4,
        max_files_per_trigger: int = 1,
        retention_ns: Optional[int] = None,
        time_col: str = "time_",
        on_refresh: Optional[Callable[[dict], None]] = None,
    ):
        self._spark = spark
        self._script = script
        self._static = dict(static_tables)
        self._metadata = metadata
        self._calls = calls
        self._retention_ns = retention_ns
        self._time_col = time_col
        self._on_refresh = on_refresh
        self._work = work_dir
        self._queries = []
        self._schemas: dict[str, object] = {}
        self._lock = threading.Lock()  # one refresh at a time
        self.results: dict[str, list] = {}
        self.refresh_count = 0
        self.refresh_errors: list[str] = []

        for name, df in stream_tables.items():
            src = os.path.join(work_dir, "src", name)
            # ordered chunks: range-partition on event time so files
            # arrive roughly chronologically, like a live feed. On a
            # RESTART (same work_dir, checkpoint present) the existing
            # files are reused — re-laying them would mint new file
            # names the checkpointed file source treats as unseen,
            # double-ingesting everything. Reuse is keyed on _SUCCESS
            # (written at JOB commit): a crash mid-layout leaves part
            # files but no marker, and must re-lay rather than stream a
            # truncated source.
            if not os.path.exists(os.path.join(src, "_SUCCESS")):
                (
                    df.repartitionByRange(chunks, time_col)
                    .sortWithinPartitions(time_col)
                    .write.mode("overwrite")
                    .parquet(src)
                )
            self._schemas[name] = df.schema

        for name in stream_tables:
            src = os.path.join(work_dir, "src", name)
            accum = os.path.join(work_dir, "accum", name)
            ckpt = os.path.join(work_dir, "ckpt", name)
            stream = (
                spark.readStream.schema(self._schemas[name])
                .option("maxFilesPerTrigger", max_files_per_trigger)
                .parquet(src)
            )
            q = (
                stream.writeStream.foreachBatch(self._ingest_and_refresh(name, accum))
                .option("checkpointLocation", ckpt)
                .start()
            )
            self._queries.append(q)

    # -- ingestion + refresh --------------------------------------------------

    def _ingest_and_refresh(self, name: str, accum: str):
        from pixie_spark.streaming.ingest import _write_batch

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            # distributed idempotent append of this micro-batch to the
            # snapshot: the batch owns its batch_id= partition, so a
            # kill mid-batch followed by a checkpoint restart REPLACES
            # the partial partition instead of duplicating rows
            # (parquet here; Delta on a production cluster)
            _write_batch(batch_df, accum, batch_id)
            with self._lock:
                try:
                    self._refresh()
                except Exception as e:  # noqa: BLE001 — surfaced via handle
                    # logged when it happens; await_drained raises them all
                    _log.exception("streaming refresh failed at batch_id=%d", batch_id)
                    self.refresh_errors.append(f"{type(e).__name__}: {e}")

        return sink

    def _snapshot(self, name: str) -> DataFrame:
        from pixie_spark.streaming.ingest import BATCH_COL

        accum = os.path.join(self._work, "accum", name)
        # declared schema keeps exact table types (partition discovery
        # alone would relax nullability); Spark appends the undeclared
        # batch_id partition column after it — dropped here
        df = (
            self._spark.read.schema(self._schemas[name])
            .parquet(accum)
            .drop(BATCH_COL)
        )
        if self._retention_ns is not None:
            # ring-buffer retention: scripts only ever see the window
            from pyspark.sql import functions as F

            import pixie_spark.api as px

            lo = (px.now() or 0) - self._retention_ns
            df = df.where(F.col(self._time_col) >= F.lit(lo))
        return df

    def _refresh(self) -> None:
        import pixie_spark.api as px

        from pixie_spark.streaming.ingest import _has_batches

        tables = dict(self._static)
        for name in self._schemas:
            if _has_batches(self._spark, os.path.join(self._work, "accum", name)):
                tables[name] = self._snapshot(name)
        for name, df in tables.items():
            px.register_table(name, df)
        out = px.run_script(self._script, calls=self._calls)
        # materialize NOW: later appends must not mutate what this
        # refresh reported (the reference emits row batches per window)
        self.results = {k: v.collect() for k, v in out.items()}
        self.refresh_count += 1
        if self._on_refresh is not None:
            self._on_refresh(self.results)

    # -- lifecycle ------------------------------------------------------------

    def await_drained(self, timeout_s: float = 120.0) -> "StreamingScriptRun":
        """Block until every source file is ingested and the final
        refresh has run, then stop the ingestion queries."""
        for q in self._queries:
            q.processAllAvailable()
        self.stop()
        if self.refresh_errors:
            raise RuntimeError(f"refresh errors: {self.refresh_errors[:3]}")
        return self

    def stop(self) -> None:
        for q in self._queries:
            try:
                q.stop()
            except Exception:  # noqa: BLE001 — already stopped
                pass
