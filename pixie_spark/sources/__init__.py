"""Table registration — the Spark replacement for the reference's
TableStore (src/table_store/table/table_store.h:79): a name → table map
backed by the session catalog instead of per-node in-memory stores.

At 100 TB these would be external catalog tables partitioned by a time
bucket; here we register parquet paths as temp views so both the
DataFrame API and spark.sql() resolve the same names.

Time-column convention (SURVEY §1.2): the engine-facing ``ts`` column is
ALWAYS long nanoseconds (the reference's TIME64NS = int64 ns,
src/table_store/schema/relation.h:41 resolves schemas from a declared
relation map — it never infers). Physical parquet files vary by producer:

- TIMESTAMP(NANOS)          → read natively as long ns (``nanosAsLong``)
- timestamp[us] / NTZ       → normalized via a timezone-independent
  µs-diff from epoch ×1000 (NOT ``cast("long")``, which truncates to
  seconds; NOT ``unix_micros`` on NTZ, which is tz-dependent)
- already-bigint            → passed through

so every downstream consumer can rely on ``ts`` being long ns no matter
how the fixture was written.
"""

from __future__ import annotations

import datetime
import os
from typing import Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_EPOCH = datetime.datetime(1970, 1, 1)


def _ns_to_sql_ts_literal(ns: int) -> str:
    """Long-ns epoch → ``'YYYY-MM-DD HH:MM:SS.ffffff'`` (µs precision,
    naive/UTC wall-clock). Integer arithmetic only — no float rounding."""
    dt = _EPOCH + datetime.timedelta(microseconds=ns // 1000)
    return dt.strftime("%Y-%m-%d %H:%M:%S.%f")


def _parquet_footer(path: str):
    """Footer metadata of ``path`` (or its first .parquet file when a
    directory); None when unreadable."""
    import pyarrow.parquet as pq

    try:
        files = [
            os.path.join(path, f)
            for f in (os.listdir(path) if os.path.isdir(path) else [""])
        ] or [path]
        first = next(
            (f for f in sorted(files) if f.endswith(".parquet")), path
        ) if os.path.isdir(path) else path
        return pq.read_metadata(first)
    except Exception:  # noqa: BLE001 — unreadable footer → caller falls back
        return None


_TS_UNIT_TO_NS = {"nanoseconds": 1, "microseconds": 1000, "milliseconds": 1_000_000}


def _ts_long_read_scale(path: str, col: str = "ts") -> Optional[int]:
    """ns-per-unit multiplier for reading a TIMESTAMP-typed parquet
    column as raw INT64 (Spark accepts a user schema that maps a
    physically-INT64 timestamp column to LongType), or None when that
    read is impossible (INT96 legacy encoding, column absent, footer
    unreadable).

    This is the zero-conversion fast path: the engine's ns column is
    then ``raw * scale`` — one long multiply instead of a per-row
    timestampdiff/unix_micros chain — and time-range predicates compare
    raw longs, which both push to the reader and stay trivially inside
    whole-stage codegen.
    """
    md = _parquet_footer(path)
    if md is None:
        return None
    schema = md.schema
    idx = next((i for i in range(len(schema)) if schema.column(i).name == col), None)
    if idx is None:
        return None
    c = schema.column(idx)
    if c.physical_type != "INT64":
        return None
    lt = c.logical_type
    if str(getattr(lt, "type", "")).upper() != "TIMESTAMP":
        return None
    import json

    unit = json.loads(lt.to_json()).get("timeUnit")
    return _TS_UNIT_TO_NS.get(unit)


def _int64_ts_unit_scale(path: str, col: str = "ts") -> int:
    """Multiplier mapping a raw-INT64 epoch column to ns, inferred WITHOUT
    a Spark job: when the parquet column carries a TIMESTAMP logical type
    the declared unit wins (nanosAsLong read → already ns → 1); for a
    bare INT64 the footer row-group max statistic discriminates the unit
    by magnitude — any plausible epoch is ~1.7e9 s / 1.7e12 ms / 1.7e15
    µs / 1.7e18 ns, five orders apart, so the bands can't collide.
    Falls back to 1 (ns) when statistics are absent."""
    md = _parquet_footer(path)
    if md is None:
        return 1
    schema = md.schema
    idx = next((i for i in range(len(schema)) if schema.column(i).name == col), None)
    if idx is None:
        return 1
    if str(getattr(schema.column(idx).logical_type, "type", "")).upper().startswith(
        "TIMESTAMP"
    ):
        return 1  # declared unit — the nanosAsLong/normalize paths own it
    mx = 0
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is not None and st.has_min_max and st.max is not None:
            mx = max(mx, int(st.max))
    if mx <= 0:
        return 1
    if mx < 10**11:
        return 10**9  # seconds
    if mx < 10**14:
        return 10**6  # milliseconds
    if mx < 10**17:
        return 10**3  # microseconds
    return 1  # nanoseconds


def normalize_ts_ns(
    df: DataFrame,
    col: str = "ts",
    time_range_ns: Optional[Tuple[int, int]] = None,
    int64_scale: int = 1,
) -> DataFrame:
    """Normalize a physical time column to the engine's long-ns convention.

    When ``time_range_ns=(lo, hi)`` is given, the [lo, hi) predicate is
    applied against the PHYSICAL column type *before* normalization so it
    reaches the parquet reader as a PushedFilters entry (a predicate on
    the derived ns column would not push — Catalyst can't invert the
    µs-diff expression). Asserted in tests/test_plans.py.
    """
    dtypes = dict(df.dtypes)
    dt = dtypes.get(col)
    if dt is None:
        return df

    if dt == "timestamp_ntz":
        # NTZ wall-clock: diff from the NTZ epoch is tz-independent.
        if time_range_ns is not None:
            lo, hi = time_range_ns
            # A µs column holds only µs-aligned instants, so the exact
            # [lo, hi) ns predicate on it is [ceil(lo/1e3), ceil(hi/1e3)) µs.
            lo_us, hi_us = -(-lo // 1000), -(-hi // 1000)
            df = df.where(
                F.expr(
                    f"{col} >= TIMESTAMP_NTZ '{_ns_to_sql_ts_literal(lo_us * 1000)}' "
                    f"AND {col} < TIMESTAMP_NTZ '{_ns_to_sql_ts_literal(hi_us * 1000)}'"
                )
            )
        return df.withColumn(
            col,
            F.expr(
                f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})"
            )
            * F.lit(1000),
        )
    if dt == "timestamp":
        # Instant (LTZ) semantics: unix_micros is the exact epoch offset.
        if time_range_ns is not None:
            lo, hi = time_range_ns
            # timestamp_micros(int) is exact integer µs — no double
            # round-trip that could shift a bound by 1 µs at large epochs —
            # and still folds to a literal the parquet reader can push.
            # Ceil both bounds: a µs column only holds µs-aligned instants,
            # so [lo, hi) in ns is exactly [ceil(lo/1e3), ceil(hi/1e3)) in µs.
            df = df.where(
                F.expr(
                    f"{col} >= timestamp_micros({-(-lo // 1000)}) "
                    f"AND {col} < timestamp_micros({-(-hi // 1000)})"
                )
            )
        return df.withColumn(col, F.unix_micros(F.col(col)) * F.lit(1000))
    # bigint: TIMESTAMP(NANOS) parquet read via nanosAsLong — already ns
    # (scale 1) — or a raw-INT64 epoch column whose unit the caller
    # inferred from footer statistics (scale 10^k to ns).
    if time_range_ns is not None:
        lo, hi = time_range_ns
        # predicate on the PHYSICAL (unscaled) values so it pushes down:
        # raw*scale >= lo  ⟺  raw >= ceil(lo/scale)
        df = df.where(
            (F.col(col) >= F.lit(-(-lo // int64_scale)))
            & (F.col(col) < F.lit(-(-hi // int64_scale)))
        )
    if int64_scale != 1:
        df = df.withColumn(col, F.col(col) * F.lit(int64_scale))
    return df


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    time_range_ns: Optional[Tuple[int, int]] = None,
) -> DataFrame:
    """MemorySource equivalent: a declarative scan. Column projection and
    time-range predicates applied downstream reach the parquet reader via
    Catalyst pushdown (ref operator: src/carnot/exec/memory_source_node.cc).

    ``ts`` is normalized to long ns regardless of the physical parquet
    type (see module docstring). Pass ``time_range_ns=(lo, hi)`` for a
    [lo, hi) scan predicate applied on the physical column so it pushes
    to the reader; filtering the returned (derived) ``ts`` later still
    works but scans all row groups.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    dt = dict(df.dtypes).get("ts")
    if dt in ("timestamp", "timestamp_ntz"):
        # Fast path: re-read the TIMESTAMP column as raw INT64 (exact
        # stored µs/ms/ns integers, tz-independent by construction) so
        # normalization is a single long multiply and range predicates
        # compare pushable longs. Falls back to the expression-based
        # normalize paths only for INT96-encoded legacy files.
        scale = _ts_long_read_scale(path)
        if scale is not None:
            from pyspark.sql.types import LongType, StructField, StructType

            fields = [
                StructField(
                    f.name,
                    LongType() if f.name == "ts" else f.dataType,
                    f.nullable,
                )
                for f in df.schema.fields
            ]
            df = spark.read.schema(StructType(fields)).parquet(path)
            return normalize_ts_ns(df, "ts", time_range_ns, int64_scale=scale)
        return normalize_ts_ns(df, "ts", time_range_ns)
    scale = 1
    if dt == "bigint":
        scale = _int64_ts_unit_scale(path)
    return normalize_ts_ns(df, "ts", time_range_ns, int64_scale=scale)


def empty_source(spark: SparkSession, schema) -> DataFrame:
    """EmptySource operator (src/carnot/exec/empty_source_node.cc): a
    zero-row frame with a fixed schema."""
    return spark.createDataFrame([], schema)
