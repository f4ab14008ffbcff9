"""Pixie's type system mapped onto Spark SQL types.

Reference (public pixie-io/pixie checkout):
- primitive types: src/shared/types/typespb/types.proto:26-34
- semantic types:  src/shared/types/typespb/types.proto:67-94
- UPID layout:     src/shared/upid/upid.h:60-84

Design decisions (SURVEY.md §1.2):
- TIME64NS stays a LongType of nanoseconds since epoch (the reference
  itself treats time as int64); helpers convert to/from TimestampType.
- UINT128 (UPID) is a ``struct<high:long, low:long>`` — cheap equality
  and ordering, no precision loss, broadcast-join friendly.
- Semantic / pattern types ride in ``StructField.metadata`` under the
  keys ``semantic_type`` / ``pattern_type``; they never affect Catalyst,
  only our API layer (formatting, UDF arg checking).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- primitive type mapping (types.proto:26-34) -------------------------------

BOOLEAN = T.BooleanType()
INT64 = T.LongType()
FLOAT64 = T.DoubleType()
STRING = T.StringType()
TIME64NS = T.LongType()  # ns since epoch; column name convention: time_
UINT128 = T.StructType(
    [
        T.StructField("high", T.LongType(), False),
        T.StructField("low", T.LongType(), False),
    ]
)

PIXIE_TO_SPARK = {
    "BOOLEAN": BOOLEAN,
    "INT64": INT64,
    "FLOAT64": FLOAT64,
    "STRING": STRING,
    "TIME64NS": TIME64NS,
    "UINT128": UINT128,
}

# --- semantic types (types.proto:67-94) --------------------------------------

SEMANTIC_TYPES = frozenset(
    {
        "ST_NONE",
        "ST_UPID",
        "ST_SERVICE_NAME",
        "ST_POD_NAME",
        "ST_POD_PHASE",
        "ST_POD_STATUS",
        "ST_NODE_NAME",
        "ST_CONTAINER_NAME",
        "ST_CONTAINER_STATE",
        "ST_CONTAINER_STATUS",
        "ST_NAMESPACE_NAME",
        "ST_BYTES",
        "ST_PERCENT",
        "ST_DURATION_NS",
        "ST_THROUGHPUT_PER_NS",
        "ST_THROUGHPUT_BYTES_PER_NS",
        "ST_QUANTILES",
        "ST_DURATION_NS_QUANTILES",
        "ST_IP_ADDRESS",
        "ST_PORT",
        "ST_HTTP_REQ_METHOD",
        "ST_HTTP_RESP_STATUS",
        "ST_HTTP_RESP_MESSAGE",
        "ST_SCRIPT_REFERENCE",
    }
)

PATTERN_TYPES = frozenset(
    {"UNSPECIFIED", "METRIC_COUNTER", "METRIC_GAUGE", "GENERAL_ENUM", "GENERAL", "STRUCTURED"}
)


def field(
    name: str,
    dtype: T.DataType,
    semantic_type: str = "ST_NONE",
    pattern_type: str = "UNSPECIFIED",
    nullable: bool = True,
) -> T.StructField:
    """A StructField carrying pixie's secondary type lattice in metadata."""
    meta = {}
    if semantic_type != "ST_NONE":
        assert semantic_type in SEMANTIC_TYPES, semantic_type
        meta["semantic_type"] = semantic_type
    if pattern_type != "UNSPECIFIED":
        assert pattern_type in PATTERN_TYPES, pattern_type
        meta["pattern_type"] = pattern_type
    return T.StructField(name, dtype, nullable, metadata=meta)


# --- UPID helpers (upid.h:60-84) ---------------------------------------------
# high = (asid << 32) | pid ; low = process start_ticks.


def _coerce(x: Column | str | int) -> Column:
    if isinstance(x, Column):
        return x
    return F.col(x) if isinstance(x, str) else F.lit(x)


def make_upid(asid: Column | str | int, pid: Column | str | int, start_ts: Column | str | int) -> Column:
    """Construct a UPID struct column. Ref: upid_ops 'make_upid' UDF
    (src/carnot/funcs/builtins/uuid_ops.cc)."""
    asid_c, pid_c, ts_c = _coerce(asid), _coerce(pid), _coerce(start_ts)
    high = F.shiftleft(asid_c.cast("long"), 32) + pid_c.cast("long")
    return F.struct(high.alias("high"), ts_c.cast("long").alias("low"))


def upid_to_asid(upid: Column) -> Column:
    """Ref: metadata_ops 'upid_to_asid' (src/carnot/funcs/metadata/metadata_ops.cc)."""
    return F.shiftrightunsigned(upid["high"], 32).cast("long")


def upid_to_pid(upid: Column) -> Column:
    return (upid["high"].bitwiseAND(F.lit(0xFFFFFFFF))).cast("long")


def upid_to_start_ts(upid: Column) -> Column:
    return upid["low"]


def upid_to_string(upid: Column) -> Column:
    """asid:pid:start_ts display form (metadata_ops 'upid_to_string')."""
    return F.concat_ws(
        ":",
        upid_to_asid(upid).cast("string"),
        upid_to_pid(upid).cast("string"),
        upid_to_start_ts(upid).cast("string"),
    )
