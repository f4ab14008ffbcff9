"""Compile-time time helpers, evaluated at plan-build time in the API
layer — exactly where the reference evaluates them (planner, not engine:
src/carnot/planner/objects/pixie_module.h:110-247, objects/time.cc).

All values are int64 nanoseconds (TIME64NS convention, SURVEY §1.2).
"""

from __future__ import annotations

import re
import time as _time
from datetime import datetime, timezone

NS = 1
US = 1_000
MS = 1_000_000
SECOND = 1_000_000_000
MINUTE = 60 * SECOND
HOUR = 60 * MINUTE
DAY = 24 * HOUR

_DUR_RE = re.compile(r"^(-?)(\d+)(ns|us|ms|s|m|h|d)$")
_UNITS = {"ns": NS, "us": US, "ms": MS, "s": SECOND, "m": MINUTE, "h": HOUR, "d": DAY}


_now_override: int | None = None


def now() -> int:
    """px.now() → current time ns. Pinnable via set_now(...) so scripts
    with relative ranges ('-30s') evaluate against fixture time — the
    reference's compiler does the same (time of compilation is the
    reference point, pixie_module.h px.now)."""
    return _now_override if _now_override is not None else _time.time_ns()


def set_now(ns: int | None) -> None:
    """Pin (or with None, unpin) the px.now() reference point."""
    global _now_override
    _now_override = ns


def millis(n: float) -> int:
    return int(n * MS)


def seconds(n: float) -> int:
    return int(n * SECOND)


def minutes(n: float) -> int:
    return int(n * MINUTE)


def hours(n: float) -> int:
    return int(n * HOUR)


def days(n: float) -> int:
    return int(n * DAY)


def format_duration(duration: int) -> str:
    """px.format_duration (compile-time, pixie_module.cc:380-406): ns int
    → largest whole unit string ('-7200000000000' → '-2h'). Scripts round-
    trip it back through parse_duration for derived time ranges."""
    negative = duration < 0
    v = -duration if negative else duration
    ms, s, m, h, d = 10**6, 10**9, 60 * 10**9, 3600 * 10**9, 86400 * 10**9
    if v >= d:
        out = f"{v // d}d"
    elif v >= h:
        out = f"{v // h}h"
    elif v >= m:
        out = f"{v // m}m"
    elif v >= s:
        out = f"{v // s}s"
    else:
        out = f"{v // ms}ms"
    return f"-{out}" if negative else out


def parse_duration(s: str) -> int:
    """'-5m' / '2s' / '1h' → signed ns (px.parse_duration)."""
    m = _DUR_RE.match(s.strip())
    if not m:
        raise ValueError(f"bad duration {s!r} (want e.g. '-5m', '30s', '1h')")
    sign = -1 if m.group(1) == "-" else 1
    return sign * int(m.group(2)) * _UNITS[m.group(3)]


def _dt_to_ns(dt: datetime) -> int:
    """datetime → exact ns: integer seconds × 1e9 + µs × 1e3.
    (dt.timestamp()*1e9 routes the fraction through float64, quantizing
    at ~238 ns near current epochs.)"""
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    whole = int(dt.replace(microsecond=0).timestamp())
    return whole * SECOND + dt.microsecond * 1000


def strptime(s: str, fmt: str) -> int:
    """px.strptime → ns since epoch (naive strings treated as UTC)."""
    return _dt_to_ns(datetime.strptime(s, fmt))


def resolve_time(value, reference_ns: int | None = None) -> int:
    """start_time/end_time argument → absolute ns. Accepts absolute ints,
    relative duration strings ('-5m'), and datetimes."""
    if isinstance(value, int):
        return value
    if isinstance(value, datetime):
        return _dt_to_ns(value)
    if isinstance(value, str):
        ref = reference_ns if reference_ns is not None else now()
        return ref + parse_duration(value)
    raise TypeError(f"cannot interpret time {value!r}")
