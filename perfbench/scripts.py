"""The PxL scripts the benchmark runs, with their reference answers.

Five scripts modelled on the shapes of Pixie's script corpus: request
stats (time bins, quantiles, two-level aggregation), service graph
(a merge of two aggregates over resolved metadata), slow requests
(filter, then head), per-path error rate, and net flow over
``conn_stats`` (per-connection counter deltas rolled up per pod).

Each script's reference answer is computed with pandas over the same
generated arrays the program reads, once per window. ``check`` compares
a run's collected rows to it: counts and sums must match exactly;
quantiles must fall between the data values at rank ``p - 0.01`` and
``p + 0.01`` (``QUANTILE_RANK_TOL``).
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass
from typing import Callable

import pandas as pd

from gen import SEC_NS

QUANTILE_RANK_TOL = 0.01
SLOW_NS = 45_000_000
SLOW_LIMIT = 100

REQUEST_STATS = """
import px
df = px.DataFrame(table='http_events', start_time='{start}')
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

SERVICE_GRAPH = """
import px
df = px.DataFrame(table='http_events', start_time='{start}')
df.responder = df.ctx['service']
df.requestor = px.pod_id_to_service_name(px.ip_to_pod_id(df.remote_addr))
edges = df.groupby(['requestor', 'responder']).agg(
    requests=('latency', px.count),
    latency_total=('latency', px.sum),
    bytes_total=('resp_body_size', px.sum),
)
totals = df.groupby('responder').agg(responder_requests=('latency', px.count))
edges = edges.merge(totals, how='inner', left_on='responder',
                    right_on='responder', suffixes=['', '_x'])
edges = edges[['requestor', 'responder', 'requests', 'latency_total',
               'bytes_total', 'responder_requests']]
px.display(edges, 'service_graph')
"""

SLOW_REQUESTS = f"""
import px
df = px.DataFrame(table='http_events', start_time='{{start}}')
df = df[df.latency >= {SLOW_NS}]
df.service = df.ctx['service']
df = df[['time_', 'service', 'req_path', 'resp_status', 'latency']]
px.display(df.head({SLOW_LIMIT}), 'slow_requests')
"""

PATH_ERRORS = """
import px
df = px.DataFrame(table='http_events', start_time='{start}')
df.failure = df.resp_status >= 400
df = df.groupby('req_path').agg(
    requests=('latency', px.count),
    errors=('failure', px.sum),
)
df.error_rate = df.errors / df.requests
df = df[df.errors > 0]
px.display(df, 'path_errors')
"""

NET_FLOW = """
import px
df = px.DataFrame(table='conn_stats', start_time='{start}')
df.pod = df.ctx['pod']
df = df.groupby(['pod', 'upid', 'remote_addr', 'trace_role']).agg(
    sent_max=('bytes_sent', px.max),
    sent_min=('bytes_sent', px.min),
    recv_max=('bytes_recv', px.max),
    recv_min=('bytes_recv', px.min),
)
df.bytes_sent = df.sent_max - df.sent_min
df.bytes_recv = df.recv_max - df.recv_min
df = df.groupby('pod').agg(
    connections=('remote_addr', px.count),
    bytes_sent=('bytes_sent', px.sum),
    bytes_recv=('bytes_recv', px.sum),
)
px.display(df, 'net_flow')
"""


def _window(frame: pd.DataFrame, lo_ns: int) -> pd.DataFrame:
    return frame[frame.time_.values >= lo_ns]


def _exact(rows: list[dict], want: set[tuple], cols: list[str]) -> str | None:
    got = [tuple(r[c] for c in cols) for r in rows]
    if len(got) != len(want) or set(got) != want:
        extra, missing = set(got) - want, want - set(got)
        return (
            f"{len(got)} rows vs {len(want)} expected; "
            f"unexpected {sorted(extra)[:2]}, missing {sorted(missing)[:2]}"
        )
    return None


def request_stats_expect(http: pd.DataFrame, lo_ns: int):
    d = _window(http, lo_ns)
    d = d.assign(ts=d.time_ - d.time_ % (10 * SEC_NS), failure=d.resp_status >= 400)
    g = d.groupby(["service", "ts"])
    per_bin = g.agg(n=("latency", "size"), errors=("failure", "sum"))
    per_bin["p99_lo"] = g.latency.quantile(0.99 - QUANTILE_RANK_TOL, interpolation="lower")
    per_bin["p99_hi"] = g.latency.quantile(
        min(1.0, 0.99 + QUANTILE_RANK_TOL), interpolation="higher"
    )
    out = per_bin.groupby(level="service").agg(
        windows=("n", "size"), requests=("n", "sum"), errors=("errors", "sum"),
        p99_lo=("p99_lo", "max"), p99_hi=("p99_hi", "max"),
    )
    return {s: tuple(int(v) for v in r[:3]) + (float(r[3]), float(r[4]))
            for s, r in zip(out.index, out.itertuples(index=False))}


def request_stats_check(rows: list[dict], want) -> str | None:
    if len(rows) != len(want):
        return f"{len(rows)} services vs {len(want)} expected"
    for r in rows:
        w = want.get(r["service"])
        if w is None:
            return f"unexpected service {r['service']!r}"
        if (r["windows"], r["requests"], r["errors"]) != w[:3]:
            return f"{r['service']}: counts {(r['windows'], r['requests'], r['errors'])} != {w[:3]}"
        if not w[3] <= r["p99_max"] <= w[4]:
            return f"{r['service']}: p99_max {r['p99_max']} outside [{w[3]}, {w[4]}]"
    return None


def service_graph_expect(http: pd.DataFrame, lo_ns: int):
    d = _window(http, lo_ns)
    edges = d.groupby(["requestor", "service"]).agg(
        requests=("latency", "size"), latency_total=("latency", "sum"),
        bytes_total=("resp_body_size", "sum"),
    )
    totals = d.groupby("service").size()
    return {
        (a, b, int(n), int(lat), int(by), int(totals[b]))
        for (a, b), n, lat, by in zip(edges.index, edges.requests, edges.latency_total, edges.bytes_total)
    }


def service_graph_check(rows: list[dict], want) -> str | None:
    return _exact(rows, want, ["requestor", "responder", "requests", "latency_total",
                               "bytes_total", "responder_requests"])


_SLOW_COLS = ["time_", "service", "req_path", "resp_status", "latency"]


def slow_requests_expect(http: pd.DataFrame, lo_ns: int):
    d = _window(http, lo_ns)
    d = d[d.latency.values >= SLOW_NS]
    return Counter(zip(*(d[c].tolist() for c in _SLOW_COLS)))


def slow_requests_check(rows: list[dict], want: Counter) -> str | None:
    n = min(SLOW_LIMIT, sum(want.values()))
    if len(rows) != n:
        return f"{len(rows)} rows vs {n} expected"
    bogus = Counter(tuple(r[c] for c in _SLOW_COLS) for r in rows) - want
    return f"rows not in the reference: {list(bogus)[:2]}" if bogus else None


def path_errors_expect(http: pd.DataFrame, lo_ns: int):
    d = _window(http, lo_ns)
    g = d.assign(failure=d.resp_status >= 400).groupby("req_path").agg(
        requests=("latency", "size"), errors=("failure", "sum")
    )
    g = g[g.errors > 0]
    return {(p, int(n), int(e), int(e) / int(n)) for p, n, e in zip(g.index, g.requests, g.errors)}


def path_errors_check(rows: list[dict], want) -> str | None:
    return _exact(rows, want, ["req_path", "requests", "errors", "error_rate"])


def net_flow_expect(conn: pd.DataFrame, lo_ns: int):
    d = _window(conn, lo_ns)
    per_conn = d.groupby(["pod", "conn"]).agg(
        s_max=("sent", "max"), s_min=("sent", "min"), r_max=("recv", "max"), r_min=("recv", "min")
    )
    per_conn["sent"] = per_conn.s_max - per_conn.s_min
    per_conn["recv"] = per_conn.r_max - per_conn.r_min
    g = per_conn.groupby(level="pod").agg(
        connections=("sent", "size"), sent=("sent", "sum"), recv=("recv", "sum")
    )
    return {(p, int(c), int(s), int(r)) for p, c, s, r in zip(g.index, g.connections, g.sent, g.recv)}


def net_flow_check(rows: list[dict], want) -> str | None:
    return _exact(rows, want, ["pod", "connections", "bytes_sent", "bytes_recv"])


@dataclass(frozen=True)
class Script:
    name: str  # also the name the script displays its result under
    table: str  # the scanned table whose in-window rows count as input
    pxl: str  # source with a '{start}' placeholder for the window
    expect: Callable  # (reference frame, window start ns) -> answer
    check: Callable  # (collected rows as dicts, answer) -> error or None


SCRIPTS = [
    Script("request_stats", "http_events", REQUEST_STATS, request_stats_expect, request_stats_check),
    Script("service_graph", "http_events", SERVICE_GRAPH, service_graph_expect, service_graph_check),
    Script("slow_requests", "http_events", SLOW_REQUESTS, slow_requests_expect, slow_requests_check),
    Script("path_errors", "http_events", PATH_ERRORS, path_errors_expect, path_errors_check),
    Script("net_flow", "conn_stats", NET_FLOW, net_flow_expect, net_flow_check),
]
