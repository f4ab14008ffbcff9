"""``px.otel`` — the PxL OpenTelemetry export configuration surface
(ref: src/carnot/planner/objects/otel.h:37-249, otel.cc): declarative
containers mapping DataFrame columns onto OTel Gauge / Summary / Span /
Log shapes, plus the Endpoint config. ``px.export(df, px.otel.Data(...))``
(pixie_module.h:77) executes the export.

Spark-first execution difference: the reference compiles these into an
OTelExportSink plan node each Carnot instance runs; here ``px.export``
maps each partition's rows to OTLP-JSON payloads ON THE EXECUTORS
(foreachPartition, through pixie_spark.streaming's one export tail, for
batch and streaming frames) so export bandwidth scales with the
cluster instead of funneling through the driver.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from types import SimpleNamespace
from typing import Optional

# OTel proto SpanKind enum (opentelemetry/proto/trace/v1/trace.proto)
SPAN_KIND_UNSPECIFIED = 0
SPAN_KIND_INTERNAL = 1
SPAN_KIND_SERVER = 2
SPAN_KIND_CLIENT = 3
SPAN_KIND_PRODUCER = 4
SPAN_KIND_CONSUMER = 5

_COL_RE = re.compile(r"^Column<'(.+)'>$")


def _colname(c) -> str:
    """Column ref → column name. Accepts a plain string or a Column that
    resolves to a named column of the exported frame (the reference's
    arg types: otel.h 'value (Column)'); complex expressions must be
    assigned to a df column first, as in PxL."""
    if isinstance(c, str):
        return c
    m = _COL_RE.match(str(c))
    if not m:
        raise ValueError(
            f"px.otel column args must be named df columns, got {c!r}; "
            "assign the expression to a column first"
        )
    return m.group(1)


def _attr_map(attributes: Optional[dict]) -> dict[str, tuple[str, str]]:
    """attributes dict → {attr_name: ('col', colname) | ('lit', value)}."""
    out = {}
    for k, v in (attributes or {}).items():
        if isinstance(v, str):
            out[k] = ("lit", v)
        else:
            out[k] = ("col", _colname(v))
    return out


@dataclass
class Endpoint:
    """px.otel.Endpoint (otel.h:72-94): collector address + headers.
    In this engine a ``file://`` (or bare-path) URL exports JSONL to that
    directory — the sandbox/test collector; http(s) URLs POST OTLP-JSON
    from each executor partition."""

    url: str
    headers: dict = field(default_factory=dict)
    insecure: bool = False
    timeout: int = 5


@dataclass
class _Container:
    """One Data entry: a column→OTel mapping (OTelDataContainer)."""

    kind: str  # 'gauge' | 'summary' | 'span' | 'log'
    name: str | tuple  # metric/span name; ('col', c) when column-backed; '' for logs
    fields: dict
    attributes: dict
    description: str = ""
    unit: str = ""


def _gauge(name, value, description: str = "", attributes: dict | None = None, unit: str = ""):
    """px.otel.metric.Gauge (otel.h:104-125)."""
    return _Container(
        kind="gauge",
        name=name,
        fields={"value": _colname(value)},
        attributes=_attr_map(attributes),
        description=description,
        unit=unit,
    )


def _summary(
    name,
    count,
    sum,  # noqa: A002 — the reference's arg name
    quantile_values: dict,
    description: str = "",
    attributes: dict | None = None,
    unit: str = "",
):
    """px.otel.metric.Summary (otel.h:127-155): count + sum + labeled
    quantile columns (0.5 → p50 col, …)."""
    return _Container(
        kind="summary",
        name=name,
        fields={
            "count": _colname(count),
            "sum": _colname(sum),
            "quantiles": {float(q): _colname(c) for q, c in quantile_values.items()},
        },
        attributes=_attr_map(attributes),
        description=description,
        unit=unit,
    )


def _span(
    name,
    start_time,
    end_time,
    trace_id=None,
    span_id=None,
    parent_span_id=None,
    attributes: dict | None = None,
    kind: int = SPAN_KIND_SERVER,
):
    """px.otel.trace.Span (otel.h:174-215). Missing trace/span ids are
    engine-generated (the reference's exporter does the same)."""
    if isinstance(name, str):
        span_name = name
    else:
        span_name = ("col", _colname(name))
    return _Container(
        kind="span",
        name=span_name,
        fields={
            "start_time": _colname(start_time),
            "end_time": _colname(end_time),
            "trace_id": _colname(trace_id) if trace_id is not None else None,
            "span_id": _colname(span_id) if span_id is not None else None,
            "parent_span_id": _colname(parent_span_id) if parent_span_id is not None else None,
            "span_kind": int(kind),
        },
        attributes=_attr_map(attributes),
    )


def _log(time, body, severity=None, attributes: dict | None = None):
    """px.otel.log.Log: one log record per row, from a time (ns) column,
    a body column, an optional severity-text column and attributes.
    Rows whose time or body is null are skipped."""
    return _Container(
        kind="log",
        name="",
        fields={
            "time": _colname(time),
            "body": _colname(body),
            "severity": _colname(severity) if severity is not None else None,
        },
        attributes=_attr_map(attributes),
    )


@dataclass
class Data:
    """px.otel.Data (otel.h:45-70): resource attributes + a list of
    containers + optional endpoint. ``service.name`` is required in the
    resource, exactly like the reference."""

    resource: dict
    data: list
    endpoint: Optional[Endpoint] = None

    def __post_init__(self):
        if "service.name" not in self.resource:
            raise ValueError("px.otel.Data resource must specify 'service.name'")
        if isinstance(self.data, _Container):
            self.data = [self.data]


metric = SimpleNamespace(Gauge=_gauge, Summary=_summary)
trace = SimpleNamespace(
    Span=_span,
    SPAN_KIND_UNSPECIFIED=SPAN_KIND_UNSPECIFIED,
    SPAN_KIND_INTERNAL=SPAN_KIND_INTERNAL,
    SPAN_KIND_SERVER=SPAN_KIND_SERVER,
    SPAN_KIND_CLIENT=SPAN_KIND_CLIENT,
    SPAN_KIND_PRODUCER=SPAN_KIND_PRODUCER,
    SPAN_KIND_CONSUMER=SPAN_KIND_CONSUMER,
)
log = SimpleNamespace(Log=_log)


# ---------------------------------------------------------------------------
# Row → OTLP-JSON conversion (runs executor-side; must stay picklable)
# ---------------------------------------------------------------------------


def _attrs_json(attr_map: dict, d: dict) -> list:
    out = []
    for k, (akind, v) in attr_map.items():
        val = v if akind == "lit" else d.get(v)
        out.append({"key": k, "value": {"stringValue": str(val)}})
    return out


def rows_to_otlp(rows, resource: dict, containers: list) -> list:
    """Convert a partition's rows into OTLP-JSON payloads per the Data
    spec. Column-backed resource attributes (e.g. generate_data's
    service.name from the service column) resolve per row; rows are
    grouped into one payload per distinct resolved resource. Module-level
    so foreachPartition can pickle it."""
    import uuid as _uuid

    by_res: dict = {}  # resolved resource tuple → (metrics, spans, logs)
    for r in rows:
        d = r.asDict() if hasattr(r, "asDict") else dict(r)
        res_resolved = {
            k: (v[1] if v[0] == "lit" else str(d.get(v[1], "")))
            for k, v in resource.items()
        }
        metrics, spans, logs = by_res.setdefault(
            tuple(sorted(res_resolved.items())), ([], [], [])
        )
        for c in containers:
            if c.kind == "gauge":
                v = d.get(c.fields["value"])
                t = d.get("time_")
                if v is None or t is None:
                    continue
                metrics.append(
                    {
                        "name": c.name,
                        "description": c.description,
                        "unit": c.unit,
                        "gauge": {
                            "dataPoints": [
                                {
                                    "timeUnixNano": int(t),
                                    "asDouble": float(v),
                                    "attributes": _attrs_json(c.attributes, d),
                                }
                            ]
                        },
                    }
                )
            elif c.kind == "summary":
                t = d.get("time_")
                if t is None:
                    continue
                metrics.append(
                    {
                        "name": c.name,
                        "description": c.description,
                        "unit": c.unit,
                        "summary": {
                            "dataPoints": [
                                {
                                    "timeUnixNano": int(t),
                                    "count": int(d.get(c.fields["count"]) or 0),
                                    "sum": float(d.get(c.fields["sum"]) or 0.0),
                                    "quantileValues": [
                                        {"quantile": q, "value": float(d.get(col) or 0.0)}
                                        for q, col in sorted(c.fields["quantiles"].items())
                                    ],
                                    "attributes": _attrs_json(c.attributes, d),
                                }
                            ]
                        },
                    }
                )
            elif c.kind == "span":
                st, en = d.get(c.fields["start_time"]), d.get(c.fields["end_time"])
                if st is None or en is None:
                    continue
                name = (
                    str(d.get(c.name[1]))
                    if isinstance(c.name, tuple)
                    else c.name
                )
                tid = c.fields["trace_id"]
                sid = c.fields["span_id"]
                pid = c.fields["parent_span_id"]
                spans.append(
                    {
                        "name": name,
                        "startTimeUnixNano": int(st),
                        "endTimeUnixNano": int(en),
                        "traceId": str(d[tid]) if tid else _uuid.uuid4().hex,
                        "spanId": str(d[sid]) if sid else _uuid.uuid4().hex[:16],
                        "parentSpanId": str(d.get(pid) or "") if pid else "",
                        "kind": c.fields["span_kind"],
                        "attributes": _attrs_json(c.attributes, d),
                    }
                )
            elif c.kind == "log":
                t, body = d.get(c.fields["time"]), d.get(c.fields["body"])
                if t is None or body is None:
                    continue
                rec = {
                    "timeUnixNano": int(t),
                    "body": {"stringValue": str(body)},
                    "attributes": _attrs_json(c.attributes, d),
                }
                sev = c.fields["severity"]
                if sev and d.get(sev) is not None:
                    rec["severityText"] = str(d[sev])
                logs.append(rec)
    payloads = []
    for res_key, (metrics, spans, logs) in by_res.items():
        res = {
            "attributes": [
                {"key": k, "value": {"stringValue": v}} for k, v in res_key
            ]
        }
        if metrics:
            payloads.append(
                {"resourceMetrics": [{"resource": res, "scopeMetrics": [{"metrics": metrics}]}]}
            )
        if spans:
            payloads.append(
                {"resourceSpans": [{"resource": res, "scopeSpans": [{"spans": spans}]}]}
            )
        if logs:
            payloads.append(
                {"resourceLogs": [{"resource": res, "scopeLogs": [{"logRecords": logs}]}]}
            )
    return payloads


def http_exporter(url: str, headers: dict, timeout: int):
    """Executor-side OTLP/HTTP-JSON poster (one POST per payload).
    Cloudpickled into foreachPartition tasks."""

    def post(payloads):
        import json
        import urllib.request

        for p in payloads:
            req = urllib.request.Request(
                url,
                data=json.dumps(p).encode(),
                headers={"Content-Type": "application/json", **headers},
            )
            urllib.request.urlopen(req, timeout=timeout)  # noqa: S310

    return post


def generate_data(df, table_name: str):
    """Auto-generate a px.otel.Data config from a result frame — the
    plugin system's script conversion (ref: otel_generator.cc:560-662,
    GenerateOTelScript): every INT64/FLOAT64 column becomes a Gauge named
    '<table>.<col>', every STRING/BOOLEAN column a resource attribute,
    the 'service' column feeds service.name. The reference's error cases
    are reproduced verbatim-in-spirit: a time_ column is required, a
    service column is required, at least one numeric column is required,
    and UINT128-style columns must be stringified first."""
    sdf = df.to_spark() if hasattr(df, "to_spark") else df
    dtypes = dict(sdf.dtypes)
    if "time_" not in dtypes:
        raise ValueError(
            f"Table '{table_name}' does not have a time_ column of TIME64NS type"
        )
    resource: dict = {}
    gauges = []
    service_col = None
    for name, dt in sdf.dtypes:
        if name == "time_":
            continue
        if dt.startswith("struct"):
            raise ValueError(
                f"column '{name}' uses an unsupported type: UINT128. "
                "Please convert the column to a string"
            )
        if dt in ("string", "boolean"):
            resource[f"{table_name}.{name}"] = sdf[name]
            # service detection: the reference keys off the ST_SERVICE_NAME
            # semantic type, preferring the column literally named
            # 'service'; the name-based proxy here mirrors that preference
            if name == "service" or (service_col is None and name.endswith("service")):
                service_col = name
        elif dt in ("bigint", "int", "double", "float"):
            gauges.append(_gauge(name=f"{table_name}.{name}", value=sdf[name]))
    if service_col is None:
        raise ValueError(
            f"Table '{table_name}' does not have a service column. Make sure "
            "you create a service column ie `df.ctx['service']` and include "
            "it in any groupbys and joins"
        )
    if not gauges:
        raise ValueError(
            f"Table '{table_name}' does not have any INT64 or FLOAT64 that "
            "can be converted to OTel metrics"
        )
    resource["service.name"] = sdf[service_col]
    return Data(resource=resource, data=gauges)
