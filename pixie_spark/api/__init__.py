"""The ``px`` module surface (import pixie_spark.api as px).

Reference: src/carnot/planner/objects/pixie_module.h:49-330 — DataFrame,
display, export, debug, now/seconds/minutes/hours/days, strptime,
parse_duration, equals_any, make_upid, uint128, script_reference.

Usage:

    import pixie_spark.api as px
    px.set_context(spark, tables={'http_events': http_df}, metadata=resolver)
    df = px.DataFrame('http_events', start_time='-5m')
    df.failure = df.resp_status >= 400
    stats = df.groupby(['req_path']).agg(
        count=('latency', 'px.count'),
        p99=('latency', lambda c: F.percentile_approx(c, 0.99)),
    )
    px.display(stats, 'path_stats')
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column
from pyspark.sql import DataFrame as SparkDataFrame
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from pixie_spark.api.dataframe import (
    DeferredCol,
    MetadataCall,
    MetadataExpr,
    PxDataFrame,
    PxGroupedFrame,
    is_meta_sentinel,
)
from pixie_spark.api.errors import (
    CompilerError,
    PxKeyError,
    PxTypeError,
    column_not_found,
)
from pixie_spark.api.timemod import (
    days,
    format_duration,
    hours,
    millis,
    minutes,
    now,
    parse_duration,
    resolve_time,
    seconds,
    set_now,
    strptime,
)
from pixie_spark.api import otelmod as otel
from pixie_spark.functions.json_ops import script_reference
from pixie_spark.plans.analyze import _local_frame
from pixie_spark.types import make_upid

_ctx: dict[str, Any] = {"spark": None, "tables": {}, "metadata": None, "results": {}, "limit": 10_000}


class _PluginModule:
    """``px.plugin`` — the plugin-context time window (ref:
    src/carnot/planner/objects/plugin.cc:45-60): ``start_time`` /
    ``end_time`` resolve to int ns from the plugin config supplied by the
    script runner, and error outside a plugin context exactly like the
    reference ("No plugin config found...")."""

    _window: tuple[int, int] | None = None

    def _get(self, idx: int) -> int:
        if self._window is None:
            raise RuntimeError(
                "No plugin config found. Make sure the script is run in a plugin context."
            )
        return self._window[idx]

    @property
    def start_time(self) -> int:
        return self._get(0)

    @property
    def end_time(self) -> int:
        return self._get(1)


plugin = _PluginModule()


def set_plugin_window(start_ns: int | None, end_ns: int | None = None) -> None:
    """Install (or with None, clear) the px.plugin time window — done by
    the cron script runner around each scheduled execution."""
    plugin._window = None if start_ns is None else (start_ns, end_ns)


def set_otel_endpoint(endpoint) -> None:
    """Install (or with None, clear) the default OTel endpoint used by
    ``px.export`` when the script's ``px.otel.Data`` has none — the
    plugin-config default the reference injects for cron scripts
    (script_runner.go:255-263 OTelEndpointConfig)."""
    _ctx["otel_endpoint"] = endpoint


def export(df, data) -> None:
    """``px.export(df, px.otel.Data(...))`` (pixie_module.h:77; executed
    by the OTelExportSink node in the reference). Rows are converted to
    OTLP-JSON and exported FROM THE EXECUTORS via foreachPartition — a
    ``file://``/bare-path endpoint writes JSONL per partition (the
    sandbox collector), http(s) POSTs per partition. The containers are
    ``px.otel.metric.Gauge``/``Summary``, ``px.otel.trace.Span`` and
    ``px.otel.log.Log``. A streaming frame's export is a foreachBatch
    query, returned and recorded in ``streams()``; a batch frame is
    exported at once and None is returned. Metric containers require a ``time_`` column,
    like the reference's compiler ("must have a time_ column of type
    TIME64NS")."""
    import os
    from functools import partial

    from pixie_spark.streaming import _otel_sink

    sdf = df.to_spark() if hasattr(df, "to_spark") else df
    containers = list(data.data)
    if any(c.kind in ("gauge", "summary") for c in containers) and "time_" not in sdf.columns:
        raise ValueError("px.otel metric export requires a time_ column (TIME64NS)")
    endpoint = data.endpoint or _ctx.get("otel_endpoint")
    if endpoint is None:
        raise ValueError(
            "no OTel endpoint: pass px.otel.Endpoint(...) to px.otel.Data or "
            "run in a plugin context that configures one"
        )
    # resource values may be Columns (e.g. generate_data's service.name);
    # normalize to picklable ('lit'|'col', value) tags for the executors
    resource = {
        k: (("lit", v) if isinstance(v, str) else ("col", otel._colname(v)))
        for k, v in data.resource.items()
    }
    convert = partial(otel.rows_to_otlp, resource=resource, containers=containers)
    batch = _ctx["otel_batch"] = _ctx.get("otel_batch", -1) + 1
    url = endpoint.url
    if url.startswith(("http://", "https://")):
        exporter = otel.http_exporter(url, endpoint.headers, endpoint.timeout)
        path = ""
    else:
        exporter = None
        path = url[len("file://"):] if url.startswith("file://") else url
        os.makedirs(path, exist_ok=True)
    q = _otel_sink(sdf, convert, path, batch, exporter)
    if q is not None:
        # one-pipeline streaming export (stream_ir.h:44): the query
        # handle lands in streams() under a stable name for stop/await
        _ctx.setdefault("streams", {})[f"__otel_export_{batch}"] = q
    return q


def set_context(
    spark: SparkSession,
    tables: dict[str, SparkDataFrame] | None = None,
    metadata=None,
    display_limit: int = 10_000,
) -> None:
    """Bind the session, the table map (the reference's TableStore), and
    the k8s metadata resolver used by df.ctx[...]."""
    _ctx["spark"] = spark
    _ctx["tables"] = dict(tables or {})
    _ctx["metadata"] = metadata
    _ctx["limit"] = display_limit
    _ctx["results"] = {}


def register_table(name: str, df: SparkDataFrame) -> None:
    _ctx["tables"][name] = df


def _get_metadata_resolver():
    r = _ctx["metadata"]
    if r is None:
        raise RuntimeError("no metadata resolver bound; px.set_context(..., metadata=...)")
    return r


def DataFrame(  # noqa: N802 — PxL name
    table: str,
    select: list[str] | None = None,
    start_time=None,
    end_time=None,
) -> PxDataFrame:
    """px.DataFrame(table, select, start_time, end_time)
    (ref: objects/dataframe.h:68-117). Time range filters on the ns
    ``time_`` column — pushed to the source scan by Catalyst, the
    declarative form of the reference's time-range scan cursor
    (memory_source_node.cc:58-88)."""
    if table not in _ctx["tables"]:
        # memory_source_ir.cc:116 wording; PxKeyError stays a KeyError
        raise PxKeyError(
            f"Table '{table}' not found. Available: {sorted(_ctx['tables'])}"
        )
    sdf = _ctx["tables"][table]
    ref_now = now()
    if start_time is not None:
        sdf = sdf.where(F.col("time_") >= F.lit(resolve_time(start_time, ref_now)))
    if end_time is not None:
        sdf = sdf.where(F.col("time_") < F.lit(resolve_time(end_time, ref_now)))
    if select:
        missing = [c for c in select if c not in sdf.columns]
        if missing:
            raise column_not_found(missing[0], sdf.columns)
        sdf = sdf.select(*select)
    return PxDataFrame(sdf)


def from_spark(sdf: SparkDataFrame) -> PxDataFrame:
    return PxDataFrame(sdf)


def register_module(name: str, source: str) -> None:
    """Register a PxL library module (e.g. ``pxviews``) by source text;
    scripts executed via run_script can then ``import <name>``. The text
    goes through the same PxL lowering as scripts (api.pxl)."""
    _ctx.setdefault("modules", {})[name] = source


def run_script(
    code: str,
    calls: list[tuple[str, dict]] | None = None,
) -> dict[str, SparkDataFrame]:
    """Execute a VERBATIM PxL script string against the bound context and
    return its named results — the ExecuteScript entry point (ref: query
    broker QueryExecutorImpl.Run, src/vizier/services/query_broker/
    controllers/query_executor.go:167; the 'compiler' is CPython + the
    api.pxl AST lowering, Catalyst replaces the logical planner).

    The script may ``import px`` (and any library registered via
    register_module — the reference preloads pxviews the same way,
    src/carnot/planner/compiler_state/registry_info.h pxl_lib). Boolean
    operators on columns are lowered exactly as the reference frontend
    does (see api.pxl). ``calls`` invokes the script's top-level
    functions afterward — the vis.json execution model, where the UI
    supplies (function, args) pairs — and registers each return under the
    function's name; results are those plus whatever hit ``px.display``.
    """
    import sys
    import time
    import types as pytypes
    import uuid

    import pixie_spark.api as px_module

    from pixie_spark.api.pxl import compile_pxl

    _ctx["results"] = {}
    saved: dict[str, object] = {"px": sys.modules.get("px")}
    sys.modules["px"] = px_module
    injected: dict[str, object] = {}
    # execution log read back by GetCronScriptHistory (the cron-script
    # store analogue); id is content-derived so re-runs share an id
    run_ts = time.time_ns()
    t_start = time.perf_counter_ns()
    compile_ns, err = 0, ""
    try:
        # libraries may import px AND each other — install each into
        # sys.modules as it is built, in registration order
        for name, src in _ctx.get("modules", {}).items():
            mod = pytypes.ModuleType(name)
            mod.__dict__["px"] = px_module
            saved.setdefault(name, sys.modules.get(name))
            sys.modules[name] = mod
            exec(compile_pxl(src, f"<{name}>"), mod.__dict__)  # noqa: S102
            injected[name] = mod
        g = {"px": px_module, "F": F, **injected}
        exports_before = _ctx.get("otel_batch", -1)
        c0 = time.perf_counter_ns()
        try:
            compiled = compile_pxl(code)
        except SyntaxError as e:
            # compiler_test.cc:2430-2443 — syntax errors surface as
            # located CompilerErrors, not a raw CPython traceback
            raise CompilerError(
                f"SyntaxError: {e.msg}", line=e.lineno, col=e.offset
            ) from e
        compile_ns = time.perf_counter_ns() - c0
        exec(compiled, g)  # noqa: S102
        for fn_name, kwargs in calls or []:
            out = g[fn_name](**kwargs)
            if out is not None:
                display(out, fn_name)
        if (
            not _ctx["results"]
            and not calls
            and _ctx.get("otel_batch", -1) == exports_before
        ):
            # compiler_test.cc:2547 — a script with no sink compiles to
            # nothing runnable in the reference. px.display AND px.export
            # both count as sinks (an export-only cron script is runnable).
            raise CompilerError("No runnable code found")
    except Exception as e:  # noqa: BLE001 — logged, then re-raised
        err = f"{type(e).__name__}: {e}"
        raise
    finally:
        for name, old in saved.items():
            if old is None:
                sys.modules.pop(name, None)
            else:
                sys.modules[name] = old
        exec_ns = time.perf_counter_ns() - t_start - compile_ns
        _ctx.setdefault("script_history", []).append(
            (
                str(uuid.uuid5(uuid.NAMESPACE_OID, code)), run_ts, err,
                exec_ns, compile_ns, 0, 0,
            )
        )
    return results()


def get_agent_status() -> SparkDataFrame:
    """px.GetAgentStatus() UDTF equivalent (md_udtfs_impl.h:288-303:
    agent_id, asid, hostname, ip_address, agent_state, create_time,
    last_heartbeat_ns, kernel_headers_installed): one row per executor
    with liveness info, generated driver-side from the scheduler's view.
    Keeps the engine-native executor/memory/cores columns alongside."""
    import os
    import platform
    import socket
    import time

    spark = _spark_or_raise()
    sc = spark.sparkContext
    headers = os.path.isdir(f"/lib/modules/{platform.release()}/build")
    hostname = socket.gethostname()
    try:
        ip = socket.gethostbyname(hostname)
    except OSError:
        ip = "127.0.0.1"
    start_ns = int(sc.startTime) * 1_000_000  # scheduler start, ms → ns
    now_ns = time.time_ns()
    out_rows = [
        (
            (0, asid), asid, hostname, ip, "AGENT_STATE_HEALTHY",
            start_ns, now_ns, headers,
            executor, maxb, freeb,
        )
        for asid, (executor, maxb, freeb) in enumerate(_executors())
    ]
    return _local_frame(
        spark,
        out_rows,
        "agent_id: struct<high: long, low: long>, asid: long, hostname: string, "
        "ip_address: string, agent_state: string, create_time: long, "
        "last_heartbeat_ns: long, kernel_headers_installed: boolean, "
        "executor: string, max_memory_bytes: long, free_memory_bytes: long",
    ).withColumn("total_cores", F.lit(sc.defaultParallelism))


def sql(query: str) -> PxDataFrame:
    """SQL entry over the registered tables — a surface the reference
    lacks entirely (PxL only, SURVEY §2.3); Catalyst produces the same
    plans either way."""
    spark = _ctx["spark"]
    if spark is None:
        raise RuntimeError("px.set_context(spark, ...) first")
    for name, df in _ctx["tables"].items():
        df.createOrReplaceTempView(name)
    return PxDataFrame(spark.sql(query))


def display(df: PxDataFrame, name: str = "output") -> SparkDataFrame:
    """px.display (pixie_module.h:49): register a named result.

    Batch frames get the implicit row cap the reference's analyzer adds
    (add_limit_to_batch_result_sink_rule.h). A genuinely streaming frame
    is started into an in-memory sink (GRPCSink→query-broker result
    table equivalent) and the queryable table is registered as the
    result; the handle is kept in ``streams()`` for stop/await."""
    if isinstance(df, PxGroupedFrame):
        # remove_group_by_rule_test.cc:68 — a dangling groupby is a
        # compile error in the reference, not a displayable frame
        raise PxTypeError("'groupby()' should be followed by an 'agg()'")
    if not isinstance(df, (PxDataFrame, SparkDataFrame)):
        # pixie_module.cc display() arg typecheck — a PxL-locatable
        # error, not an AttributeError off a missing .isStreaming
        raise PxTypeError(
            f"'display' expects a DataFrame, got {type(df).__name__} {df!r}"
        )
    sdf = df.to_spark() if isinstance(df, PxDataFrame) else df
    # re-display under a name bound to an active stream: stop and unbind
    # the old query first, whether the new frame is batch or streaming
    prior = _ctx.get("streams", {}).pop(name, None)
    if prior is not None:
        try:
            prior.stop()
        except Exception:  # noqa: BLE001 — already stopped
            pass
    if sdf.isStreaming:
        from pixie_spark.streaming import display_stream

        query = display_stream(sdf, name)
        _ctx.setdefault("streams", {})[name] = query
        result = _ctx["spark"].table(name)
        _ctx["results"][name] = result
        return result
    if not getattr(df, "_streaming", False):
        sdf = sdf.limit(_ctx["limit"])
    _ctx["results"][name] = sdf
    return sdf


def streams() -> dict:
    """Active streaming display queries (name → StreamingQuery)."""
    return dict(_ctx.get("streams", {}))


def results() -> dict[str, SparkDataFrame]:
    return dict(_ctx["results"])


def result_stats(name: str = "output", execute: bool = True) -> SparkDataFrame:
    """Basic exec stats for a registered result — the surface the
    reference attaches to EVERY query response even at analyze=false
    (``/root/reference/src/carnot/carnot.cc:455-462``: rows_processed /
    bytes_processed per agent plus the result row count).

    Batch results reuse the display frame's OWN QueryExecution: when the
    consumer has already executed the registered frame (``collect`` /
    ``toPandas`` drive the Dataset's own plan), the accumulated
    SQLMetrics are summarized with NO new Spark job; a never-executed
    frame runs one distributed pass iff ``execute``. A name bound to an
    active STREAM returns the per-micro-batch stats of its query
    (``stream_stats``) — the reference reports the same stats over the
    result stream. The stats frame is registered under ``_stats_{name}``
    so it shows up in ``results()`` like any debug output."""
    stream_q = _ctx.get("streams", {}).get(name)
    if stream_q is not None:
        from pixie_spark.plans.analyze import stream_stats

        stats = stream_stats(stream_q)
    else:
        if name not in _ctx["results"]:
            raise KeyError(
                f"no result named {name!r} — px.display(df, {name!r}) first"
            )
        from pixie_spark.plans.analyze import summarize_execution

        stats = summarize_execution(_ctx["results"][name], execute=execute)
    _ctx["results"][f"_stats_{name}"] = stats
    return stats


def debug(df: PxDataFrame, name: str = "debug", analyze: bool = False):
    """px.debug(df[, name]) → the optimized/physical plan (explain
    passthrough); the reference's form registers a debug-named result
    (pixie_module.h), so the frame is also registered under _{name}.

    ``analyze=True`` is the reference's ``analyze=true`` execution mode
    (carnot.cc:371-400: per-exec-node records_output / bytes_output /
    execution time collected while the query runs): the frame is
    EXECUTED (one distributed pass, nothing collected to the driver)
    and a plan-sized stats DataFrame of per-operator runtime metrics
    (node, rows_out, time_ms, shuffle_bytes, …) is returned instead of
    the plan text — see pixie_spark.plans.analyze. The stats frame is
    registered under _{name} so it shows up in results() like any
    debug output."""
    import contextlib
    import io

    if not isinstance(df, (PxDataFrame, SparkDataFrame)):
        # pixie_module.cc display()/debug() arg typecheck — a PxL-
        # locatable error, not an AttributeError off a missing
        # .isStreaming. Checked BEFORE registration so an invalid
        # object never pollutes results() (round-5 ADVICE).
        raise PxTypeError(
            f"'debug' expects a DataFrame, got {type(df).__name__} {df!r}"
        )
    sdf = df.to_spark() if isinstance(df, PxDataFrame) else df
    if analyze:
        if sdf.isStreaming:
            # the reference's streaming queries report exec stats over
            # their result stream (carnot.cc:450-462); the Spark
            # equivalent is the query's progress ring buffer. Resolve
            # the frame to an ACTIVE display stream: by name first,
            # else the only active one.
            from pixie_spark.plans.analyze import stream_stats

            live = _ctx.get("streams", {})
            if name in live:
                # by-name match may be a stopped query: its progress
                # ring buffer is still readable, which is the point
                q = live[name]
            else:
                active = {n: s for n, s in live.items() if s.isActive}
                if len(active) != 1:
                    raise ValueError(
                        "px.debug(analyze=True) on a streaming frame needs "
                        "an active display stream to read progress from — "
                        f"px.display(df, name) first (active: {sorted(active)})"
                    )
                q = next(iter(active.values()))
            stats = stream_stats(q)
            _ctx["results"][f"_{name}"] = stats
            return stats
        from pixie_spark.plans.analyze import analyze as _analyze

        stats = _analyze(sdf)
        _ctx["results"][f"_{name}"] = stats
        return stats
    _ctx["results"][f"_{name}"] = sdf
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        sdf.explain("formatted")
    return buf.getvalue()


def equals_any(col: Column, values: list) -> Column:
    """px.equals_any (pixie_module.h) → isin."""
    return col.isin(values)


def uint128(s: str) -> tuple[int, int]:
    """px.uint128('uuid-ish string') → (high, low) int pair
    (pixie_module.h; upid.h uuid representation)."""
    hexstr = s.replace("-", "")
    if len(hexstr) != 32:
        raise ValueError(f"expected 128-bit hex/uuid, got {s!r}")
    v = int(hexstr, 16)
    mask = (1 << 64) - 1
    return ((v >> 64) & mask, v & mask)


# =============================================================================
# PxL verbatim-compat surface (corpus scripts + pxviews run literally)
# =============================================================================


def _col_or_lit(x):
    return x if isinstance(x, Column) else F.lit(x)


def _and(a, b):
    """AST-lowered ``and`` (api.pxl): Column-aware, Python semantics for
    plain values (reference frontend ProcessBoolOp equivalent). Unrealized
    metadata operands defer (df.ctx['ns'] == ns and df.service != '')."""
    if is_meta_sentinel(a) or is_meta_sentinel(b):
        return DeferredCol(lambda x, y: _col_or_lit(x) & _col_or_lit(y), [a, b])
    if isinstance(a, Column) or isinstance(b, Column):
        return _col_or_lit(a) & _col_or_lit(b)
    return a and b


def _or(a, b):
    if is_meta_sentinel(a) or is_meta_sentinel(b):
        return DeferredCol(lambda x, y: _col_or_lit(x) | _col_or_lit(y), [a, b])
    if isinstance(a, Column) or isinstance(b, Column):
        return _col_or_lit(a) | _col_or_lit(b)
    return a or b


def _not(a):
    if is_meta_sentinel(a):
        return DeferredCol(lambda x: ~_col_or_lit(x), [a])
    if isinstance(a, Column):
        return ~a
    return not a


def _assign_attr(obj, name: str, value):
    """AST-lowered ``obj.name = value`` (api.pxl _AssignLowering): PxL
    assignment rebinds the variable to a NEW frame (value semantics,
    ast_visitor.cc ProcessAssign); non-frame objects keep Python's
    mutate-in-place semantics."""
    if isinstance(obj, PxDataFrame):
        new = obj._wrap(obj.to_spark())
        new._assign(name, value)
        return new
    setattr(obj, name, value)
    return obj


def _assign_item(obj, key, value):
    """AST-lowered ``obj[key] = value`` — same value semantics as above."""
    if isinstance(obj, PxDataFrame):
        new = obj._wrap(obj.to_spark())
        new._assign(key, value)
        return new
    obj[key] = value
    return obj


def _is_string_col(x) -> bool:
    """True when ``x`` is a RESOLVED string-typed Column (facade columns
    are bound AttributeReferences, so the type is knowable)."""
    if not isinstance(x, Column):
        return False
    try:
        expr = x._jc.node().expression()  # noqa: SLF001
        return expr.resolved() and expr.dataType().typeName() == "string"
    except Exception:  # noqa: BLE001 — unresolved / connect-mode column
        return False


def _add(a, b):
    """AST-lowered ``+`` (api.pxl): PxL's add CONCATENATES strings (the
    reference registers AddUDF<StringValue>, math_ops.h) while Spark's
    Column ``+`` is numeric-only. String operands — literal or resolved
    string Columns — route to concat; everything else keeps numeric +."""
    if is_meta_sentinel(a) or is_meta_sentinel(b):
        return DeferredCol(lambda x, y: _add(x, y), [a, b])
    if isinstance(a, Column) or isinstance(b, Column):
        if isinstance(a, str) or isinstance(b, str) or _is_string_col(a) or _is_string_col(b):
            return F.concat(_col_or_lit(a), _col_or_lit(b))
        return _col_or_lit(a) + _col_or_lit(b)
    return a + b


def select(cond, if_true, if_false):
    """px.select (conditionals.cc) — metadata-aware: any unrealized
    metadata operand defers the whole conditional (corpus idiom:
    px.select(cond, px.pod_id_to_pod_name(...), px.nslookup(...)))."""
    from pixie_spark.functions.conditionals import select as _sel

    if isinstance(cond, bool):
        # compile-time-constant condition (corpus idiom:
        # px.select(pct_basis_entity == 'node', ...) on a script arg) —
        # fold at build time, as the reference planner's constant folding
        return if_true if cond else if_false
    if any(is_meta_sentinel(x) for x in (cond, if_true, if_false)):
        return DeferredCol(
            lambda c, t, f: _sel(_col_or_lit(c), _col_or_lit(t), _col_or_lit(f)),
            [cond, if_true, if_false],
        )
    return _sel(cond, if_true, if_false)


def _semantic_type(name: str, doc: str):
    def wrap(x):
        return x

    wrap.__name__ = name
    wrap.__doc__ = doc + (
        " Identity at the value level: semantic types drive UI formatting "
        "in the reference (pixie_module.h type objects); engine semantics "
        "are unchanged."
    )
    return wrap


DurationNanos = _semantic_type("DurationNanos", "ST_DURATION_NS annotation.")
Percent = _semantic_type("Percent", "ST_PERCENT annotation.")
Bytes = _semantic_type("Bytes", "ST_BYTES annotation.")
Pod = _semantic_type("Pod", "ST_POD_NAME annotation.")
Service = _semantic_type("Service", "ST_SERVICE_NAME annotation.")
Namespace = _semantic_type("Namespace", "ST_NAMESPACE_NAME annotation.")
Node = _semantic_type("Node", "ST_NODE_NAME annotation.")
UPID = _semantic_type("UPID", "ST_UPID annotation.")
Duration = _semantic_type("Duration", "duration annotation.")
Time = _semantic_type("Time", "ST_TIME annotation.")


def parse_time(x, ref_now: int | None = None) -> int:
    """px.parse_time: absolute ns, relative '-5m' strings, or ints →
    absolute epoch ns (compile-time fn in the reference)."""
    return resolve_time(x, now() if ref_now is None else ref_now)


def _exec_hostname() -> Column:
    """px._exec_hostname (exec_funcs): the executing host's name."""
    import socket

    return F.lit(socket.gethostname())


def _exec_host_num_cpus() -> Column:
    """px._exec_host_num_cpus (exec_funcs): CPUs on the executing host."""
    import os as _os

    return F.lit(_os.cpu_count())


def _service_match(col: Column, service) -> Column:
    """Reference has_service_name semantics: the service column is either
    a plain name or a JSON list of names (multi-service pods)."""
    c = _col_or_lit(col)
    v = _col_or_lit(service)
    in_list = F.coalesce(
        F.array_contains(F.from_json(c, "array<string>"), v), F.lit(False)
    )
    return F.coalesce((c == v) | in_list, F.lit(False))


def has_service_name(col, service) -> Column | DeferredCol:
    """px.has_service_name(service_col, name) — works on realized columns
    AND on unrealized ctx expressions (df[px.has_service_name(
    df.ctx['service'], svc)] is a corpus idiom)."""
    if is_meta_sentinel(col):
        return DeferredCol(lambda c: _service_match(c, service), [col])
    return _service_match(col, service)


def nslookup(ip) -> MetadataCall:
    """px.nslookup: reverse lookup of an IP. Resolved against the pod-IP
    dimension with fallback to the input (the reference falls back to the
    raw address when PTR resolution fails, dns_ops.cc)."""
    return MetadataCall("nslookup", ip, fallback_to_key=True)


def __getattr__(name: str):
    """Module-level fallback (PEP 562): px.<fn> resolves through the
    function REGISTRY (px.sum, px.floor, px.pluck_float64, ...) and the
    metadata SCALAR_LOOKUPS (px.ip_to_pod_id, px.pod_id_to_pod_name, ...)
    so corpus scripts bind every name the reference's px module exposes."""
    from pixie_spark.functions import REGISTRY
    from pixie_spark.functions.metadata import SCALAR_LOOKUPS

    if name in REGISTRY:
        return REGISTRY[name]
    if name in SCALAR_LOOKUPS:
        def factory(arg, _name=name):
            return MetadataCall(_name, arg)

        factory.__name__ = name
        factory.__doc__ = (
            f"px.{name}: scalar metadata lookup (metadata_ops.cc) realized "
            "on assignment as a MetadataResolver.lookup."
        )
        return factory
    raise AttributeError(f"module 'px' has no attribute {name!r}")


# --- UDTF surface (md_udtfs.cc:32-59) ---------------------------------------


def _spark_or_raise() -> SparkSession:
    spark = _ctx["spark"]
    if spark is None:
        raise RuntimeError("px.set_context(spark, ...) first")
    return spark


def GetTables() -> PxDataFrame:  # noqa: N802 — PxL name
    """UDTF GetTables (md_udtfs_impl.h:124-138): (table_name, table_desc)
    over the registered table store."""
    spark = _spark_or_raise()
    from pixie_spark.schemas import SOURCE_SCHEMAS

    rows = sorted(
        {
            **{n: f"registered source table ({len(s.fields)} columns)" for n, s in SOURCE_SCHEMAS.items()},
            **{n: f"bound table ({len(df.columns)} columns)" for n, df in _ctx["tables"].items()},
        }.items()
    )
    return PxDataFrame(
        _local_frame(spark, rows, "table_name: string, table_desc: string")
    )


def GetSchemas() -> PxDataFrame:  # noqa: N802
    """UDTF GetSchemas (md_udtfs_impl.h:200-208): one row per column —
    (table_name, column_name, column_type, pattern_type, column_desc)."""
    spark = _spark_or_raise()
    from pixie_spark.schemas import SOURCE_SCHEMAS

    rows = []
    seen = set()
    for tname, schema in SOURCE_SCHEMAS.items():
        seen.add(tname)
        for f in schema.fields:
            md = f.metadata or {}
            rows.append(
                (
                    tname, f.name, f.dataType.simpleString().upper(),
                    md.get("pattern_type", "GENERAL"),
                    md.get("semantic_type", ""),
                )
            )
    for tname, df in _ctx["tables"].items():
        if tname in seen:
            continue
        for f in df.schema.fields:
            rows.append((tname, f.name, f.dataType.simpleString().upper(), "GENERAL", ""))
    return PxDataFrame(
        _local_frame(
            spark,
            rows,
            "table_name: string, column_name: string, column_type: string, "
            "pattern_type: string, column_desc: string",
        )
    )


def _func_rows(predicate) -> list[tuple[str, str, str]]:
    import inspect

    from pixie_spark.functions import REGISTRY

    rows = []
    for name, fn in sorted(REGISTRY.items()):
        if not predicate(name):
            continue
        try:
            args = ", ".join(inspect.signature(fn).parameters)
        except (TypeError, ValueError):
            args = ""
        rows.append((name, "COLUMN", args))
    return rows


_UDA_NAMES = {"mean", "sum", "max", "min", "count", "quantiles", "quantiles_json", "any", "pprof"}


def GetUDFList() -> PxDataFrame:  # noqa: N802
    """UDTF GetUDFList (md_udtfs_impl.h:581-594): (name, return_type, args)
    for scalar functions in the registry."""
    spark = _spark_or_raise()
    return PxDataFrame(
        _local_frame(
            spark,
            _func_rows(lambda n: n not in _UDA_NAMES),
            "name: string, return_type: string, args: string",
        )
    )


def GetUDAList() -> PxDataFrame:  # noqa: N802
    """UDTF GetUDAList (md_udtfs_impl.h:642): aggregate functions."""
    spark = _spark_or_raise()
    return PxDataFrame(
        _local_frame(
            spark,
            _func_rows(lambda n: n in _UDA_NAMES),
            "name: string, return_type: string, args: string",
        )
    )


def GetUDTFList() -> PxDataFrame:  # noqa: N802
    """UDTF GetUDTFList (md_udtfs_impl.h:489-504): the table-generating
    functions themselves — (name, executor, init_args, output_relation)."""
    spark = _spark_or_raise()
    udtfs = {
        "GetTables": "UDTF_ALL_KELVIN",
        "GetSchemas": "UDTF_ALL_KELVIN",
        "GetAgentStatus": "UDTF_ONE_KELVIN",
        "GetUDFList": "UDTF_ONE_KELVIN",
        "GetUDAList": "UDTF_ONE_KELVIN",
        "GetUDTFList": "UDTF_ONE_KELVIN",
        "GetProfilerSamplingPeriodMS": "UDTF_ALL_AGENTS",
        "GetLinuxHeadersStatus": "UDTF_ALL_AGENTS",
        "GetTracepointStatus": "UDTF_ONE_KELVIN",
        "GetCronScriptHistory": "UDTF_ONE_KELVIN",
        "_DebugMDGetWithPrefix": "UDTF_ALL_AGENTS",
        "_DebugTableInfo": "UDTF_ALL_AGENTS",
    }
    rows = [(name, executor, "", "") for name, executor in sorted(udtfs.items())]
    return PxDataFrame(
        _local_frame(
            spark,
            rows, "name: string, executor: string, init_args: string, output_relation: string"
        )
    )


def GetAgentStatus(include_kelvin: bool = True) -> PxDataFrame:  # noqa: N802
    """PxL-name alias for get_agent_status (md_udtfs_impl.h:290-303).
    ``include_kelvin`` mirrors the reference's init arg; the driver is
    the Kelvin analogue, so False drops the driver row when executors
    exist separately (a no-op in local mode, where it is the only row)."""
    sdf = get_agent_status()
    if not include_kelvin and len(_executors()) > 1:
        sdf = sdf.where(~F.col("executor").contains("driver"))
    return PxDataFrame(sdf)


def _executors() -> list[tuple[str, int, int]]:
    """(address, max_memory_bytes, free_memory_bytes) per live executor,
    read from the scheduler's block-manager memory map (not in the Py
    API) — the 'agent' enumeration behind get_agent_status and the
    per-agent UDTFs, whose asid is the position in this list. In the
    reference an agent is a PEM on a node; the Spark analogue is an
    executor (local mode: driver only)."""
    sc = _spark_or_raise().sparkContext
    out = []
    try:
        it = sc._jsc.sc().getExecutorMemoryStatus().iterator()  # noqa: SLF001
        while it.hasNext():
            entry = it.next()
            out.append((str(entry._1()), int(entry._2()._1()), int(entry._2()._2())))
    except Exception:  # noqa: BLE001 — fall back to driver-only view
        out = [("driver", 0, 0)]
    return out


def GetProfilerSamplingPeriodMS() -> PxDataFrame:  # noqa: N802
    """UDTF GetProfilerSamplingPeriodMS (md_udtfs_impl.h:366-380): one row
    per agent — (asid, profiler_sampling_period_ms). The period comes from
    engine config (`pixie.profiler.sampling_period_ms`, default 11 ms —
    stirling's perf-profiler default) rather than a PEM RPC."""
    spark = _spark_or_raise()
    try:
        period = int(spark.conf.get("pixie.profiler.sampling_period_ms"))
    except Exception:  # noqa: BLE001 — unset
        period = 11
    rows = [(asid, period) for asid in range(len(_executors()))]
    return PxDataFrame(
        _local_frame(spark, rows, "asid: long, profiler_sampling_period_ms: long")
    )


def GetLinuxHeadersStatus() -> PxDataFrame:  # noqa: N802
    """UDTF GetLinuxHeadersStatus (md_udtfs_impl.h:420-434): one row per
    agent — (asid, kernel_headers_installed). Genuinely probed from
    /lib/modules/$(uname -r)/build; in local mode every executor shares
    the driver host, so the probe runs once driver-side."""
    import os
    import platform

    spark = _spark_or_raise()
    installed = os.path.isdir(f"/lib/modules/{platform.release()}/build")
    rows = [(asid, installed) for asid in range(len(_executors()))]
    return PxDataFrame(
        _local_frame(spark, rows, "asid: long, kernel_headers_installed: boolean")
    )


def GetDebugMDWithPrefix(prefix: str = "") -> PxDataFrame:  # noqa: N802
    """UDTF _DebugMDGetWithPrefix (md_udtfs_impl.h:731-744): dump the
    metadata state store as (key, value) rows filtered by key prefix. The
    reference walks the agent's k8s object index (etcd-style '/pod/...'
    keys); the same keys are derived here from the bound dimension tables
    (broadcast-small by design — the collect carries the same volume the
    reference's dump RPC does)."""
    spark = _spark_or_raise()
    resolver = _get_metadata_resolver()
    rows: list[tuple[str, str]] = []
    for r in resolver.pods.select("namespace", "pod_name", "pod_id").collect():
        # pod_name is 'ns/name' form; key uses the bare name like the MDS index
        bare = r["pod_name"].split("/", 1)[-1]
        rows.append((f"/pod/{r['namespace']}/{bare}", r["pod_id"]))
    if resolver.services is not None:
        for r in resolver.services.select("namespace", "service_name", "service_id").collect():
            bare = r["service_name"].split("/", 1)[-1]
            rows.append((f"/service/{r['namespace']}/{bare}", r["service_id"]))
    rows = [kv for kv in rows if kv[0].startswith(prefix)]
    return PxDataFrame(_local_frame(spark, rows, "key: string, value: string"))


def GetDebugTableInfo() -> PxDataFrame:  # noqa: N802
    """UDTF _DebugTableInfo (md_udtfs_impl.h:795-858): per bound table —
    size/batch stats from the table store. Spark analogue: Catalyst plan
    statistics (sizeInBytes) and scan partition counts stand in for the
    reference's hot/cold batch accounting; fields the Spark table store
    genuinely lacks (expiry, compaction) report 0/-1."""
    spark = _spark_or_raise()
    rows = []
    for i, (name, df) in enumerate(sorted(_ctx["tables"].items())):
        try:
            size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())  # noqa: SLF001
        except Exception:  # noqa: BLE001
            size = -1
        try:
            nparts = df.rdd.getNumPartitions()
        except Exception:  # noqa: BLE001
            nparts = -1
        rows.append((0, name, i, nparts, 0, size, nparts, 0, size, 0, -1, -1))
    return PxDataFrame(
        _local_frame(
            spark,
            rows,
            "asid: long, name: string, id: long, batches_added: long, "
            "batches_expired: long, bytes_added: long, num_batches: long, "
            "compacted_batches: long, size: long, cold_size: long, "
            "max_table_size: long, min_time: long",
        )
    )


def _i64(v: int) -> int:
    """Two's-complement fold of a uint64 into Spark's signed long."""
    return v - (1 << 64) if v >= (1 << 63) else v


def GetTracepointStatus() -> PxDataFrame:  # noqa: N802
    """UDTF GetTracepointStatus (md_udtfs_impl.h:869-893): dynamically
    attached collectors with lifecycle state. The reference lists eBPF
    tracepoints registered with MDS; the engine analogue is the active
    Structured Streaming queries — dynamically attached continuous
    collectors whose states map onto the same
    pending/running/failed/terminated vocabulary."""
    spark = _spark_or_raise()
    rows = []
    for q in spark.streams.active:
        hi, lo = uint128(str(q.id))
        state, status = ("running" if q.isActive else "terminated"), ""
        exc = q.exception()
        if exc is not None:
            state, status = "failed", exc.desc.splitlines()[0] if exc.desc else ""
        name = q.name or str(q.id)
        rows.append(((_i64(hi), _i64(lo)), name, state, status, name))
    return PxDataFrame(
        _local_frame(
            spark,
            rows,
            "tracepoint_id: struct<high: long, low: long>, name: string, "
            "state: string, status: string, output_tables: string",
        )
    )


def GetCronScriptHistory() -> PxDataFrame:  # noqa: N802
    """UDTF GetCronScriptHistory (md_udtfs_impl.h:987-1014): one row per
    recorded script execution — (script_id, timestamp, error_message,
    execution_time_ns, compilation_time_ns, bytes_processed,
    records_processed). Fed by run_script's execution log (the analogue
    of the cron-script store). Spark executes lazily, so bytes/records
    aren't known at script return and report 0 — the reference also
    reports 0 for unavailable stats (error path, impl.h:1050-1056)."""
    spark = _spark_or_raise()
    rows = list(_ctx.get("script_history", []))
    return PxDataFrame(
        _local_frame(
            spark,
            rows,
            "script_id: string, timestamp: long, error_message: string, "
            "execution_time_ns: long, compilation_time_ns: long, "
            "bytes_processed: long, records_processed: long",
        )
    )


def _HeapGrowthStacks(asid: int = -1) -> PxDataFrame:  # noqa: N802
    """UDTF _HeapGrowthStacks (vizier/funcs/internal/debug.h:136-143):
    (asid, heap) heap-profile dump per agent, asid-filterable. The
    reference dumps tcmalloc growth stacks; the engine analogue reports
    the executor JVM's memory pools (live ManagementFactory readings —
    real diagnostics, not a stub) in the same folded 'frames count' text
    form the collect_agent_heaps script forwards."""
    spark = _spark_or_raise()
    lines = []
    try:
        jmf = spark.sparkContext._jvm.java.lang.management.ManagementFactory  # noqa: SLF001
        for bean in jmf.getMemoryPoolMXBeans():
            usage = bean.getUsage()
            name = str(bean.getName()).replace(" ", "_")
            lines.append(f"jvm;{name} {int(usage.getUsed())}")
    except Exception:  # noqa: BLE001 — no JVM gateway (connect mode)
        import resource

        rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024
        lines = [f"python;driver_maxrss {rss}"]
    heap = "\n".join(lines)
    rows = [(a, heap) for a in range(len(_executors())) if asid < 0 or a == asid]
    return PxDataFrame(_local_frame(spark, rows, "asid: long, heap: string"))


# the reference registers the debug UDTFs under leading-underscore names
# (md_udtfs.cc:44-47); scripts call px._DebugMDGetWithPrefix(...)
_DebugMDGetWithPrefix = GetDebugMDWithPrefix
_DebugTableInfo = GetDebugTableInfo

__all__ = [
    "DataFrame", "PxDataFrame", "PxGroupedFrame", "set_context",
    "register_table", "from_spark", "sql", "display", "results", "streams", "debug",
    "equals_any", "uint128", "make_upid", "script_reference",
    "now", "seconds", "minutes", "hours", "days", "millis",
    "strptime", "parse_duration",
    "GetTables", "GetSchemas", "GetAgentStatus", "GetUDFList", "GetUDAList",
    "GetUDTFList", "GetProfilerSamplingPeriodMS", "GetLinuxHeadersStatus",
    "GetTracepointStatus", "GetCronScriptHistory",
]
