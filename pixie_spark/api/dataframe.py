"""PxL-flavored DataFrame facade over PySpark.

Reference surface: src/carnot/planner/objects/dataframe.h (method ids and
docstrings cited per method below). The facade builds a lazy Spark plan;
Catalyst replaces the reference's analyzer/optimizer stack (SURVEY §3).

Semantics choices:
- column assignment (``df.col = expr`` / ``df['col'] = expr``) → withColumn
  (Map operator, dataframe.h:118)
- ``df[df.x > 1]`` filter, ``df[['a','b']]`` keep (dataframe.h:184-206)
- ``df.agg(out=('col', 'px.mean'))`` tuple syntax resolved through the
  function registry (dataframe.h:230)
- ``df.ctx['service']`` resolves via broadcast metadata joins
  (dataframe.h:422, convert_metadata_rule.cc)
- ``df.rolling(w)`` bins time_ into tumbling windows for the next agg
  (dataframe.h:381, rolling_ir.h:44-57)
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import DataFrame as SparkDataFrame
from pyspark.sql import functions as F

from pixie_spark.api.errors import (
    PxAttributeError,
    PxTypeError,
    PxValueError,
    column_not_found,
)
from pixie_spark.functions import lookup
from pixie_spark.functions.math_ops import bin as _bin

_INTERNAL = ("_sdf", "_rolling_ns", "_streaming", "_groups")


def _realize_meta(sdf: SparkDataFrame, value, columns: list[str]) -> tuple[SparkDataFrame, Column]:
    """Resolve a MetadataExpr / MetadataCall / DeferredCol, nested any
    way, against the bound resolver: returns ``sdf`` with every lookup's
    broadcast joins added and the value as a Column over it. ``columns``
    are the frame's own columns, fixed before the first join; callers
    project once (_project_meta)."""
    from pixie_spark.api import _get_metadata_resolver
    from pixie_spark.functions.metadata import SCALAR_LOOKUPS

    resolver = _get_metadata_resolver()
    if isinstance(value, MetadataExpr):
        return resolver.ctx(sdf, value.attr, columns)
    args = []
    for a in value.args if isinstance(value, DeferredCol) else [value.arg]:
        if is_meta_sentinel(a):
            sdf, a = _realize_meta(sdf, a, columns)
        args.append(a)
    if isinstance(value, DeferredCol):
        return sdf, value.builder(*args)
    key = args[0] if isinstance(args[0], Column) else F.lit(args[0])
    return resolver.lookup(
        sdf, SCALAR_LOOKUPS[value.name], key, fallback_to_key=value.fallback_to_key
    )


def _project_meta(sdf: SparkDataFrame, value, name: str | None = None) -> SparkDataFrame:
    """``sdf`` with metadata ``value`` assigned to column ``name`` — in
    place if it exists, else appended — or, with no name, filtered by it:
    the lookup joins then ONE projection that keeps the frame's column
    order and drops every join temp."""
    columns = sdf.columns
    joined, value = _realize_meta(sdf, value, columns)
    if name is None:
        joined = joined.where(value)
    out = [value.alias(name) if c == name else F.col(f"`{c.replace('`', '``')}`") for c in columns]
    if name is not None and name not in columns:
        out.append(value.alias(name))
    return joined.select(*out)


class MetadataExpr:
    """Sentinel returned by df.ctx[attr]; realized on assignment or when
    used inside a filter (df[df.ctx['node'] == node])."""

    def __init__(self, attr: str):
        self.attr = attr

    def __eq__(self, other):  # noqa: PLW0645 — PxL comparison semantics
        return DeferredCol(lambda c: c == _lit(other), [self])

    def __ne__(self, other):  # noqa: PLW0645
        return DeferredCol(lambda c: c != _lit(other), [self])

    def __hash__(self):
        return id(self)


class MetadataCall:
    """Sentinel for a scalar metadata UDF call — px.ip_to_pod_id(col),
    px.pod_id_to_pod_name(...), px.nslookup(...). Realized on assignment
    as a broadcast-lookup join chain (functions.metadata.SCALAR_LOOKUPS).
    ``arg`` may be a Column, a MetadataExpr, or another MetadataCall
    (calls nest in the corpus: pod_id_to_pod_name(ip_to_pod_id(ip)))."""

    def __init__(self, name: str, arg, fallback_to_key: bool = False):
        self.name = name
        self.arg = arg
        self.fallback_to_key = fallback_to_key


class DeferredCol:
    """A scalar expression over unrealized metadata: builder(*args) where
    sentinel args (MetadataExpr / MetadataCall / DeferredCol) are realized
    into lookup Columns first. Lets metadata calls compose inside ordinary
    expressions — px.select(cond, px.pod_id_to_pod_name(...),
    px.nslookup(...)), `df.ctx['ns'] == ns and df.service != ''` — the
    way the reference planner folds metadata UDFs into Map expressions."""

    def __init__(self, builder: Callable[..., Column], args: list):
        self.builder = builder
        self.args = args


def _lit(x):
    return x if isinstance(x, Column) else F.lit(x)


def is_meta_sentinel(x) -> bool:
    return isinstance(x, (MetadataExpr, MetadataCall, DeferredCol))


class CtxAccessor:
    def __getitem__(self, attr: str) -> MetadataExpr:
        return MetadataExpr(attr)


class PxDataFrame:
    """A PxL DataFrame. Wraps a Spark DataFrame; all methods lazy."""

    def __init__(self, sdf: SparkDataFrame, streaming: bool = False):
        object.__setattr__(self, "_sdf", sdf)
        object.__setattr__(self, "_rolling_ns", None)
        object.__setattr__(self, "_streaming", streaming)

    # --- plumbing -----------------------------------------------------------

    def to_spark(self) -> SparkDataFrame:
        return self._sdf

    def _wrap(self, sdf: SparkDataFrame) -> "PxDataFrame":
        out = PxDataFrame(sdf, streaming=self._streaming)
        object.__setattr__(out, "_rolling_ns", self._rolling_ns)
        return out

    @property
    def columns(self) -> list[str]:
        return self._sdf.columns

    @property
    def ctx(self) -> CtxAccessor:
        """K8s metadata accessor (dataframe.h:422). df.svc = df.ctx['service']."""
        return CtxAccessor()

    # --- column access / assignment (Map operator) --------------------------

    def __getattr__(self, name: str) -> Column:
        if name in _INTERNAL:
            raise AttributeError(name)
        if name in self._sdf.columns:
            return self._sdf[name]
        # compiler_test.cc:2630 ("dataframe has no method 'bar'") +
        # analyzer_test.cc:313 column wording; PxAttributeError keeps the
        # getattr protocol's AttributeError contract
        raise PxAttributeError(
            f"dataframe has no method or column '{name}'. "
            f"Columns: {self._sdf.columns}"
        )

    def __setattr__(self, name: str, value: Any) -> None:
        if name in _INTERNAL:
            object.__setattr__(self, name, value)
            return
        self._assign(name, value)

    def __setitem__(self, name: str, value: Any) -> None:
        self._assign(name, value)

    def _assign(self, name: str, value: Any) -> None:
        if is_meta_sentinel(value):
            object.__setattr__(self, "_sdf", _project_meta(self._sdf, value, name))
            return
        col = value if isinstance(value, Column) else F.lit(value)
        object.__setattr__(self, "_sdf", self._sdf.withColumn(name, col))

    def __getitem__(self, key):
        if isinstance(key, str):
            if key not in self._sdf.columns:
                raise column_not_found(key, self._sdf.columns)
            return self._sdf[key]
        if isinstance(key, (list, tuple)):
            # per-column exact-name lookup: select('latency(p50)') would
            # PARSE the string as an expression; df[name] resolves the
            # literal column name (corpus scripts use names with parens;
            # tuple form is the corpus's df['a', 'b', ...] keep)
            missing = [c for c in key if c not in self._sdf.columns]
            if missing:
                raise column_not_found(missing[0], self._sdf.columns)
            return self._wrap(self._sdf.select(*[self._sdf[c] for c in key]))
        if is_meta_sentinel(key):
            return self._wrap(_project_meta(self._sdf, key))
        if isinstance(key, Column):
            # filter (dataframe.h:206); compiler_test.cc:672 requires the
            # predicate to be boolean — a non-boolean Column fails Spark
            # analysis with a py4j wall, so check the resolved dtype
            # (driver-side schema resolution only, no job)
            from pyspark.errors import AnalysisException

            try:
                dtype = self._sdf.select(key.alias("__pred")).schema[0].dataType
            except AnalysisException as e:
                # typically a column from another frame / unresolved name;
                # surface Spark's first line with PxL framing
                raise PxTypeError(
                    "Filter expression does not resolve against this "
                    f"dataframe: {str(e).splitlines()[0]}"
                ) from None
            if dtype.typeName() != "boolean":
                raise PxTypeError(
                    "Expected Boolean for Filter expression, "
                    f"got '{dtype.simpleString()}'"
                )
            return self._wrap(self._sdf.where(key))
        # objects/dataframe.cc:301 wording
        raise PxTypeError(
            "subscript argument must have a list of strings or expression. "
            f"'{type(key).__name__}' not allowed"
        )

    # --- operators ----------------------------------------------------------

    def drop(self, cols: list[str] | str | None = None, columns: list[str] | str | None = None) -> "PxDataFrame":
        """dataframe.h:157 (DropIR → Map in the reference). Accepts the
        pandas-style ``columns=`` kwarg some corpus scripts use
        (http_post_requests/data.pxl:43)."""
        cols = columns if cols is None else cols
        if cols is None:
            raise PxTypeError("drop() needs a column list")
        cols = [cols] if isinstance(cols, str) else cols
        # Spark's drop silently ignores unknown names; the reference
        # errors (analyzer_test.cc:779) — match the reference
        missing = [c for c in cols if c not in self._sdf.columns]
        if missing:
            raise column_not_found(missing[0], self._sdf.columns)
        return self._wrap(self._sdf.drop(*cols))

    def head(self, n: int = 5) -> "PxDataFrame":
        """dataframe.h:263 (Limit operator)."""
        if isinstance(n, bool) or not isinstance(n, int):
            # dataframe.cc head() arg typecheck — a PxL-locatable error,
            # not a raw py4j Method-limit-does-not-exist trace
            raise PxTypeError(
                f"'head' expects an integer 'n', got {type(n).__name__} {n!r}"
            )
        return self._wrap(self._sdf.limit(n))

    def groupby(self, by: list[str] | str) -> "PxGroupedFrame":
        """dataframe.h:330 — deferred grouping, merged into the next agg
        (merge_group_by_into_group_acceptor_rule.h)."""
        by = [by] if isinstance(by, str) else list(by)
        for c in by:
            if c not in self._sdf.columns:
                raise column_not_found(c, self._sdf.columns)
        return PxGroupedFrame(self, by)

    def agg(self, **aggs) -> "PxDataFrame":
        """Group-by-none aggregate (dataframe.h:230): out=('col','px.mean')."""
        return PxGroupedFrame(self, []).agg(**aggs)

    def merge(
        self,
        right: "PxDataFrame",
        how: str = "inner",
        left_on: str | list[str] = None,
        right_on: str | list[str] = None,
        suffixes: tuple[str, str] = ("_x", "_y"),
    ) -> "PxDataFrame":
        """dataframe.h:284. Equijoin only, like the reference
        (equijoin_node.cc); suffix-renames overlapping columns.
        right_on defaults to left_on (pandas semantics)."""
        if left_on is None:
            raise PxValueError("merge requires left_on (and right_on, or same-named keys)")
        if how not in ("inner", "left", "right", "outer", "full", "left_semi", "left_anti"):
            raise PxValueError(
                f"'{how}' not a supported merge how; must be one of "
                "['inner', 'left', 'right', 'outer', 'full', 'left_semi', 'left_anti']"
            )
        if not (isinstance(suffixes, (list, tuple)) and len(suffixes) == 2):
            # objects/dataframe.cc:170 wording
            raise PxValueError(
                f"'suffixes' must be a list with 2 elements. Received {len(suffixes)}"
            )
        if right_on is None:
            right_on = left_on
        left_on = [left_on] if isinstance(left_on, str) else list(left_on)
        right_on = [right_on] if isinstance(right_on, str) else list(right_on)
        for c in left_on:
            if c not in self._sdf.columns:
                raise column_not_found(c, self._sdf.columns)
        for c in right_on:
            if c not in right._sdf.columns:
                raise column_not_found(c, right._sdf.columns)
        lsdf, rsdf = self._sdf, right._sdf
        # every shared name — including identical join keys — gets the
        # side suffix, matching the reference's merge (both key columns
        # appear in the output, disambiguated)
        overlap = set(lsdf.columns) & set(rsdf.columns)
        for c in overlap:
            if suffixes[0]:
                lsdf = lsdf.withColumnRenamed(c, c + suffixes[0])
            if suffixes[1]:
                rsdf = rsdf.withColumnRenamed(c, c + suffixes[1])
        cond = None
        for lc, rc in zip(left_on, right_on):
            lcol = lsdf[lc + suffixes[0]] if lc in overlap else lsdf[lc]
            rcol = rsdf[rc + suffixes[1]] if rc in overlap else rsdf[rc]
            c = lcol == rcol
            cond = c if cond is None else (cond & c)
        joined = lsdf.join(rsdf, cond, how)
        return self._wrap(joined)

    def append(self, other: "PxDataFrame", ordered: bool = False, on: str = "time_") -> "PxDataFrame":
        """dataframe.h:354 (Union). Column alignment by name, like the
        reference's per-input column mapping (union_node.cc).

        ordered=False (default): plain append — declared time-ordering of
        the merged stream is a non-goal in Spark (SURVEY §2.1 Union note);
        downstream event-time ops don't need it. ordered=True: restore the
        reference's time-ordered merge (union_node.cc:172-287 k-way merge)
        via range-repartition + within-partition sort on ``on`` — rows are
        then globally time-ordered across the partition sequence, at the
        cost of one range exchange."""
        unioned = self._sdf.unionByName(other._sdf)
        if ordered:
            unioned = unioned.repartitionByRange(F.col(on)).sortWithinPartitions(on)
        return self._wrap(unioned)

    def rolling(self, window: str | int, on: str = "time_") -> "PxDataFrame":
        """dataframe.h:381 / rolling_ir.h:44-57: tumbling windows; the next
        agg groups by the binned time column."""
        from pixie_spark.api.timemod import parse_duration

        ns = parse_duration(window) if isinstance(window, str) else int(window)
        out = self._wrap(self._sdf.withColumn(on, _bin(F.col(on), F.lit(ns))))
        object.__setattr__(out, "_rolling_ns", (on, ns))
        return out

    def stream(self) -> "PxDataFrame":
        """dataframe.h:404 / stream_ir.h:44 — mark the query streaming.
        On a batch source this flags downstream sinks to use writeStream
        (the same one-model-two-scan-modes duality as the reference,
        memory_source_node.cc:73-88)."""
        out = self._wrap(self._sdf)
        object.__setattr__(out, "_streaming", True)
        return out


class PxGroupedFrame:
    """df.groupby(...) — resolves agg tuples through the function registry."""

    def __init__(self, parent: PxDataFrame, by: list[str]):
        self._parent = parent
        self._by = by

    def agg(self, **aggs) -> PxDataFrame:
        from pixie_spark.functions.collections import any as _any_fn

        dtypes = dict(self._parent._sdf.dtypes)
        # px.pprof is a PLAN-REWRITE aggregate, not a column expression:
        # the reference's serialized-state UDA (pprof_ops.h:35-130)
        # becomes a native histogram reduce + per-group encode
        # (operators/pprof.py). Peel those specs off before the column
        # loop; they join back on the group keys below.
        pprof_specs: dict[str, tuple] = {}
        for out_name, spec in list(aggs.items()):
            if (
                isinstance(spec, tuple)
                and spec
                and getattr(spec[-1], "_is_pprof_agg", False)
            ):
                if len(spec) != 4:
                    raise TypeError(
                        "px.pprof takes (stack_trace, count, period_ms, px.pprof)"
                    )
                pprof_specs[out_name] = spec[:-1]
                del aggs[out_name]
        cols = []
        parent_cols = self._parent._sdf.columns
        for out_name, spec in aggs.items():
            if isinstance(spec, tuple):
                if len(spec) != 2:
                    # objects/dataframe.cc:189 wording
                    raise PxTypeError(
                        "All elements of the agg tuple must be column "
                        "names, except the last which should be a function"
                        f" (kwarg '{out_name}' has {len(spec)} elements)"
                    )
                col_name, fn = spec
                if not isinstance(col_name, str):
                    raise PxTypeError(
                        "All elements of the agg tuple must be column "
                        "names, except the last which should be a function"
                        f" (kwarg '{out_name}': first element is "
                        f"{type(col_name).__name__})"
                    )
                if col_name not in parent_cols:
                    raise column_not_found(col_name, parent_cols)
                if isinstance(fn, str):
                    try:
                        fn = lookup(fn)
                    except KeyError:
                        # registry_info.cc:121 wording
                        raise PxValueError(
                            f"Could not find function '{fn}'."
                        ) from None
                elif not callable(fn):
                    # objects/dataframe.cc:198 wording
                    raise PxTypeError(
                        "Expected second tuple argument to be type Func, "
                        f"received {type(fn).__name__}"
                    )
                col = F.col(col_name)
                # PxL numeric aggregates accept booleans (mean(failure) =
                # error rate, sum(failure) = error count — corpus idiom);
                # Spark's avg/sum reject BOOLEAN, so coerce here where the
                # schema is known. px.any keeps the original type.
                if dtypes.get(col_name) == "boolean" and fn is not _any_fn:
                    col = col.cast("long")
                cols.append(fn(col).alias(out_name))
            elif isinstance(spec, Column):
                cols.append(spec.alias(out_name))
            else:
                # objects/dataframe.cc:227 wording
                raise PxTypeError(
                    f"Expected tuple for {out_name} but received "
                    f"{type(spec).__name__}"
                )
        by = list(self._by)
        rolling = self._parent._rolling_ns
        if rolling and rolling[0] not in by:
            by = [rolling[0]] + by
        sdf = self._parent._sdf
        if pprof_specs:
            from pixie_spark.operators.pprof import pprof_profile

            out = None
            for out_name, (stack_c, count_c, period_c) in pprof_specs.items():
                pp = pprof_profile(
                    sdf, stack_c, count_c, period_c, group_cols=by
                ).withColumnRenamed("pprof", out_name)
                if out is None:
                    out = pp
                elif by:
                    out = out.join(pp, by, "full")
                else:
                    out = out.crossJoin(pp)
            if cols:
                rest = sdf.groupBy(*by).agg(*cols) if by else sdf.agg(*cols)
                out = out.join(rest, by, "full") if by else out.crossJoin(rest)
            result = self._parent._wrap(out)
            object.__setattr__(result, "_rolling_ns", None)
            return result
        if not cols:
            # PxL's groupby(keys).agg() with NO aggregates = the distinct
            # key combinations (corpus idiom for "list the pods/nodes");
            # Spark's agg() requires >=1 expression, so map to distinct.
            if not by:
                raise ValueError("agg() with no aggregates needs group keys")
            out = sdf.select(*[sdf[c] for c in by]).distinct()
        else:
            out = sdf.groupBy(*by).agg(*cols) if by else sdf.agg(*cols)
        result = self._parent._wrap(out)
        # rolling applies to exactly ONE agg (rolling_ir semantics) — a
        # sticky window would silently re-inject time_ into every later
        # aggregation on derived frames
        object.__setattr__(result, "_rolling_ns", None)
        return result
