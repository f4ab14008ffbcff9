"""K8s metadata resolution — the reference's ~100 metadata UDFs
(src/carnot/funcs/metadata/metadata_ops.cc:35-139: upid_to_pod_name,
upid_to_service_name, pod_id_to_*, service_id_to_*, ip_to_pod_id, ...)
re-expressed as broadcast joins against slowly-changing dimension tables.

The reference resolves each call against an in-memory k8s metadata
snapshot on the agent; the Spark equivalent is a broadcast dimension
join — one hash lookup per row, same asymptotics, but planner-visible
(column pruning, join reordering) and cluster-wide consistent.

Dimension schemas: pixie_spark.schemas.K8S_* (FIXTURES.md §6). Pod rows
carry [start_time, stop_time) validity windows; every lookup resolves a
key against its latest validity row, so df.ctx[...] and px.X_to_Y agree
on a restarted pod and never fan out event rows.
"""

from __future__ import annotations

from itertools import count

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pixie_spark.types import upid_to_pid

# px.X_to_Y scalar-lookup UDFs (metadata_ops.cc) → (dim, key, value) hops;
# a list of hops expresses chains like pod_id → service_id → service_name
SCALAR_LOOKUPS: dict[str, list[tuple[str, str, str]]] = {
    "ip_to_pod_id": [("pods", "pod_ip", "pod_id")],
    "ip_to_service_id": [("pods", "pod_ip", "service_id")],
    "pod_id_to_pod_name": [("pods", "pod_id", "pod_name")],
    "pod_id_to_namespace": [("pods", "pod_id", "namespace")],
    "pod_id_to_node_name": [("pods", "pod_id", "node_name")],
    "pod_name_to_status": [("pods", "pod_name", "phase")],
    "pod_name_to_start_time": [("pods", "pod_name", "start_time")],
    "pod_name_to_pod_ip": [("pods", "pod_name", "pod_ip")],
    "pod_name_to_namespace": [("pods", "pod_name", "namespace")],
    "service_id_to_service_name": [("services", "service_id", "service_name")],
    "service_name_to_service_id": [("services", "service_name", "service_id")],
    "upid_to_pod_id": [("pods", "upid", "pod_id")],
    "upid_to_pod_name": [("pods", "upid", "pod_name")],
    "upid_to_namespace": [("pods", "upid", "namespace")],
    "upid_to_node_name": [("pods", "upid", "node_name")],
    "upid_to_service_id": [("pods", "upid", "service_id")],
    "pod_id_to_service_name": [
        ("pods", "pod_id", "service_id"),
        ("services", "service_id", "service_name"),
    ],
    "pod_id_to_service_id": [("pods", "pod_id", "service_id")],
    "upid_to_service_name": [
        ("pods", "upid", "service_id"),
        ("services", "service_id", "service_name"),
    ],
    "upid_to_container_name": [("containers", "upid", "container_name")],
    "upid_to_container_id": [("containers", "upid", "container_id")],
    "upid_to_cmdline": [("containers", "upid", "cmdline")],
    "container_id_to_status": [("containers", "container_id", "status")],
    # px.nslookup (src/carnot/funcs/net/net_ops.cc): reverse lookup of an
    # IP. A per-row resolver(3) call is an executor-killing anti-pattern at
    # scale; resolve against the pod-IP dimension instead (fallback_to_key
    # on the MetadataCall returns the raw IP for non-cluster addresses,
    # matching the reference's miss behavior).
    "nslookup": [("pods", "pod_ip", "pod_name")],
}


# df.ctx[attr] → (dim, key, value) hops, per (frame key column, attr). A
# frame resolves through the first key column it carries: upid, then
# pod_id (post-agg frames in the pxviews corpus: groupby(['pod_id', ...])
# then df.ctx['pod']). 'pod', 'node' and 'service' are the canonical PxL
# spellings of pod_name, node_name and service_name.
CTX_LOOKUPS: dict[tuple[str, str], list[tuple[str, str, str]]] = {
    **{
        (key, attr): [("pods", key, col)]
        for key in ("upid", "pod_id")
        for attr, col in [
            ("pod_name", "pod_name"), ("pod", "pod_name"),
            ("namespace", "namespace"),
            ("node_name", "node_name"), ("node", "node_name"),
            ("pod_ip", "pod_ip"), ("service_id", "service_id"),
            ("pod_phase", "phase"),
        ]
    },
    **{
        ("upid", col): [("pods", "upid", col)]
        for col in ("pod_id", "replicaset_id", "deployment_id")
    },
    **{
        (key, attr): [
            ("pods", key, "service_id"), ("services", "service_id", "service_name")
        ]
        for key in ("upid", "pod_id")
        for attr in ("service", "service_name")
    },
    **{
        ("upid", attr): [("containers", "upid", col)]
        for attr, col in [
            ("container", "container_name"), ("container_name", "container_name"),
            ("container_id", "container_id"), ("cmdline", "cmdline"),
        ]
    },
}


class MetadataResolver:
    """Holds the k8s dimension tables and rewrites ctx[...] accessors and
    px.X_to_Y calls into broadcast joins (SURVEY §2.2 MetadataIR /
    convert_metadata_rule.cc). Each (dim, key, value) projection is
    prepared once per resolver and reused by every lookup.
    """

    def __init__(
        self,
        pods: DataFrame,
        services: DataFrame | None = None,
        containers: DataFrame | None = None,
    ):
        self.pods = pods
        self.services = services
        self.containers = containers
        self._prepared: dict[tuple[str, str, str], tuple[DataFrame, bool]] = {}
        self._joins = count()

    def _prepare(self, dim: str, key: str, value: str) -> tuple[DataFrame, bool]:
        """(dim, key, value) as a broadcast-hinted lazy plan with one row
        per non-null key (``__md_k``, ``__md_v``) — the latest start_time
        where the dim carries validity windows, else any row — plus
        whether the value is a string, read off the prepared schema."""
        spec = (dim, key, value)
        if spec not in self._prepared:
            src = getattr(self, dim)
            if src is None:
                raise ValueError(f"no {dim} dimension bound on the resolver")
            keyed = src.where(F.col(key).isNotNull())
            if "start_time" in src.columns:
                d = keyed.groupBy(F.col(key).alias("__md_k")).agg(
                    F.max_by(value, "start_time").alias("__md_v")
                )
            else:
                d = keyed.select(
                    F.col(key).alias("__md_k"), F.col(value).alias("__md_v")
                ).dropDuplicates(["__md_k"])
            d = F.broadcast(d)
            self._prepared[spec] = (d, d.schema["__md_v"].dataType.typeName() == "string")
        return self._prepared[spec]

    def lookup(
        self,
        df: DataFrame,
        hops: list[tuple[str, str, str]],
        key: Column,
        fallback_to_key: bool = False,
    ) -> tuple[DataFrame, Column]:
        """The one metadata join routine behind every ctx[...] and
        px.X_to_Y (SCALAR_LOOKUPS): each (dim, key_attr, value_attr) hop is
        one broadcast left join against the prepared dim, so rows are
        never dropped or duplicated. Returns the joined frame and the value
        Column over it; the caller projects. The reference's per-row hash
        lookup against the k8s metadata snapshot becomes a planner-visible
        broadcast hash join with identical asymptotics. A miss gives the
        key itself with fallback_to_key (px.nslookup semantics), '' for a
        string value — every reference metadata UDF returns an empty
        string, never null, for an unresolvable key (metadata_ops.h:112,
        135, 156...), and corpus scripts test `== ''` accordingly — and
        null otherwise."""
        cur = key
        for dim, key_attr, value_attr in hops:
            d, is_string = self._prepare(dim, key_attr, value_attr)
            # a fresh alias per join: one frame may join the same prepared
            # dim twice before its projection (two reads in one expression)
            alias = f"__md{next(self._joins)}"
            df = df.join(d.alias(alias), cur == F.col(f"{alias}.__md_k"), "left")
            cur = F.col(f"{alias}.__md_v")
        if fallback_to_key:
            return df, F.coalesce(cur, key)
        return df, F.coalesce(cur, F.lit("")) if is_string else cur

    def ctx(self, df: DataFrame, attr: str, columns: list[str]) -> tuple[DataFrame, Column]:
        """df.ctx[attr] on a frame whose own columns are ``columns``
        (``df`` may already carry other lookups' joins): 'pid' is computed
        from the upid directly, everything else is a CTX_LOOKUPS chain."""
        if attr == "pid":
            return df, upid_to_pid(F.col("upid"))
        key = next((k for k in ("upid", "pod_id") if k in columns), None)
        if key is None:
            raise KeyError(f"ctx[{attr!r}] needs a upid or pod_id column; frame has {columns}")
        hops = CTX_LOOKUPS.get((key, attr))
        if hops is None:
            raise KeyError(
                f"unknown ctx attr {attr!r} on a {key} frame; have "
                f"{sorted(a for k, a in CTX_LOOKUPS if k == key)} + ['pid']"
            )
        return self.lookup(df, hops, F.col(key))
