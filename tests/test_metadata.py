"""K8s metadata layer: ctx[...] resolution against the FIXTURES.md
dimension tables, incl. the orphan-upid fallback path. Small dims are
inlined as literal maps, dims above INLINE_MAX_KEYS keys join; both
plan shapes are pinned, and the two paths must give identical rows."""

import pytest
from pyspark.sql import functions as F

import pixie_spark.api as px
from pixie_spark.functions import metadata
from pixie_spark.functions.metadata import (
    CTX_LOOKUPS,
    INLINE_MAX_KEYS,
    SCALAR_LOOKUPS,
    MetadataResolver,
)
from pixie_spark.plans import assert_broadcast_join, plan_string
from pixie_spark.sources.fixtures import http_events_fixture, k8s_fixtures


@pytest.fixture(scope="module")
def fixtures(spark):
    pods, services = k8s_fixtures(spark)
    events = http_events_fixture(spark, n=500)
    return pods, services, events


@pytest.fixture(scope="module")
def above_cap(spark, fixtures):
    """Pods and services one key past INLINE_MAX_KEYS, so every hop is a
    join; the services dim is padded with services no pod runs. The
    same 500 events: their upids are the first 10 pods'."""
    pods, services = k8s_fixtures(spark, n_pods=INLINE_MAX_KEYS + 1)
    pad = spark.createDataFrame(
        [
            (f"s-pad-{i}", f"prod/pad-{i}", "prod", None, "[]")
            for i in range(INLINE_MAX_KEYS + 1 - services.count())
        ],
        services.schema,
    )
    return pods, services.unionByName(pad), fixtures[2]


def _joins(df) -> int:
    return plan_string(df).count("Join")


def _with_ctx(spark, resolver, sdf, **attrs):
    """``sdf`` with df[name] = df.ctx[attr] for each name=attr, through
    the PxL facade bound to ``resolver``."""
    px.set_context(spark, tables={}, metadata=resolver)
    df = px.from_spark(sdf)
    for name, attr in attrs.items():
        df[name] = df.ctx[attr]
    return df.to_spark()


def test_resolver_pod_and_service(spark, fixtures):
    pods, services, events = fixtures
    out = _with_ctx(
        spark, MetadataResolver(pods, services), events,
        pod_name="pod_name", service_name="service_name", namespace="namespace",
    )
    rows = out.select("pod_name", "service_name", "namespace").where(
        F.col("pod_name") != ""
    )
    assert rows.count() > 400  # ~97% resolve (3% orphans)
    sample = rows.first()
    assert "/" in sample["pod_name"] and "/" in sample["service_name"]


def test_orphan_upids_stay_null(spark, fixtures):
    """1-5% of upids are deliberately absent from k8s_pods (FIXTURES §8) —
    the left join must keep those rows, with '' for a string value
    (metadata_ops.cc:48's fallback) and null for any other type."""
    pods, services, events = fixtures
    r = MetadataResolver(pods, services)
    upid = F.col("upid")
    joined, name = r.lookup(events, SCALAR_LOOKUPS["upid_to_pod_name"], upid)
    joined, start = r.lookup(joined, [("pods", "upid", "start_time")], upid)
    out = joined.select(name.alias("pod_name"), start.alias("start_time"))
    orphans = out.where(F.col("start_time").isNull())
    n_orphan = orphans.count()
    assert 0 < n_orphan < events.count() * 0.1
    assert orphans.where(F.col("pod_name") != "").count() == 0
    assert out.where(F.col("pod_name") == "").count() == n_orphan
    assert out.count() == events.count()  # left join never drops rows


def test_restart_epochs_no_fanout(spark, fixtures):
    """A upid with multiple [start_time, stop_time) validity rows (pod
    restart epochs) must NOT fan out event rows in the untimed
    lookup — the resolver keeps only the latest validity row per upid
    (K8S_PODS windows, reference k8s metadata store)."""
    pods, services, events = fixtures
    first = pods.first()
    # upid is STRUCT<high, low> (uint128 halves)
    upid_lit = F.struct(
        F.lit(first["upid"]["high"]).alias("high"),
        F.lit(first["upid"]["low"]).alias("low"),
    )
    restarted = pods.unionByName(
        pods.where(F.col("upid") == upid_lit)
        .withColumn("start_time", F.col("start_time") + F.lit(10**9))
        .withColumn("pod_name", F.concat(F.col("pod_name"), F.lit("-r2")))
    )
    out = _with_ctx(
        spark, MetadataResolver(restarted, services), events, pod_name="pod_name"
    )
    assert out.count() == events.count()  # no duplicate event rows
    # and the row that survives is the LATEST epoch
    got = out.where(F.col("upid") == upid_lit).select("pod_name").first()
    assert got["pod_name"].endswith("-r2")


def test_metadata_join_is_broadcast(spark, fixtures, above_cap):
    """Small dims compile to no join at all (an in-plan map lookup);
    dims above INLINE_MAX_KEYS keep one broadcast join per hop."""
    pods, services, events = fixtures
    for attr in ("pod", "service"):
        out = _with_ctx(spark, MetadataResolver(pods, services), events, x=attr)
        assert _joins(out) == 0 and "BroadcastExchange" not in plan_string(out)
    pods, services, events = above_cap
    out = _with_ctx(spark, MetadataResolver(pods, services), events, pod="pod")
    assert_broadcast_join(out, 1)
    out = _with_ctx(spark, MetadataResolver(pods, services), events, svc="service")
    assert_broadcast_join(out, 2)


def _built_by_second_service_read(spark, resolver, events, monkeypatch):
    """df.first = df.ctx['service'], then the DataFrames built by
    df.second = df.ctx['service'], the prepared dims from before the
    second read, and the final frame."""
    px.set_context(spark, tables={}, metadata=resolver)
    df = px.from_spark(events)
    df.first = df.ctx["service"]
    prepared = dict(resolver._prepared)
    assert len(prepared) == 2  # upid → service_id, service_id → service_name

    built = []
    cls = type(events)
    init = cls.__init__

    def spy(self, *args, **kwargs):
        init(self, *args, **kwargs)
        if not any(f is self for f in built):  # __new__ runs __init__ too
            built.append(self)

    monkeypatch.setattr(cls, "__init__", spy)
    df.second = df.ctx["service"]
    monkeypatch.undo()

    assert [f for f in built if "schema" in f.__dict__] == []
    assert resolver._prepared.keys() == prepared.keys()
    assert all(resolver._prepared[k] is prepared[k] for k in prepared)
    out = df.to_spark()
    assert out.columns == events.columns + ["first", "second"]
    return built, out


def test_ctx_builds_one_join_per_hop_and_one_projection(
    spark, fixtures, above_cap, monkeypatch
):
    """df.x = df.ctx['service'] against dims prepared once per resolver
    builds one projection — over the frame itself for small dims, over
    an aliased join per hop for dims above INLINE_MAX_KEYS — and probes
    the schema of none of the frames it builds (each probe re-analyses
    the joined plan)."""
    pods, services, events = fixtures
    built, out = _built_by_second_service_read(
        spark, MetadataResolver(pods, services), events, monkeypatch
    )
    assert len(built) == 1  # the projection
    assert _joins(out) == 0 and "BroadcastExchange" not in plan_string(out)

    pods, services, events = above_cap
    built, out = _built_by_second_service_read(
        spark, MetadataResolver(pods, services), events, monkeypatch
    )
    assert len(built) == 2 * 2 + 1  # (alias + join) per hop, one select
    plan = out._jdf.queryExecution().analyzed().toString()
    assert plan.count("Join LeftOuter") == 4


def test_same_lookup_twice_in_one_expression(spark, fixtures):
    """One expression may join the same prepared dim twice (two ctx reads,
    or one px.X_to_Y on two keys) before its single projection; each
    join is aliased apart, so neither read is ambiguous."""
    pods, services, events = fixtures
    px.set_context(spark, tables={}, metadata=MetadataResolver(pods, services))
    df = px.from_spark(events)
    df.svc = px.select(df.ctx["service"] != "", df.ctx["service"], "unknown")
    df.peer = px.select(
        df.ctx["service"] != "",
        px.ip_to_pod_id(df.remote_addr),
        px.ip_to_pod_id(df.local_addr),
    )
    out = df.to_spark()
    assert out.columns == events.columns + ["svc", "peer"]
    svcs = {r["svc"] for r in out.select("svc").distinct().collect()}
    assert "unknown" in svcs and "" not in svcs and len(svcs) == 4
    by_ip = {r["pod_ip"]: r["pod_id"] for r in pods.collect()}
    rows = out.select("svc", "remote_addr", "local_addr", "peer").collect()
    assert len(rows) == events.count()
    for r in rows:
        ip = r["remote_addr"] if r["svc"] != "unknown" else r["local_addr"]
        assert r["peer"] == by_ip.get(ip, "")


def test_ctx_accessor_through_api(spark, fixtures):
    """df.svc = df.ctx['service_name'] — the PxL surface
    (dataframe.h:422 → convert_metadata_rule.cc)."""
    pods, services, events = fixtures
    px.set_context(
        spark, tables={"http_events": events}, metadata=MetadataResolver(pods, services)
    )
    df = px.DataFrame("http_events")
    df.svc = df.ctx["service_name"]
    df.pod = df.ctx["pod_name"]
    out = df[["svc", "pod"]]
    got = out.to_spark().where(F.col("svc") != "")
    assert got.count() > 400


def test_ip_to_pod_id(spark, fixtures):
    pods, services, _ = fixtures
    px.set_context(spark, tables={}, metadata=MetadataResolver(pods, services))
    df = px.from_spark(
        spark.createDataFrame([("10.0.0.1",), ("203.0.113.9",)], ["pod_ip"])
    )
    df.pod_id = px.ip_to_pod_id(df.pod_ip)
    rows = {r2["pod_ip"]: r2["pod_id"] for r2 in df.to_spark().collect()}
    assert rows == {"10.0.0.1": "pod-id-0000", "203.0.113.9": ""}


def test_flagship_http_request_stats(spark, fixtures):
    """The flagship PxL script re-expressed (BASELINE.md workload corpus:
    src/pxl_scripts/px/http_request_stats/stats.pxl — scan → map/bin →
    groupby+agg(quantiles/count) → metadata join → filter)."""
    pods, services, events = fixtures
    px.set_context(
        spark, tables={"http_events": events}, metadata=MetadataResolver(pods, services)
    )
    df = px.DataFrame("http_events", start_time=0)
    df.svc = df.ctx["service_name"]
    df.failure = df.resp_status >= 400
    df = df.rolling("10s")
    stats = df.groupby(["svc"]).agg(
        throughput=("latency", "px.count"),
        error_count=("failure", lambda c: F.sum(c.cast("long"))),
        latency_quantiles=("latency", "px.quantiles"),
    )
    out = px.display(stats, "http_stats")
    rows = out.collect()
    assert len(rows) > 10
    cols = set(out.columns)
    assert {"time_", "svc", "throughput", "error_count", "latency_quantiles"} <= cols
    total = sum(r["throughput"] for r in rows)
    assert total == 500
    any_q = next(r["latency_quantiles"] for r in rows if r["latency_quantiles"] is not None)
    assert any_q["p50"] is not None and any_q["p99"] >= any_q["p50"]


def _service_edges(spark, pods, services, events):
    px.set_context(spark, tables={}, metadata=MetadataResolver(pods, services))
    df = px.from_spark(events)
    df.server_svc = df.ctx["service_name"]
    df.client_svc = px.pod_id_to_service_name(px.ip_to_pod_id(df.remote_addr))
    return (
        df.to_spark()
        .where((F.col("server_svc") != "") & (F.col("client_svc") != ""))
        .groupBy("client_svc", "server_svc")
        .agg(
            F.count(F.lit(1)).alias("n_requests"),
            F.sum((F.col("resp_status") >= 400).cast("long")).alias("n_errors"),
            F.percentile_approx("latency", 0.99).alias("latency_p99"),
        )
    )


def test_flagship_service_flow_graph(spark, fixtures, above_cap):
    """Service-graph script re-expressed (ref workload corpus:
    src/pxl_scripts/px/{net_flow_graph,dns_flow_graph}/ — resolve both
    endpoints to services, aggregate edges). Server side via upid ctx,
    client side via ip→pod→service lookups: map lookups with no join on
    small dims, broadcast joins on dims above INLINE_MAX_KEYS."""
    from pixie_spark.plans import assert_no_cartesian

    edges = _service_edges(spark, *fixtures)
    rows = edges.collect()
    assert rows, "expected resolvable service->service edges"
    assert sum(r2["n_requests"] for r2 in rows) > 300  # 90% internal x 97% known upids
    names = {r2["client_svc"] for r2 in rows} | {r2["server_svc"] for r2 in rows}
    assert all("/" in n for n in names)
    assert_no_cartesian(edges)
    assert _joins(edges) == 0 and "BroadcastExchange" not in plan_string(edges)

    large = _service_edges(spark, *above_cap)
    assert sorted(large.drop("latency_p99").collect()) == sorted(
        edges.drop("latency_p99").collect()
    )
    assert_no_cartesian(large)
    assert_broadcast_join(large, 3)


def test_pod_and_service_id_accessors(spark, fixtures):
    """pod_id_to_* / service_id_to_* accessor families
    (metadata_ops.cc:35-139) as chained broadcast hops."""
    pods, services, _ = fixtures
    px.set_context(spark, tables={}, metadata=MetadataResolver(pods, services))
    df = px.from_spark(
        spark.createDataFrame([("pod-id-0000",), ("pod-id-bogus",)], ["pod_id"])
    )
    df.service_name = px.pod_id_to_service_name(df.pod_id)
    df.pod_name = px.pod_id_to_pod_name(df.pod_id)
    df.namespace = px.pod_id_to_namespace(df.pod_id)
    df.service_id = px.service_name_to_service_id(df.service_name)
    rows = {x["pod_id"]: x for x in df.to_spark().collect()}
    row, bogus = rows["pod-id-0000"], rows["pod-id-bogus"]
    assert "/" in row["service_name"]
    assert row["pod_name"].startswith(row["namespace"] + "/")
    assert row["service_id"] == "s-frontend"
    assert [bogus[c] for c in ["service_name", "pod_name", "namespace", "service_id"]] == [""] * 4


def test_flagship_service_slow_requests(spark, fixtures):
    """Port of service.pxl's service_slow_requests (reference:
    src/pxl_scripts/px/service/service.pxl:116-131): per-service p99 via
    quantiles agg → join back on service → keep requests ≥ floor(p99) →
    head(100). The reference plucks p99 from a t-digest JSON string; here
    quantiles is a struct, so the pluck is a field access."""
    pods, services, events = fixtures
    px.set_context(
        spark, tables={"http_events": events}, metadata=MetadataResolver(pods, services)
    )
    df = px.DataFrame("http_events", start_time=0)
    df = df[df.trace_role == 2]
    df.service = df.ctx["service_name"]
    df.failure = df.resp_status >= 400
    df = df[df.req_path != "/healthz"]
    df = df[df.service != ""]

    quantiles = df.groupby(["service"]).agg(
        latency_quantiles=("latency", "px.quantiles")
    )
    quantiles.service_p99 = F.floor(quantiles.latency_quantiles["p99"])
    quantiles = quantiles.drop("latency_quantiles")

    requests = df.merge(
        quantiles, how="inner", left_on="service", right_on="service", suffixes=["", "_x"]
    )
    requests = requests[requests.latency >= requests.service_p99]
    out = requests[["time_", "service", "latency", "req_method", "req_path", "resp_status"]].head(100)

    rows = out.to_spark().collect()
    assert 0 < len(rows) <= 100
    # every surviving request is at/above its service's p99 → tail share
    slow = px.from_spark(requests.to_spark())
    per_svc = (
        requests.to_spark().groupBy("service").count().collect()
    )
    totals = {r["service"]: r["count"] for r in df.to_spark().groupBy("service").count().collect()}
    for r in per_svc:
        assert r["count"] <= max(0.05 * totals[r["service"]] + 2, 2)


def test_flagship_most_http_data(spark, fixtures):
    """Port of most_http_data/data.pxl's get_max_elm: global max via agg →
    join back on the value (the PxL idiom for argmax without window
    functions)."""
    pods, services, events = fixtures
    px.set_context(
        spark, tables={"http_events": events}, metadata=MetadataResolver(pods, services)
    )
    df = px.DataFrame("http_events", start_time=0)
    df.pod = df.ctx["pod_name"]
    max_df = df.agg(__max_size=("resp_body_size", "px.max"))
    biggest = df.merge(
        max_df, how="inner", left_on="resp_body_size", right_on="__max_size",
        suffixes=["", "_x"],
    ).drop("__max_size")
    rows = biggest[["pod", "resp_body_size", "req_path"]].to_spark().collect()
    assert rows
    expected_max = df.to_spark().agg(F.max("resp_body_size")).first()[0]
    assert all(r["resp_body_size"] == expected_max for r in rows)


def test_ctx_canonical_aliases(spark, fixtures):
    """ctx['service'] / ctx['pod'] — the canonical PxL accessor spellings."""
    pods, services, events = fixtures
    px.set_context(
        spark, tables={"http_events": events}, metadata=MetadataResolver(pods, services)
    )
    df = px.DataFrame("http_events")
    df.service = df.ctx["service"]
    df.pod = df.ctx["pod"]
    got = df[["service", "pod"]].to_spark().where(F.col("service") != "")
    assert got.count() > 400


def test_flagship_dns_query_summary(spark, fixtures):
    """Port of dns_query_summary/dns_flow_graph (ref:
    src/pxl_scripts/px/dns_query_summary/): pluck query names from JSON
    request bodies, aggregate per (pod, qname) with latency quantiles and
    NXDOMAIN rate."""
    from pixie_spark.functions import lookup
    from pixie_spark.sources.fixtures import dns_events_fixture

    pods, services, _ = fixtures
    dns = dns_events_fixture(spark)
    df = _with_ctx(spark, MetadataResolver(pods, services), dns, pod_name="pod_name")
    df = df.withColumn(
        "qname", F.get_json_object("req_body", "$.queries[0].name")
    ).withColumn("rcode", lookup("pluck_int64")("resp_header", "rcode"))
    agg = (
        df.where(F.col("pod_name") != "")
        .groupBy("pod_name", "qname")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum((F.col("rcode") == 3).cast("long")).alias("n_nxdomain"),
            F.percentile_approx("latency", 0.99).alias("latency_p99"),
        )
    )
    rows = agg.collect()
    assert rows
    assert all(row["qname"] and row["n_queries"] >= 1 for row in rows)
    assert any(row["n_nxdomain"] > 0 for row in rows)
    total = sum(row["n_queries"] for row in rows)
    assert total > 250  # ~97% of 300 resolve to known pods


def test_alias_and_canonical_both_requested(spark, fixtures):
    """ctx['pod'] and ctx['pod_name'] on one frame produce BOTH columns."""
    pods, services, events = fixtures
    out = _with_ctx(
        spark, MetadataResolver(pods, services), events.limit(50),
        pod="pod", pod_name="pod_name", service="service", service_name="service_name",
    )
    assert out.columns[-4:] == ["pod", "pod_name", "service", "service_name"]
    row = out.where(F.col("pod") != "").first()
    assert row["pod"] == row["pod_name"] and row["service"] == row["service_name"]


def test_run_script_with_metadata_ctx(spark, fixtures):
    """ExecuteScript end-to-end WITH metadata: a script string using
    df.ctx, rolling windows, agg tuples, and multiple displays — the
    full query-broker path (entry point 1, SURVEY §3)."""
    pods, services, events = fixtures
    px.set_context(
        spark, tables={"http_events": events}, metadata=MetadataResolver(pods, services)
    )
    code = """
df = px.DataFrame('http_events', start_time=0)
df.svc = df.ctx['service']
df.failure = df.resp_status >= 400
per_svc = df.groupby(['svc']).agg(
    n=('latency', 'px.count'),
    err=('failure', lambda c: F.sum(c.cast('long'))),
    q=('latency', 'px.quantiles'),
)
px.display(per_svc, 'svc_stats')
px.display(df[df.failure][['svc', 'req_path', 'resp_status']], 'failures')
"""
    res = px.run_script(code)
    assert set(res) == {"svc_stats", "failures"}
    stats = res["svc_stats"].collect()
    assert sum(r["n"] for r in stats) == 500
    assert all(r["resp_status"] >= 400 for r in res["failures"].collect())
    named = [r for r in stats if r["svc"] != ""]
    assert named and all(r["q"]["p99"] >= r["q"]["p50"] for r in named)


def _parity_dims(spark):
    """(pods, services, containers) with the edge cases a lookup must
    get right on both paths: a restarted pod (a second, later epoch
    under a new name), a pod with null values, one with null keys."""
    from pixie_spark.sources.fixtures import k8s_containers_fixture

    pods, services = k8s_fixtures(spark)
    restarted = (
        pods.where(F.col("pod_id") == "pod-id-0000")
        .withColumn("start_time", F.col("start_time") + F.lit(10**9))
        .withColumn("pod_name", F.concat(F.col("pod_name"), F.lit("-r2")))
    )
    nulls = spark.createDataFrame(
        [
            ({"high": 7 << 32 | 7000, "low": 0}, "pod-id-nulls", "prod/nulls",
             None, None, "10.9.9.9", None, None, None, None, None, None),
            ({"high": 7 << 32 | 7001, "low": 0}, "pod-id-nokeys", None,
             "prod", "node-1", None, "s-api", None, None, "Running", 1, None),
        ],
        pods.schema,
    )
    containers = k8s_containers_fixture(spark)
    containers = containers.unionByName(
        spark.createDataFrame(
            [({"high": 7 << 32 | 7000, "low": 0}, "containerd://nulls", None, None, None)],
            containers.schema,
        )
    )
    return pods.unionByName(restarted).unionByName(nulls), services, containers


def _parity_probe(spark, pods, services, containers):
    """One row per probe: every key value the dims hold, a miss and a
    null for each key column (upid, pod_id, pod_name, pod_ip, service_id,
    service_name, container_id), cycled against each other."""
    def keys(df, col, miss):
        return [r[0] for r in df.select(col).distinct().collect()] + [miss, None]

    pools = {
        "upid": [
            None if u is None else (u["high"], u["low"])
            for u in keys(pods, "upid", {"high": 9 << 32 | 9999, "low": 0})
        ],
        "pod_id": keys(pods, "pod_id", "pod-id-bogus"),
        "pod_name": keys(pods, "pod_name", "prod/missing"),
        "pod_ip": keys(pods, "pod_ip", "203.0.113.9"),
        "service_id": keys(services, "service_id", "s-missing"),
        "service_name": keys(services, "service_name", "prod/missing"),
        "container_id": keys(containers, "container_id", "containerd://missing"),
    }
    n = max(len(p) for p in pools.values())
    rows = [(i, *(p[i % len(p)] for p in pools.values())) for i in range(n)]
    schema = "rid long, upid struct<high: bigint, low: bigint>, " + ", ".join(
        f"{c} string" for c in list(pools)[1:]
    )
    return spark.createDataFrame(rows, schema)


def _resolve_everything(spark, resolver, probe, containers_only=False) -> dict:
    """{rid: row} with a column per SCALAR_LOOKUPS entry and per
    CTX_LOOKUPS attr (on a upid frame and on a pod_id frame); with
    ``containers_only``, only the lookups that read the containers dim."""
    def wanted(hops):
        return not containers_only or any(dim == "containers" for dim, _, _ in hops)

    px.set_context(spark, tables={}, metadata=resolver)
    out = {}
    for key, sdf in (("upid", probe), ("pod_id", probe.drop("upid"))):
        df = px.from_spark(sdf)
        n_lookups = 0
        for (k, attr), hops in CTX_LOOKUPS.items():
            if k == key and wanted(hops):
                df[f"ctx_{attr}"] = df.ctx[attr]
                n_lookups += 1
        if key == "upid":
            for name, hops in SCALAR_LOOKUPS.items():
                if wanted(hops):
                    df[f"fn_{name}"] = getattr(px, name)(df[hops[0][1]])
                    n_lookups += 1
        if not n_lookups:
            continue
        for r in df.to_spark().collect():
            out.setdefault(r["rid"], {}).update({f"{key}.{c}": v for c, v in r.asDict().items()})
    return out


def test_inline_and_join_paths_agree(spark, monkeypatch):
    """Every SCALAR_LOOKUPS entry and every CTX_LOOKUPS attr gives the
    same rows with small dims inlined as maps and with the cap below 0
    (every dim joins, the empty one too): orphan upids, a restarted pod,
    null keys and values, px.nslookup on external IPs, a non-string
    value, and an empty dim. The empty-containers pass resolves only the
    8 lookups that read the containers dim: the other 43 read the same
    pods and services as the first pass."""
    from pyspark.sql import Column, DataFrame

    pods, services, containers = _parity_dims(spark)
    empty_containers = spark.createDataFrame([], containers.schema)
    for dims in ((pods, services, containers), (pods, services, empty_containers)):
        first = dims[2] is containers
        probe = _parity_probe(spark, *dims)
        got = {}
        for cap, table_type in ((INLINE_MAX_KEYS, Column), (-1, DataFrame)):
            monkeypatch.setattr(metadata, "INLINE_MAX_KEYS", cap)
            resolver = MetadataResolver(*dims)
            got[cap] = _resolve_everything(spark, resolver, probe, containers_only=not first)
            assert all(isinstance(t, table_type) for t, _ in resolver._prepared.values())
        monkeypatch.undo()
        inline, joined = got[INLINE_MAX_KEYS], got[-1]
        assert inline == joined

        rows = list(inline.values())
        containers_found = {r["upid.ctx_container_id"] for r in rows} - {""}
        assert bool(containers_found) == first
        if not first:
            continue
        by = {r["upid.pod_ip"]: r for r in rows}
        assert by["203.0.113.9"]["upid.fn_nslookup"] == "203.0.113.9"
        assert by[None]["upid.fn_nslookup"] is None and by[None]["upid.fn_ip_to_pod_id"] == ""
        # the restarted pod's latest epoch wins, on every key
        assert by["10.0.0.1"]["upid.fn_nslookup"].endswith("-r2")
        r2 = next(r for r in rows if r["upid.pod_id"] == "pod-id-0000")
        assert r2["pod_id.ctx_pod"].endswith("-r2")
        nulls = next(r for r in rows if r["upid.pod_id"] == "pod-id-nulls")
        assert nulls["pod_id.ctx_namespace"] == "" and nulls["pod_id.ctx_service"] == ""
        miss = next(r for r in rows if r["upid.pod_name"] == "prod/missing")
        assert miss["upid.fn_pod_name_to_start_time"] is None
        hit = next(r for r in rows if r["upid.pod_name"] == "prod/api-0001")
        assert isinstance(hit["upid.fn_pod_name_to_start_time"], int)
        orphan = next(r for r in rows if r["upid.upid"] == (9 << 32 | 9999, 0))
        assert orphan["upid.ctx_pod"] == "" and orphan["upid.ctx_service"] == ""


def test_dim_snapshot_runs_once_per_resolver(spark, fixtures):
    """The small dims are collected while the first script is planned;
    planning the same script again launches no job at all, and the
    second run's collect launches fewer jobs than the first run's."""
    pods, services, events = fixtures
    px.set_context(
        spark, tables={"http_events": events}, metadata=MetadataResolver(pods, services)
    )
    code = """
import px
df = px.DataFrame('http_events')
df.responder = df.ctx['service']
df.requestor = px.pod_id_to_service_name(px.ip_to_pod_id(df.remote_addr))
px.display(df.groupby(['requestor', 'responder']).agg(n=('latency', px.count)), 'g')
"""
    sc = spark.sparkContext
    jobs = []
    for run in range(2):
        for phase in ("plan", "collect"):
            group = f"md-snapshot-{run}-{phase}"
            sc.setJobGroup(group, group)
            try:
                if phase == "plan":
                    out = px.run_script(code)["g"]
                else:
                    rows = out.collect()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    plan_1, collect_1, plan_2, collect_2 = jobs
    assert plan_1 > 0 and plan_2 == 0
    assert sum(r["n"] for r in rows) > 0
    assert collect_2 <= collect_1
