"""K8s metadata layer: ctx[...] resolution via broadcast joins against
the FIXTURES.md dimension tables, incl. the orphan-upid fallback path."""

import pytest
from pyspark.sql import functions as F

import pixie_spark.api as px
from pixie_spark.functions.metadata import SCALAR_LOOKUPS, MetadataResolver
from pixie_spark.plans import assert_broadcast_join
from pixie_spark.sources.fixtures import http_events_fixture, k8s_fixtures


@pytest.fixture(scope="module")
def fixtures(spark):
    pods, services = k8s_fixtures(spark)
    events = http_events_fixture(spark, n=500)
    return pods, services, events


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


def test_metadata_join_is_broadcast(spark, fixtures):
    pods, services, events = fixtures
    out = _with_ctx(spark, MetadataResolver(pods, services), events, pod="pod")
    assert_broadcast_join(out, 1)
    out = _with_ctx(spark, MetadataResolver(pods, services), events, svc="service")
    assert_broadcast_join(out, 2)


def test_ctx_builds_one_join_per_hop_and_one_projection(spark, fixtures, monkeypatch):
    """df.x = df.ctx['service'] builds an aliased join per hop against
    dims prepared once per resolver, then one projection — and probes
    the schema of none of the frames it builds (each probe re-analyses
    the joined plan)."""
    pods, services, events = fixtures
    r = MetadataResolver(pods, services)
    px.set_context(spark, tables={}, metadata=r)
    df = px.from_spark(events)
    df.first = df.ctx["service"]
    prepared = dict(r._prepared)
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

    assert len(built) == 2 * 2 + 1  # (alias + join) per hop, one select
    assert [f for f in built if "schema" in f.__dict__] == []
    assert r._prepared.keys() == prepared.keys()
    assert all(r._prepared[k] is prepared[k] for k in prepared)
    out = df.to_spark()
    assert out.columns == events.columns + ["first", "second"]
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


def test_flagship_service_flow_graph(spark, fixtures):
    """Service-graph script re-expressed (ref workload corpus:
    src/pxl_scripts/px/{net_flow_graph,dns_flow_graph}/ — resolve both
    endpoints to services, aggregate edges). Server side via upid ctx,
    client side via ip→pod→service broadcast lookups."""
    pods, services, events = fixtures
    px.set_context(spark, tables={}, metadata=MetadataResolver(pods, services))
    df = px.from_spark(events)
    df.server_svc = df.ctx["service_name"]
    df.client_svc = px.pod_id_to_service_name(px.ip_to_pod_id(df.remote_addr))
    edges = (
        df.to_spark()
        .where((F.col("server_svc") != "") & (F.col("client_svc") != ""))
        .groupBy("client_svc", "server_svc")
        .agg(
            F.count(F.lit(1)).alias("n_requests"),
            F.sum((F.col("resp_status") >= 400).cast("long")).alias("n_errors"),
            F.percentile_approx("latency", 0.99).alias("latency_p99"),
        )
    )
    rows = edges.collect()
    assert rows, "expected resolvable service->service edges"
    assert sum(r2["n_requests"] for r2 in rows) > 300  # 90% internal x 97% known upids
    names = {r2["client_svc"] for r2 in rows} | {r2["server_svc"] for r2 in rows}
    assert all("/" in n for n in names)
    from pixie_spark.plans import assert_no_cartesian
    assert_no_cartesian(edges)
    assert_broadcast_join(edges, 3)


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
