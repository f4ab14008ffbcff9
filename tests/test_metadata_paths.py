"""Path coverage for k8s metadata resolution through the PxL surface.

Every way a script reaches the metadata dims — ctx[...] on upid frames
(aliases and canonical names together), ctx on post-agg frames that only
carry pod_id, container attrs, ctx['pid'], nested px.X_to_Y calls,
px.nslookup's fallback, and ctx inside a filter, px.select and
px.has_service_name — runs through px.run_script here. Expected values
are computed in pandas straight from the fixture dims, so the test pins
the lookup semantics rather than the plan shape: one row per key, the
latest validity row for pods, '' on a miss, orphan rows kept."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

import pixie_spark.api as px
from pixie_spark.functions.metadata import MetadataResolver
from pixie_spark.sources.fixtures import (
    http_events_fixture,
    k8s_fixtures,
    observability_context,
)


def _upid(u) -> tuple:
    return (u["high"], u["low"])


def _pdf(sdf) -> pd.DataFrame:
    rows = [r.asDict() for r in sdf.collect()]
    for r in rows:
        if "upid" in r:
            r["upid"] = _upid(r["upid"])
    return pd.DataFrame(rows)


@pytest.fixture(scope="module")
def ctx_run(spark):
    tables, resolver = observability_context(spark)
    events = http_events_fixture(spark, n=500)
    tables = {**tables, "http_events": events}
    px.set_context(spark, tables=tables, metadata=resolver)
    dims = {
        "events": _pdf(events),
        "pods": _pdf(resolver.pods),
        "services": _pdf(resolver.services),
        "containers": _pdf(resolver.containers),
    }
    return events.columns, dims


def _latest_pods(pods: pd.DataFrame, key: str) -> pd.DataFrame:
    return pods.sort_values("start_time").groupby(key).tail(1).set_index(key)


def _expected_upid_frame(dims) -> pd.DataFrame:
    ev = dims["events"]
    pods = _latest_pods(dims["pods"], "upid")
    svc = dims["services"].set_index("service_id")["service_name"]
    cont = dims["containers"].set_index("upid")
    by_ip = _latest_pods(dims["pods"], "pod_ip")

    def pod_attr(col):
        return ev["upid"].map(pods[col]).fillna("")

    out = pd.DataFrame({"upid": ev["upid"]})
    out["ns"] = pod_attr("namespace")
    out["node"] = pod_attr("node_name")
    out["node_name"] = pod_attr("node_name")
    out["phase"] = pod_attr("phase")
    out["sid"] = pod_attr("service_id")
    out["pid"] = ev["upid"].map(lambda u: u[0] & 0xFFFFFFFF)
    out["container"] = ev["upid"].map(cont["container_name"]).fillna("")
    out["cmdline"] = ev["upid"].map(cont["cmdline"]).fillna("")
    requestor_pod = ev["remote_addr"].map(by_ip["pod_id"])
    requestor_sid = requestor_pod.map(_latest_pods(dims["pods"], "pod_id")["service_id"])
    out["requestor"] = requestor_sid.map(svc).fillna("")
    out["peer"] = ev["remote_addr"].map(by_ip["pod_name"]).fillna(ev["remote_addr"])
    pod = pod_attr("pod_name")
    service = ev["upid"].map(pods["service_id"]).map(svc).fillna("")
    out["label"] = pod.where(ev["resp_status"] >= 400, service)
    out["pod"] = pod
    out["service"] = service
    return out


SCRIPT = """
import px
df = px.DataFrame('http_events', start_time=0)
df.ns = df.ctx['namespace']
df.node = df.ctx['node']
df.node_name = df.ctx['node_name']
df.phase = df.ctx['pod_phase']
df.sid = df.ctx['service_id']
df.pid = df.ctx['pid']
df.container = df.ctx['container']
df.cmdline = df.ctx['cmdline']
df.requestor = px.pod_id_to_service_name(px.ip_to_pod_id(df.remote_addr))
df.label = px.select(df.resp_status >= 400, df.ctx['pod'], df.ctx['service'])
df.pod = ''
df.peer = px.nslookup(df.remote_addr)
df.pod = df.ctx['pod']
df.service = df.ctx['service']
px.display(df, 'per_event')

by_pod = df.groupby(['sid', 'node']).agg(n=('latency', px.count))
px.display(by_pod, 'by_node')

pods = df.groupby(['upid']).agg(n=('latency', px.count))
pods.pod_id = pods.ctx['pod_id']
pods = pods.groupby(['pod_id']).agg(n=('n', px.sum))
pods.pod = pods.ctx['pod']
pods.service = pods.ctx['service']
px.display(pods, 'post_agg')

api = df[df.ctx['service'] == 'prod/api']
px.display(api[['upid', 'req_path']], 'ctx_filter')
fe = df[px.has_service_name(df.ctx['service'], 'prod/frontend')]
px.display(fe[['upid', 'resp_status']], 'has_service')
"""


@pytest.fixture(scope="module")
def results(ctx_run):
    return px.run_script(SCRIPT)


def test_per_event_paths_match_pandas(ctx_run, results):
    """Every upid-frame path in one script: attrs with an alias next to
    its canonical name, containers, pid, nested px.X_to_Y, nslookup's
    raw-IP fallback and ctx inside px.select — each column equals the
    pandas lookup over the fixture dims, row for row."""
    event_cols, dims = ctx_run
    got = _pdf(results["per_event"])
    want = _expected_upid_frame(dims)
    assert len(got) == len(dims["events"]) == 500
    new_cols = [
        "ns", "node", "node_name", "phase", "sid", "pid", "container",
        "cmdline", "requestor", "label", "pod", "peer", "service",
    ]
    # 'pod' was assigned '' before 'peer', so ctx['pod'] replaces it in place
    assert list(got.columns) == event_cols + new_cols
    key = ["upid", "time_", "req_path", "latency"]
    got = got.sort_values(key).reset_index(drop=True)
    ev = dims["events"].assign(**{c: want[c] for c in new_cols})
    ev = ev.sort_values(key).reset_index(drop=True)
    for c in new_cols:
        assert got[c].tolist() == ev[c].tolist(), c
    # the fixtures exercise both sides of every miss rule
    assert (got["peer"].str.startswith("203.0.113.")).any()
    assert (got["requestor"] == "").any() and (got["requestor"] != "").any()
    assert (got["node"] == got["node_name"]).all()


def test_orphan_upids_keep_rows_with_empty_values(ctx_run, results):
    """Upids absent from k8s_pods (FIXTURES §8) keep their rows: every
    string attr is '' and the row count is the input's."""
    _, dims = ctx_run
    got = _pdf(results["per_event"])
    known = set(dims["pods"]["upid"])
    orphan = got[~got["upid"].isin(known)]
    assert 0 < len(orphan) < 0.1 * len(got)
    for c in ["ns", "node", "phase", "sid", "container", "pod", "service"]:
        assert (orphan[c] == "").all(), c


def test_post_agg_pod_id_frame(ctx_run, results):
    """ctx on a post-groupby frame that only carries pod_id resolves
    through pod_id (pxviews idiom: groupby(['pod_id', ...]) then
    df.ctx['pod'])."""
    _, dims = ctx_run
    got = _pdf(results["post_agg"]).set_index("pod_id")
    assert list(results["post_agg"].columns) == ["pod_id", "n", "pod", "service"]
    pods = _latest_pods(dims["pods"], "pod_id")
    svc = dims["services"].set_index("service_id")["service_name"]
    ids = got.index.to_series()
    assert got["pod"].tolist() == ids.map(pods["pod_name"]).fillna("").tolist()
    assert got["service"].tolist() == (
        ids.map(pods["service_id"]).map(svc).fillna("").tolist()
    )
    assert "" in got.index  # orphans group under the '' pod_id
    assert got["n"].sum() == 500


def test_ctx_in_filters(ctx_run, results):
    """ctx inside a filter predicate and inside px.has_service_name."""
    _, dims = ctx_run
    want = _expected_upid_frame(dims)
    api = results["ctx_filter"]
    fe = results["has_service"]
    assert api.columns == ["upid", "req_path"]
    assert fe.columns == ["upid", "resp_status"]
    assert api.count() == int((want["service"] == "prod/api").sum()) > 0
    assert fe.count() == int((want["service"] == "prod/frontend").sum()) > 0


def test_group_by_ctx_columns(ctx_run, results):
    _, dims = ctx_run
    want = _expected_upid_frame(dims)
    got = _pdf(results["by_node"])
    counts = want.groupby(["sid", "node"]).size()
    assert dict(zip(zip(got["sid"], got["node"]), got["n"])) == counts.to_dict()


def test_outputs_carry_no_temp_columns(results):
    for name, sdf in results.items():
        assert not [c for c in sdf.columns if c.startswith("__")], name


def test_restart_epoch_ctx_and_scalar_lookup_agree(spark):
    """A upid with two validity rows (a pod restart epoch) resolves to the
    LATEST row through every path: df.ctx['pod_name'] and
    px.upid_to_pod_name(df.upid) agree on every row, nothing fans out."""
    pods, services = k8s_fixtures(spark)
    events = http_events_fixture(spark, n=500)
    first = pods.first()
    upid_lit = F.struct(
        F.lit(first["upid"]["high"]).alias("high"),
        F.lit(first["upid"]["low"]).alias("low"),
    )
    restarted = pods.unionByName(
        pods.where(F.col("upid") == upid_lit)
        .withColumn("start_time", F.col("start_time") + F.lit(10**9))
        .withColumn("pod_name", F.concat(F.col("pod_name"), F.lit("-r2")))
    )
    px.set_context(
        spark,
        tables={"http_events": events},
        metadata=MetadataResolver(restarted, services),
    )
    out = px.run_script(
        """
import px
df = px.DataFrame('http_events', start_time=0)
df.by_ctx = df.ctx['pod_name']
df.by_udf = px.upid_to_pod_name(df.upid)
px.display(df[['upid', 'by_ctx', 'by_udf']], 'out')
"""
    )["out"]
    rows = out.collect()
    assert len(rows) == 500
    restarted_rows = [r for r in rows if _upid(r["upid"]) == _upid(first["upid"])]
    assert restarted_rows
    assert all(r["by_ctx"].endswith("-r2") for r in restarted_rows)
    assert [r for r in rows if r["by_ctx"] != r["by_udf"]] == []


def test_ctx_leaves_other_columns_alone(ctx_run):
    """Resolving ctx['service'] or ctx['pod'] touches only the assigned
    column: a frame's own service_id or pod column survives unchanged,
    in place, even when the lookup passes through the same attribute."""
    out = px.run_script(
        """
import px
df = px.DataFrame('http_events', start_time=0)
df = df[['upid', 'req_path']]
df.service_id = 'mine'
df.pod = 'mine'
df.svc = df.ctx['service']
df.pod_name = df.ctx['pod']
df.is_api = px.select(df.ctx['service'] == 'prod/api', 'yes', 'no')
px.display(df, 'out')
"""
    )["out"]
    assert out.columns == [
        "upid", "req_path", "service_id", "pod", "svc", "pod_name", "is_api",
    ]
    rows = out.collect()
    assert len(rows) == 500
    assert {(r["service_id"], r["pod"]) for r in rows} == {("mine", "mine")}
    assert {r["svc"] for r in rows} >= {"prod/api", "prod/frontend", ""}
