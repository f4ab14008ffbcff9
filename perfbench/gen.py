"""Seeded input generator for the benchmark workloads.

Builds ``http_events``, ``conn_stats``, the k8s pod/service dimensions
the metadata resolver joins against, and a text corpus with planted
exact and near duplicates. Everything is drawn from one
``numpy.random.Generator`` seeded by the caller, so the same seed gives
byte-identical tables. The generator deliberately does not import the
program's own fixture builders: a change to the program cannot change
what a workload feeds it.

Tables are written as parquet with pyarrow; the arrays stay in memory
as pandas frames so the output checks can compute their reference
answers over exactly the rows the program reads.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BASE_NS = 1_704_067_200_000_000_000  # 2024-01-01 UTC
SEC_NS = 1_000_000_000
MIN_NS = 60 * SEC_NS
# every table spans [NOW_NS - SPAN_NS, NOW_NS); scripts pin px.now() to
# NOW_NS, so a '-60m' window holds every row and '-5m' the last twelfth
SPAN_NS = 59 * MIN_NS
NOW_NS = BASE_NS + SPAN_NS

N_PODS = 40
N_SERVICES = 8
_EXTERNAL_IPS = [f"203.0.113.{i}" for i in range(1, 21)]
_METHODS = ["GET", "GET", "GET", "POST", "PUT", "DELETE"]
_STATUS = np.array([200] * 80 + [204] * 14 + [400, 404, 404, 500, 503, 500])
_PATH_ROOTS = [
    "/api/v1/items", "/api/v1/users", "/api/v1/orders", "/api/v2/search",
    "/api/v1/cart", "/api/v1/products", "/api/v2/recommendations",
    "/api/v1/reviews", "/api/v1/inventory", "/healthz",
]
_PATHS = [f"{root}/{i}" for root in _PATH_ROOTS for i in range(20)]
_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


@dataclass
class K8s:
    """Pod and service dimensions plus the per-pod lookup arrays the
    reference answers use (index = pod number)."""

    pods: pa.Table
    services: pa.Table
    pod_service: np.ndarray  # service name per pod
    pod_name: np.ndarray
    pod_ip: np.ndarray
    upid_high: np.ndarray
    upid_low: np.ndarray


def _upid_array(high: np.ndarray, low: np.ndarray) -> pa.StructArray:
    return pa.StructArray.from_arrays(
        [pa.array(high, pa.int64()), pa.array(low, pa.int64())], names=["high", "low"]
    )


def _strings(pool: list[str], idx: np.ndarray) -> pa.DictionaryArray:
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(pool))


def k8s_dims(rng: np.random.Generator) -> K8s:
    """N_PODS pods over N_SERVICES services, one validity row each
    (started a day before the data, never stopped)."""
    services = [f"svc-{i}" for i in range(N_SERVICES)]
    namespaces = np.array(["prod", "staging"])
    svc_ns = namespaces[np.arange(N_SERVICES) % 2]
    svc_of_pod = rng.integers(0, N_SERVICES, N_PODS)
    svc_of_pod[:N_SERVICES] = np.arange(N_SERVICES)  # every service has a pod
    idx = np.arange(N_PODS)
    start = BASE_NS - 24 * 60 * MIN_NS
    high = ((idx % 4 + 1) << 32) | (1000 + idx)
    low = np.full(N_PODS, start, np.int64)
    ns_of_pod = svc_ns[svc_of_pod]
    pod_name = np.array(
        [f"{ns_of_pod[i]}/{services[svc_of_pod[i]]}-{i:04d}" for i in idx], dtype=object
    )
    pod_ip = np.array([f"10.0.{i // 250}.{i % 250 + 1}" for i in idx], dtype=object)
    pods = pa.table(
        {
            "upid": _upid_array(high, low),
            "pod_id": [f"pod-id-{i:04d}" for i in idx],
            "pod_name": pod_name.tolist(),
            "namespace": ns_of_pod.tolist(),
            "node_name": [f"node-{i % 4}" for i in idx],
            "pod_ip": pod_ip.tolist(),
            "service_id": [f"s-{s}" for s in svc_of_pod],
            "replicaset_id": [f"rs-{s}" for s in svc_of_pod],
            "deployment_id": [f"dep-{s}" for s in svc_of_pod],
            "phase": ["Running"] * N_PODS,
            "start_time": pa.array(low, pa.int64()),
            "stop_time": pa.nulls(N_PODS, pa.int64()),
        }
    )
    service_table = pa.table(
        {
            "service_id": [f"s-{i}" for i in range(N_SERVICES)],
            "service_name": [f"{svc_ns[i]}/{services[i]}" for i in range(N_SERVICES)],
            "namespace": svc_ns.tolist(),
            "cluster_ip": [f"10.96.0.{i + 1}" for i in range(N_SERVICES)],
            "external_ips": ["[]"] * N_SERVICES,
        }
    )
    svc_name = np.array(service_table.column("service_name").to_pylist(), dtype=object)
    return K8s(pods, service_table, svc_name[svc_of_pod], pod_name, pod_ip, high, low)


def http_events(rng: np.random.Generator, k8s: K8s, n: int) -> tuple[pa.Table, pd.DataFrame]:
    """``n`` server-side HTTP events, time-sorted over the span.

    Returns the table and a pandas frame of the columns the reference
    answers need, with metadata already resolved (``service`` is the
    responder's service, ``requestor`` the caller's; '' on a miss, as
    the program's metadata lookups return).
    """
    t = np.sort(rng.integers(NOW_NS - SPAN_NS, NOW_NS, n, dtype=np.int64))
    # 3% of events come from processes absent from the pods dimension
    pod = rng.integers(0, N_PODS, n)
    orphan = rng.random(n) < 0.03
    high = np.where(orphan, (9 << 32) | (9900 + pod), k8s.upid_high[pod])
    low = np.where(orphan, BASE_NS - 7 * 60 * MIN_NS, k8s.upid_low[pod])
    # callers: 85% in-cluster pods (resolvable through pod_ip), rest external
    caller = rng.integers(0, N_PODS, n)
    external = rng.random(n) < 0.15
    ip_pool = list(k8s.pod_ip) + _EXTERNAL_IPS
    ip_idx = np.where(external, N_PODS + rng.integers(0, len(_EXTERNAL_IPS), n), caller)
    path_idx = rng.integers(0, len(_PATHS), n)
    status = _STATUS[rng.integers(0, len(_STATUS), n)]
    method_idx = rng.integers(0, len(_METHODS), n)
    # log-normal around 2 ms; ~0.5% of requests exceed 45 ms
    latency = np.minimum(
        np.exp(rng.normal(np.log(2e6), 1.2, n)).astype(np.int64), 2_000_000_000
    )
    resp_size = rng.integers(16, 65536, n)
    table = pa.table(
        {
            "time_": pa.array(t, pa.int64()),
            "upid": _upid_array(high, low),
            "remote_addr": _strings(ip_pool, ip_idx),
            "remote_port": pa.array(rng.integers(1024, 65535, n), pa.int64()),
            "local_addr": _strings(["10.0.0.1"], np.zeros(n, np.int32)),
            "local_port": pa.array(np.full(n, 8080), pa.int64()),
            "trace_role": pa.array(np.full(n, 2), pa.int64()),
            "encrypted": pa.array(rng.random(n) < 0.5),
            "major_version": pa.array(np.ones(n, np.int64)),
            "minor_version": pa.array(np.ones(n, np.int64)),
            "content_type": pa.array(rng.integers(0, 2, n), pa.int64()),
            "req_headers": _strings(['{"host":"svc.local"}'], np.zeros(n, np.int32)),
            "req_method": _strings(_METHODS, method_idx),
            "req_path": _strings(_PATHS, path_idx),
            "req_body": _strings(["{}", '{"q":1}'], (method_idx >= 3).astype(np.int32)),
            "req_body_size": pa.array(rng.integers(0, 4096, n), pa.int64()),
            "resp_headers": _strings(['{"content-type":"application/json"}'], np.zeros(n, np.int32)),
            "resp_status": pa.array(status, pa.int64()),
            "resp_message": _strings(["OK", "ERR"], (status >= 400).astype(np.int32)),
            "resp_body": _strings(['{"ok":true}', '{"ok":false}'], (status >= 400).astype(np.int32)),
            "resp_body_size": pa.array(resp_size, pa.int64()),
            "latency": pa.array(latency, pa.int64()),
        }
    )
    requestor = np.where(external, "", k8s.pod_service[caller])
    ref = pd.DataFrame(
        {
            "time_": t,
            "service": np.where(orphan, "", k8s.pod_service[pod]),
            "requestor": requestor,
            "req_path": np.array(_PATHS, dtype=object)[path_idx],
            "resp_status": status,
            "latency": latency,
            "resp_body_size": resp_size,
        }
    )
    return table, ref


def conn_stats(rng: np.random.Generator, k8s: K8s, n_conns: int) -> tuple[pa.Table, pd.DataFrame]:
    """``n_conns`` connections, each sampled every 10 s over the span
    with monotonic byte counters; rows are time-sorted."""
    times = np.arange(NOW_NS - SPAN_NS, NOW_NS, 10 * SEC_NS, dtype=np.int64)
    s = len(times)
    # distinct (pod, remote, role) keys: the program groups connections
    # by (upid, remote_addr, trace_role), the reference by connection
    n_remote = N_PODS + len(_EXTERNAL_IPS)
    key = rng.choice(N_PODS * n_remote * 2, n_conns, replace=False)
    pod, remote, role = key // (n_remote * 2), key // 2 % n_remote, key % 2 + 1
    sent = np.cumsum(rng.integers(100, 10_000, (n_conns, s)), axis=1)
    recv = np.cumsum(rng.integers(100, 20_000, (n_conns, s)), axis=1)
    order = np.argsort(np.tile(times, n_conns), kind="stable")
    conn = np.repeat(np.arange(n_conns), s)[order]
    t = np.tile(times, n_conns)[order]
    sent, recv = sent.ravel()[order], recv.ravel()[order]
    ip_pool = list(k8s.pod_ip) + _EXTERNAL_IPS
    rows = len(t)
    table = pa.table(
        {
            "time_": pa.array(t, pa.int64()),
            "upid": _upid_array(k8s.upid_high[pod][conn], k8s.upid_low[pod][conn]),
            "remote_addr": _strings(ip_pool, remote[conn]),
            "remote_port": pa.array(np.full(rows, 8080), pa.int64()),
            "trace_role": pa.array(role[conn], pa.int64()),
            "addr_family": pa.array(np.full(rows, 2), pa.int64()),
            "protocol": pa.array(np.ones(rows, np.int64)),
            "ssl": pa.array(conn % 2 == 1),
            "conn_open": pa.array(np.ones(rows, np.int64)),
            "conn_close": pa.array(np.zeros(rows, np.int64)),
            "conn_active": pa.array(np.ones(rows, np.int64)),
            "bytes_sent": pa.array(sent, pa.int64()),
            "bytes_recv": pa.array(recv, pa.int64()),
        }
    )
    ref = pd.DataFrame(
        {"time_": t, "conn": conn, "pod": k8s.pod_name[pod][conn], "sent": sent, "recv": recv}
    )
    return table, ref


@dataclass
class Corpus:
    table: pa.Table
    exact_dups: int  # docs an exact dedup must drop
    near_pairs: list[tuple[int, int]]  # (base doc id, edited copy id)


def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lengths = rng.integers(3, 9, size)
    words = {"".join(rng.choice(letters, k)) for k in lengths}
    return np.array(sorted(words - set(_STOPWORDS)), dtype=object)


def corpus(
    rng: np.random.Generator, n_base: int, n_exact: int, n_near: int,
    words: int = 160, edits: int = 4,
) -> Corpus:
    """``n_base`` distinct docs of ``words`` words (one in six a stop
    word, so every doc passes the Gopher quality gate), plus an exact
    copy of ``n_exact`` of them and a copy with ``edits`` words replaced
    of ``n_near`` others. Doc ids are shuffled so copies never sit next
    to their originals."""
    vocab = _vocab(rng, 4000)
    stop = rng.random((n_base, words)) < 1 / 6
    tokens = np.where(
        stop,
        np.array(_STOPWORDS, dtype=object)[rng.integers(0, len(_STOPWORDS), (n_base, words))],
        vocab[rng.integers(0, len(vocab), (n_base, words))],
    )
    texts = [" ".join(row) for row in tokens]
    picks = rng.permutation(n_base)[: n_exact + n_near]
    exact_src, near_src = picks[:n_exact], picks[n_exact:]
    for b in near_src:
        row = tokens[b].copy()
        pos = rng.choice(np.arange(1, words - 1), edits, replace=False)
        row[pos] = vocab[rng.integers(0, len(vocab), edits)]
        texts.append(" ".join(row))
    texts.extend(texts[b] for b in exact_src)
    ids = rng.permutation(len(texts)).astype(np.int64) + 1
    near_pairs = [(int(ids[b]), int(ids[n_base + i])) for i, b in enumerate(near_src)]
    table = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts})
    return Corpus(table.sort_by("doc_id"), n_exact, near_pairs)


def write(table: pa.Table, path: str, files: int = 1, row_group_rows: int = 1 << 20) -> int:
    """Write ``table`` as ``files`` contiguous parquet parts under the
    directory ``path``; returns the bytes written."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    total = 0
    for i in range(files):
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), f, row_group_size=row_group_rows)
        total += os.path.getsize(f)
    return total
