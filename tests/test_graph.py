"""PageRank (operators/graph.py) vs a numpy power-iteration reference:
exact rank equality, dangling handling, probability-mass invariant,
and the corpus-side authority join contract."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from pixie_spark.operators.graph import domain_authority, out_degrees, pagerank


def _np_pagerank(edges, d=0.85, iters=20):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out = {u: 0 for u in nodes}
    for u, _ in edges:
        out[u] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        nxt = np.full(n, (1.0 - d) / n)
        dangling = sum(r[idx[u]] for u in nodes if out[u] == 0)
        nxt += d * dangling / n
        for u, v in edges:
            nxt[idx[v]] += d * r[idx[u]] / out[u]
        r = nxt
    return {v: r[idx[v]] for v in nodes}


EDGES = [
    ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
    ("d", "c"),            # d has no in-links
    ("e", "a"),            # e is also a sink target of nothing
    ("c", "f"),            # f is DANGLING (no out-edges)
]


def _edge_df(spark, edges=EDGES):
    return spark.createDataFrame(edges, "src string, dst string")


def test_pagerank_matches_numpy_reference(spark):
    got = {r["node"]: r["rank"] for r in pagerank(_edge_df(spark), max_iter=20, tol=0.0).collect()}
    ref = _np_pagerank(EDGES, iters=20)
    assert set(got) == set(ref)
    for v in ref:
        assert got[v] == pytest.approx(ref[v], rel=1e-9), v


def test_rank_mass_is_one_and_hub_ranks_highest(spark):
    ranks = {r["node"]: r["rank"] for r in pagerank(_edge_df(spark), max_iter=30).collect()}
    assert sum(ranks.values()) == pytest.approx(1.0, rel=1e-9)
    # c receives links from a, b, d — the authority of this graph
    assert max(ranks, key=ranks.get) == "c"


def test_dangling_node_keeps_nonzero_rank(spark):
    ranks = {r["node"]: r["rank"] for r in pagerank(_edge_df(spark), max_iter=20).collect()}
    assert ranks["f"] > (1.0 - 0.85) / len(ranks)  # gets inflow from c, not just teleport


def test_dangling_free_fast_path_matches_numpy(spark):
    """r11: when no node is dangling the per-iteration dangling leg
    (anti-join + 1-row agg + broadcast crossJoin) is skipped outright —
    the mass is exactly 0.0 and adding it is an IEEE no-op. The ranks
    must be the same as the general path's math; the numpy reference
    (which always computes the dangling term, here = 0) pins that, and
    check rounds (tol/early-stop) must behave identically on this path."""
    edges = [  # every node has at least one out-edge → n_dangling == 0
        ("a", "b"), ("b", "c"), ("c", "a"),
        ("a", "c"), ("d", "a"), ("c", "d"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["rank"] for r in pagerank(df, max_iter=20, tol=0.0).collect()}
    ref = _np_pagerank(edges, iters=20)
    assert set(got) == set(ref)
    for v in ref:
        assert got[v] == pytest.approx(ref[v], rel=1e-12), v
    assert sum(got.values()) == pytest.approx(1.0, rel=1e-9)
    # early stop on the fast path lands on the fixed point the long run
    # reaches (same contraction argument as the dangling-graph test)
    a = {r["node"]: r["rank"] for r in pagerank(df, max_iter=60, tol=1e-12).collect()}
    b = {r["node"]: r["rank"] for r in pagerank(df, max_iter=200, tol=1e-12).collect()}
    for v in a:
        assert a[v] == pytest.approx(b[v], abs=1e-9), v


def test_out_degrees(spark):
    deg = {r["src"]: r["outdeg"] for r in out_degrees(_edge_df(spark)).collect()}
    assert deg == {"a": 2, "b": 1, "c": 2, "d": 1, "e": 1}


def test_convergence_early_stop_matches_long_run(spark):
    """tol-based early stop must land on the fixed point the long run
    reaches (power iteration is a contraction)."""
    a = {r["node"]: r["rank"] for r in pagerank(_edge_df(spark), max_iter=60, tol=1e-12).collect()}
    b = {r["node"]: r["rank"] for r in pagerank(_edge_df(spark), max_iter=200, tol=1e-12).collect()}
    for v in a:
        assert a[v] == pytest.approx(b[v], abs=1e-9)


def test_domain_authority_join(spark):
    docs = spark.createDataFrame(
        [(1, "a"), (2, "c"), (3, "unknown.example")], "doc_id long, domain string"
    )
    out = {r["doc_id"]: r["authority"] for r in domain_authority(docs, _edge_df(spark), max_iter=20).collect()}
    ranks = {r["node"]: r["rank"] for r in pagerank(_edge_df(spark), max_iter=20).collect()}
    assert out[1] == pytest.approx(ranks["a"], rel=1e-9)
    assert out[2] == pytest.approx(ranks["c"], rel=1e-9)
    assert out[3] == pytest.approx(min(ranks.values()), rel=1e-9)  # unknown → floor


def test_empty_graph(spark):
    empty = spark.createDataFrame([], "src string, dst string")
    assert pagerank(empty).count() == 0


def test_no_per_iteration_driver_actions(spark, monkeypatch):
    """The round-4 review flagged a dangling-mass .first() every
    iteration. The dangling scalar and the convergence delta are now
    folded into the rank-update plan (1-row broadcast crossJoin), and
    since r11 the per-iteration lineage cut is LAZY — its evaluation is
    fused into the check round's delta read. Since r12 (ADVICE r11) the
    lazy window is gated to DANGLING-FREE graphs under localCheckpoint:
    a dangling graph's per-iteration mass broadcast must read a
    MATERIALIZED previous cut, so those graphs use eager cuts — but
    first()/collect() stay per-CHECK-round on both paths.
    (Raw Spark job counts are not asserted: AQE materializes every
    shuffle stage as its own job, which says nothing about driver
    round-trips.)"""
    # patch the CONCRETE class (Spark 4 instances are
    # pyspark.sql.classic.dataframe.DataFrame; the pyspark.sql.DataFrame
    # base's methods are overridden there and would never fire)
    from pyspark.sql.classic.dataframe import DataFrame

    calls = {"first": 0, "collect": 0, "ckpt_eager": 0, "ckpt_lazy": 0}
    orig_first, orig_collect = DataFrame.first, DataFrame.collect
    orig_ckpt = DataFrame.localCheckpoint

    def counting_first(self):
        calls["first"] += 1
        return orig_first(self)

    def counting_collect(self):
        calls["collect"] += 1
        return orig_collect(self)

    def counting_ckpt(self, *a, **k):
        eager = a[0] if a else k.get("eager", True)
        calls["ckpt_eager" if eager else "ckpt_lazy"] += 1
        return orig_ckpt(self, *a, **k)

    monkeypatch.setattr(DataFrame, "first", counting_first)
    monkeypatch.setattr(DataFrame, "collect", counting_collect)
    monkeypatch.setattr(DataFrame, "localCheckpoint", counting_ckpt)

    max_iter, check_every = 9, 3
    # --- dangling graph (EDGES has the dangling node f): eager cuts ---
    pagerank(_edge_df(spark), max_iter=max_iter, check_every=check_every, tol=0.0)
    n_checks = max_iter // check_every  # 3 check rounds (incl. the last)
    # first(): ONLY the delta read-back on check rounds
    assert calls["first"] == n_checks
    # collect(): only first()'s internal head(1)→collect — no other
    # collect anywhere (count() goes through the JVM, not collect)
    assert calls["collect"] == n_checks
    # dangling path: every per-iteration cut is EAGER (the mass
    # broadcast reads the previous cut); setup checkpoints are the 4
    # shared ones (nodes, contrib, has_out, rank init) + the hoisted
    # dangling-node set
    assert calls["ckpt_lazy"] == 0
    assert calls["ckpt_eager"] == max_iter + 5

    # --- dangling-free graph: lazy window, evaluated per check round ---
    for k in calls:
        calls[k] = 0
    no_dangling = [(u, v) for u, v in EDGES] + [("f", "a")]
    pagerank(
        _edge_df(spark, no_dangling),
        max_iter=max_iter, check_every=check_every, tol=0.0,
    )
    assert calls["first"] == n_checks
    assert calls["collect"] == n_checks
    # every per-iteration cut is LAZY (evaluated by the check round's
    # delta read); only the 4 setup checkpoints are eager
    assert calls["ckpt_lazy"] == max_iter
    assert calls["ckpt_eager"] == 4


def _semi_join_lines(spark, monkeypatch, edges):
    """The LeftSemi join lines of the rank-update plans pagerank
    materializes, with auto-broadcast off (only a hint can broadcast)."""
    import pixie_spark.operators.graph as graph

    lines = []
    real = graph.materialize

    def spy(df, *a, **k):
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines.extend(ln for ln in plan.splitlines() if "LeftSemi" in ln)
        return real(df, *a, **k)

    monkeypatch.setattr(graph, "materialize", spy)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        got = {r["node"]: r["rank"] for r in pagerank(edges, max_iter=20, tol=0.0).collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        monkeypatch.setattr(graph, "materialize", real)
    return got, lines


def test_large_dangling_set_is_not_broadcast(spark, monkeypatch):
    """Above DANGLING_BROADCAST_MAX dangling nodes the per-iteration
    semi-join carries no broadcast hint (VERDICT.md round 12, What's
    wrong #2) and the ranks still match the numpy reference; at or
    below it the hint stays."""
    import pixie_spark.operators.graph as graph

    got, lines = _semi_join_lines(spark, monkeypatch, _edge_df(spark))
    assert lines and all("BroadcastHashJoin" in ln for ln in lines), lines

    monkeypatch.setattr(graph, "DANGLING_BROADCAST_MAX", 0)
    got, lines = _semi_join_lines(spark, monkeypatch, _edge_df(spark))
    assert lines and not any("Broadcast" in ln for ln in lines), lines
    ref = _np_pagerank(EDGES, iters=20)
    assert set(got) == set(ref)
    for v in ref:
        assert got[v] == pytest.approx(ref[v], rel=1e-12), v
