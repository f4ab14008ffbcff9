"""Connected components / duplicate-cluster resolution vs a union-find
reference (operators/clustering.py)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from pixie_spark.operators import clustering as C
from pixie_spark.operators import dedup as dd
from pixie_spark.sources import load_table


def uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # normalize: every node -> component min
    return {n: find(n) for n in parent}


GRAPHS = {
    # worst case for naive min-propagation: a long chain
    "chain": [(i, i + 1) for i in range(120)],
    "star": [(0, i) for i in range(1, 60)],
    "two_cliques_bridged": [
        (a, b) for a in range(10) for b in range(a + 1, 10)
    ]
    + [(a, b) for a in range(100, 110) for b in range(a + 1, 110)]
    + [(5, 105)],
    "self_and_dup_edges": [(1, 1), (1, 2), (2, 1), (2, 3), (7, 7)],
    "reversed_ids": [(9, 3), (3, 1), (100, 50), (50, 1)],
}


# Both ways connected_components resolves a graph: at the default cap
# every graph here is resolved on the driver; a cap of -1 sends every
# non-empty graph through the alternating-star loop.
STAR_LOOP = -1


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    return {r["node"]: r["component"] for r in C.connected_components(df, **kw).collect()}


@pytest.mark.parametrize(
    "name,cap",
    [pytest.param(n, None, id=n) for n in sorted(GRAPHS)]
    + [pytest.param(n, STAR_LOOP, id=f"{n}-star_loop") for n in sorted(GRAPHS)],
)
def test_connected_components_vs_union_find(spark, monkeypatch, name, cap):
    if cap is not None:
        monkeypatch.setattr(C, "LOCAL_MAX_EDGES", cap)
    edges = GRAPHS[name]
    got = _cc(spark, edges)
    exp = uf_components([(a, b) for a, b in edges if a != b])
    # pure self-loop nodes (7,7) carry no dedup information; the Spark
    # side drops them up front, the reference never unions them
    exp = {n: c for n, c in exp.items()}
    assert got == exp, (name, got, exp)


def _check_random_graphs(spark):
    rng = random.Random(42)
    for trial in range(3):
        n = 200
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(150 + 50 * trial)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        assert _cc(spark, edges) == uf_components(edges), f"trial {trial}"


def test_connected_components_random_graphs(spark):
    _check_random_graphs(spark)


def test_connected_components_random_graphs_star_loop(spark, monkeypatch):
    monkeypatch.setattr(C, "LOCAL_MAX_EDGES", STAR_LOOP)
    _check_random_graphs(spark)


def _check_empty(spark):
    stats: dict = {}
    assert _cc(spark, [], stats=stats) == {}
    assert stats == {"edges": 0, "rounds": 0}


def test_connected_components_empty(spark):
    _check_empty(spark)


def test_connected_components_empty_star_loop(spark, monkeypatch):
    monkeypatch.setattr(C, "LOCAL_MAX_EDGES", STAR_LOOP)
    _check_empty(spark)


def _count_cuts_and_reads(monkeypatch) -> dict:
    """Count eager/lazy localCheckpoint cuts and collect()/toPandas()
    reads made through the DataFrame API from here on."""
    from pyspark.sql.classic.dataframe import DataFrame

    calls = {"collect": 0, "toPandas": 0, "ckpt_eager": 0, "ckpt_lazy": 0}
    orig_collect, orig_pandas = DataFrame.collect, DataFrame.toPandas
    orig_ckpt = DataFrame.localCheckpoint

    def counting_collect(self):
        calls["collect"] += 1
        return orig_collect(self)

    def counting_pandas(self):
        calls["toPandas"] += 1
        return orig_pandas(self)

    def counting_ckpt(self, *a, **k):
        eager = a[0] if a else k.get("eager", True)
        calls["ckpt_eager" if eager else "ckpt_lazy"] += 1
        return orig_ckpt(self, *a, **k)

    monkeypatch.setattr(DataFrame, "collect", counting_collect)
    monkeypatch.setattr(DataFrame, "toPandas", counting_pandas)
    monkeypatch.setattr(DataFrame, "localCheckpoint", counting_ckpt)
    return calls


def test_cc_one_driver_action_per_round(spark, monkeypatch):
    """r12 action shape of the star loop (a local master, whose cut is
    localCheckpoint): each CC round issues exactly ONE driver action — the
    eager localCheckpoint whose observe metrics carry the convergence
    checksum. No collect() anywhere in the loop (the former shape
    re-scanned the cached blocks with a separate checksum aggregate).
    The cap is -1 so the 120-edge chain takes the loop."""
    monkeypatch.setattr(C, "LOCAL_MAX_EDGES", STAR_LOOP)
    calls = _count_cuts_and_reads(monkeypatch)

    stats: dict = {}
    df = spark.createDataFrame(GRAPHS["chain"], "doc_a long, doc_b long")
    C.connected_components(df, stats=stats).collect()
    rounds = stats["rounds"]
    assert rounds >= 2
    assert stats["edges"] == len(GRAPHS["chain"])
    # one eager cut per round + the initial edge cut; every checksum
    # rides an observe accumulator, so the only collect() is the
    # caller's own result read above
    assert calls["ckpt_eager"] == rounds + 1
    assert calls["ckpt_lazy"] == 0
    assert calls["collect"] == 1
    assert calls["toPandas"] == 0


def test_cc_driver_path_shape(spark, monkeypatch):
    """Below the cap: one eager cut, one read of the cut, no star round,
    and the result is a local frame — collecting it launches no job."""
    calls = _count_cuts_and_reads(monkeypatch)
    stats: dict = {}
    df = spark.createDataFrame(GRAPHS["chain"], "doc_a long, doc_b long")
    out = C.connected_components(df, stats=stats)
    assert stats == {"edges": len(GRAPHS["chain"]), "rounds": 0}
    assert calls == {"collect": 0, "toPandas": 1, "ckpt_eager": 1, "ckpt_lazy": 0}
    assert out.schema.simpleString() == "struct<node:bigint,component:bigint>"

    sc = spark.sparkContext
    group = "cc-driver-path-collect"
    sc.setJobGroup(group, group)
    try:
        rows = out.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert {r["node"]: r["component"] for r in rows} == uf_components(GRAPHS["chain"])


@pytest.mark.parametrize("n_edges,rounds", [(3, 0), (4, None)])
def test_cc_cap_boundary(spark, monkeypatch, n_edges, rounds):
    """A graph of exactly LOCAL_MAX_EDGES edges is resolved on the
    driver; one more edge takes the star loop; both agree with the
    union-find reference."""
    monkeypatch.setattr(C, "LOCAL_MAX_EDGES", 3)
    edges = [(9, 3), (3, 1), (100, 50), (50, 1)][:n_edges]
    stats: dict = {}
    assert _cc(spark, edges, stats=stats) == uf_components(edges)
    assert stats["edges"] == n_edges
    if rounds is None:
        assert stats["rounds"] >= 1
    else:
        assert stats["rounds"] == rounds


def test_duplicate_clusters_rollup(spark):
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        ["doc_a", "doc_b"],
    )
    got = {r["component"]: r["n_docs"] for r in C.duplicate_clusters(df).collect()}
    assert got == {1: 3, 10: 2, 20: 4}


def test_dedup_keep_canonical(spark):
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(8)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(1, 2), (2, 5), (6, 7)], ["doc_a", "doc_b"])
    kept = sorted(
        r["doc_id"] for r in C.dedup_keep_canonical(docs, "doc_id", pairs).collect()
    )
    # cluster {1,2,5} keeps 1; cluster {6,7} keeps 6; 0,3,4 untouched
    assert kept == [0, 1, 3, 4, 6]


def test_end_to_end_minhash_to_clean_corpus(spark, sf_dir):
    """The full production dedup pipeline: minhash-LSH pairs ->
    connected components -> canonical filter. Invariants: canonical
    docs survive, every dropped doc is in some pair, idempotent on the
    cleaned output (no pairs remain at the same threshold)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = dd.minhash_lsh_verified_pairs(
        docs, "doc_id", "text", n=5, num_hashes=64, bands=64, threshold=0.5
    ).localCheckpoint()
    n_docs = docs.count()
    clean = C.dedup_keep_canonical(docs, "doc_id", pairs).localCheckpoint()
    n_clean = clean.count()
    paired = {r[0] for r in pairs.select(F.explode(F.array("doc_a", "doc_b"))).collect()}
    dropped = n_docs - n_clean
    assert dropped < len(paired) if paired else dropped == 0
    # idempotence: re-running pair detection on the cleaned corpus at
    # the same threshold finds nothing
    again = dd.minhash_lsh_verified_pairs(
        clean, "doc_id", "text", n=5, num_hashes=64, bands=64, threshold=0.5
    )
    assert again.count() == 0


# ---------------------------------------------------------------------------
# SemDeDup
# ---------------------------------------------------------------------------


def test_semantic_dedup_pairs_k1_equals_all_pairs(spark, sf_dir):
    """k=1 puts everything in one cluster, so semantic_dedup_pairs must
    equal the exact all-pairs cosine operator — the same equivalence-
    anchor pattern as the IVF nprobe=n_lists gate config."""
    from pixie_spark.operators.similarity import embedding_dedup_pairs

    emb = load_table(spark, sf_dir, "embeddings").limit(150)
    sem = {
        (r["id_a"], r["id_b"])
        for r in C.semantic_dedup_pairs(emb, k=1, threshold=0.9).collect()
    }
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_dedup_pairs(emb, threshold=0.9, prefilter=False).collect()
    }
    assert sem == exact


def test_semantic_dedup_removes_planted_duplicates(spark):
    """3 well-separated base directions, each with a near-identical
    twin, plus lone vectors: every twin collapses to one survivor,
    every lone vector survives."""
    import numpy as np

    rng = np.random.default_rng(7)
    dim = 16
    base = [rng.normal(size=dim) for _ in range(3)]
    rows = []
    vid = 0
    for b in base:  # original + near-dup twin
        for noise in (0.0, 1e-3):
            v = b + noise * rng.normal(size=dim)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    for _ in range(5):  # lone vectors, far from everything
        rows.append((vid, [float(x) for x in rng.normal(size=dim) * 3]))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    clean = C.semantic_dedup(df, k=4, threshold=0.99, dim=dim)
    kept = sorted(r["vec_id"] for r in clean.collect())
    # twins are (0,1),(2,3),(4,5): min-id survivor kept from each
    assert set(kept) >= {0, 2, 4}
    assert not {1, 3, 5} & set(kept)
    assert set(range(6, 11)) <= set(kept)


def test_semantic_dedup_hot_cluster_guard_bounds_pair_cost(spark):
    """A degenerate corpus region (hundreds of near-identical vectors =
    ONE hot kmeans cluster) must not produce an O(size²) single-task
    pair explosion: with max_cluster_rows=m the cluster splits into
    ceil(size/m) hash-salted sub-blocks, bounding any block's pair
    count; cross-sub pairs are the documented recall cost, and the
    split is never silent — the stats dict reports which clusters were
    split and how many rows they held (round-5 ADVICE)."""
    import numpy as np

    rng = np.random.default_rng(11)
    dim = 8
    base = rng.normal(size=dim)
    n = 400
    # the hot region + a small well-separated cold group so k=2 kmeans
    # isolates the hot cluster deterministically
    rows = [
        (i, [float(x) for x in base + 1e-4 * rng.normal(size=dim)])
        for i in range(n)
    ]
    far = -10.0 * base
    rows += [
        (n + j, [float(x) for x in far + 1e-4 * rng.normal(size=dim)])
        for j in range(10)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    full_pairs = C.semantic_dedup_pairs(
        df, k=2, threshold=0.99, dim=dim, max_cluster_rows=None
    )
    full = full_pairs.count()
    assert full == n * (n - 1) // 2 + 10 * 9 // 2  # within-group all-pairs
    m = 100
    stats = {}
    capped_pairs = C.semantic_dedup_pairs(
        df, k=2, threshold=0.99, dim=dim, max_cluster_rows=m, stats=stats
    )
    capped = capped_pairs.count()
    # no silent caps: exactly the hot cluster was split, its rows counted
    assert stats["split_clusters"] == 1
    assert stats["rows_in_split_clusters"] == n
    # bounded: at most ceil(n/m) blocks × C(block,2); blocks are hash-
    # balanced so no block exceeds ~2·m rows even adversarially here
    import math

    n_subs = math.ceil(n / m)
    assert 0 < capped < full
    assert capped <= n_subs * (2 * m) * (2 * m - 1) // 2 + 10 * 9 // 2
    # capped pairs are a SUBSET of the full pair set (guard only drops,
    # never invents)
    capped_set = {(r["id_a"], r["id_b"]) for r in capped_pairs.collect()}
    full_set = {(r["id_a"], r["id_b"]) for r in full_pairs.collect()}
    assert capped_set <= full_set
    assert all(a < b for a, b in capped_set)
    # the cold cluster's pairs are untouched by the hot split
    assert {(a, b) for a, b in full_set if a >= n} <= capped_set


def test_semantic_dedup_k1_anchor_immune_to_row_cap(spark):
    """The k=1 ≡ exact-all-pairs anchor must hold even when the corpus
    exceeds max_cluster_rows: sub-block splitting is disabled at k==1
    (round-5 ADVICE), so the default cap can never silently drop pairs
    from the exactness gate config."""
    import numpy as np

    rng = np.random.default_rng(5)
    dim = 8
    base = rng.normal(size=dim)
    rows = [
        (i, [float(x) for x in base + 1e-4 * rng.normal(size=dim)])
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    stats = {}
    got = C.semantic_dedup_pairs(
        df, k=1, threshold=0.99, dim=dim, max_cluster_rows=50, stats=stats
    ).count()
    assert got == 120 * 119 // 2
    assert stats == {"split_clusters": 0, "rows_in_split_clusters": 0}


def test_semantic_dedup_auto_k_scales_with_corpus(spark):
    """k=None derives k ≈ n/target_cluster_rows — the paper's regime —
    instead of a fixture-sized constant. Observable via the cluster ids
    in the pair output (cluster < k) and via survivors staying correct
    on planted twins."""
    import numpy as np

    rng = np.random.default_rng(3)
    dim = 8
    rows = []
    vid = 0
    for g in range(40):  # 40 well-separated directions × 10 members
        b = rng.normal(size=dim) * 5
        for _ in range(10):
            rows.append((vid, [float(x) for x in b + 1e-3 * rng.normal(size=dim)]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = C.semantic_dedup_pairs(
        df, k=None, threshold=0.99, dim=dim, target_cluster_rows=50
    )
    rows_out = pairs.collect()
    # auto-k = ceil(400/50) = 8 clusters; ids must stay below it
    assert max(r["cluster"] for r in rows_out) < 8
    # within-group twins still found (groups are tight; threshold 0.99)
    found = {(r["id_a"], r["id_b"]) for r in rows_out}
    assert len(found) > 0


# ---------------------------------------------------------------------------
# Leakage-safe splitting (cluster-aware train/val/test assignment)
# ---------------------------------------------------------------------------


def test_leakage_safe_split_clusters_never_straddle(spark):
    from pixie_spark.operators.sampling import leakage_safe_split

    docs = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    # three clusters: a chain, a clique-ish pair set, a 2-cycle
    pairs = spark.createDataFrame(
        [(1, 50), (50, 120), (7, 8), (7, 9), (8, 9), (150, 151)],
        "doc_a long, doc_b long",
    )
    out = leakage_safe_split(docs, pairs, seed=3).collect()
    split_of = {r["doc_id"]: r["split"] for r in out}
    rep_of = {r["doc_id"]: r["cluster_rep"] for r in out}
    for cluster in [(1, 50, 120), (7, 8, 9), (150, 151)]:
        assert len({split_of[d] for d in cluster}) == 1, cluster
        assert len({rep_of[d] for d in cluster}) == 1, cluster
        assert rep_of[cluster[0]] == min(cluster)
    # singletons represent themselves
    assert rep_of[0] == 0 and rep_of[42] == 42


def test_leakage_safe_split_matches_python_replica_and_seed_moves_it(spark):
    from pixie_spark.operators.sampling import leakage_safe_split
    from tools.spark_hash import xxhash64_long_int

    docs = spark.createDataFrame([(i,) for i in range(300)], "doc_id long")
    pairs = spark.createDataFrame([(5, 6)], "doc_a long, doc_b long")
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}

    def py_split(rep, seed):
        u = ((xxhash64_long_int(rep, seed) % 2**52 + 2**52) % 2**52 + 0.5) / float(2**52)
        acc = 0.8
        if u < acc:
            return "train"
        acc += 0.1
        return "val" if u < acc else "test"

    for seed in (0, 7):
        got = {
            r["doc_id"]: r["split"]
            for r in leakage_safe_split(docs, pairs, fractions=fr, seed=seed).collect()
        }
        for d in range(300):
            rep = 5 if d in (5, 6) else d
            assert got[d] == py_split(rep, seed), (d, seed)
    # different seeds must not produce identical assignments
    a = {r["doc_id"]: r["split"] for r in leakage_safe_split(docs, pairs, fractions=fr, seed=0).collect()}
    b = {r["doc_id"]: r["split"] for r in leakage_safe_split(docs, pairs, fractions=fr, seed=7).collect()}
    assert a != b
