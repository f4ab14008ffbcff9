"""Operator verification: dedup family cross-checks (MinHash vs exact
Jaccard, SimHash hamming distance), similarity recall, kmeans, text
stats, request-path clustering."""

import pytest
from pyspark.sql import functions as F

from pixie_spark.operators import dedup as dd
from pixie_spark.operators import similarity as sim
from pixie_spark.operators import text as tx


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_minhash_lsh_matches_exact_jaccard(spark, docs):
    """Every high-similarity pair found by exact Jaccard must be found by
    MinHash-LSH (recall at j≥0.8 should be ~1 with 64 hashes/16 bands),
    and LSH estimates must track exact values."""
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd.jaccard_pairs(docs, "doc_id", "text", n=5, threshold=0.8).collect()
    }
    approx = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in dd.minhash_lsh_pairs(
            docs, "doc_id", "text", n=5, num_hashes=64, bands=16, threshold=0.5
        ).collect()
    }
    assert exact, "expected planted near-dup pairs in the corpus"
    found = set(exact) & set(approx)
    assert len(found) / len(exact) >= 0.9
    for pair in found:
        assert approx[pair] == pytest.approx(exact[pair], abs=0.2)


def test_simhash_near_dups_are_hamming_close(spark, docs):
    """Near-dup pairs (exact jaccard ≥ 0.8) must have hamming-close
    simhashes; random pairs must not."""
    pairs = dd.jaccard_pairs(docs, "doc_id", "text", n=5, threshold=0.8)
    sh = dd.simhash(docs, "doc_id", "text")
    a = sh.select(F.col("doc").alias("doc_a"), F.col("simhash").alias("h_a"))
    b = sh.select(F.col("doc").alias("doc_b"), F.col("simhash").alias("h_b"))
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    near = pairs.join(a, "doc_a").join(b, "doc_b").select(ham.alias("d")).collect()
    assert near and all(r["d"] <= 12 for r in near)
    # random (non-dup) pairs: expect ~32 bit flips
    rand = (
        a.crossJoin(b)
        .where(F.col("doc_a") + 7 == F.col("doc_b"))
        .select(ham.alias("d"))
        .collect()
    )
    # same-vocab corpus compresses distances; random mean ≈ 18 here vs
    # ≤12 for near-dups — keep a clear separation margin
    assert sum(r["d"] for r in rand) / len(rand) > 14


def test_exact_dedup_counts(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], ["doc_id", "text"]
    )
    rows = {r["keep_id"]: r["dup_count"] for r in dd.exact_dedup(df, "doc_id", ["text"]).collect()}
    assert rows == {1: 2, 3: 1}


def test_lsh_topk_recall_vs_brute_force(spark, emb):
    queries = emb.where(F.col("vec_id") < 10)
    exact = sim.brute_force_topk(emb, queries, k=5)
    approx = sim.lsh_topk(emb, queries, k=5, n_planes=4, n_tables=8, dim=64)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    # single-table collision prob for a cosine-0.3 neighbor is ~0.12;
    # 8 tables lift it to ~0.64 — require well above random
    assert len(e & a) / len(e) >= 0.4
    # scores that are found must agree exactly with brute force
    escore = {(r["query_id"], r["vec_id"]): r["score"] for r in exact.collect()}
    ascore = {(r["query_id"], r["vec_id"]): r["score"] for r in approx.collect()}
    for k in set(escore) & set(ascore):
        assert ascore[k] == pytest.approx(escore[k], abs=1e-9)


def test_embedding_dedup_lsh_subset_and_recall(spark, emb):
    """The LSH-prefiltered dedup (the 100 TB path, gate entry
    dedup_embedding_cosine_lsh) must return a SUBSET of the exact
    all-pairs result (it post-filters exact cosine scores), with
    bit-identical scores for every pair it finds. Recall at the gate's
    6-plane x 8-table sparse index is bounded below: threshold 0.4 on
    this synthetic corpus means near-90° pairs (max cosine 0.51), the
    WORST case for sign-LSH — real dedup thresholds (0.9) sit far up the
    collision curve. Correctness of whatever IS returned is exact."""
    exact = sim.embedding_dedup_pairs(emb, threshold=0.4, prefilter=False)
    lsh = sim.embedding_dedup_pairs(
        emb, threshold=0.4, prefilter=True, n_planes=6, n_tables=8
    )
    e = {(r["id_a"], r["id_b"]): r["score"] for r in exact.collect()}
    l = {(r["id_a"], r["id_b"]): r["score"] for r in lsh.collect()}
    assert set(l) <= set(e)
    assert len(l) / len(e) >= 0.25  # measured 0.36 at threshold-0.4 angles
    for k, v in l.items():  # scores bit-identical (same fold order)
        assert v == e[k]


def test_embedding_dedup_collapse_exact_identical(spark, emb):
    """The exact-dup collapse before LSH candidate generation (the
    dup-heavy-corpus scale cut) must be RESULT-INVISIBLE: on a
    twin-heavy frame (every vector duplicated 3x under shifted ids, the
    sf1 recipe in miniature) the prefilter path returns exactly the
    private uncollapsed core's pair set with bit-identical scores —
    intra-twin pairs, cross-twin expansions, and ordinary pairs alike."""
    twins = emb.select("vec_id", "embedding")
    for i in (1, 2):
        twins = twins.unionByName(
            emb.select(
                (F.col("vec_id") + 1_000_000 * i).alias("vec_id"), "embedding"
            )
        )
    plain = sim._embedding_lsh_pairs(twins, "vec_id", "embedding", 0.4, 6, 8, 64, None)
    fast = sim.embedding_dedup_pairs(
        twins, threshold=0.4, prefilter=True, n_planes=6, n_tables=8
    )
    p = {(r["id_a"], r["id_b"]): r["score"] for r in plain.collect()}
    f = {(r["id_a"], r["id_b"]): r["score"] for r in fast.collect()}
    assert f == p
    # and the twin structure actually exercised both expansion kinds
    n = emb.count()
    assert any(a + 1_000_000 == b or a + 2_000_000 == b for a, b in f), "intra missing"
    assert len(f) > n  # more pairs than originals → expansions happened


def test_embedding_collapse_group_cap(spark):
    """The bucket cap carries to the vector collapse's intra expansion,
    as the posting-list cap does for text: a twin cluster larger than
    the cap emits no pairs, a smaller one emits all k(k-1)/2, and both
    runs equal the uncollapsed core's pairs and scores."""
    v = [float(i + 1) for i in range(8)]
    rows = [(i, v) for i in range(80)]  # 80 twins, above the cap
    rows += [(500 + i, [-x for x in v]) for i in range(10)]  # cosine -1 to v
    twins = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kw = dict(threshold=0.9, prefilter=True, n_planes=4, n_tables=2, dim=8)
    for cap, want in ((40, 10 * 9 // 2), (None, 80 * 79 // 2 + 10 * 9 // 2)):
        got = {
            (r["id_a"], r["id_b"]): r["score"]
            for r in sim.embedding_dedup_pairs(twins, max_bucket_size=cap, **kw).collect()
        }
        core = sim._embedding_lsh_pairs(twins, "vec_id", "embedding", 0.9, 4, 2, 8, cap)
        assert len(got) == want, (cap, len(got))
        assert got == {(r["id_a"], r["id_b"]): r["score"] for r in core.collect()}
        if cap is not None:
            assert all(a >= 500 for a, _ in got), "capped cluster emitted pairs"


def test_cosine_self_is_one(spark, emb):
    row = emb.limit(1).select(
        sim.cosine(F.col("embedding"), F.col("embedding")).alias("c")
    ).first()
    assert row["c"] == pytest.approx(1.0, abs=1e-9)


def test_kmeans_separates_clusters(spark):
    import numpy as np

    from pixie_spark.functions.ml_ops import kmeans_fit, kmeans_inference

    rng = np.random.RandomState(0)
    pts = [
        (i, (rng.randn(4) * 0.05 + center).tolist())
        for center in ([0.0, 0.0, 0.0, 0.0], [5.0, 5.0, 5.0, 5.0])
        for i in range(50)
    ]
    df = spark.createDataFrame(pts, ["id", "embedding"])
    centroids = kmeans_fit(df, "embedding", k=2, max_iter=5, dim=4)
    assert len(centroids) == 2
    out = kmeans_inference(df, centroids, "embedding")
    # points near each center must land in one cluster each
    counts = out.groupBy("cluster").count().collect()
    assert sorted(r["count"] for r in counts) == [50, 50]


def test_text_stats_quality_and_lang(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog and it is great"),
            (2, "!!! ??? ### $$$ %%%"),
            (3, "el perro de la casa que ladra los dias"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in tx.text_stats(df).collect()}
    assert rows[1]["lang_pred"] == "en" and rows[3]["lang_pred"] == "es"
    assert rows[1]["quality"] > rows[2]["quality"]
    assert rows[1]["n_words"] == 13 and rows[1]["n_tokens"] == 13
    assert rows[2]["punct_ratio"] > 0.7


def test_fingerprint_deterministic(spark):
    df = spark.createDataFrame([(1, "abc"), (2, "abc"), (3, "abd")], ["doc_id", "text"])
    rows = {r["doc_id"]: r["f"] for r in df.select(
        "doc_id", tx.fingerprint(F.col("text")).alias("f")
    ).collect()}
    assert rows[1] == rows[2] != rows[3]
    # fold((0*31+97)%M ...) for 'abc'
    expected = 0
    for ch in "abc":
        expected = (expected * 31 + ord(ch)) % 1_000_000_007
    assert rows[1] == expected


def test_sample_per_group(spark):
    from pixie_spark.functions.ml_ops import sample_per_group

    df = spark.createDataFrame([(i % 3, i) for i in range(300)], ["g", "v"])
    out = sample_per_group(df, ["g"], 10)
    counts = {r["g"]: r["count"] for r in out.groupBy("g").count().collect()}
    assert counts == {0: 10, 1: 10, 2: 10}
    # deterministic
    again = sample_per_group(df, ["g"], 10)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_cluster_paths(spark):
    from pixie_spark.functions.request_path_ops import cluster_paths

    paths = [(f"/api/v1/items/{i}",) for i in range(30)] + [("/healthz",)]
    df = spark.createDataFrame(paths, ["req_path"])
    out = {r["path"]: r["path_template"] for r in cluster_paths(df).collect()}
    assert out["/api/v1/items/17"] == "/api/v1/items/*"
    assert out["/healthz"] == "/healthz"


def test_stratified_downsample_caps_and_determinism(spark, docs):
    from pixie_spark.operators.sampling import stratified_downsample

    out = stratified_downsample(docs, "source", 3)
    counts = {r["source"]: r["count"] for r in out.groupBy("source").count().collect()}
    assert all(c <= 3 for c in counts.values())
    again = stratified_downsample(docs, "source", 3)
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_sequence_packing_budget(spark, docs):
    from pixie_spark.operators.sampling import sequence_packing

    out = sequence_packing(docs.select("doc_id", "n_chars"), "n_chars", 4096, "doc_id")
    packs = out.groupBy("pack_id").agg(F.sum("n_chars").alias("total")).collect()
    max_doc = docs.agg(F.max("n_chars")).first()[0]
    # contiguous packing: every pack ≤ budget + one straddling doc
    assert all(r["total"] <= 4096 + max_doc for r in packs)
    # packs are contiguous ranges of the ordering column
    rows = out.orderBy("doc_id").collect()
    pack_seq = [r["pack_id"] for r in rows]
    assert pack_seq == sorted(pack_seq)


def test_proportional_sample_ratios(spark, docs):
    from pixie_spark.operators.sampling import proportional_sample

    fractions = {"src0": 1.0, "src1": 0.2}
    srcs = [r["source"] for r in docs.select("source").distinct().collect()]
    fr = {s: fractions.get(s, 0.0) for s in srcs}
    out = proportional_sample(docs, "source", fr)
    counts = {r["source"]: r["count"] for r in out.groupBy("source").count().collect()}
    full = {r["source"]: r["count"] for r in docs.groupBy("source").count().collect()}
    assert counts.get("src0", 0) == full["src0"]  # fraction 1.0 keeps all
    assert 0 < counts.get("src1", 0) < full["src1"]
    assert set(counts) <= {"src0", "src1"}


def test_fingerprint_blockwise_equals_per_char(spark):
    """The 32-char block-wise Horner fold must equal the per-char fold
    exactly (same polynomial, fewer interpreted steps) — including at
    block boundaries, across newlines, and on non-ASCII codepoints."""
    cases = ["", "a", "x" * 31, "y" * 32, "z" * 33, "w" * 97,
             "line1\nline2\ttab", "né ☃ mixed", "long " * 300]
    df = spark.createDataFrame([(c,) for c in cases], ["t"])
    got = [r[0] for r in df.select(tx.fingerprint(F.col("t"))).collect()]
    for c, g in zip(cases, got):
        expected = 0
        for ch in c:
            expected = (expected * 31 + ord(ch)) % 1_000_000_007
        assert g == expected, repr(c[:20])


def test_ivf_topk_recall_vs_brute_force(spark, emb):
    """IVF-Flat analogue (operators/similarity.ivf_topk): kmeans coarse
    quantizer + nprobe-list probing. Probing half the lists on clustered
    synthetic data must recover well above nprobe/n_lists of the exact
    top-5, and every (query, hit) score it does return is exact cosine —
    identical to brute force to double precision."""
    queries = emb.where(F.col("vec_id") < 10)
    exact = sim.brute_force_topk(emb, queries, k=5)
    approx = sim.ivf_topk(emb, queries, k=5, n_lists=8, nprobe=4, dim=64)
    e = {(r["query_id"], r["vec_id"]): r["score"] for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]): r["score"] for r in approx.collect()}
    assert len(set(e) & set(a)) / len(e) >= 0.5
    for key in set(e) & set(a):
        assert a[key] == pytest.approx(e[key], abs=1e-9)


def test_ivf_topk_probes_prune_lists(spark, emb):
    """nprobe=n_lists degenerates to exact search over all lists — the
    probe-pruning invariant: fewer probes is a subset of more probes."""
    queries = emb.where(F.col("vec_id") < 5)
    full = sim.ivf_topk(emb, queries, k=5, n_lists=4, nprobe=4, dim=64)
    pruned = sim.ivf_topk(emb, queries, k=5, n_lists=4, nprobe=1, dim=64)
    f = {(r["query_id"], r["vec_id"]) for r in full.collect()}
    p = {(r["query_id"], r["vec_id"]) for r in pruned.collect()}
    exact = sim.brute_force_topk(emb, queries, k=5)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    assert f == e  # all lists probed == brute force
    assert len(p) > 0


def test_chunk_documents_matches_python_reference(spark):
    from pixie_spark.operators.text import chunk_documents

    rows = [
        (1, " ".join(f"w{i}" for i in range(300))),
        (2, " ".join(f"x{i}" for i in range(128))),   # exactly one chunk
        (3, " ".join(f"y{i}" for i in range(130))),   # barely two
        (4, "short doc"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, chunk_words=128, overlap=16)
    got = {}
    for r in out.collect():
        got.setdefault(r["doc_id"], {})[r["chunk_id"]] = (r["chunk_text"], r["n_words"])

    stride = 112
    for did, text in rows:
        ws = [w for w in text.split() if w]
        n = len(ws)
        extra = max(0, n - 128)
        n_chunks = 1 + -(-extra // stride)
        expect = {}
        for i in range(n_chunks):
            piece = ws[i * stride : i * stride + 128]
            expect[i] = (" ".join(piece), len(piece))
        assert got[did] == expect, did


def test_chunk_documents_overlap_and_coverage(spark):
    """Every word position is covered, and consecutive chunks share
    exactly `overlap` words (except the ragged tail)."""
    from pixie_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(500)))], "doc_id long, text string"
    )
    chunks = sorted(
        chunk_documents(df, chunk_words=100, overlap=20).collect(),
        key=lambda r: r["chunk_id"],
    )
    seen = set()
    for r in chunks:
        seen.update(r["chunk_text"].split())
    assert seen == {f"w{i}" for i in range(500)}
    for a, b in zip(chunks, chunks[1:]):
        shared = set(a["chunk_text"].split()) & set(b["chunk_text"].split())
        if b["n_words"] == 100:
            assert len(shared) == 20


def test_chunk_documents_zero_shuffle(spark):
    from pixie_spark.operators.text import chunk_documents

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = chunk_documents(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_text_operators_null_text_robustness(spark):
    """Null/empty text rows must flow through the text family without
    nulls poisoning outputs or rows crashing tasks."""
    from pixie_spark.operators.dedup import exact_dedup, jaccard_pairs
    from pixie_spark.operators.text import chunk_documents, text_stats

    df = spark.createDataFrame(
        [(1, "some real text here ok"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    chunks = {r["doc_id"]: r for r in chunk_documents(df, chunk_words=3, overlap=1).collect() if r["chunk_id"] == 0}
    assert chunks[2]["n_words"] == 0 and chunks[2]["chunk_text"] == ""
    assert chunks[3]["n_words"] == 0
    assert text_stats(df).count() == 3
    assert exact_dedup(df, "doc_id", ["text"]).count() == 3
    assert jaccard_pairs(df, "doc_id", "text", n=2, threshold=0.3).count() == 0


# ---------------------------------------------------------------------------
# normalize_text / normalize_for_hash (CCNet/Dolma-style cleanup)
# ---------------------------------------------------------------------------

NOISY_DOCS = [
    (0, "plain text stays the same.\nsecond line."),
    (1, "CRLF\r\nand lone CR\rfolded"),
    (2, "zero\u200bwidth\u200d and\ufeff bom\u2060"),
    (3, "ctrl\x07chars\x00gone \x1b[0m"),
    (4, "nbsp\u00a0space\u3000ideographic\u2003em"),
    (5, "many    spaces   collapse\n\n\n\n\nnewlines too"),
    (6, "  trimmed  \n line spacing \n"),
    (7, "tabs\tto\t\tspaces"),
    (8, ""),
]


def _normalize_python(t: str) -> str:
    import re as _re

    t = _re.sub(r"\r\n?", "\n", t)
    t = _re.sub("[\u200b-\u200d\u2060\ufeff]", "", t)
    t = _re.sub("[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]", "", t)
    t = _re.sub("[\u00a0\u1680\u2000-\u200a\u202f\u205f\u3000]|\t", " ", t)
    t = _re.sub(" {2,}", " ", t)
    t = _re.sub(" ?\n ?", "\n", t)
    t = _re.sub("\n{3,}", "\n\n", t)
    return _re.sub(r"^[ \n]+|[ \n]+$", "", t)


def test_normalize_text_matches_python_reference(spark):
    from pixie_spark.operators.text import normalize_report

    df = spark.createDataFrame(NOISY_DOCS, "doc_id long, text string")
    got = {r["doc_id"]: r for r in normalize_report(df).collect()}
    for did, raw in NOISY_DOCS:
        ref = _normalize_python(raw)
        assert got[did]["text"] == ref, (did, got[did]["text"], ref)
        assert got[did]["n_chars_before"] == len(raw)
        assert got[did]["n_chars_after"] == len(ref)
        assert got[did]["changed"] == (ref != raw)


def test_normalize_for_hash_collapses_boilerplate_variants(spark):
    from pixie_spark.operators.text import normalize_for_hash

    variants = [
        (0, "Copyright 2021, Example Corp."),
        (1, "copyright 1999 - example CORP"),
        (2, "COPYRIGHT 2024  Example!! Corp"),
        (3, "entirely different line"),
    ]
    df = spark.createDataFrame(variants, "doc_id long, text string")
    keys = [
        r["k"]
        for r in df.select(normalize_for_hash(F.col("text")).alias("k"))
        .orderBy("doc_id")
        .collect()
    ]
    assert keys[0] == keys[1] == keys[2] == "copyright 0000 example corp"
    assert keys[3] != keys[0]


def test_normalize_text_is_a_pure_map_stage(spark):
    from pixie_spark.operators.text import normalize_report

    df = spark.createDataFrame(NOISY_DOCS, "doc_id long, text string")
    plan = normalize_report(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
