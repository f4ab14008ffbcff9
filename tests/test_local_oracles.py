"""Local DuckDB hash-checks for deterministic rows-only queries.

The external driver's correctness gate records only the first 50
``queries()`` entries, and all 50 slots carry driver-facing oracles —
so rows-only registry entries get no driver-side value check. For the
DETERMINISTIC subset, ``QuerySpec.local_oracle`` carries an independent
DuckDB implementation that this test (and tools/check_oracle.py) runs
through the SAME comparator the gate uses: row count, column names,
dtype kinds, order-insensitive normalized values.

local_oracle is never exposed through __spark_entry__.oracle_sql(), so
the driver's ≤50 gate-window invariant is untouched; some oracles use
the spark_xxhash64* DuckDB UDFs (tools/spark_hash.py), pinned here
bit-for-bit against Spark's JVM xxhash64.
"""

import os

import pytest
from pyspark.sql import functions as F

from pixie_spark.queries import QUERIES
from tools.check_oracle import compare_frames, oracle_connection
from tools.spark_hash import (
    xxhash64_long,
    xxhash64_long_int,
    xxhash64_str,
    xxhash64_str_int,
    xxhash64_words,
)

SF_DIR = "/root/testdata/sf0.01"

LOCAL_ORACLE_NAMES = sorted(
    n for n, s in QUERIES.items() if s.local_oracle is not None
)


def test_expected_local_oracle_coverage():
    # The deterministic rows-only set the round-4 review called for,
    # plus extras; a regression that silently drops one should fail loud.
    expected = {
        "snapshot_diff",
        "ts_resample_ffill",
        "doc_chunking",
        "epoch_expansion",
        "web_url_pipeline",
        "dedup_substring",
        "decontaminate_spans",
        "contamination_matrix",
        "training_shards",
        "ts_pattern_search",
        # second batch: string-keyed twins of the hashed-feature models
        # and the recursive-CTE closure
        "nb_classify",
        "lm_perplexity",
        "dedup_clusters",
        "gopher_quality",
        "pii_exposure_report",
        "domain_pagerank",
        "ts_anomalies",
        "vocab_bpe_stats",
        "corpus_clean_pipeline",
        # third batch: full-XXH64 string replicas unlock the
        # deterministic "sketch" computations
        "term_freq_cms",
        "contamination_bloom",
        "dsir_resample",
        # round-5 additions: C4 cleaning, corpus-wide line dedup (exact
        # + CCNet-normalized keys), unicode/whitespace normalization
        "c4_quality_clean",
        "dedup_lines",
        "dedup_lines_ccnet",
        "normalize_corpus",
        "leakage_safe_split",
        "perplexity_buckets",
        "corpus_diversity",
        "corpus_overlap_sketch",
        "empty_source",
        # round-6 additions: the deterministic rows-only tail the r5
        # review named — exact-distinct rollup cascade, waterfilled
        # temperature mixes (struct-hash chain replica), and the full
        # MinHash-LSH incremental pipeline replayed in DuckDB
        "rollup_cascade",
        "temperature_mix",
        "mixture_shards",
        "dedup_incremental",
        # round-8: IVF-PQ graduated from rows-only via the lossless
        # parity regime (capped corpus ⇒ codebook saturation ⇒ exact)
        "ann_ivfpq_topk",
    }
    assert expected.issubset(set(LOCAL_ORACLE_NAMES))
    assert len(LOCAL_ORACLE_NAMES) >= 36


def test_local_oracles_never_reach_the_driver():
    import __spark_entry__ as entrymod

    driver_oracles = entrymod.oracle_sql()
    for n in LOCAL_ORACLE_NAMES:
        assert n not in driver_oracles, (
            f"{n} has BOTH a driver oracle and a local one — drop the "
            "local_oracle, the driver gate already hash-checks it"
        )
    # and the gate-window invariant the local path exists to protect
    from pixie_spark.queries import GATE_WINDOW, gate_ordered

    assert len(driver_oracles) <= GATE_WINDOW
    gate_ordered()  # raises if the invariant is broken


def test_spark_xxhash64_replica_pinned_against_jvm(spark):
    import random

    rng = random.Random(1234)  # seeded: deterministic sweep
    vals = [0, 1, -1, 42, 7, 50, 123456789, -987654321, 2**62, -(2**62),
            2**63 - 1, -(2**63)] + [
        rng.randint(-(2**63), 2**63 - 1) for _ in range(500)
    ]
    rows = spark.createDataFrame([(v,) for v in vals], "v long").select(
        "v", F.xxhash64("v").alias("h1"), F.xxhash64("v", F.lit(42)).alias("h2")
    ).collect()
    for r in rows:
        assert r["h1"] == xxhash64_long(r["v"]), r["v"]
        assert r["h2"] == xxhash64_long_int(r["v"], 42), r["v"]


def test_spark_xxhash64_string_replica_pinned_against_jvm(spark):
    # the FULL byte-wise XXH64 (stripes + tail + avalanche): lengths
    # straddling every code path (0, <4, <8, <32, 32, >32, long), plus
    # unicode and multi-column chaining (the shingle-id computation)
    import random
    import string as stringmod

    rng = random.Random(7)
    vals = ["", "a", "abc", "abcd", "abcdefg", "abcdefgh",
            "x" * 31, "x" * 32, "x" * 33, "paragraph " * 20,
            "unicode ✓ ▁ é 中文"] + [
        "".join(rng.choices(stringmod.printable, k=rng.randint(1, 200)))
        .replace("\r", " ")
        for _ in range(100)
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    rows = df.select(
        "v", F.xxhash64("v").alias("h1"), F.xxhash64("v", F.lit(3)).alias("h2")
    ).collect()
    for r in rows:
        assert r["h1"] == xxhash64_str(r["v"]), repr(r["v"])
        assert r["h2"] == xxhash64_str_int(r["v"], 3), repr(r["v"])
    (row,) = spark.createDataFrame(
        [("alpha", "beta", "gamma")], "a string, b string, c string"
    ).select(F.xxhash64("a", "b", "c").alias("h")).collect()
    assert row["h"] == xxhash64_words(["alpha", "beta", "gamma"])


@pytest.fixture(scope="module")
def oracle_con():
    con = oracle_connection(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", LOCAL_ORACLE_NAMES)
def test_local_oracle_matches(spark, oracle_con, name):
    spec = QUERIES[name]
    sdf = spec.fn(spark, SF_DIR).toPandas()
    odf = oracle_con.execute(spec.local_oracle).fetchdf()
    problems = compare_frames(sdf, odf)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_spark_hash_chain_replicas_pinned_against_jvm(spark):
    """Round-6 replicas: the typed argument chain (struct children of
    mixed types — temperature_mix's row draw), the longs fold
    (_band_entries' bucket), and the XOR-rotate minhash mix — each
    pinned against the JVM over a seeded sweep."""
    import random

    from tools.spark_hash import minhash_mix64, xxhash64_chain, xxhash64_longs

    rng = random.Random(99)
    rows = [
        (rng.randint(-(2**63), 2**63 - 1), f"lang-{i % 7}", rng.randint(-1000, 1000))
        for i in range(200)
    ] + [(0, "", 0), (2**63 - 1, "unicode ✓ 中文", -1)]
    df = spark.createDataFrame(rows, "a long, s string, i int")
    got = df.select(
        "a", "s", "i",
        F.xxhash64(F.struct("a", "s"), F.lit(42)).alias("h_struct"),
        F.xxhash64("a", "s", "i").alias("h_mixed"),
    ).collect()
    for r in got:
        chain = [f"l:{r['a']}", f"s:{r['s']}", "i:42"]
        assert r["h_struct"] == xxhash64_chain(chain), r
        assert r["h_mixed"] == xxhash64_chain(
            [f"l:{r['a']}", f"s:{r['s']}", f"i:{r['i']}"]
        ), r
    # null children are skipped, not hashed
    (nrow,) = (
        spark.createDataFrame([(5, None)], "a long, s string")
        .select(F.xxhash64(F.struct("a", "s"), F.lit(42)).alias("h"))
        .collect()
    )
    assert nrow["h"] == xxhash64_chain([f"l:{5}", None, "i:42"])

    # longs fold = the band-bucket hash
    longs = [rng.randint(-(2**63), 2**63 - 1) for _ in range(4)]
    (lrow,) = (
        spark.createDataFrame([tuple(longs)], "a long, b long, c long, d long")
        .select(F.xxhash64("a", "b", "c", "d").alias("h"))
        .collect()
    )
    assert lrow["h"] == xxhash64_longs(longs)

    # minhash mix: h1 ^ rotl(h2, i) for all 64 positions
    from pixie_spark.operators.dedup import _minhash_mix

    pairs = [
        (rng.randint(-(2**63), 2**63 - 1), rng.randint(-(2**63), 2**63 - 1))
        for _ in range(20)
    ] + [(0, 0), (-1, -1), (2**63 - 1, -(2**63))]
    mdf = spark.createDataFrame(pairs, "h1 long, h2 long")
    mrows = mdf.select(
        "h1", "h2", F.array(*[_minhash_mix(i) for i in range(64)]).alias("m")
    ).collect()
    for r in mrows:
        assert list(r["m"]) == minhash_mix64(r["h1"], r["h2"]), (r["h1"], r["h2"])


def test_sql_built_signatures_and_bands_pinned_against_replicas(spark):
    """The MinHash signatures and LSH band rows are built as parsed SQL
    text (operators/dedup.py). Pin them bit-exactly against the Python
    replicas: the KM signature is the per-doc elementwise min of
    minhash_mix64(sid, xxhash64(sid)), the independent one the min of
    xxhash64(sid, i), and each band bucket the longs fold of its
    signature slice."""
    import random

    from pixie_spark.operators.dedup import _band_entries, _sig_independent, _sig_km
    from tools.spark_hash import minhash_mix64, xxhash64_longs

    rng = random.Random(2024)
    lo, hi = -(2**63), 2**63 - 1
    docs = {d: [rng.randint(lo, hi) for _ in range(rng.randint(1, 12))] for d in range(40)}
    docs[0] += [lo, hi, 0, -1]
    docs[1] = [lo]
    docs[2] = [hi, hi]
    sid_rows = spark.createDataFrame(
        [(d, s) for d, sids in docs.items() for s in sids], "doc long, sid long"
    )
    num_hashes = 64

    def elementwise_min(vectors):
        return [min(col) for col in zip(*vectors)]

    want = {
        "km": {
            d: elementwise_min(
                [minhash_mix64(s, xxhash64_long(s), num_hashes) for s in sids]
            )
            for d, sids in docs.items()
        },
        "independent": {
            d: elementwise_min(
                [[xxhash64_long_int(s, i) for i in range(num_hashes)] for s in sids]
            )
            for d, sids in docs.items()
        },
    }
    sigs = {
        "km": _sig_km(sid_rows, num_hashes),
        "independent": _sig_independent(sid_rows, num_hashes),
    }
    for name, sig in sigs.items():
        got = {r["doc"]: list(r["signature"]) for r in sig.collect()}
        assert got == want[name], name
        for bands in (16, 64):
            r = num_hashes // bands
            buckets = {
                (e["doc"], e["band"]): e["bucket"]
                for e in _band_entries(sig, bands, r).collect()
            }
            assert buckets == {
                (d, b): xxhash64_longs(v[b * r:(b + 1) * r])
                for d, v in want[name].items()
                for b in range(bands)
            }, (name, bands)


def test_rows_only_tail_is_documented_irreducible():
    """Every registry query is value-verified by the driver gate, a
    local DuckDB oracle, or is on THIS list — the documented tail whose
    semantics SQL cannot replay, each with its pytest value anchor. A
    new rows-only query must either grow a local_oracle or be added
    here with a reason."""
    rows_only = {
        n for n, s in QUERIES.items()
        if s.oracle is None and s.local_oracle is None
    }
    # name → the test file holding its pytest value anchor (r10 verdict
    # #6: the anchor files are asserted to EXIST below, so an anchor
    # can't silently disappear while its entry keeps vouching for it)
    irreducible = {
        # kmeans-seeded / iterative-numeric: centroid trajectories are
        # float-order dependent inside numpy BLAS — anchored by planted-
        # structure and k=1-equivalence tests instead
        "kmeans_clusters": "test_clustering.py",
        "kmeans_coreset": "test_coreset.py",     # bound + q-math
        "semantic_dedup": "test_clustering.py",  # k=1 ≡ exact
        "ann_ivf_persisted": "test_ivf_index.py",  # ≡ live IVF,
                                                   # full-probe ≡ brute
        # (ann_ivfpq_topk graduated in round 8: gate runs the lossless
        # parity config under a brute-force local oracle)
        "ann_lsh_topk": "test_operators.py",  # recall floor +
                                              # bucket-containment invariants
        # pipeline-/IO-shaped: read external files (WARC/JSONL archives,
        # synthetic media) that the oracle connection's fixed table
        # views cannot see
        "warc_ingest_pipeline": "test_full_pipeline.py",   # byte-pinned
        "jsonl_ingest_pipeline": "test_jsonl.py",          # round-trip+nulls
        "embedding_pipeline_e2e": "test_real_inference.py",  # encoder batch
        "multimodal_features": "test_multimodal.py",       # golden decode
        "image_phash_dedup": "test_phash.py",              # planted near-dups
        # runtime-metrics surface: per-operator execution stats (times,
        # shuffle bytes) are run-dependent by nature — no SQL replay
        # exists; the contract (non-trivial rows/time on scan/agg/join/
        # exchange, node-id uniqueness, px.debug wiring) is pinned in
        "debug_analyze_stats": "test_analyze.py",
    }
    assert rows_only == set(irreducible), (
        f"undocumented rows-only queries: {sorted(rows_only - set(irreducible))}; "
        f"stale entries: {sorted(set(irreducible) - rows_only)}"
    )
    here = os.path.dirname(os.path.abspath(__file__))
    missing = {
        n: f for n, f in irreducible.items()
        if not os.path.exists(os.path.join(here, f))
    }
    assert not missing, f"irreducible anchors point at missing test files: {missing}"
