"""Contamination check, posting-list skew caps, the
production-banding ⊆ full-recall candidate anchor, and substring-span
dedup (incl. its local DuckDB-oracle equality check)."""

import pytest
from pyspark.sql import functions as F

from pixie_spark.operators import dedup as dd
from pixie_spark.operators.dedup import contamination_check


def test_contamination_detects_planted_overlap(spark):
    corpus = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today"),
            (11, "completely unrelated words about spark and parquet files"),
        ],
        ["doc_id", "text"],
    )
    probes = spark.createDataFrame(
        [(0, "quick brown fox jumps over the lazy")], ["doc_id", "text"]
    )
    out = {r["doc"]: (r["n_hits"], r["n_probe_docs"]) for r in contamination_check(
        corpus, probes, n=5
    ).collect()}
    assert 10 in out and 11 not in out
    assert out[10][0] >= 1 and out[10][1] == 1


def test_contamination_clean_corpus_empty(spark):
    corpus = spark.createDataFrame([(1, "a b c d e f g")], ["doc_id", "text"])
    probes = spark.createDataFrame([(0, "z y x w v u t")], ["doc_id", "text"])
    assert contamination_check(corpus, probes, n=5).count() == 0


# ---------------------------------------------------------------------------
# Posting-list skew caps (hot-key guard for the k² in-row pair expansion)
# ---------------------------------------------------------------------------


def test_posting_list_cap_drops_hot_lists(spark):
    """A list above the cap contributes no pairs; short lists unaffected."""
    postings = spark.createDataFrame(
        [(1, list(range(100))), (2, [900, 901, 902])], ["key", "docs"]
    )
    pairs = dd._pairs_from_posting_lists(postings, max_list_size=10).collect()
    assert len(pairs) == 3  # only the 3-doc list's pairs survive
    assert all(r.doc_a >= 900 for r in pairs)
    # uncapped: 100*99/2 + 3
    assert dd._pairs_from_posting_lists(postings, max_list_size=None).count() == 4953


def test_posting_list_skew_stats(spark):
    postings = spark.createDataFrame(
        [(1, list(range(100))), (2, [900, 901, 902])], ["key", "docs"]
    )
    row = dd.posting_list_skew_stats(postings, max_list_size=10).collect()[0]
    assert (row.n_lists, row.n_dropped, row.max_list_size, row.cap) == (2, 1, 100, 10)


def test_jaccard_survives_planted_stop_shingle(spark):
    """A boilerplate header shared by EVERY doc (the 100 TB skew case)
    must not blow up candidate generation — the hot posting list is
    dropped by the cap — while the true near-dup pair is still found via
    its rare shingles (PPJoin's rarity-first prefix makes rare lists the
    pairing channel anyway)."""
    header = "terms of service apply to this document"
    rows = [(i, f"{header} unique{i} filler{i} content{i} tail{i}") for i in range(200)]
    rows.append((1000, rows[7][1]))  # exact near-dup of doc 7
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dd.jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.8, max_posting_list=50
    ).collect()
    assert {(r.doc_a, r.doc_b) for r in out} == {(7, 1000)}
    assert out[0].jaccard == pytest.approx(1.0)
    # and the skew metric sees the hot header lists
    sh = dd._hashed_shingle_arrays(docs, "doc_id", "text", 3)
    postings = (
        sh.select("doc", F.explode("sh").alias("sid"))
        .groupBy("sid")
        .agg(F.collect_list("doc").alias("docs"))
    )
    stats = dd.posting_list_skew_stats(postings, max_list_size=50).collect()[0]
    assert stats.n_dropped >= 1 and stats.max_list_size > 50


def test_minhash_hot_bucket_cap_bounds_expansion(spark):
    """A giant near-dup cluster lands in one LSH bucket; with the cap the
    bucket is dropped (bounded task) instead of expanding k² pairs."""
    rows = [(i, "identical boilerplate text repeated verbatim everywhere") for i in range(80)]
    rows += [(500 + i, f"distinct{i} words{i} here{i} now{i} ok{i}") for i in range(5)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = dd.minhash_lsh_verified_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, max_posting_list=40
    )
    assert capped.count() == 0  # cluster bucket (80 > 40) dropped, rest unique
    uncapped = dd.minhash_lsh_verified_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, max_posting_list=None
    )
    assert uncapped.count() == 80 * 79 // 2


# ---------------------------------------------------------------------------
# Production banding is correctness-anchored to the full-recall config
# ---------------------------------------------------------------------------


def _km_candidates(docs, bands, num_hashes=64, n=5):
    """Candidate pairs under Kirsch-Mitzenmacher signatures at the given
    banding — SAME signature family for both configs so the subset
    relation is structural (4 agreeing rows ⇒ each row agrees)."""
    sig = dd.minhash_signatures(docs, "doc_id", "text", n, num_hashes)
    return dd._band_candidates(dd._band_entries(sig, bands, num_hashes // bands), None)


def test_production_banding_candidates_subset_of_full_recall(spark, sf_dir):
    """bench's 16×4 production banding: candidates ⊆ full-recall (64×1)
    candidates, and the exact-verified survivors are identical — so the
    benched config is anchored to the oracle-checked one, not just
    recall-sampled."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    prod = {(r.doc_a, r.doc_b) for r in _km_candidates(docs, bands=16).collect()}
    full = {(r.doc_a, r.doc_b) for r in _km_candidates(docs, bands=64).collect()}
    assert prod <= full
    prod_pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dd.minhash_lsh_verified_pairs(
            docs, "doc_id", "text", n=5, num_hashes=64, bands=16, threshold=0.5
        ).collect()
    }
    gate_pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dd.minhash_lsh_verified_pairs(
            docs, "doc_id", "text", n=5, num_hashes=64, bands=64, threshold=0.5
        ).collect()
    }
    assert prod_pairs == gate_pairs


def test_minhash_collapse_exact_identical(spark, sf_dir):
    """The exact-dup collapse (exact-dedup-first before signatures and
    banding) must be RESULT-INVISIBLE on twin-heavy input: each public
    function returns exactly its private uncollapsed core's pair set
    with identical scores, for BOTH the verified and the estimated
    variants and for PPJoin — including intra-twin pairs at jaccard
    exactly 1.0, a short (sub-n-words) twin group that must produce NO
    pairs (no shingles → no signature), and cross-group expansions."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    twins = docs
    for i in (1, 2):
        twins = twins.unionByName(
            docs.select((F.col("doc_id") + 1_000_000 * i).alias("doc_id"), "text")
        )
    # a short twin group: < n words, so the uncollapsed path never pairs it
    short = spark.createDataFrame(
        [(9_000_001, "too short"), (9_000_002, "too short")], ["doc_id", "text"]
    )
    twins = twins.unionByName(short)
    mh = (5, 64, 16, 0.5, dd.MAX_POSTING_LIST)  # n, num_hashes, bands, t, cap
    for fn, core, args, score in (
        (dd.minhash_lsh_verified_pairs, dd._minhash_lsh_verified_pairs, mh, "jaccard"),
        (dd.minhash_lsh_pairs, dd._minhash_lsh_pairs, mh, "est_jaccard"),
        (dd.jaccard_pairs, dd._jaccard_pairs, (5, 0.5, dd.MAX_POSTING_LIST), "jaccard"),
    ):
        plain = core(twins, "doc_id", "text", *args)
        fast = fn(twins, "doc_id", "text", *args)
        p = {(r["doc_a"], r["doc_b"]): r[score] for r in plain.collect()}
        f = {(r["doc_a"], r["doc_b"]): r[score] for r in fast.collect()}
        assert f == p, f"{score}: {len(f)} vs {len(p)} pairs"
        assert not any(a >= 9_000_001 for a, _ in f), "short twins paired"
        assert any(a + 1_000_000 == b for a, b in f), "intra twins missing"


def test_minhash_collapse_group_cap(spark):
    """The posting-list cap carries to the intra expansion: an exact-dup
    cluster larger than the cap is dropped (same stop-key call as a hot
    bucket), smaller clusters emit their full pair set."""
    rows = [(i, "identical boilerplate text repeated verbatim everywhere") for i in range(80)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = dd.minhash_lsh_verified_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, max_posting_list=40
    )
    assert capped.count() == 0
    uncapped = dd.minhash_lsh_verified_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, max_posting_list=None
    )
    assert uncapped.count() == 80 * 79 // 2


def test_full_recall_config_equals_exact_jaccard(spark, sf_dir):
    """The gate config (bands == num_hashes, independent per-i hashes)
    must EQUAL exact all-pairs Jaccard on the fixture corpus — this is
    the contract the driver's oracle row checks."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = {
        (r.doc_a, r.doc_b): round(r.jaccard, 9)
        for r in dd.jaccard_pairs(docs, "doc_id", "text", n=5, threshold=0.5).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b): round(r.jaccard, 9)
        for r in dd.minhash_lsh_verified_pairs(
            docs, "doc_id", "text", n=5, num_hashes=64, bands=64, threshold=0.5
        ).collect()
    }
    assert exact == lsh


# ---------------------------------------------------------------------------
# Substring-span dedup (ExactSubstr via k-gram window hashes)
# ---------------------------------------------------------------------------


def test_duplicate_spans_planted(spark):
    """Planted shared 6-word run with k=4: the span is found with exact
    word offsets in both docs; unique/short/empty docs produce nothing."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j k l m n"),
            (2, "x y a b c d e f z w q r s t"),
            (3, "unique words only here nothing shared at all"),
            (4, "x y a b c d e f z w q r s t"),  # exact dup of 2
            (5, ""),
            (6, "a b c"),  # shorter than k
        ],
        ["doc_id", "text"],
    )
    spans = {
        (r.doc, r.span_start, r.span_end): r.n_windows
        for r in dd.duplicate_spans(docs, "doc_id", "text", k=4).collect()
    }
    # doc1: 'a b c d e f' at words [0,6) = 3 windows of 4
    # doc2/4: whole 14-word text (exact dup pair), 11 windows
    assert spans == {(1, 0, 6): 3, (2, 0, 14): 11, (4, 0, 14): 11}


def test_duplicate_spans_merges_touching_runs(spark):
    """Two duplicated runs that touch (gap == k) merge into one maximal
    span; a gap > k keeps them separate."""
    docs = spark.createDataFrame(
        [
            (1, "p q r s AA BB CC DD gap1 gap2 gap3 gap4 EE FF GG HH t u v w"),
            (2, "AA BB CC DD zz1 zz2 zz3 zz4 zz5 zz6 zz7 zz8"),
            (3, "EE FF GG HH yy1 yy2 yy3 yy4 yy5 yy6 yy7 yy8"),
        ],
        ["doc_id", "text"],
    )
    spans = {
        (r.doc, r.span_start, r.span_end)
        for r in dd.duplicate_spans(docs, "doc_id", "text", k=4).collect()
    }
    # doc1: AA..DD at [4,8), EE..HH at [12,16): window starts 4 and 12,
    # diff 8 > k=4 → two separate spans
    assert (1, 4, 8) in spans and (1, 12, 16) in spans
    assert (1, 4, 16) not in spans


def test_remove_duplicate_spans_keeps_canonical_owner(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j k l m n"),
            (2, "x y a b c d e f z w q r s t"),
            (4, "x y a b c d e f z w q r s t"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc: (r.text, r.n_removed) for r in dd.remove_duplicate_spans(
        docs, "doc_id", "text", k=4
    ).collect()}
    assert out[1] == ("a b c d e f g h i j k l m n", 0)  # owner keeps all
    assert out[2] == ("x y z w q r s t", 6)  # loses the doc-1-owned run
    assert out[4] == ("", 14)  # exact dup: doc 2 owns everything


def test_duplicate_spans_matches_duckdb_oracle(spark, sf_dir):
    """Value-level equality against an independent DuckDB implementation
    over the sf documents fixture — the same comparison the driver gate
    would run (rows + values); local because the driver's 50-entry gate
    window is full of hash-matched rows."""
    import duckdb

    k = 8
    spark_rows = {
        (r.doc, r.span_start, r.span_end, r.n_windows)
        for r in dd.duplicate_spans(
            spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id", "text", k=k
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    oracle = con.execute(f"""
        WITH w AS (
            SELECT doc_id AS doc,
                   list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws
            FROM documents
        ),
        full_wins AS (
            SELECT doc, unnest(range(1, greatest(len(ws) - {k - 1}, 0) + 1)) - 1 AS pos,
                   unnest(list_transform(
                       range(1, greatest(len(ws) - {k - 1}, 0) + 1),
                       i -> array_to_string(ws[i:i+{k - 1}], ' '))) AS wstr
            FROM w
        ),
        dup AS (
            SELECT wstr FROM full_wins GROUP BY wstr HAVING count(DISTINCT doc) >= 2
        ),
        hits AS (SELECT doc, pos FROM full_wins JOIN dup USING (wstr)),
        lagd AS (
            SELECT doc, pos, lag(pos) OVER (PARTITION BY doc ORDER BY pos) AS prev
            FROM hits
        ),
        isl AS (
            SELECT doc, pos,
                   SUM(CASE WHEN prev IS NULL OR pos - prev > {k} THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc ORDER BY pos) AS island
            FROM lagd
        )
        SELECT doc, MIN(pos) AS span_start, MAX(pos) + {k} AS span_end,
               COUNT(*) AS n_windows
        FROM isl GROUP BY doc, island
    """).fetchall()
    oracle_rows = {(int(a), int(b), int(c), int(d)) for a, b, c, d in oracle}
    assert len(spark_rows) > 0
    assert spark_rows == oracle_rows


def test_decontaminate_spans_removes_planted_benchmark(spark):
    """A leaked benchmark sentence is removed from the corpus doc while
    the rest of the document survives; clean docs are untouched."""
    from pixie_spark.operators.dedup import decontaminate_spans

    bench = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [
            (1, "intro words here " + bench + " closing words after"),
            (2, "totally clean document with enough words to stand alone"),
        ],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame([(900, bench)], "doc_id long, text string")
    out = {r["doc"]: r for r in decontaminate_spans(corpus, probes, k=10).collect()}
    assert out[1]["n_removed"] == 10
    for w in bench.split():
        assert w not in out[1]["text"].split()
    assert "intro" in out[1]["text"] and "closing" in out[1]["text"]
    assert out[2]["n_removed"] == 0
    assert out[2]["text"] == "totally clean document with enough words to stand alone"


def test_decontaminate_spans_matches_python_reference(spark):
    """Position-level equality vs a brute-force Python reimplementation
    of the k-gram cover."""
    from pixie_spark.operators.dedup import decontaminate_spans

    k = 4
    corpus_rows = [
        (1, "a b c d e f g h i j"),
        (2, "x y z a b c d q r s t u"),
        (3, "no overlap at all in this document"),
        (4, "a b c"),  # shorter than k: never matches
    ]
    probe_rows = [(50, "a b c d"), (51, "q r s t u v")]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    probes = spark.createDataFrame(probe_rows, "doc_id long, text string")

    probe_grams = set()
    for _, t in probe_rows:
        ws = t.split()
        for i in range(len(ws) - k + 1):
            probe_grams.add(tuple(ws[i : i + k]))
    expected = {}
    for d, t in corpus_rows:
        ws = t.split()
        rm = set()
        for i in range(len(ws) - k + 1):
            if tuple(ws[i : i + k]) in probe_grams:
                rm.update(range(i, i + k))
        kept = [w for j, w in enumerate(ws) if j not in rm]
        expected[d] = (" ".join(kept), len(rm))

    out = {r["doc"]: (r["text"], r["n_removed"]) for r in decontaminate_spans(corpus, probes, k=k).collect()}
    assert out == expected


def test_decontaminate_probe_side_broadcasts(spark):
    """The corpus must never shuffle for detection: the probe wid set
    joins in as a broadcast."""
    from pixie_spark.operators.dedup import decontaminate_spans

    corpus = spark.createDataFrame(
        [(i, "w" + " w".join(str(j) for j in range(i, i + 15))) for i in range(5)],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame([(9, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10")], "doc_id long, text string")
    plan = (
        decontaminate_spans(corpus, probes, k=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_contamination_matrix_per_suite_and_slice(spark):
    """Per-(suite, slice) cells replicate a brute-force Python n-gram
    overlap count; clean suites report nothing."""
    from pixie_spark.operators.dedup import contamination_matrix

    n = 3
    corpus_rows = [
        (1, "alpha beta gamma delta epsilon zeta", "en"),
        (2, "one two three four five six seven", "en"),
        (3, "uno dos tres cuatro cinco seis", "es"),
        (4, "completely different material entirely here now", "es"),
    ]
    probe_rows = [
        ("suiteA", "beta gamma delta"),          # hits doc 1 (en)
        ("suiteA", "three four five six"),       # hits doc 2 (en)
        ("suiteB", "dos tres cuatro cinco"),     # hits doc 3 (es)
        ("suiteC", "nothing matches this text"), # clean
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string, lang string")
    probes = spark.createDataFrame(probe_rows, "suite string, text string")

    def grams(t):
        ws = t.split()
        return {tuple(ws[i : i + n]) for i in range(len(ws) - n + 1)}

    suite_grams = {}
    for s, t in probe_rows:
        suite_grams.setdefault(s, set()).update(grams(t))
    expect = {}
    for s, gs in suite_grams.items():
        for did, text, lang in corpus_rows:
            shared = grams(text) & gs
            if shared:
                k = (s, lang)
                docs, ngrams = expect.get(k, (set(), 0))
                expect[k] = (docs | {did}, ngrams + len(shared))
    expect = {k: (len(d), g) for k, (d, g) in expect.items()}

    out = contamination_matrix(corpus, probes, n=n, corpus_slice_col="lang").collect()
    got = {(r["suite"], r["lang"]): (r["n_contaminated_docs"], r["n_shared_ngrams"]) for r in out}
    assert got == expect
    assert not any(s == "suiteC" for s, _ in got)

    # no-slice variant: one row per contaminated suite
    flat = {r["suite"]: r["n_contaminated_docs"] for r in contamination_matrix(corpus, probes, n=n).collect()}
    assert flat == {"suiteA": 2, "suiteB": 1}


def test_contamination_matrix_probe_side_broadcasts(spark):
    from pixie_spark.operators.dedup import contamination_matrix

    corpus = spark.createDataFrame(
        [(i, "w" + " w".join(str(j) for j in range(i, i + 10))) for i in range(5)],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame([("s", "w1 w2 w3 w4 w5")], "suite string, text string")
    plan = (
        contamination_matrix(corpus, probes, n=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# Corpus-wide exact line-level dedup, keep-first (C4 §2.2 at line
# granularity / RefinedWeb-Dolma recipes)
# ---------------------------------------------------------------------------

LINE_CORPUS = [
    (0, "Common header line here.\nUnique body A text.\n\nshort"),
    (1, "Common header line here.\nUnique body B text.\nCommon header line here."),
    (2, "Totally unique document.\n\nCommon header line here."),
    (3, "Unique body A text."),          # whole doc duplicates an earlier line
    (4, ""),                              # empty doc
    (5, "Within doc repeat.\nWithin doc repeat.\nTail line stays."),
]


def _line_dedup_python(docs, min_chars=1):
    seen = set()
    out = {}
    for did, t in docs:
        lines = t.split("\n")
        keep, dropped = [], 0
        for l in lines:
            if len(l) >= min_chars:
                if l in seen:
                    dropped += 1
                    continue
                seen.add(l)
            keep.append(l)
        out[did] = ("\n".join(keep), len(lines), dropped)
    return out


def test_line_level_dedup_matches_python_reference(spark):
    df = spark.createDataFrame(LINE_CORPUS, "doc_id long, text string")
    got = {r["doc_id"]: r for r in dd.line_level_dedup(df).collect()}
    ref = _line_dedup_python(LINE_CORPUS)
    for did, _ in LINE_CORPUS:
        assert got[did]["text"] == ref[did][0], did
        assert got[did]["n_lines"] == ref[did][1], did
        assert got[did]["n_lines_dropped"] == ref[did][2], did
    # spot semantics: within-doc repeat dropped, keep-first owner wins
    assert got[5]["text"] == "Within doc repeat.\nTail line stays."
    assert got[3]["text"] == ""  # its only line first occurred in doc 0
    assert got[0]["n_lines_dropped"] == 0  # first occurrences keep everything


def test_line_level_dedup_min_chars_exempts_short_lines(spark):
    docs = [(0, "aa\n\nx\naa"), (1, "\nx\nbb")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in dd.line_level_dedup(df, min_chars=2).collect()}
    # empty and 1-char lines are exempt (always kept, never claim ownership)
    assert got[0]["text"] == "aa\n\nx"       # second 'aa' dropped, 'x' kept
    assert got[1]["text"] == "\nx\nbb"       # both short lines kept everywhere
    assert got[1]["n_lines_dropped"] == 0


def test_line_level_dedup_plan_shape(spark):
    df = spark.createDataFrame(LINE_CORPUS, "doc_id long, text string")
    plan = dd.line_level_dedup(df)._jdf.queryExecution().executedPlan().toString()
    # keep-first must be the map-side-combinable min(struct) agg, never a
    # window rank over the line id (hot boilerplate lines would skew it)
    assert "Window" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_line_level_dedup_ccnet_key_collapses_variants(spark):
    from pixie_spark.operators.text import normalize_for_hash

    docs = [
        (0, "Copyright 2021, Example Corp.\nBody line A stays."),
        (1, "copyright 1999 - example CORP\nBody line B stays."),
        (2, "COPYRIGHT 2024  Example!! Corp\nBody line C stays."),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    exact = {r["doc_id"]: r for r in dd.line_level_dedup(df).collect()}
    fuzzy = {
        r["doc_id"]: r
        for r in dd.line_level_dedup(df, key_fn=normalize_for_hash).collect()
    }
    # raw-key dedup sees three distinct copyright lines — nothing drops
    assert all(exact[d]["n_lines_dropped"] == 0 for d in (0, 1, 2))
    # normalized-key dedup keeps only doc 0's variant, original casing
    assert fuzzy[0]["text"].startswith("Copyright 2021, Example Corp.")
    assert fuzzy[1]["text"] == "Body line B stays."
    assert fuzzy[2]["text"] == "Body line C stays."


def test_line_level_dedup_null_text_is_empty_doc(spark):
    df = spark.createDataFrame(
        [(0, "real line."), (1, None)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in dd.line_level_dedup(df).collect()}
    assert got[1]["text"] == "" and got[1]["n_lines"] == 1
    assert got[1]["n_lines_dropped"] == 0
    assert got[0]["text"] == "real line."


def test_contamination_matrix_duplicate_probe_rows_collapse(spark):
    """Byte-identical probe rows must contribute exactly once: left as
    duplicates they would share one content-hash id and one shingle-
    window partition, where lead() walks the copies instead of the
    sentence and corrupts every probe shingle (the defect the sf1 gate
    sweep caught, where the twin recipe duplicates each probe row 10x).
    10x-duplicated probes must reproduce the unique-probe matrix
    cell-for-cell."""
    from pixie_spark.operators.dedup import contamination_matrix

    n = 3
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta", "en"),
            (2, "one two three four five six seven", "en"),
            (3, "uno dos tres cuatro cinco seis", "es"),
        ],
        "doc_id long, text string, lang string",
    )
    probes = spark.createDataFrame(
        [("suiteA", "beta gamma delta"), ("suiteB", "dos tres cuatro cinco")],
        "suite string, text string",
    )
    dup10 = probes
    for _ in range(9):
        dup10 = dup10.union(probes)

    def cells(p):
        return {
            (r["suite"], r["lang"]): (r["n_contaminated_docs"], r["n_shared_ngrams"])
            for r in contamination_matrix(corpus, p, n=n, corpus_slice_col="lang").collect()
        }

    base = cells(probes)
    assert base == {("suiteA", "en"): (1, 1), ("suiteB", "es"): (1, 2)}
    assert cells(dup10) == base
