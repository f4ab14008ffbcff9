"""Deduplication operators for training-data pipelines, designed for
100 TB document corpora.

- exact_dedup:       hash-groupBy on content — one shuffle on a 64-bit
                     content hash, never on the raw text.
- shingles:          word n-gram sets (the input to Jaccard/MinHash).
- jaccard_pairs:     exact n-gram Jaccard over a shingle-inverted-index
                     self-join (prunable; quadratic only within a posting
                     list, not the corpus).
- minhash_lsh_pairs: MinHash signatures + banded LSH — the scale path:
                     candidate pairs only ever meet inside an LSH bucket,
                     so the shuffle is on (band, bucket-hash) keys.
- simhash:           64-bit SimHash signature per doc (hamming-near dup).

The near-dup pair family (jaccard_pairs, minhash_lsh_pairs,
minhash_lsh_verified_pairs, and similarity.embedding_dedup_pairs'
prefilter path) always collapses byte-identical contents first
(_collapse_exact), runs its private uncollapsed core on the distinct
contents, and expands member pairs from the result; candidates are
scored by one fetch-and-score join (_score_pairs).

All stages are native Spark column expressions (xxhash64, explode,
groupBy) — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pixie_spark.materialize import materialize


def exact_dedup(df: DataFrame, id_col: str, content_cols: list[str]) -> DataFrame:
    """Group identical content; keep the minimum id as the canonical doc.

    Returns (keep_id, dup_count, *content_cols-hash). At scale: shuffle on
    xxhash64(content) — 8 bytes/row — not the document text itself.
    """
    h = F.xxhash64(*content_cols).alias("content_hash")
    return (
        df.select(F.col(id_col), h)
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def shingles_from_words(ws: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a MATERIALIZED words-array column.

    ``ws`` must be a plain column reference, not a nested expression:
    Spark does no common-subexpression elimination inside higher-order-
    function lambdas, so an inline ``split(text)`` would be re-evaluated
    for every ``element_at`` call — measured ~30× slowdown. The
    operators avoid arrays altogether: see :func:`_hashed_shingle_rows`.
    """
    k = F.size(ws) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(0)), F.lit(1)),
        lambda i: F.concat_ws(" ", *[F.element_at(ws, i + j) for j in range(n)]),
    )
    return F.array_distinct(F.when(k >= 1, grams).otherwise(F.array()))


def shingles(text: Column, n: int = 3) -> Column:
    """Shingles directly from a text column — convenience for small inputs;
    the operators use :func:`_hashed_shingle_rows` (see
    shingles_from_words)."""
    return shingles_from_words(F.filter(F.split(text, r"\s+"), lambda w: w != ""), n)


def _word_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    by_doc: bool = True,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(doc, pos, word) rows via posexplode — the split is evaluated once
    per row inside codegen; no higher-order functions.

    ``by_doc`` (default): hash-partition the RAW (doc, text) rows by doc
    BEFORE the explode (r11 optimization, guide §2.3/§8). Every consumer
    of this frame windows or groups by doc, so the per-doc exchange is
    paid either way — placing it before the explode (a) moves strictly
    fewer bytes (raw text once vs one row per word), and (b) runs the
    split/explode/hash map work at shuffle parallelism instead of scan
    parallelism (measured: the sf tiers are single-row-group files, so
    the whole expensive map side ran ONE task; at cluster scale the
    placement is still the byte win). The explicit partition count in
    ``by_key`` pins the downstream window/agg stages against AQE
    coalescing, which optimizes shuffle bytes and serialized the
    CPU-heavy gram stages (profiled: 15 s task CPU through 4 tasks).
    Callers whose downstream keys do NOT include doc (e.g. vocabulary's
    groupBy(term)) pass ``by_doc=False`` — for them the exchange would
    be additive at scale.

    ``carry``: extra columns to carry through the explode (r12: the NB
    trainer's label — carrying the narrow column through beats joining
    the exploded feature stream back to the corpus afterwards, guide
    §2.3 "project before the exchange" / shuffle keys not payloads).
    """
    from pixie_spark.partitioning import by_key

    base = df.select(
        F.col(id_col).alias("doc"), *carry, F.col(text_col).alias("text")
    )
    if by_doc:
        base = by_key(base, "doc")
    return (
        base.select(
            "doc", *carry, F.posexplode(F.split("text", r"\s+")).alias("pos", "word")
        )
        .where(F.col("word") != "")
    )


def _hashed_shingle_rows(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(doc, sid: long) — one row per shingle POSITION, shingle identified
    by xxhash64 over its n words directly (no string concat is ever
    materialized; xxhash64 length-prefixes each input so word-boundary
    ambiguity can't alias two different n-grams). Everything past this
    point moves 8-byte longs instead of ~n·word-length strings — the
    dominant shuffle-volume win for the dedup family at corpus scale.

    Window-lead construction (word_i .. word_{i+n-1} via ``lead`` over
    (doc, pos)): unlike an array-transform formulation it stays inside
    whole-stage codegen and parallelizes after the per-doc shuffle;
    higher-order-function lambdas are interpreted and were the hot spot
    at scale.
    """
    win = Window.partitionBy("doc").orderBy("pos")
    w = _word_rows(df, id_col, text_col)
    leads = [F.col("word").alias("w0")] + [
        F.lead("word", j).over(win).alias(f"w{j}") for j in range(1, n)
    ]
    return (
        w.select("doc", *leads)
        .where(F.col(f"w{n - 1}").isNotNull())
        .select("doc", F.xxhash64(*[f"w{j}" for j in range(n)]).alias("sid"))
    )


def _window_ids(w: DataFrame, k: int) -> DataFrame:
    """(doc, pos, wid) — one row per k-word window of the (doc, pos,
    word) rows ``w``, starting at ``pos``; wid = xxhash64 over the
    window's k words, gathered by window-lead like the shingle ids of
    :func:`_hashed_shingle_rows`."""
    win = Window.partitionBy("doc").orderBy("pos")
    leads = [F.col("word").alias("w0")] + [
        F.lead("word", j).over(win).alias(f"w{j}") for j in range(1, k)
    ]
    return (
        w.select("doc", "pos", *leads)
        .where(F.col(f"w{k - 1}").isNotNull())
        .select("doc", "pos", F.xxhash64(*[f"w{j}" for j in range(k)]).alias("wid"))
    )


def _hashed_shingle_arrays(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(doc, sh: array<long> DISTINCT shingle ids) in ONE shuffle: the
    window shuffle partitions by doc and the groupBy(doc) that follows
    reuses that partitioning; array_distinct replaces a separate
    (doc, sid) distinct."""
    return (
        _hashed_shingle_rows(df, id_col, text_col, n)
        .groupBy("doc")
        .agg(F.array_distinct(F.collect_list("sid")).alias("sh"))
    )


# Default skew guard for posting-list pair expansion. A list of k docs
# expands to k(k-1)/2 pairs IN ONE TASK, so an uncapped hot key (a
# boilerplate shingle in millions of docs, an LSH bucket holding a giant
# near-dup cluster) turns into a single-task k² straggler at corpus
# scale. Lists longer than the cap are dropped as stop-keys — the same
# call production dedup systems make: a shingle shared by >K documents
# carries ~no discriminative signal, and every pair it would contribute
# is overwhelmingly likely to co-occur in a rarer list too. Recall
# impact: only pairs whose EVERY common shingle/bucket is hotter than
# the cap are lost. 2500²/2 ≈ 3.1M pairs is a bounded, sub-second task.
MAX_POSTING_LIST = 2500


def _pairs_from_posting_lists(
    postings: DataFrame,
    docs_col: str = "docs",
    max_list_size: int | None = MAX_POSTING_LIST,
) -> DataFrame:
    """(doc_a, doc_b) distinct pairs co-occurring in any posting list.

    Two chained explodes expand each list's k(k-1)/2 ordered pairs
    in-row — replacing an index self-join (second shuffle + shared-scan
    recompute) with a single aggregation. ``max_list_size`` caps the
    per-list expansion (see MAX_POSTING_LIST); pass None to disable.
    Use :func:`posting_list_skew_stats` on the same postings frame to
    observe how many lists the cap drops.
    """
    sized = postings.where(F.size(docs_col) > 1)
    if max_list_size is not None:
        sized = sized.where(F.size(docs_col) <= max_list_size)
    return (
        sized.select(F.col(docs_col).alias("__docs"), F.explode(docs_col).alias("doc_a"))
        .select("doc_a", F.explode("__docs").alias("doc_b"))
        .where(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


def posting_list_skew_stats(
    postings: DataFrame,
    docs_col: str = "docs",
    max_list_size: int = MAX_POSTING_LIST,
) -> DataFrame:
    """Skew/drop metric for a posting-list frame: one row with
    (n_lists, n_dropped, max_list_size, cap). ``n_dropped`` is how many
    lists exceed the cap and would be skipped by
    :func:`_pairs_from_posting_lists` — at 100 TB this is the dashboard
    number that says whether the stop-key cap is biting."""
    return postings.agg(
        F.count(F.lit(1)).alias("n_lists"),
        F.sum((F.size(docs_col) > max_list_size).cast("long")).alias("n_dropped"),
        F.max(F.size(docs_col)).alias("max_list_size"),
        F.lit(max_list_size).alias("cap"),
    )


def _band_candidates(entries: DataFrame, max_list_size: int | None) -> DataFrame:
    """(doc_a, doc_b) pairs sharing a (band, bucket) of the (doc, band,
    bucket) LSH rows, from one posting list per bucket (no self-join;
    see :func:`_pairs_from_posting_lists`)."""
    return _pairs_from_posting_lists(
        entries.groupBy("band", "bucket").agg(F.collect_list("doc").alias("docs")),
        max_list_size=max_list_size,
    )


def _jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two distinct-shingle-id arrays."""
    inter = F.size(F.array_intersect(a, b))
    return inter / (F.size(a) + F.size(b) - inter)


def _est_jaccard(num_hashes: int):
    """Estimated Jaccard of two MinHash signatures: the fraction of
    agreeing positions."""
    return lambda a, b: F.size(
        F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda m: m)
    ) / F.lit(float(num_hashes))


def _score_pairs(
    cands: DataFrame, left: DataFrame, right: DataFrame, col: str,
    score_col: str, score, threshold: float,
) -> DataFrame:
    """(doc_a, doc_b, score_col) for candidate (doc_a, doc_b) pairs: fetch
    ``col`` for doc_a from ``left`` and for doc_b from ``right`` (both
    (doc, col) frames), score with ``score(a, b)``, keep >= threshold."""
    sa = left.select(F.col("doc").alias("doc_a"), F.col(col).alias(f"{col}_a"))
    sb = right.select(F.col("doc").alias("doc_b"), F.col(col).alias(f"{col}_b"))
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(score_col, score(F.col(f"{col}_a"), F.col(f"{col}_b")))
        .where(F.col(score_col) >= threshold)
        .select("doc_a", "doc_b", score_col)
    )


def _collapse_exact(
    df: DataFrame, id_col: str, content_col: str, core, score_col: str,
    intra_score: Column, threshold: float, max_group: int | None,
    pair: tuple[str, str] = ("doc_a", "doc_b"), intra_if: Column | None = None,
) -> DataFrame:
    """Exact-dedup-first pairs, shared by the text and embedding pair
    operators: byte-identical contents collapse to one representative
    (the minimum id), ``core(reps)`` pairs the (id_col, content_col)
    representatives into (a, b, score_col) rows (``pair`` = the id
    columns, a < b), and member pairs expand from them. Shingles,
    signatures, buckets and scores are pure functions of the content
    bytes, so the output equals ``core`` run on the members, score bits
    included, while candidate generation pays Σk² over DISTINCT contents.

    rep/gsize are WINDOW aggregates over the content partition: no
    per-group array, so an exact-dup cluster of 100M copies is narrow
    spillable rows, not one ~GB collect_list row. Materialized: the
    reps, the membership and the intra expansion all read it.

    - cross: each rep pair expands to every member combination,
      orientation-normalized; the score carries over bit-exactly.
    - intra: twins pair at ``intra_score`` (a Column over content_col,
      once per group), kept >= threshold, for groups passing
      ``intra_if``: text under n words has no shingles, so the core
      never pairs its twins, and a literal text score folds into the
      plan. ``max_group`` carries the core's bucket cap here: k twins
      are a k² emission like a hot posting list, so larger clusters are
      dropped as stop-keys (exact_dedup handles them at O(k)). The cap
      thus counts DISTINCT contents per bucket.
    """
    w = Window.partitionBy(content_col)
    g = (
        df.select(F.col(id_col).alias("id"), content_col)
        .withColumn("rep", F.min("id").over(w))
        .withColumn("gsize", F.count(F.lit(1)).over(w))
        .transform(materialize)
    )
    rep_pairs = core(
        g.where(F.col("id") == F.col("rep")).select(F.col("rep").alias(id_col), content_col)
    )
    a, b = pair
    mem = g.select("rep", "id")
    cross = (
        rep_pairs
        .join(mem.select(F.col("rep").alias(a), F.col("id").alias("__ma")), a)
        .join(mem.select(F.col("rep").alias(b), F.col("id").alias("__mb")), b)
        .select(
            F.least("__ma", "__mb").alias(a),
            F.greatest("__ma", "__mb").alias(b),
            score_col,
        )
    )
    cond = (F.col("id") == F.col("rep")) & (F.col("gsize") > 1)
    if intra_if is not None:
        cond = cond & intra_if
    if max_group is not None:
        cond = cond & (F.col("gsize") <= max_group)
    eligible = (
        g.where(cond)
        .select("rep", intra_score.alias(score_col))
        .where(F.col(score_col) >= threshold)
    )
    emem = eligible.join(mem, "rep")
    intra = (
        emem.select("rep", F.col("id").alias(a), score_col)
        .join(emem.select("rep", F.col("id").alias(b)), "rep")
        .where(F.col(a) < F.col(b))
        .select(a, b, score_col)
    )
    return cross.unionByName(intra)


def _has_shingle(text: Column, n: int) -> Column:
    """The text has at least n words, i.e. at least one n-word shingle."""
    return F.size(F.filter(F.split(text, r"\s+"), lambda x: x != "")) >= n


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_posting_list: int | None = MAX_POSTING_LIST,
) -> DataFrame:
    """Exact n-gram Jaccard ≥ threshold pairs via prefix filtering.

    Classic PPJoin-style prefix filter (lossless for exact Jaccard):
    order every doc's shingles by GLOBAL rarity (document frequency asc,
    shingle asc); two docs can only reach Jaccard ≥ t if their first
    ``|X| - ceil(t·|X|) + 1`` shingles under that order share an element.
    So the self-join explodes only rare prefix shingles → short posting
    lists → the candidate set stays near-linear even with heavy-tailed
    shingle frequencies. Exact Jaccard is then computed from the full
    shingle arrays (array_intersect) for candidates only.

    The ENTIRE pipeline — counting, ranking, posting lists, and the
    final intersect — runs on 8-byte xxhash64 shingle ids; no shingle
    string is ever materialized or shuffled ("exact" is exact modulo
    64-bit hash collisions, ~k²/2⁶⁴ per doc — negligible for real
    documents, and the standard trade in production dedup).

    Shuffles: shingle-df count, one prefix self-join on shingle, two
    array lookups — all on keys, never a cross product. Output:
    (doc_a, doc_b, jaccard) with doc_a < doc_b.

    The shingle table and the prefix index feed multiple downstream
    joins (including broadcast builds, which Spark materializes in
    separate eager jobs that race a lazy .cache()), so both are
    local-checkpointed — the Spark form of the reference's
    merge-common-subplans rule (src/carnot/planner/compiler/optimizer/
    merge_nodes_rule.h:36-44); without it the self-join recomputes the
    whole shingle subtree once per side (measured 10× slowdown).

    Byte-identical texts collapse first (:func:`_collapse_exact`).
    PPJoin is lossless under ANY global shingle order, so deriving
    document frequencies over DISTINCT texts instead of members changes
    candidate composition but never the exact-Jaccard survivor set.
    """
    return _collapse_exact(
        df, id_col, text_col,
        lambda reps: _jaccard_pairs(reps, id_col, text_col, n, threshold, max_posting_list),
        "jaccard", F.lit(1.0), threshold, max_posting_list,
        intra_if=_has_shingle(F.col(text_col), n),
    )


def _jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int, threshold: float,
    max_posting_list: int | None,
) -> DataFrame:
    """:func:`jaccard_pairs` without the exact-dup collapse."""
    sh = _hashed_shingle_arrays(df, id_col, text_col, n).transform(materialize)
    idx = sh.select("doc", F.explode("sh").alias("shingle"))
    dfreq = idx.groupBy("shingle").agg(F.count(F.lit(1)).alias("dfreq"))

    # Rarity-first global order per doc; prefix = |X| - ceil(t|X|) + 1.
    # The order key is (dfreq, sid) — PPJoin is lossless under ANY global
    # total order, so ordering by 8-byte hashed ids instead of strings
    # changes nothing except comparison cost.
    ranked = (
        idx.join(dfreq, "shingle")
        .groupBy("doc")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("dfreq"), F.col("shingle")))
            ).alias("ordered")
        )
        .select(
            "doc",
            F.transform("ordered", lambda s: s["shingle"]).alias("ordered_sh"),
        )
    )
    prefix = ranked.select(
        "doc",
        F.explode(
            F.slice(
                "ordered_sh",
                1,
                F.size("ordered_sh") - F.ceil(F.lit(threshold) * F.size("ordered_sh")) + 1,
            )
        ).alias("shingle"),
    )

    # Candidate pairs from posting lists directly (groupBy shingle →
    # doc list → in-row pair expansion) instead of a self-join: one
    # shuffle on shingle, no second read of the prefix index, no
    # checkpoint. Posting lists are short by construction (rarity-first
    # prefix), so the per-list k² expansion is bounded.
    cands = _pairs_from_posting_lists(
        prefix.groupBy("shingle").agg(F.collect_list("doc").alias("docs")),
        max_list_size=max_posting_list,
    )
    return _score_pairs(cands, sh, sh, "sh", "jaccard", _jaccard, threshold)


def _minhash_mix_sql(i: int) -> str:
    """SQL text of the i-th minwise function from two base hashes:
    h1 ^ rot(h2, i) — Kirsch-Mitzenmacher-style double hashing,
    XOR-rotate instead of +i· to stay overflow-free under ANSI.

    The wide signature and band expressions are built as SQL text and
    parsed once in the JVM: composing them from ``F.*`` calls costs 1–3
    py4j round trips per call, about 5.3k per MinHash/LSH pass at 64
    hashes, for the same Catalyst expressions. Only ``int()``-coerced
    integers and fixed internal column names go into the text."""
    i = int(i)
    if i == 0:
        return "h1 ^ h2"
    return f"h1 ^ (shiftleft(h2, {i}) | shiftrightunsigned(h2, {64 - i}))"


def _minhash_mix(i: int) -> Column:
    """i-th minwise function as a Column (see :func:`_minhash_mix_sql`)."""
    return F.expr(_minhash_mix_sql(i))


def _signature_agg(min_args: list[str]) -> Column:
    """array(min(a_0), ..., min(a_n-1)) AS signature, one parsed
    aggregate: the same partial/final aggregates as n separate mins."""
    mins = ", ".join(f"min({a})" for a in min_args)
    return F.expr(f"array({mins})").alias("signature")


def _sig_km(sid_rows: DataFrame, num_hashes: int) -> DataFrame:
    """(doc, signature: array<long>) from (doc, sid) rows using
    Kirsch-Mitzenmacher mixes of h1 = sid and h2 = xxhash64(sid).

    Two longs per shingle row, projected BEFORE the agg; the num_hashes
    minwise functions are derived bitwise (:func:`_minhash_mix_sql`).
    Hashing the shingle num_hashes times was the measured hot spot (64
    string hashes/row ≫ 2 hashes + 64 bitwise mixes); projecting h1/h2
    matters because Catalyst does no CSE across the 64 aggregate input
    expressions. h1 IS the hashed shingle id (already a 64-bit
    avalanche of the n words — no shingle string is ever built)."""
    hashed = sid_rows.select("doc", F.col("sid").alias("h1"), F.xxhash64("sid").alias("h2"))
    return hashed.groupBy("doc").agg(
        _signature_agg([_minhash_mix_sql(i) for i in range(int(num_hashes))])
    )


def _sig_independent(sid_rows: DataFrame, num_hashes: int) -> DataFrame:
    """(doc, signature: array<long>) from (doc, sid) rows using num_hashes
    INDEPENDENT minwise functions h_i = xxhash64(sid, i) — per-i seeded
    full hashes, not Kirsch-Mitzenmacher mixes of two base hashes. ~32×
    more hash work per shingle row than _sig_km, so this is the
    CORRECTNESS-CONTRACT path: the KM mixes are pairwise-correlated, and
    when the stated contract is full recall (bands == num_hashes ⇒ output
    equals the exact result) the (1-t)^num_hashes miss bound only holds
    under genuine independence. Production banding keeps the cheap mixes.
    """
    return sid_rows.groupBy("doc").agg(
        _signature_agg([f"xxhash64(sid, {i})" for i in range(int(num_hashes))])
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, num_hashes: int = 64
) -> DataFrame:
    """MinHash signature per doc: sig[i] = min over shingles of
    h1 ^ rotl(h2, i), with h1 = the shingle's xxhash64 id and h2 =
    xxhash64(h1) — Kirsch-Mitzenmacher mixes (:func:`_sig_km`), not
    num_hashes separate hashes. One explode + one groupBy; signature
    is num_hashes longs (num_hashes*8 bytes/doc)."""
    return _sig_km(_hashed_shingle_rows(df, id_col, text_col, n), num_hashes)


def _band_entries(sig: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(doc, band, bucket) LSH index rows: bucket = hash of the band's
    signature slice. Docs can only become candidates inside a (band,
    bucket) posting list — the cross-product never materializes. One
    parsed ``inline`` expression (see :func:`_minhash_mix_sql`)."""
    r = int(rows_per_band)

    def entry(b: int) -> str:
        cells = ", ".join(f"element_at(signature, {b * r + k + 1})" for k in range(r))
        return f"named_struct('band', {b}, 'bucket', xxhash64({cells}))"

    entries = ", ".join(entry(b) for b in range(int(bands)))
    return sig.selectExpr("doc", f"inline(array({entries}))")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_posting_list: int | None = MAX_POSTING_LIST,
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash-LSH, verified by
    estimated Jaccard (fraction of agreeing minhashes).

    Scale path: docs only meet if a band hash collides → the self-join is
    per (band, bucket) and the full cross-product never materializes.
    Output: (doc_a, doc_b, est_jaccard).

    Byte-identical texts collapse to one representative before
    signatures and banding (:func:`_collapse_exact`): the decisive cut
    on dup-heavy corpora, with identical output. Twins of a text with at
    least n words pair at est_jaccard exactly 1.0.
    """
    return _collapse_exact(
        df, id_col, text_col,
        lambda reps: _minhash_lsh_pairs(
            reps, id_col, text_col, n, num_hashes, bands, threshold, max_posting_list
        ),
        "est_jaccard", F.lit(1.0), threshold, max_posting_list,
        intra_if=_has_shingle(F.col(text_col), n),
    )


def _minhash_lsh_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int, num_hashes: int,
    bands: int, threshold: float, max_posting_list: int | None,
) -> DataFrame:
    """:func:`minhash_lsh_pairs` without the exact-dup collapse."""
    sig = minhash_signatures(df, id_col, text_col, n, num_hashes).transform(materialize)
    cands = _band_candidates(_band_entries(sig, bands, num_hashes // bands), max_posting_list)
    return _score_pairs(
        cands, sig, sig, "signature", "est_jaccard", _est_jaccard(num_hashes), threshold
    )


def minhash_lsh_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 64,
    threshold: float = 0.5,
    max_posting_list: int | None = MAX_POSTING_LIST,
) -> DataFrame:
    """Banded MinHash-LSH candidates verified by EXACT Jaccard — the
    standard production shape (LSH recall stage + exact verify stage):
    candidates only ever meet inside a (band, bucket) posting list, and
    the expensive set intersection runs on candidates only, never on the
    cross-product.

    Output (doc_a, doc_b, jaccard) is a SUBSET of the exact all-pairs
    result by construction (verification is exact). At the default
    rows_per_band=1 (bands == num_hashes) a true pair is a candidate iff
    ANY of the num_hashes minwise values agree, and the signature uses
    per-i INDEPENDENT hashes (_sig_independent) so the miss bound for a
    pair with Jaccard ≥ t really is (1-t)^num_hashes (≤ 6e-20 at t=0.5,
    64 hashes) — negligible on any corpus, so the output equals the
    exact result and the gate oracle-checks that equality against
    all-pairs SQL. (The production bands<num_hashes path keeps the
    cheaper Kirsch-Mitzenmacher mixes, whose correlation only moves the
    RECALL CURVE slightly — there is no exactness contract to break.)

    ``max_posting_list`` bounds the per-bucket pair expansion (skew
    guard, see MAX_POSTING_LIST). A bucket hotter than the cap — a
    near-dup cluster of >cap docs — is dropped from candidate
    generation, which WOULD break the full-recall equality on such a
    corpus; the cap is deliberately far above any real cluster size the
    gate fixtures contain, and posting_list_skew_stats makes the drop
    observable in production.

    Byte-identical texts collapse first (:func:`_collapse_exact`): at
    the sf1 twin tier this turns the 100× band-bucket blow-up from
    member-level k² into distinct-level k², with bit-identical output.
    """
    return _collapse_exact(
        df, id_col, text_col,
        lambda reps: _minhash_lsh_verified_pairs(
            reps, id_col, text_col, n, num_hashes, bands, threshold, max_posting_list
        ),
        "jaccard", F.lit(1.0), threshold, max_posting_list,
        intra_if=_has_shingle(F.col(text_col), n),
    )


def _minhash_lsh_verified_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int, num_hashes: int,
    bands: int, threshold: float, max_posting_list: int | None,
) -> DataFrame:
    """:func:`minhash_lsh_verified_pairs` without the exact-dup collapse."""
    sh = _hashed_shingle_arrays(df, id_col, text_col, n).transform(materialize)
    sid_rows = sh.select("doc", F.explode("sh").alias("sid"))
    sig = (_sig_independent if bands == num_hashes else _sig_km)(sid_rows, num_hashes)
    cands = _band_candidates(_band_entries(sig, bands, num_hashes // bands), max_posting_list)
    return _score_pairs(cands, sh, sh, "sh", "jaccard", _jaccard, threshold)


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Substring-level exact dedup: every maximal span of ≥k consecutive
    words every k-window of which also occurs in ≥min_docs distinct
    documents — the Spark-first re-expression of suffix-array
    ExactSubstr dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better"): any repeated substring of length ≥k
    is a run of repeated k-windows, so k-gram window hashes find a
    SUPERSET cover of the suffix-array result without ever building a
    suffix array. (A merged span can stitch adjacent runs whose partners
    are different documents — every window in it is repeated somewhere,
    but the span need not occur verbatim as one unit elsewhere; this is
    the standard window-hash approximation and errs toward removing
    boilerplate, the desired direction for training-data dedup.)

    Plan (all native, no Python in the hot path):

    1. (doc, pos, wid) rows — wid = xxhash64 over the window's k words
       via window-lead (stays in whole-stage codegen; no window string
       is ever materialized).                       [shuffle: by doc]
    2. per-wid distinct-doc count; wids in ≥min_docs docs are
       "duplicated windows".                        [shuffle: 8-byte wid]
    3. hash-join (doc, pos, wid) against the duplicated-wid set.
    4. gaps-and-islands merge per doc: consecutive duplicate windows
       whose starts differ by ≤k overlap or touch, so an island break is
       ``pos - prev_pos > k``; each island is one maximal span
       [min(pos), max(pos)+k).                      [reuses the by-doc
       partitioning from step 1's window]

    Output: (doc, span_start, span_end, n_windows) — word offsets,
    end-exclusive. At 100 TB the only wide exchanges move 8-byte window
    hashes; the heavy text stays in the initial map stage. A boilerplate
    window shared by millions of docs costs ONE row in the wid count (a
    count, not a posting list — no pair expansion exists in this
    operator, so no skew cap is needed).
    """
    win = Window.partitionBy("doc").orderBy("pos")
    # by_doc=False (r11, measured): the span family's window stage is
    # short; the pinned 32-way pre-partition regressed sf0.1 ~1.2-1.4x
    # (per-task generated-code warmup outweighs map parallelism here)
    wins = _window_ids(_word_rows(df, id_col, text_col, by_doc=False), k)
    dup_wids = (
        wins.groupBy("wid")
        .agg(F.countDistinct("doc").alias("ndocs"))
        .where(F.col("ndocs") >= min_docs)
        .select("wid")
    )
    hits = wins.join(dup_wids, "wid").select("doc", "pos")
    prev = F.lag("pos").over(win)
    islands = hits.withColumn(
        "island",
        F.sum(
            F.when(prev.isNull() | (F.col("pos") - prev > k), 1).otherwise(0)
        ).over(win.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return islands.groupBy("doc", "island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + k).alias("span_end"),
        F.count(F.lit(1)).alias("n_windows"),
    ).select("doc", "span_start", "span_end", "n_windows")


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Cleaned-corpus twin of :func:`duplicate_spans`: rebuild each
    document's text with every word position covered by a duplicate span
    removed, EXCEPT in the span's canonical owner (the minimum doc id
    containing each duplicated window keeps it — one occurrence of every
    repeated substring survives corpus-wide, the Lee et al. policy).

    Plan: duplicated-window detection as in duplicate_spans, but the
    per-wid aggregate also carries min(doc); a position is removable when
    ANY duplicated window covering it belongs to a doc that is not that
    window's canonical owner. Covered positions come from exploding
    sequence(pos, pos+k-1) on duplicate hits only (bounded: ≤k rows per
    duplicated window). Output: (doc, text, n_removed).
    """
    w = _word_rows(df, id_col, text_col, by_doc=False).transform(materialize)
    wins = _window_ids(w, k)
    owners = (
        wins.groupBy("wid")
        .agg(F.countDistinct("doc").alias("ndocs"), F.min("doc").alias("owner"))
        .where(F.col("ndocs") >= min_docs)
        .select("wid", "owner")
    )
    removable = (
        wins.join(owners, "wid")
        .where(F.col("doc") != F.col("owner"))
        .select("doc", F.explode(F.sequence("pos", F.col("pos") + k - 1)).alias("pos"))
        .dropDuplicates(["doc", "pos"])
        .withColumn("rm", F.lit(True))
    )
    return _rebuild_minus_removed(w, removable)


def _rebuild_minus_removed(w: DataFrame, removable: DataFrame) -> DataFrame:
    """(doc, text, n_removed): rebuild each doc's text from its
    (doc, pos, word) rows minus the (doc, pos, rm=true) positions.
    One left join + one per-doc aggregation (reuses the by-doc
    partitioning); in-row array_sort restores word order."""
    kept = w.join(removable, ["doc", "pos"], "left")
    return (
        kept.groupBy("doc")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("rm").isNull(), F.struct("pos", "word"))
                        )
                    ),
                    lambda s: s["word"],
                ),
            ).alias("text"),
            F.sum(F.col("rm").cast("long")).alias("n_removed"),
        )
        .select("doc", "text", F.coalesce("n_removed", F.lit(0)).alias("n_removed"))
    )


def decontaminate_spans(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    probe_id_col: str = "doc_id",
    probe_text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """Span-level benchmark decontamination: rebuild each corpus document
    with every word position covered by a k-gram that ALSO occurs in the
    probe set (an eval benchmark) removed — the surgical alternative to
    dropping whole contaminated documents (:func:`contamination_check`
    flags; this repairs). Production corpus preps remove the overlapping
    spans so one leaked benchmark sentence doesn't cost an otherwise-good
    document.

    Plan: k-gram window hashes on both sides (window-lead, codegen; no
    window string materialized). The probe wid set is benchmark-sized →
    broadcast, so the corpus NEVER shuffles for detection; covered
    positions explode only from hit windows (≤k rows per hit); the
    rebuild reuses the by-doc partitioning. Output:
    (doc, text, n_removed) for every corpus doc — n_removed = 0 for
    clean docs.
    """
    w = _word_rows(corpus, id_col, text_col, by_doc=False).transform(materialize)
    probe_wids = (
        _window_ids(_word_rows(probes, probe_id_col, probe_text_col, by_doc=False), k)
        .select("wid")
        .distinct()
    )
    removable = (
        _window_ids(w, k).join(F.broadcast(probe_wids), "wid")
        .select("doc", F.explode(F.sequence("pos", F.col("pos") + k - 1)).alias("pos"))
        .dropDuplicates(["doc", "pos"])
        .withColumn("rm", F.lit(True))
    )
    return _rebuild_minus_removed(w, removable)


def contamination_check(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    probe_id_col: str = "doc_id",
    probe_text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Benchmark-contamination detection: which corpus documents contain
    any word n-gram from the probe set (e.g. an eval benchmark)?

    Plan: shingle both sides (window-lead, codegen) → semi-join-style
    equijoin on the 8-byte hashed shingle id — no shingle string is
    built on either side. The probe side is dimension-sized →
    broadcast; the corpus never shuffles. Output:
    (doc, n_hits, n_probe_docs) per contaminated document.
    """
    c_idx = _hashed_shingle_arrays(corpus, id_col, text_col, n).select(
        "doc", F.explode("sh").alias("shingle")
    )
    p_idx = _hashed_shingle_arrays(probes, probe_id_col, probe_text_col, n).select(
        F.col("doc").alias("probe_doc"), F.explode("sh").alias("shingle")
    )
    hits = c_idx.join(F.broadcast(p_idx), "shingle")
    return hits.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.countDistinct("probe_doc").alias("n_probe_docs"),
    )


def shingle_bloom_bits(
    probes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    n_bits: int = 1 << 20,
    n_hashes: int = 4,
) -> list[int]:
    """Bloom-filter bitset (as int64 words) over the probe set's word
    n-gram shingle ids — the O(bits) alternative to broadcasting the
    full probe shingle table when the probe corpus is large (an eval
    suite can be 10^7 shingles; 2^20 bits is 128 KB regardless).

    Bit positions: pmod(xxhash64(sid, j), n_bits) for j in
    0..n_hashes-1 — per-j seeded independent hashes. The bitset is
    assembled DISTRIBUTED (explode positions -> distinct -> per-word
    bit_or) and only the <= n_bits/64 word rows are collected.
    """
    sids = _hashed_shingle_rows(probes, id_col, text_col, n).select("sid").distinct()
    pos = sids.select(
        F.explode(
            F.array(
                *[F.pmod(F.xxhash64("sid", F.lit(j)), F.lit(n_bits)) for j in range(n_hashes)]
            )
        ).alias("p")
    ).distinct()
    words = (
        pos.select((F.col("p") / 64).cast("long").alias("w"), F.pmod("p", F.lit(64)).alias("b"))
        .groupBy("w")
        # expr form: the python shiftleft() helper only takes a literal
        # shift amount, SQL's takes a column
        .agg(F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(b AS INT))")).alias("bits"))
        .collect()
    )
    arr = [0] * ((n_bits + 63) // 64)
    for r in words:
        arr[int(r["w"])] = int(r["bits"])
    return arr


def bloom_contamination_check(
    corpus: DataFrame,
    bloom_bits: list[int],
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    n_hashes: int = 4,
) -> DataFrame:
    """Which corpus documents contain any shingle the Bloom filter
    claims is in the probe set? Output: (doc, n_hits) — a SUPERSET of
    the exact :func:`contamination_check` hits (Bloom filters have no
    false negatives; false-positive rate follows (1-e^{-kn/m})^k).

    The bitset rides to every task as a one-row broadcast array column
    (128 KB at 2^20 bits) and the membership test is pure native bit
    arithmetic — shiftrightunsigned + AND per hash — inside whole-stage
    codegen; the corpus never shuffles (zero-exchange map + per-doc agg
    on the existing by-doc partitioning)."""
    n_bits = len(bloom_bits) * 64
    spark = corpus.sparkSession
    bits_df = spark.createDataFrame([(bloom_bits,)], "bloom array<long>")
    rows = _hashed_shingle_rows(corpus, id_col, text_col, n)

    def bit_test(j: int) -> Column:
        # SQL form throughout: the python shiftrightunsigned() helper
        # only takes a literal shift amount. The int literal seed {j}
        # must stay INT-typed to hash identically to the build side's
        # F.lit(j).
        idx = f"pmod(xxhash64(sid, {j}), {n_bits}L)"
        return F.expr(
            f"(shiftrightunsigned(element_at(bloom, CAST({idx} DIV 64 AS INT) + 1), "
            f"CAST(pmod({idx}, 64) AS INT)) & CAST(1 AS BIGINT)) = 1"
        )

    hit = bit_test(0)
    for j in range(1, n_hashes):
        hit = hit & bit_test(j)
    return (
        rows.crossJoin(F.broadcast(bits_df))
        .where(hit)
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def simhash_md5_fragments() -> tuple[list[str], list[tuple[str, str]], str]:
    """Shared SQL fragments for the PORTABLE (md5-bit) SimHash — written
    once, executed verbatim by BOTH Spark and DuckDB so the gate can
    hash-compare signatures. Only md5/substr/instr/CASE/& appear: the
    exact function set with identical semantics in the two engines
    (xxhash64 exists only in Spark, which is why the production simhash
    below is rows-only checkable). Returns (digit_exprs d0..d15,
    (sum_expr, alias) pairs b0..b63, signature-assembly expr over b*).

    Bit definition: bit i of a word = bit (i%4) of hex digit (i//4) of
    md5(word) — 64 uniform bits; any fixed mapping works for SimHash.
    The signature is emitted as a 16-char hex string (4 sign-majority
    bits per digit), sidestepping 64-bit signed reassembly differences.
    """
    digits = [
        f"instr('0123456789abcdef', substr(h, {k + 1}, 1)) - 1 AS d{k}"
        for k in range(16)
    ]
    sums = [
        (f"SUM(CASE WHEN (d{i // 4} & {1 << (i % 4)}) > 0 THEN 1 ELSE -1 END)", f"b{i}")
        for i in range(64)
    ]

    def nibble(j: int) -> str:
        return " + ".join(
            f"{1 << r} * (CASE WHEN b{4 * j + r} > 0 THEN 1 ELSE 0 END)"
            for r in range(4)
        )

    assemble = "concat(" + ", ".join(
        f"substr('0123456789abcdef', 1 + ({nibble(j)}), 1)" for j in range(16)
    ) + ")"
    return digits, sums, assemble


def simhash_md5(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Portable SimHash: (doc, simhash hex-string-16). Same sign-sum
    algorithm as :func:`simhash` but over md5 bits so an external SQL
    engine can replicate it bit-for-bit (the oracle for the gate row);
    md5 per word is ~2× xxhash64 cost — use :func:`simhash` when
    cross-engine verifiability isn't needed. Same plan shape: one
    codegen map stage + one shuffle on doc, 64 integer aggregates."""
    digits, sums, assemble = simhash_md5_fragments()
    words = _word_rows(df, id_col, text_col).select("doc", "word")
    d = words.selectExpr("doc", "md5(word) AS h").selectExpr("doc", *digits)
    b = d.groupBy("doc").agg(*[F.expr(e).alias(a) for e, a in sums])
    return b.selectExpr("doc", f"{assemble} AS simhash")


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """64-bit SimHash per doc: sign-sum of word-hash bits.

    Implemented as explode(words) → per-(doc,bit) sign sums via 64 integer
    aggregates → bit reassembly. Pure JVM expressions; one shuffle on doc.
    """
    exploded = _word_rows(df, id_col, text_col).select("doc", "word")
    h = F.xxhash64("word")
    aggs = [
        F.sum(
            F.when(F.shiftrightunsigned(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    sums = exploded.groupBy("doc").agg(*aggs)
    sig = None
    for i in range(bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sig = term if sig is None else sig.bitwiseXOR(term)
    return sums.select("doc", sig.alias("simhash"))


def contamination_matrix(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    probe_suite_col: str = "suite",
    probe_text_col: str = "text",
    n: int = 5,
    corpus_slice_col: str | None = None,
) -> DataFrame:
    """Per-suite contamination overview: for EVERY eval suite in the
    probe frame (suite label per probe row), how many corpus documents
    share at least one word n-gram with it — optionally broken down by
    a corpus slice column (domain, lang, source). The release-audit
    companion to :func:`contamination_check` (which reports per-doc
    hits for ONE probe set): one number per (suite [, slice]) cell.

    Same scale shape as the single-suite path: both sides shingle via
    window-lead into 8-byte wids, the probe side (suites × benchmark
    size — dimension-scale) broadcasts, the corpus never shuffles
    before the final bounded aggregate over (suite, slice) cells.
    """
    slice_cols = [corpus_slice_col] if corpus_slice_col else []
    c_idx = (
        _hashed_shingle_rows(corpus, id_col, text_col, n)
        .withColumnRenamed("sid", "shingle")
        .dropDuplicates(["doc", "shingle"])
    )
    if slice_cols:
        slices = corpus.select(F.col(id_col).alias("doc"), *slice_cols)
        c_idx = c_idx.join(slices, "doc")
    # internal probe-row id must be unique PER REMAINING ROW for the
    # shingle window; a content hash keeps it deterministic across runs
    # and partitionings (monotonically_increasing_id is neither), and
    # byte-identical probe rows must COLLAPSE before shingling: left as
    # duplicates they share a window partition, every word position
    # appears once per copy, and lead() walks the copies instead of the
    # sentence — corrupting every probe shingle (caught by the sf1
    # sweep, where the twin recipe duplicates each probe row 10x).
    p_idx = probes.select(
        F.col(probe_suite_col).alias("suite"),
        F.col(probe_text_col).alias("text"),
        F.xxhash64(probe_suite_col, probe_text_col).alias("doc"),
    ).distinct()
    p_sh = (
        _hashed_shingle_rows(p_idx, "doc", "text", n)
        .join(p_idx.select("doc", "suite"), "doc")
        .select("suite", F.col("sid").alias("shingle"))
        .distinct()
    )
    hits = c_idx.join(F.broadcast(p_sh), "shingle")
    return hits.groupBy("suite", *slice_cols).agg(
        F.countDistinct("doc").alias("n_contaminated_docs"),
        F.count(F.lit(1)).alias("n_shared_ngrams"),
    )


def line_level_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 1,
    sep: str = "\n",
    key_fn=None,
) -> DataFrame:
    """Corpus-wide exact line-level deduplication, keep-first.

    C4 (Raffel et al. 2020, §2.2) deduplicates repeated three-sentence
    spans corpus-wide; the line/paragraph-granular variant used by later
    public recipes (RefinedWeb, Dolma) keeps only the FIRST occurrence
    (ordered by ``(doc_id, position)``) of every line that appears more
    than once ANYWHERE in the corpus and drops the rest, then rebuilds
    each document from its surviving lines. Complements
    :func:`duplicate_spans` (which catches near-boundary-free repeated
    substrings): this one is boundary-exact, cross-document, and keyed
    on whole lines.

    Scale shape (100 TB):
    - a line leaves its document only as an 8-byte ``xxhash64`` id plus
      ``(doc_id, pos)`` — line TEXT never shuffles;
    - keep-first is ``min(struct(doc_id, pos))`` grouped by line id — a
      map-side-combinable agg, so a boilerplate line occurring 10^9
      times collapses in the partial aggregate instead of skewing a
      window rank;
    - the drop set flows back through one 8-byte-key equijoin (AQE
      skew-split handles hot line ids) and folds to per-doc drop
      positions; the document text is rebuilt IN-ROW by filtering the
      original split array on position — full text crosses exactly one
      shuffle, the final ``doc_id`` equijoin.

    Lines shorter than ``min_chars`` (default: empty lines) are exempt
    from deduplication and always kept, so blank separators survive.
    ``sep`` is a literal separator (split treats it escaped).

    ``key_fn`` (Column -> Column) transforms a line into its DEDUP KEY
    before hashing — pass :func:`pixie_spark.operators.text.
    normalize_for_hash` for CCNet-style fuzzy line dedup (Wenzek et al.
    2020 §3: case/digit/punctuation-insensitive boilerplate collapse).
    The stored text is untouched; only the 8-byte hash of the projected
    key shuffles.
    """
    import re as _re

    pat = _re.escape(sep)
    # null text folds to '' (split(NULL) would silently drop the doc
    # from the line frame and emit size(NULL) = -1 accounting)
    arr = F.split(F.coalesce(F.col(text_col), F.lit("")), pat, -1)
    lines = df.select(
        F.col(id_col), F.posexplode(arr).alias("pos", "line")
    ).where(F.length("line") >= min_chars)
    key = key_fn(F.col("line")) if key_fn is not None else F.col("line")
    occ = lines.select(id_col, "pos", F.xxhash64(key).alias("lid"))
    first = occ.groupBy("lid").agg(
        F.min(F.struct(id_col, "pos")).alias("first_occ")
    )
    drops = (
        occ.join(first, "lid")
        .where(
            (F.col(f"first_occ.{id_col}") != F.col(id_col))
            | (F.col("first_occ.pos") != F.col("pos"))
        )
        .groupBy(id_col)
        .agg(F.collect_set("pos").alias("__drop_pos"))
    )
    kept = F.filter(
        arr,
        lambda x, i: ~F.coalesce(
            F.array_contains(F.col("__drop_pos"), i), F.lit(False)
        ),
    )
    return (
        df.join(drops, id_col, "left")
        .select(
            F.col(id_col),
            F.array_join(kept, sep).alias(text_col),
            F.size(arr).cast("long").alias("n_lines"),
            (F.size(arr) - F.size(kept)).cast("long").alias("n_lines_dropped"),
        )
    )
