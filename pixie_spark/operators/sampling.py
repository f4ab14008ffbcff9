"""Sampling & packing operators for training-data pipelines.

- stratified_downsample: deterministic n-per-stratum via seeded-hash
  ranking — reproducible across runs/engines (unlike Bernoulli
  sampleBy), one shuffle on the stratum key. The standard way to cap a
  dominant source in a data mixture.
- proportional_sample: seeded per-stratum Bernoulli fractions
  (df.sampleBy wrapper) for ratio-based mixing at scale where exact
  counts don't matter.
- sequence_packing: assign documents to fixed-token-budget packs by
  running cumulative sum — the streaming/contiguous packing used to
  fill context windows. Deterministic given an ordering column; packs
  at bucket boundaries may exceed the budget by < one document (greedy
  bin packing needs per-partition state; this is the shuffle-free form).
- temperature_mix: the multi-domain sampling rule of multilingual /
  multi-source pretraining (T5 §3.4.3 "examples-proportional mixing
  with temperature", XLM-R): domain d sampled ∝ count_d^(1/T),
  upweighting tails. Selection is a deterministic seeded-hash
  threshold, so the mixture is exactly reproducible across runs,
  partitionings, and engines — df.sample cannot promise that.
- epoch_expand: fractional dataset REPEATS for data-constrained
  training (Muennighoff et al. 2023, "Scaling Data-Constrained
  Language Models"): when the budget exceeds the corpus, domains are
  repeated ~N.x epochs — floor(N) full copies per row plus one extra
  copy for a seeded-hash-selected x-fraction. In-row explode, zero
  shuffle, reproducible.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def stratified_downsample(
    df: DataFrame, stratum_col: str, n_per_stratum: int, seed: int = 42
) -> DataFrame:
    """Keep at most n rows per stratum, chosen by seeded-hash order —
    deterministic and engine-reproducible (rank by xxhash64(all columns,
    seed), tiebreak included in the hash input)."""
    w = Window.partitionBy(stratum_col).orderBy(
        F.xxhash64(F.struct(*df.columns), F.lit(seed))
    )
    return df.withColumn("__rn", F.row_number().over(w)).where(
        F.col("__rn") <= n_per_stratum
    ).drop("__rn")


def proportional_sample(
    df: DataFrame, stratum_col: str, fractions: dict, seed: int = 42
) -> DataFrame:
    """Per-stratum Bernoulli sampling (df.sampleBy) — ratio mixing."""
    return df.sampleBy(stratum_col, fractions, seed)


def temperature_weights(
    counts: dict[str, int], temperature: float, target_total: int
) -> dict[str, float]:
    """Per-domain KEEP probabilities for a temperature-T mixture.

    w_d ∝ count_d^(1/T) (T=1 proportional; T→∞ uniform over domains);
    p_d = min(1, target_total·w_d / count_d), renormalized over the
    unsaturated domains so the expected kept total still hits
    ``target_total`` when possible (the waterfilling step — without it,
    capping a small upweighted domain at 1 silently shrinks the total).
    Driver-side math over O(|domains|) scalars.
    """
    if not counts or target_total <= 0:
        return {d: 0.0 for d in counts}
    inv_t = 1.0 / temperature
    # sorted: every float fold below (z sums, budget subtraction) runs
    # in domain order, so the probabilities are bit-identical across
    # partitionings/collect orders — and SQL-replicable by an oracle
    free = {d: counts[d] for d in sorted(counts, key=str)}
    probs = {d: 0.0 for d in counts}
    budget = float(target_total)
    # waterfilling converges in ≤ |domains| rounds: each round either
    # saturates ≥1 domain or terminates
    while free and budget > 1e-12:
        z = sum(c**inv_t for c in free.values())
        sat = {
            d for d, c in free.items() if budget * (c**inv_t) / z >= c
        }
        if not sat:
            for d, c in free.items():
                probs[d] = budget * (c**inv_t) / z / c
            break
        for d in sorted(sat, key=str):
            probs[d] = 1.0
            budget -= free.pop(d)
    return probs


def temperature_mix(
    df: DataFrame,
    domain_col: str,
    target_total: int,
    temperature: float = 2.0,
    seed: int = 42,
    weight_col: str | None = None,
) -> DataFrame:
    """Temperature-sampled mixture: keep each row of domain d with
    probability p_d from ``temperature_weights``, decided by a seeded
    hash of the whole row — deterministic, no shuffle at all (the
    domain counts are one map-side-combined aggregate of |domains|
    rows; selection is a scan-attached filter).

    At T>1 tail domains keep a larger share than proportional; head
    domains are downsampled toward the target. Rows keep iff
    uniform_hash(row, seed) < p_d where uniform_hash maps xxhash64 onto
    [0,1) — the same row always gets the same draw.

    ``weight_col`` switches the domain mass from ROW COUNTS to a
    per-row weight sum (token or char counts — the units the published
    recipes actually temper: T5 §3.4.3 and XLM-R §3.1 sample by
    language SIZE, not document count). ``target_total`` is then in the
    same units, and p_d caps at 1 per unit-mass exactly as before; the
    waterfilling math is unchanged because it never looks at what the
    masses count.
    """
    agg = (
        F.count("*") if weight_col is None else F.sum(weight_col)
    ).alias("n")
    counts = {
        r[domain_col]: r["n"]
        for r in df.groupBy(domain_col).agg(agg).collect()
    }
    probs = temperature_weights(counts, temperature, target_total)
    pmap = F.create_map(
        *[x for d, p in sorted(probs.items()) for x in (F.lit(d), F.lit(float(p)))]
    )
    u = (F.pmod(F.xxhash64(F.struct(*df.columns), F.lit(seed)), F.lit(1 << 32))) / F.lit(
        float(1 << 32)
    )
    return df.where(u < pmap[F.col(domain_col)])


def epoch_expand(
    df: DataFrame,
    domain_col: str,
    epochs: dict[str, float],
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Repeat each domain's rows ``epochs[domain]`` times (fractional):
    floor(e) full copies of every row, plus one extra copy for the
    deterministic frac(e)-share of rows chosen by seeded hash — so a
    domain at e=2.5 contributes every row twice and half the rows a third
    time, totalling ≈ 2.5·n rows. Domains missing from ``epochs``
    default to 1.0; e < 1 downsamples (0 full copies, an e-share keeps
    one).

    Output: original columns + ``epoch`` (0-based copy index) —
    (id, epoch) is unique, so downstream shard layout can re-key on it.
    Plan: a broadcast map literal + ONE in-row explode of
    sequence(0, copies-1); zero shuffle, and a row's copy count depends
    only on (id, seed) — the expansion replays bit-for-bit.
    """
    full_map = F.create_map(
        *[
            x
            for d, e in sorted(epochs.items())
            for x in (F.lit(d), F.lit(int(math.floor(e))))
        ]
    )
    frac_map = F.create_map(
        *[
            x
            for d, e in sorted(epochs.items())
            for x in (F.lit(d), F.lit(float(e - math.floor(e))))
        ]
    )
    u = (F.pmod(F.xxhash64(id_col, F.lit(seed)), F.lit(1 << 32))) / F.lit(float(1 << 32))
    full = F.coalesce(full_map[F.col(domain_col)], F.lit(1))
    frac = F.coalesce(frac_map[F.col(domain_col)], F.lit(0.0))
    copies = full + (u < frac).cast("int")
    return (
        df.withColumn("__copies", copies)
        .where(F.col("__copies") > 0)
        .withColumn("epoch", F.explode(F.sequence(F.lit(0), F.col("__copies") - 1)))
        .drop("__copies")
    )


def sequence_packing(
    df: DataFrame,
    token_col: str,
    budget: int,
    order_col: str,
) -> DataFrame:
    """Assign each row a pack_id so consecutive rows (by order_col) fill
    ~budget tokens per pack: pack_id = exclusive-prefix-sum(tokens) DIV
    budget.

    The running total is the distributed two-phase scan
    (sources/shards.global_prefix_sum: range exchange + per-partition
    window + broadcast offset map) — earlier rounds used a global
    window here, which is an Exchange SinglePartition funneling the
    corpus through one task; the assignment formula (and the gate
    oracle hash) is unchanged.
    """
    from pixie_spark.sources.shards import global_prefix_sum

    out = global_prefix_sum(df, token_col, order_col, out_col="__cum_prev")
    # decimal division: cum_prev is int64 and double division misbins
    # beyond 2^53 (verified: 2^56-3 / 4096 lands one pack too high)
    return out.withColumn(
        "pack_id",
        F.floor(F.col("__cum_prev").cast("decimal(38,0)") / budget).cast("long"),
    ).drop("__cum_prev")


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (Xie et al. 2023, "Data Selection
# for Language Models via Importance Resampling")
# ---------------------------------------------------------------------------
#
# Select raw-corpus documents whose hashed-n-gram distribution looks
# like a TARGET corpus: per-bucket log-likelihood ratios between the
# target and raw bucket distributions, summed per document, then
# Gumbel-top-k resampling proportional to the importance weight.
#
# Scale shape: features are the dedup family's 8-byte hashed shingle
# ids folded into n_buckets; both distributions are bounded n_buckets-
# row aggregates (driver-side arrays <= 64K floats); scoring is a
# broadcast join of the tiny (bucket, logratio) table against the
# per-position bucket rows plus a per-doc sum — one 8-byte-key shuffle
# over the raw corpus, nothing quadratic anywhere.


def _gram_buckets(
    df: DataFrame, id_col: str, text_col: str, n: int = 2, n_buckets: int = 8192
) -> DataFrame:
    """(doc, bucket) — one row per word-n-gram POSITION, bucket =
    xxhash64 over the n words mod n_buckets (window-lead, no n-gram
    string ever materialized; see dedup._hashed_shingle_rows)."""
    from .dedup import _hashed_shingle_rows

    rows = _hashed_shingle_rows(df, id_col, text_col, n)
    return rows.select("doc", F.pmod("sid", F.lit(n_buckets)).alias("bucket"))


def bucket_distribution(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    n_buckets: int = 8192,
    smoothing: float = 1.0,
) -> list[float]:
    """Hashed-n-gram bucket distribution of a corpus as a normalized
    length-n_buckets list (add-``smoothing`` smoothed, so log() is
    always finite). The collect is bounded at n_buckets rows regardless
    of corpus size."""
    counts = (
        _gram_buckets(df, id_col, text_col, n, n_buckets)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    arr = [smoothing] * n_buckets
    for r in counts:
        arr[int(r["bucket"])] += r["c"]
    total = sum(arr)
    return [v / total for v in arr]


def importance_scores(
    df: DataFrame,
    log_ratio: list[float],
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    n_buckets: int | None = None,
) -> DataFrame:
    """(doc, score): score = sum over the doc's n-gram positions of
    log p_target(bucket) - log q_raw(bucket) — the DSIR document
    log-importance. Docs too short to have any n-gram score 0.

    The (bucket, logratio) table is dimension-sized -> broadcast; the
    corpus side is (doc, bucket) 8-byte rows."""
    if n_buckets is None:
        n_buckets = len(log_ratio)
    rows = _gram_buckets(df, id_col, text_col, n, n_buckets)
    spark = df.sparkSession
    ratio_df = spark.createDataFrame(
        [(b, float(v)) for b, v in enumerate(log_ratio)], "bucket long, logratio double"
    )
    per_doc = (
        rows.join(F.broadcast(ratio_df), "bucket")
        .groupBy("doc")
        .agg(F.sum("logratio").alias("score"))
    )
    ids = df.select(F.col(id_col).alias("doc"))
    return ids.join(per_doc, "doc", "left").select(
        "doc", F.coalesce("score", F.lit(0.0)).alias("score")
    )


def dsir_resample(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    n_buckets: int = 8192,
    seed: int = 42,
    gumbel: bool = True,
) -> DataFrame:
    """Keep the k raw documents resampled toward the target
    distribution: Gumbel-top-k over the importance scores samples
    WITHOUT replacement with P(doc) ∝ exp(score) — the paper's
    importance resampling — using deterministic per-doc Gumbel noise
    derived from xxhash64(doc, seed), so the selection is reproducible
    across runs and engines. ``gumbel=False`` degenerates to greedy
    top-k by score (highest-importance selection, no sampling).

    The top-k is an orderBy+limit -> TakeOrderedAndProject (per-
    partition heaps + driver merge of k rows, never a global sort).
    """
    p = bucket_distribution(target, id_col, text_col, n, n_buckets)
    q = bucket_distribution(raw, id_col, text_col, n, n_buckets)
    lr = [math.log(pb) - math.log(qb) for pb, qb in zip(p, q)]
    scores = importance_scores(raw, lr, id_col, text_col, n, n_buckets)
    if gumbel:
        # u in (0,1) from the top 52 bits of the doc hash; g = Gumbel(0,1)
        u = (F.pmod(F.xxhash64("doc", F.lit(seed)), F.lit(2**52)) + 0.5) / F.lit(
            float(2**52)
        )
        key = F.col("score") + (-F.log(-F.log(u)))
    else:
        key = F.col("score")
    kept = (
        scores.withColumn("__key", key)
        .orderBy(F.col("__key").desc(), "doc")
        .limit(k)
        .select("doc", "score")
    )
    return raw.join(
        kept.withColumnRenamed("doc", id_col), id_col
    )


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    fractions: dict[str, float] | None = None,
    id_col: str = "doc_id",
    seed: int = 0,
    stats: dict | None = None,
) -> DataFrame:
    """Train/val/test assignment that near-duplicate clusters can never
    straddle — the split-leakage guard for evaluation hygiene (the same
    failure mode as benchmark contamination, but INTERNAL: a near-dup
    of a training document landing in the held-out split inflates eval).

    ``pairs`` is any near-dup pair frame (``doc_a``/``doc_b`` — minhash,
    simhash, embedding, or line-overlap based). The unit of assignment
    is the CONNECTED COMPONENT: every doc hashes through its cluster
    representative (min doc_id of the component, singletons represent
    themselves), so the whole cluster moves together. Assignment is the
    seeded-xxhash64-uniform threshold chain over cumulative fractions —
    deterministic, reproducible, and independent of row order.

    Scale shape: components come from connected_components
    (operators/clustering.py): a pair graph of at most
    ``LOCAL_MAX_EDGES`` edges is union-found on the driver, a larger
    one runs the alternating-star closure (8-byte keys, no adjacency
    lists); the membership join is an equijoin on the 8-byte
    ``id_col``; the split decision itself is an in-row expression.
    Pass ``stats`` to receive the closure's ``edges`` and ``rounds``.
    ``rounds`` is 0 when the graph was resolved on the driver; above
    the cap it is the scale-up invariant (rounds stay flat in data size
    — Kiveris et al.; the sf1 adjudication in SCALE.md reads it through
    this hook).
    """
    from .clustering import connected_components

    if fractions is None:
        fractions = {"train": 0.9, "val": 0.05, "test": 0.05}
    total = sum(fractions.values())
    comp = connected_components(pairs, stats=stats).withColumnRenamed("node", id_col)
    out = df.join(comp, id_col, "left").withColumn(
        "rep", F.coalesce(F.col("component"), F.col(id_col))
    )
    u = (F.pmod(F.xxhash64("rep", F.lit(seed)), F.lit(2**52)) + 0.5) / F.lit(
        float(2**52)
    )
    expr = None
    acc = 0.0
    *head, (last_name, _) = list(fractions.items())
    for name, frac in head:
        acc += frac / total
        cond = u < F.lit(acc)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    expr = F.lit(last_name) if expr is None else expr.otherwise(F.lit(last_name))
    return out.select(
        F.col(id_col), F.col("rep").alias("cluster_rep"), expr.alias("split")
    )
