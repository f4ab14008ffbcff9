"""Time-series pattern search & anomaly flags over metric streams.

The observability side of the engine produces per-entity metric series
(pod CPU, request rate, latency — the reference's counter/gauge tables,
src/stirling's network_stats/process_stats schemas); these operators
answer the two questions an operator actually asks of them: "where else
does THIS shape occur?" (incident-signature search — cf. the
subsequence-similarity literature, e.g. "Time Series Similarity Search
for Streaming Data in Distributed Systems", EDBT 2019) and "which
points are abnormal for their own series?" (rolling z-score).

Both are expressed with the same window-lead machinery the dedup family
uses for shingles — per-entity windows ordered by time, all-native
arithmetic, one shuffle on the entity key, no Python anywhere:

- pattern_search: slide a length-m window over every entity's series,
  z-normalize each window IN-ROW, score against the z-normalized query
  pattern by squared Euclidean distance (the UCR-suite distance), and
  return the global top-k matches. Z-normalization makes the match
  amplitude/offset-invariant — a CPU spike shape matches whether it
  peaks at 40% or 90%.
- rolling_anomalies: trailing mean/std per entity (excluding the
  current point — a spike must not inflate its own baseline), flag
  |z| ≥ threshold once the baseline has enough support.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _znorm_pattern(pattern: list[float]) -> list[float]:
    m = len(pattern)
    mu = sum(pattern) / m
    var = sum((v - mu) ** 2 for v in pattern) / m
    sd = math.sqrt(var)
    if sd == 0.0:
        return [0.0] * m
    return [(v - mu) / sd for v in pattern]


def pattern_scores(
    df: DataFrame,
    pattern: list[float],
    entity_col: str = "entity",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Score EVERY length-m window of every entity's series against the
    z-normalized pattern: (entity_col, ts_col of the window start,
    dist). The distributed scoring core shared by pattern_search (which
    adds a global top-k) and the streaming batch fallback (which adds a
    dist-threshold filter — no top-k, so nothing is ever collected to
    the driver for an unbounded frame).

    A time series is a FUNCTION of time, so duplicate (entity, ts)
    ingest rows are collapsed HERE — ``min(value)`` per (entity, ts),
    bit-exact under any execution order and idempotent on
    already-unique input — rather than left as a docstring contract
    for each caller (round-7 advice): over duplicate timestamps the
    equal-ts interleave is arbitrary and lead() window contents would
    be partitioning-dependent.

    Plan: ONE shuffle total — an explicit repartition on the entity
    key alone satisfies BOTH the collapse aggregate (hash(entity)
    clusters (entity, ts) too) and the per-entity lead window; the
    length-m windows come from m-1 ``lead``s over the per-entity time
    order (identical to the shingle construction); the window mean/std
    and the distance are a fixed-size native arithmetic expression
    assembled as one SQL string (m terms — the kmeans_fit py4j
    lesson). Flat windows (zero variance) cannot match a non-flat
    pattern and are scored +inf via a guarded division.
    """
    m = len(pattern)
    if m < 2:
        raise ValueError("pattern must have at least 2 points")
    zq = _znorm_pattern(pattern)
    df = (
        df.select(entity_col, ts_col, value_col)
        .repartition(entity_col)
        .groupBy(entity_col, ts_col)
        .agg(F.min(value_col).alias(value_col))
    )
    win = Window.partitionBy(entity_col).orderBy(ts_col)
    vals = [F.col(value_col).cast("double").alias("v0")] + [
        F.lead(F.col(value_col).cast("double"), j).over(win).alias(f"v{j}")
        for j in range(1, m)
    ]
    rows = df.select(F.col(entity_col), F.col(ts_col), *vals).where(
        F.col(f"v{m - 1}").isNotNull()
    )
    mean = "((" + " + ".join(f"v{i}" for i in range(m)) + f") / {m})"
    var = "((" + " + ".join(f"(v{i} - __mu) * (v{i} - __mu)" for i in range(m)) + f") / {m})"
    dist = " + ".join(
        f"((v{i} - __mu) / __sd - ({zq[i]!r})) * ((v{i} - __mu) / __sd - ({zq[i]!r}))"
        for i in range(m)
    )
    return (
        rows.selectExpr(entity_col, ts_col, *[f"v{i}" for i in range(m)], f"{mean} AS __mu")
        .selectExpr(entity_col, ts_col, *[f"v{i}" for i in range(m)], "__mu", f"sqrt({var}) AS __sd")
        .selectExpr(
            entity_col,
            ts_col,
            f"CASE WHEN __sd = 0.0 THEN double('inf') ELSE {dist} END AS dist",
        )
    )


def pattern_search(
    df: DataFrame,
    pattern: list[float],
    entity_col: str = "entity",
    ts_col: str = "ts",
    value_col: str = "value",
    k: int = 10,
) -> DataFrame:
    """Top-k z-normalized subsequence matches of ``pattern`` across every
    entity's series. Output: (entity_col, ts_col of the window start,
    dist, rank) — dist = Σ (zw_i - zq_i)², lower is a better match.

    Duplicate (entity, ts) ingest rows are collapsed inside
    pattern_scores (min(value) per point — deterministic, idempotent),
    so the result never depends on the equal-ts interleave regardless
    of caller discipline (round-7 advice).

    pattern_scores does the distributed scoring; the global top-k is
    orderBy+limit → TakeOrderedAndProject (k rows to the driver, never
    the full window set).
    """
    scored = pattern_scores(df, pattern, entity_col, ts_col, value_col)
    topk = scored.orderBy(F.asc("dist"), entity_col, ts_col).limit(k)
    w = Window.orderBy(F.asc("dist"), entity_col, ts_col)
    # rank over k collected rows only — the limit already reduced to k
    return topk.withColumn("rank", F.row_number().over(w))


def _anomaly_flags(df: DataFrame, win, value_col: str, min_support: int,
                   z_threshold: float) -> DataFrame:
    """The trailing-z expressions over an arbitrary window spec — shared
    by the single-window path and the chunked fallback so the two can
    never drift."""
    v = F.col(value_col).cast("double")
    mu = F.avg(v).over(win)
    sd = F.stddev_pop(v).over(win)
    n = F.count(v).over(win)
    z = F.when((n >= min_support) & (sd > 0), (v - mu) / sd)
    flat_jump = (n >= min_support) & (sd == 0) & (v != mu)
    return (
        df.withColumn("baseline_n", n)
        .withColumn("z", z)
        .withColumn(
            "is_anomaly",
            F.coalesce(F.abs(F.col("z")) >= z_threshold, F.lit(False)) | F.coalesce(flat_jump, F.lit(False)),
        )
    )


def rolling_anomalies(
    df: DataFrame,
    entity_col: str = "entity",
    ts_col: str = "ts",
    value_col: str = "value",
    baseline_rows: int = 20,
    min_support: int = 8,
    z_threshold: float = 3.0,
    chunked: bool | None = None,
    chunk_rows: int = 32768,
) -> DataFrame:
    """Flag points abnormal against their OWN series' trailing baseline:
    z = (v - mean_prev) / std_prev over the previous ``baseline_rows``
    points (current point excluded so a spike can't inflate its own
    baseline). A PERFECTLY FLAT baseline has sd = 0: z stays null (no
    divide-by-zero) but any departure from the constant is still
    flagged — a constant series jumping is the clearest anomaly there
    is. Points with fewer than ``min_support`` trailing points are
    warm-up and unflagged. Output: input columns +
    (baseline_n, z, is_anomaly).

    Default path: one shuffle on the entity key; the trailing moments
    are a single native window aggregate pair over the same frame.

    LOW-CARDINALITY FALLBACK (round-8 verdict #5): a per-entity window
    bounds parallelism at distinct(entity) — at the sf1 tier the events
    table has 5 entities, so 1M rows ran on 5 window partitions however
    many cores the cluster has. When ``chunked`` (auto-probed by
    default: engages iff distinct(entity) < defaultParallelism AND the
    average series is ≥2 blocks long) the series is split into
    ``chunk_rows``-row blocks and the trailing moments run per
    (entity, block) — parallelism becomes total_rows/chunk_rows instead
    of distinct(entity) — with the previous block's last
    ``baseline_rows`` rows duplicated in as boundary context so every
    trailing frame sees EXACTLY the rows the global window would have:
    same rows, same order, same accumulation — bit-identical output
    (parity-tested). Block assignment needs a global per-entity row
    number, itself computed scalably: a monotone time-bucketing (≈1
    bucket per chunk) gives (entity, bucket) groups whose counts
    prefix-sum into offsets on the tiny counts frame, then
    row_number runs per (entity, bucket), never per entity.

    The chunked machinery keys joins on (entity, bucket): a NULL entity,
    a NULL ts, or a ts that does not cast to BIGINT would silently fall
    out of the inner joins where the single-window path keeps the row —
    so the guard runs on the PINNED copy, after the materialize cut.
    (A probe on the raw frame would read a different evaluation than
    the one the chunked path processes: a non-deterministic source
    could pass the probe and then materialize a bad-key row — the same
    divergence class the cut exists to close.) The auto probe's
    cardinality estimate stays on the raw frame — it only picks a
    strategy — but its bad-key verdict, like the explicit mode's, is a
    bounded limit-1 existence check on the cut (cheap: cached blocks),
    falling back to the single-window path ON THE CUT when any bad key
    exists.
    """
    if chunked and df.isStreaming:
        # the chunked machinery needs a global per-entity row number and
        # a materialize cut — neither exists for an unbounded stream.
        # Fail HERE with the limitation named, not three joins deep at
        # the materialize cut of the row-numbered frame.
        raise ValueError(
            "rolling_anomalies(chunked=True) requires a batch frame: the "
            "chunked path materializes the source and row-numbers whole "
            "series, which is undefined on a stream — use "
            "streaming.stateful.streaming_anomalies for streaming frames"
        )
    bad_key = F.col(entity_col).isNull() | F.expr(
        f"CAST({ts_col} AS BIGINT)"
    ).isNull()
    if chunked is None and not df.isStreaming:
        # strategy probe only — results never depend on this evaluation
        par = df.sparkSession.sparkContext.defaultParallelism
        probe = df.agg(
            F.approx_count_distinct(entity_col).alias("e"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        chunked = probe["e"] < par and probe["n"] >= probe["e"] * 2 * chunk_rows
    if chunked and not df.isStreaming:
        from pixie_spark.materialize import materialize

        # ONE evaluation of the source feeds every chunked-path
        # consumer: the stats broadcast, the cnt/off prefix-sum branch,
        # and the main row-numbered branch all re-scan `df` otherwise —
        # for a non-deterministic source the per-(entity,bucket) counts
        # could disagree with the rows actually row-numbered,
        # corrupting __rn and block assignment (the same divergence
        # class the b-cut below pins for the two union branches).
        df = materialize(df)
        # bad-key verdict on the SAME evaluation the path will process
        chunked = df.where(bad_key).limit(1).count() == 0
    if not chunked:
        if not df.isStreaming:
            # Pin the per-entity exchange at the configured shuffle
            # parallelism (r11: AQE coalesced the small-byte entity
            # shuffle to ONE partition and the trailing-window stage —
            # 2.6 s of task CPU at sf0.1 — ran serial; an explicit
            # numPartitions repartition is exempt from coalescing, and
            # the window reuses it, so the exchange count is unchanged).
            from pixie_spark.partitioning import by_key

            df = by_key(df, entity_col)
        win = (
            Window.partitionBy(entity_col)
            .orderBy(ts_col)
            .rowsBetween(-baseline_rows, -1)
        )
        return _anomaly_flags(df, win, value_col, min_support, z_threshold)

    chunk_rows = max(chunk_rows, 2 * baseline_rows)
    t = F.col(ts_col).cast("long")
    # ~1 time bucket per chunk: exact integer width (`div`, never
    # float division — a double intermediate could shift the width for
    # ts spans past 2^53) so bucket ids are deterministic and monotone
    # in ts
    stats = (
        df.groupBy(entity_col)
        .agg(F.count(F.lit(1)).alias("__n_e"), F.min(t).alias("__t0"), F.max(t).alias("__t1"))
        .withColumn("__nb", F.greatest(F.lit(1), F.ceil(F.col("__n_e") / chunk_rows)).cast("long"))
        .withColumn("__w", F.expr("(__t1 - __t0) div __nb + 1"))
    )
    b = df.join(F.broadcast(stats), entity_col).withColumn(
        "__bkt", F.expr(f"(CAST({ts_col} AS BIGINT) - __t0) div __w")
    )
    # offsets: prefix-sum of per-(entity,bucket) counts — a frame of
    # ~n_buckets rows, so its per-entity window is trivially cheap
    cnt = b.groupBy(entity_col, "__bkt").agg(F.count(F.lit(1)).alias("__c"))
    w_off = (
        Window.partitionBy(entity_col)
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = cnt.select(
        entity_col, "__bkt", F.coalesce(F.sum("__c").over(w_off), F.lit(0)).alias("__off")
    )
    b = b.join(F.broadcast(off), [entity_col, "__bkt"])
    w_rn = Window.partitionBy(entity_col, "__bkt").orderBy(ts_col)
    b = b.withColumn("__rn", F.col("__off") + F.row_number().over(w_rn) - 1)
    b = b.withColumn("__blk", F.expr(f"__rn div {chunk_rows}"))
    # ONE evaluation of the row-numbered frame feeds BOTH union branches
    # below: row_number over tied timestamps is an arbitrary (legal)
    # interleave, and two independent evaluations could tie-break
    # differently — a boundary-context row would then disagree with the
    # main branch about which rows occupy the block's tail, double- or
    # under-counting a trailing frame. (Pinning the source above is not
    # enough for this: the window's shuffle re-fetches in arbitrary
    # order per evaluation.)
    b = materialize(b)
    # boundary context: each block's last baseline_rows rows also feed
    # the NEXT block's first trailing frames (their own output dropped)
    ctx = (
        b.where(F.col("__rn") % chunk_rows >= chunk_rows - baseline_rows)
        .withColumn("__blk", F.col("__blk") + 1)
        .withColumn("__ctx", F.lit(True))
    )
    full = b.withColumn("__ctx", F.lit(False)).unionByName(ctx)
    win = (
        Window.partitionBy(entity_col, "__blk")
        .orderBy("__rn")
        .rowsBetween(-baseline_rows, -1)
    )
    out = _anomaly_flags(full, win, value_col, min_support, z_threshold)
    return out.where(~F.col("__ctx")).select(
        *df.columns, "baseline_n", "z", "is_anomaly"
    )


def resample_ffill(
    df: DataFrame,
    step: int,
    entity_col: str = "entity",
    ts_col: str = "ts",
    value_col: str = "value",
    max_fill_steps: int | None = None,
) -> DataFrame:
    """Resample each entity's series onto a regular time grid with
    forward fill — the alignment step before rates, rollups, and
    charting (irregular scrape times → comparable per-step series; the
    reference's UI does this client-side per chart, here it is an
    operator so downstream aggs see a dense grid).

    Grid: every multiple of ``step`` in [floor(min_ts), floor(max_ts)]
    per entity (floor-aligned so grids from different entities line
    up). Each grid point takes the LAST observation at-or-before it
    (as-of semantics); leading points before the first observation are
    null. ``max_fill_steps`` bounds staleness: a value older than
    max_fill_steps·step is not carried (nulls instead — a dead series
    must not report its last value forever).

    Plan: per-entity (min,max) agg → in-row sequence() explode builds
    the grid (bounded by range/step per entity, never a cross join) →
    union grid points with observations → one window pass per entity
    ordered by time where last(value, ignorenulls) fills forward —
    one shuffle on the entity key total. Output:
    (entity, ts, value, filled: bool).
    """
    # Exact integer floor division: `/` on two longs is DOUBLE division
    # in Spark, and ns-epoch values exceed 2^53 — the quotient rounds
    # and floor() lands one step off near boundaries (same rule as
    # sequence_packing's 2^53 note). Decimal division is no rescue
    # either: Spark caps the result scale at 6 under allowPrecisionLoss
    # and ROUNDS there too. So compute the grid index per row with the
    # integral `div` operator (exact at any magnitude), correcting the
    # truncate-toward-zero of `div` to floor semantics for negative ts
    # (Spark's % carries the dividend's sign, so a negative remainder
    # means the quotient truncated up past the floor).
    t = f"CAST({ts_col} AS BIGINT)"
    bin_ = F.expr(
        f"({t} - (({t} % {step} + {step}) % {step})) div {step}"
    )
    bounds = df.withColumn("__bin", bin_.cast("long")).groupBy(entity_col).agg(
        F.min("__bin").alias("__lo"),
        F.max("__bin").alias("__hi"),
    )
    grid = bounds.select(
        entity_col,
        F.explode(F.sequence(F.col("__lo") * step, F.col("__hi") * step, F.lit(step))).alias(
            ts_col
        ),
    ).withColumn("__is_grid", F.lit(True))
    obs = df.select(
        entity_col,
        F.col(ts_col).cast("long").alias(ts_col),
        F.col(value_col).cast("double").alias("__v"),
        F.lit(False).alias("__is_grid"),
    )
    # observations sort BEFORE the grid point at the same ts (grid rows
    # carry null __v and must pick the tie up via the window's order)
    both = grid.withColumn("__v", F.lit(None).cast("double")).unionByName(obs)
    win = (
        Window.partitionBy(entity_col)
        .orderBy(F.col(ts_col), F.col("__is_grid").cast("int"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = F.last("__v", ignorenulls=True).over(win)
    src_ts = F.last(F.when(F.col("__v").isNotNull(), F.col(ts_col)), ignorenulls=True).over(win)
    out = (
        both.withColumn("__fv", filled)
        .withColumn("__src", src_ts)
        .where(F.col("__is_grid"))
    )
    if max_fill_steps is not None:
        horizon = max_fill_steps * step
        out = out.withColumn(
            "__fv",
            F.when(F.col(ts_col) - F.col("__src") <= horizon, F.col("__fv")),
        )
    return out.select(
        entity_col,
        ts_col,
        F.col("__fv").alias(value_col),
        (F.col("__fv").isNotNull() & (F.col("__src") != F.col(ts_col))).alias("filled"),
    )
