"""Streaming ingestion dedup: the production crawl-ingest loop.

A live corpus is not deduplicated by re-minhashing 100 TB per arrival;
the production shape (Lee et al. 2022 §4's daily-snapshot loop, run
continuously) is a PERSISTED MinHash-LSH index plus, per micro-batch:

    1. signature + band entries for the batch (operators/incremental.
       build_index — deterministic xxhash64 end-to-end),
    2. near-dup pairs INVOLVING the batch: new-vs-corpus via a
       broadcast probe of the stored entries (the corpus index never
       shuffles) and new-vs-new via the ordinary posting-list path
       (operators/incremental.incremental_pairs),
    3. append the batch's rows to the index — yesterday's corpus is
       never rewritten.

Because hashing is deterministic and every pair involves the LATER
document's batch, the accumulated pair set over any stream prefix
EQUALS a full from-scratch rebuild over the same prefix — the
incremental ≡ rebuild theorem of operators/incremental.py iterated
per micro-batch (duality test in tests/test_stateful.py).

Exactly-once: foreachBatch re-runs a failed micro-batch, so every
parquet write here is keyed by a ``batch_id=`` partition and uses
DYNAMIC partition overwrite (the sources/sink.py replay pattern) — a
retried batch REPLACES its own partition instead of duplicating rows,
and the index/old-pairs read side filters ``batch_id < current`` so a
partial write from the failed attempt is never an input to the retry.
tests/test_stateful.py invokes each sink twice with the same batch_id
and asserts the accumulated outputs equal a single run.

Compaction (:func:`compact_batches`) folds the per-trigger partition
directories into a single consolidated GENERATION partition with a
negative sentinel id, ``batch_id = -(upto + 1)``. The swap is
crash-atomic on EVERY Spark-supported filesystem: the consolidated
rows stream through a dot-prefixed temp directory (invisible to
parquet readers), move into place via a filesystem rename, and COMMIT
via a single-object GEN_MARKER put inside the generation directory —
readers only honor marked generations, so even where the rename is a
non-atomic copy+delete (object stores) a crashed partial generation
stays invisible while its per-batch sources remain readable; the
folded sources are deleted only after the marker lands, and a re-run
sweeps unmarked debris and completes any interrupted cleanup
(injected-failure tests at every window in tests/test_stateful.py).
The reference contract being matched: the table store's compaction
never loses hot-store rows (src/table_store/table/table.h:85-104).
Indexes compacted by the pre-marker code migrate transparently: a
marker-less generation whose sources are gone is recognized as
legacy-committed (its rows are the only copy) and adopted — see
:func:`_legacy_committed` for the recognition rule and its one
documented residual ambiguity.

All directory listing / deletion / renaming goes through the Hadoop
FileSystem API (via the session JVM), so the module works against any
Spark-supported filesystem whose connector is on the classpath — not
just ``file:``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pixie_spark.operators.incremental import build_index, incremental_pairs

BATCH_COL = "batch_id"


# Hadoop-FileSystem I/O (object-store safe — no glob/shutil/os.path I/O)
from pixie_spark.fsutil import (  # noqa: E402
    child_dirs as _child_dirs,
    delete_dir as _delete_dir,
    fs_for as _fs_for,
    jpath as _jpath,
    rename as _rename,
    touch as _touch,
)
from pixie_spark.fsutil import partition_dirs as _partition_dirs  # noqa: E402
from pixie_spark.materialize import materialize

# Generation commit record (see compact_batches). A consolidated
# generation COUNTS only once this marker exists inside its directory:
# on object stores the commit "rename" is a copy+delete, so a crash
# mid-copy can leave a PARTIAL generation directory visible — without
# the marker gate, readers would prefer it (most-negative id wins) and
# skip the per-batch directories it claims to cover. The marker is a
# single-object PUT written only after the rename returns, so it is
# atomic everywhere; unmarked generation directories are invisible to
# every read and swept by the next compact_batches run.
GEN_MARKER = "_PX_GEN_COMMITTED"


def _gen_marked(spark: SparkSession, gen_dir: str) -> bool:
    fs, jp = _fs_for(spark, gen_dir + "/" + GEN_MARKER)
    return bool(fs.exists(jp))


def _legacy_committed(dirs: dict[int, str], gen_id: int) -> bool:
    """Migration guard for indexes compacted by the pre-GEN_MARKER code
    (its commit point was the rename itself, so its generations carry no
    marker). A marker-less generation is recognized as LEGACY-COMMITTED
    exactly when nothing that could have built it remains on disk: the
    marker-era code deletes a generation's sources only AFTER the marker
    lands, so a marker-era pre-mark crash always leaves every source
    intact — if no per-batch partition the generation covers and no
    older generation exist, only the legacy code (which deleted sources
    on commit) can have produced this layout, and the rows it holds are
    the ONLY copy. Treating it as uncommitted would silently drop them
    from reads and let the sweep delete them irreversibly (round-7
    advice, ingest.py:456).

    Residual ambiguity (documented, not resolvable from the layout): a
    legacy run that crashed MID-CLEANUP — generation committed by its
    rename, some sources already deleted — is indistinguishable from a
    marker-era pre-mark crash. It stays invisible to reads (this guard
    returns False), but the sweep QUARANTINES it instead of deleting
    (see :func:`_sources_intact`) because its rows for the already-
    deleted batches may be the only copy. The legacy code ran its
    cleanup immediately after the rename in the same call, so surviving
    pre-upgrade indexes are overwhelmingly in the fully-cleaned state
    this guard recognizes."""
    covered = -gen_id - 1
    for i in dirs:
        if i == gen_id:
            continue
        if 0 <= i <= covered:
            return False  # a covered per-batch source survives
        if gen_id < i < 0:
            # an older (less negative) generation — committed or not —
            # is exactly what a marker-era fold would have consumed
            return False
    return True


def _sources_intact(dirs: dict[int, str], committed: set[int], gen_id: int) -> bool:
    """True iff every batch the unmarked generation ``gen_id`` covers is
    still readable WITHOUT it — as its own ``batch_id=`` partition or
    through an older COMMITTED generation. A marker-era pre-mark crash
    deletes nothing, so its debris always passes; a legacy compaction
    that crashed mid-cleanup (committed by its rename, some sources
    already deleted) fails, and its rows for the deleted batches are the
    only copy — the sweep must quarantine, not delete (round-8 advice,
    ingest.py:521)."""
    covered = -gen_id - 1
    older_covered = max((-i - 1 for i in committed if i < 0), default=-1)
    return all(b in dirs or b <= older_covered for b in range(covered + 1))


def _committed_generations(spark: SparkSession, path: str) -> tuple[dict[int, str], set[int]]:
    """(all ``batch_id=`` partition dirs, ids of COMMITTED generations).
    Committed = carries GEN_MARKER, or recognized as a legacy-committed
    generation (see :func:`_legacy_committed`)."""
    dirs = _partition_dirs(spark, path, BATCH_COL)
    marked = {i for i, d in dirs.items() if i < 0 and _gen_marked(spark, d)}
    committed = set(marked)
    for i in dirs:
        if i < 0 and i not in marked and _legacy_committed(dirs, i):
            committed.add(i)
    return dirs, committed


def _list_batch_ids(spark: SparkSession, path: str) -> list[int]:
    """Sorted ids of the ``batch_id=`` partition directories under
    ``path`` ([] if the path does not exist yet). Negative ids are
    consolidated generations written by :func:`compact_batches` and are
    included only when COMMITTED — their directory carries GEN_MARKER,
    or they pass the legacy-layout recognition of
    :func:`_legacy_committed` (pre-marker compactions whose sources are
    gone). Any other unmarked generation is an in-flight or crashed
    copy and must stay invisible (its per-batch sources are still on
    disk)."""
    dirs, committed = _committed_generations(spark, path)
    return sorted(i for i in dirs if i >= 0 or i in committed)


def _write_batch(df: DataFrame, path: str, batch_id: int) -> None:
    """Idempotent micro-batch write: the batch owns exactly its own
    ``batch_id=`` partition; dynamic overwrite makes a foreachBatch
    retry replace that partition byte-for-byte (sources/sink.py
    pattern). An empty batch writes no partitions and deletes none."""
    if BATCH_COL in df.columns:
        raise ValueError(
            f"input already has a '{BATCH_COL}' column — the ingest sinks "
            f"reserve it as the replay partition key and read_accumulated "
            f"drops it, so user data under that name would be silently "
            f"replaced then removed. Rename the column before ingesting."
        )
    (
        df.withColumn(BATCH_COL, F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BATCH_COL)
        .parquet(path)
    )


def _generation(ids: list[int]):
    """(sentinel_id, covered_upto) of the newest consolidated
    generation among ``ids``, or (None, -1) if never compacted. The
    newest generation is the MOST NEGATIVE sentinel (it covers the
    longest prefix); its id encodes what it folded: -(covered + 1)."""
    sentinels = [i for i in ids if i < 0]
    if not sentinels:
        return None, -1
    latest = min(sentinels)
    return latest, -latest - 1


def _visible_cond(ids: list[int], before: int | None = None):
    """Partition-prunable predicate selecting exactly the committed,
    non-superseded rows: the newest consolidated generation plus every
    per-batch partition it does not cover (and, for index reads,
    only batches EARLIER than ``before``)."""
    latest, covered = _generation(ids)
    cond = F.col(BATCH_COL) > covered
    if before is not None:
        if covered >= before:
            raise RuntimeError(
                f"index was compacted through batch {covered}, but batch "
                f"{before} is being (re)processed — compact_batches must "
                f"only fold batches the streaming checkpoint has committed "
                f"(pass checkpoint_dir to enforce this)."
            )
        cond = cond & (F.col(BATCH_COL) < int(before))
    if latest is not None:
        cond = cond | (F.col(BATCH_COL) == latest)
    return cond


def read_accumulated(spark: SparkSession, path: str) -> DataFrame:
    """The accumulated output of an ingest loop, partition column
    dropped — what a plain append sink would have produced, minus the
    duplicate rows a retry would have left behind and the per-batch
    partitions a compaction superseded."""
    ids = _list_batch_ids(spark, path)
    return (
        spark.read.parquet(path)
        .where(_visible_cond(ids))
        .drop(BATCH_COL)
    )


def _read_before(
    spark: SparkSession, path: str, batch_id: int, like: DataFrame
) -> DataFrame:
    """Index state visible to ``batch_id``: partitions written by
    EARLIER batches only (directly, or through a consolidated
    generation). A partial write from a failed attempt of this very
    batch is excluded (partition-pruned, not scanned), so the retry
    recomputes from exactly the inputs the first attempt saw."""
    ids = _list_batch_ids(spark, path)
    if ids:
        return (
            spark.read.parquet(path)
            .where(_visible_cond(ids, before=int(batch_id)))
            .drop(BATCH_COL)
        )
    return spark.createDataFrame([], like.schema)


def ingest_dedup_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    pairs_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> None:
    """One ingestion step, idempotent under re-invocation with the same
    ``batch_id`` (the foreachBatch retry contract). No per-trigger
    guard job: an empty batch flows through build_index (cheap — the
    plan is lazy and the writes emit zero partitions)."""
    spark = batch_df.sparkSession
    entries_path = os.path.join(index_dir, "entries")
    sigs_path = os.path.join(index_dir, "signatures")
    new_entries, new_sigs = build_index(
        batch_df, id_col, text_col, n=n, num_hashes=num_hashes, bands=bands
    )
    # materialize once: each feeds the pair join AND the index append
    new_entries = new_entries.transform(materialize)
    new_sigs = new_sigs.transform(materialize)
    old_entries = _read_before(spark, entries_path, batch_id, new_entries)
    old_sigs = _read_before(spark, sigs_path, batch_id, new_sigs)
    pairs = incremental_pairs(
        new_entries, new_sigs, old_entries, old_sigs,
        num_hashes=num_hashes, threshold=threshold,
    )
    _write_batch(pairs, pairs_dir, batch_id)
    _write_batch(new_entries, entries_path, batch_id)
    _write_batch(new_sigs, sigs_path, batch_id)


def streaming_ingest_dedup(
    stream: DataFrame,
    index_dir: str,
    pairs_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
):
    """writeStream writer whose foreachBatch runs the ingestion loop.

    The caller configures trigger/checkpoint and starts it:
    ``streaming_ingest_dedup(...).trigger(availableNow=True).start()``.
    ``{index_dir}/entries`` + ``{index_dir}/signatures`` hold the
    persisted index; ``pairs_dir`` accumulates (doc_a, doc_b,
    est_jaccard) with doc_a in the later batch. All three are
    ``batch_id=``-partitioned for idempotent replay; read them through
    :func:`read_accumulated`.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        ingest_dedup_batch(
            batch_df, batch_id, index_dir, pairs_dir,
            id_col=id_col, text_col=text_col,
            n=n, num_hashes=num_hashes, bands=bands, threshold=threshold,
        )

    return stream.writeStream.foreachBatch(sink).outputMode("update")


def line_dedup_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 1,
    sep: str = "\n",
    key_fn=None,
) -> None:
    """One line-dedup step, idempotent under re-invocation with the
    same ``batch_id``. Null text coalesces to '' exactly as the batch
    operator (operators/dedup.py line_level_dedup) does, preserving
    the stream≡batch duality for null-text docs."""
    import re as _re

    spark = batch_df.sparkSession
    lid_path = os.path.join(index_dir, "lids")
    pat = _re.escape(sep)
    arr = F.split(F.coalesce(F.col(text_col), F.lit("")), pat, -1)
    lines = batch_df.select(
        F.col(id_col), F.posexplode(arr).alias("pos", "line")
    ).where(F.length("line") >= min_chars)
    key = key_fn(F.col("line")) if key_fn is not None else F.col("line")
    occ = lines.select(
        id_col, "pos", F.xxhash64(key).alias("lid")
    ).transform(materialize)
    old = _read_before(
        spark, lid_path, batch_id, spark.createDataFrame([], "lid long")
    )
    first = occ.groupBy("lid").agg(
        F.min(F.struct(id_col, "pos")).alias("first_occ")
    )
    new_owned = first.join(old, "lid", "left_anti").transform(materialize)
    seen_drops = occ.join(old, "lid", "left_semi").select(id_col, "pos")
    batch_dups = (
        occ.join(new_owned, "lid")
        .where(
            (F.col(f"first_occ.{id_col}") != F.col(id_col))
            | (F.col("first_occ.pos") != F.col("pos"))
        )
        .select(id_col, "pos")
    )
    drops = seen_drops.union(batch_dups).groupBy(id_col).agg(
        F.collect_set("pos").alias("__drop_pos")
    )
    kept = F.filter(
        arr,
        lambda x, i: ~F.coalesce(
            F.array_contains(F.col("__drop_pos"), i), F.lit(False)
        ),
    )
    out = batch_df.join(drops, id_col, "left").select(
        F.col(id_col),
        F.array_join(kept, sep).alias(text_col),
        F.size(arr).cast("long").alias("n_lines"),
        (F.size(arr) - F.size(kept)).cast("long").alias("n_lines_dropped"),
    )
    _write_batch(out, out_dir, batch_id)
    _write_batch(new_owned.select("lid"), lid_path, batch_id)


def streaming_line_dedup(
    stream: DataFrame,
    index_dir: str,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 1,
    sep: str = "\n",
    key_fn=None,
):
    """writeStream writer: continuous corpus-wide LINE dedup (the
    streaming twin of operators/dedup.line_level_dedup, keep-first by
    arrival order then (doc_id, pos)) against a persisted line-hash
    index.

    Per micro-batch, all on 8-byte lids (line text never shuffles):

    1. explode batch docs to ``(doc_id, pos, lid)`` where ``lid`` is
       ``xxhash64`` of the (optionally ``key_fn``-normalized) line;
    2. within-batch keep-first via the same map-side-combinable
       ``min(struct(doc_id, pos))`` agg as the batch operator;
    3. drop every occurrence of a lid already in the index (left-semi
       on the stored lid column) plus within-batch repeats;
    4. rebuild the batch's docs in-row and write to ``out_dir``;
    5. write the batch's newly-owned lids to the index — earlier
       index generations are never rewritten.

    Over any stream prefix with batch-monotonic doc_ids, the
    accumulated output EQUALS the batch operator on the concatenation
    (duality test in tests/test_stateful.py). Writes are
    ``batch_id=``-partitioned with dynamic overwrite, same replay
    contract as :func:`streaming_ingest_dedup`; read results through
    :func:`read_accumulated`.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        line_dedup_batch(
            batch_df, batch_id, index_dir, out_dir,
            id_col=id_col, text_col=text_col,
            min_chars=min_chars, sep=sep, key_fn=key_fn,
        )

    return stream.writeStream.foreachBatch(sink).outputMode("update")


def _last_committed_batch(spark: SparkSession, checkpoint_dir: str):
    """Largest batch id in the streaming checkpoint's ``commits/`` log
    (one numerically-named file per fully-committed micro-batch), or
    None if nothing committed. A batch present here can never be
    replayed: on restart Spark resumes AFTER the latest commit."""
    fs, jroot = _fs_for(spark, os.path.join(checkpoint_dir, "commits"))
    if not fs.exists(jroot):
        return None
    ids = []
    for st in fs.listStatus(jroot):
        try:
            ids.append(int(st.getPath().getName()))
        except ValueError:
            pass  # .tmp / metadata files
    return max(ids) if ids else None


def compact_batches(
    spark: SparkSession,
    path: str,
    upto_batch_id: int,
    target_files: int = 1,
    checkpoint_dir: str | None = None,
    _failpoint=None,
) -> int:
    """Fold the many small ``batch_id=`` partitions a long-running
    ingest loop accumulates into ONE consolidated generation — the
    streaming-index twin of sources/sink.compact_partitions (the
    small-files problem: one trigger = one partition directory = a few
    tiny files; a month of 1-minute triggers is 43k directories the
    per-trigger index read must list).

    Partitions with ``0 <= batch_id <= upto_batch_id`` — plus any older
    consolidated generation — are folded into the sentinel partition
    ``batch_id = -(upto_batch_id + 1)``. Sentinel ids live outside the
    replayable range, so a retried micro-batch's dynamic overwrite can
    never clobber consolidated history, and the read side
    (:func:`read_accumulated` / the per-batch index view) resolves the
    most negative sentinel as the newest generation and skips every
    per-batch partition it covers.

    Crash-atomicity: the consolidated rows are WRITTEN TO A TEMP
    DIRECTORY first (dot-prefixed — parquet readers ignore it), renamed
    into place, then COMMITTED by putting GEN_MARKER inside the
    generation directory — a single-object write, atomic even where
    the rename is a copy+delete (object stores); only after the marker
    lands are the superseded directories deleted. A crash at any
    instant leaves every committed row readable: before the marker the
    generation is invisible (readers only honor marked generations)
    and the old layout is untouched; after it the new generation
    already supersedes whatever cleanup did not finish (re-running
    compact_batches sweeps unmarked debris and completes the cleanup).
    The fold streams through the filesystem — no driver/executor-memory
    materialization of the whole index (the old localCheckpoint
    approach capped the index at executor storage).

    ``upto_batch_id`` must only cover batches the streaming checkpoint
    has COMMITTED — a batch whose offsets are logged but uncommitted
    will be replayed on restart, and the retry must not see its own
    first attempt through the consolidated generation. Pass
    ``checkpoint_dir`` (the stream's checkpointLocation) to enforce
    this against the commits log: folding past the last committed batch
    raises. Without it, the caller owns the guarantee (pick upto = the
    last batch id of a stopped epoch); the per-batch read path also
    fails loudly if it ever observes a compaction past its own batch.

    Returns the number of directories folded (0/1 = nothing to do).
    """
    if upto_batch_id < 0:
        raise ValueError("upto_batch_id must be a real (non-negative) batch id")
    if checkpoint_dir is not None:
        last = _last_committed_batch(spark, checkpoint_dir)
        if last is None or upto_batch_id > last:
            raise ValueError(
                f"compact_batches(upto_batch_id={upto_batch_id}) exceeds the "
                f"checkpoint's last committed batch "
                f"({'none' if last is None else last}) — an uncommitted "
                f"batch can be replayed, and folding it would feed the "
                f"retry its own first attempt. Compact only committed ids."
            )
    # sweep debris from crashed runs, and fix up legacy layouts:
    # - an UNCOMMITTED generation (no GEN_MARKER, sources still intact)
    #   is an in-flight or crashed copy — invisible to every read, and
    #   rebuilding is the only way to know it is whole: delete it;
    #   if any covered source is ABSENT (the residual-ambiguity layout:
    #   a legacy compaction that crashed mid-cleanup may have left this
    #   generation as the only copy of the deleted batches' rows),
    #   QUARANTINE instead of deleting — still invisible, but
    #   recoverable by hand (round-8 advice, ingest.py:521);
    # - a LEGACY-COMMITTED generation (pre-marker code: no marker, but
    #   its sources are gone — see _legacy_committed) gets the marker
    #   touched in, a one-time idempotent migration so later sweeps and
    #   readers never re-adjudicate it;
    # - any stranded ``.batch_id-compact-*.tmp`` directory is by
    #   construction uncommitted (the commit path renames it away
    #   before the marker), including tmps from a crashed run with a
    #   DIFFERENT upto_batch_id that the per-upto delete below would
    #   never touch (round-7 advice, ingest.py:474).
    dirs, committed = _committed_generations(spark, path)
    for i, d in dirs.items():
        if i >= 0:
            continue
        if i not in committed:
            if _sources_intact(dirs, committed, i):
                _delete_dir(spark, d)
            else:
                # Residual-ambiguity layout (see _legacy_committed): this
                # unmarked generation may hold the ONLY copy of batches
                # whose sources a legacy mid-cleanup crash already
                # deleted. Quarantine (dot-prefixed → invisible to parquet
                # readers and to _partition_dirs) instead of deleting, so
                # an operator can adjudicate and restore by hand.
                qdir = os.path.join(path, f".quarantine-{BATCH_COL}={i}")
                fs, _ = _fs_for(spark, qdir)
                n = 0
                while fs.exists(_jpath(spark, qdir)):
                    # an existing target would make rename NEST src into
                    # it (HDFS semantics) — uniquify instead
                    n += 1
                    qdir = os.path.join(
                        path, f".quarantine-{BATCH_COL}={i}-{n}"
                    )
                _rename(spark, d, qdir)
        elif not _gen_marked(spark, d):
            _touch(spark, d + "/" + GEN_MARKER)
    for d in _child_dirs(spark, path, f".{BATCH_COL}-compact-"):
        if d.endswith(".tmp"):
            _delete_dir(spark, d)
    ids = _list_batch_ids(spark, path)
    old_sentinel, covered = _generation(ids)
    if upto_batch_id < covered:
        raise ValueError(
            f"already compacted through batch {covered}; upto_batch_id="
            f"{upto_batch_id} cannot fold a shorter prefix"
        )
    fold_ids = [i for i in ids if (0 <= i <= upto_batch_id) or i < 0]
    if len(fold_ids) <= 1:
        return len(fold_ids)

    new_sentinel = -(int(upto_batch_id) + 1)
    sentinel_dir = os.path.join(path, f"{BATCH_COL}={new_sentinel}")
    fs, _ = _fs_for(spark, path)
    if not fs.exists(_jpath(spark, sentinel_dir)):
        # the commit point does not exist yet: build it in a hidden temp
        tmp = os.path.join(path, f".{BATCH_COL}-compact-{upto_batch_id}.tmp")
        _delete_dir(spark, tmp)  # stale temp from a previous crash
        cond = (F.col(BATCH_COL) > covered) & (
            F.col(BATCH_COL) <= int(upto_batch_id)
        )
        if old_sentinel is not None:
            cond = cond | (F.col(BATCH_COL) == old_sentinel)
        (
            spark.read.parquet(path)
            .where(cond)
            .drop(BATCH_COL)
            .coalesce(max(1, int(target_files)))
            .write.mode("overwrite")
            .parquet(tmp)
        )
        if _failpoint is not None:
            _failpoint("pre-swap")
        _rename(spark, tmp, sentinel_dir)
        if _failpoint is not None:
            _failpoint("pre-mark")
        # THE commit point: a single-object PUT, atomic even where the
        # rename above was a copy+delete (object stores). Before this
        # line the generation is invisible and its sources intact.
        _touch(spark, sentinel_dir + "/" + GEN_MARKER)
    if _failpoint is not None:
        _failpoint("post-swap")
    # cleanup: everything the new generation supersedes. Interruptible —
    # leftovers are invisible to readers and removed by a re-run.
    for i in fold_ids:
        if i != new_sentinel:
            _delete_dir(spark, os.path.join(path, f"{BATCH_COL}={i}"))
            if _failpoint is not None:
                _failpoint("mid-cleanup")
    return len(fold_ids)
