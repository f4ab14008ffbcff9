"""Incremental near-dup detection against a persisted MinHash-LSH index.

At 100 TB you do not re-minhash the corpus for every ingest batch: the
production shape is a PERSISTED LSH index (band entries + signatures,
parquet) and, per batch, (a) new-vs-CORPUS candidates from joining the
new batch's band entries against the stored entries, (b) new-vs-new
candidates from the ordinary posting-list path over the batch alone.
The corpus index is only ever APPENDED to — the update for a batch is
the batch's own rows, so yesterday's 100 TB is never recomputed or
rewritten (store it through sources/sink.py partitioned by ingest day
and retention/compaction come for free).

Scale discipline:
- the new batch's band entries are BROADCAST into the join against the
  stored entries — the corpus-side index is streamed through a map-side
  hash probe and never shuffles (a day's ingest is dimension-sized next
  to the corpus);
- signature verification joins fetch ONLY the signatures of candidate-
  matched old docs (8·num_hashes bytes each), never the corpus;
- determinism: the same text always produces the same signature/bands
  (xxhash64 end-to-end), so incremental results are EXACTLY the
  pairs-involving-the-batch slice of a full rebuild — asserted in
  tests/test_incremental.py.

Ref: the reference has no dedup at all (SURVEY §2.3); this extends the
dedup family (operators/dedup.py) with the ingestion-loop shape from
production near-dup systems (e.g. the daily-snapshot dedup described in
Lee et al. 2022 §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pixie_spark.materialize import materialize
from pixie_spark.operators.dedup import (
    MAX_POSTING_LIST,
    _band_candidates,
    _band_entries,
    _est_jaccard,
    _score_pairs,
    minhash_signatures,
)


def build_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """(entries, signatures) for persistence: entries = (doc, band,
    bucket) — 24 bytes/row ×bands; signatures = (doc, array<long>) —
    8·num_hashes bytes/doc. Both append-only under incremental ingest."""
    sig = minhash_signatures(df, id_col, text_col, n, num_hashes).transform(materialize, eager=False)
    entries = _band_entries(sig, bands, num_hashes // bands)
    return entries, sig


def incremental_pairs(
    new_entries: DataFrame,
    new_sigs: DataFrame,
    old_entries: DataFrame,
    old_sigs: DataFrame,
    num_hashes: int = 64,
    threshold: float = 0.5,
    max_posting_list: int | None = MAX_POSTING_LIST,
) -> DataFrame:
    """(doc_a, doc_b, est_jaccard) for every near-dup pair INVOLVING the
    new batch: new-vs-corpus (doc_a = new, doc_b = old) and new-vs-new
    (doc_a < doc_b, both new). est_jaccard = fraction of agreeing
    minhash positions, the same verify as dedup.minhash_lsh_pairs."""
    # new-vs-corpus: broadcast the batch's entries; the stored index
    # never shuffles
    cand_no = (
        old_entries.join(
            F.broadcast(
                new_entries.select(
                    F.col("doc").alias("doc_a"), "band", "bucket"
                )
            ),
            ["band", "bucket"],
        )
        .select("doc_a", F.col("doc").alias("doc_b"))
        .distinct()
    )
    # new-vs-new: the ordinary posting-list path over the batch alone
    cand_nn = _band_candidates(new_entries, max_posting_list)
    return _score_pairs(
        cand_no.unionByName(cand_nn), new_sigs, old_sigs.unionByName(new_sigs),
        "signature", "est_jaccard", _est_jaccard(num_hashes), threshold,
    )


def append_to_index(
    old_entries: DataFrame,
    old_sigs: DataFrame,
    new_entries: DataFrame,
    new_sigs: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Index update for a batch = append the batch's own rows. Identical
    to a from-scratch rebuild on the union corpus (hashing is
    deterministic), without touching a byte of the old index."""
    return (
        old_entries.unionByName(new_entries),
        old_sigs.unionByName(new_sigs),
    )
