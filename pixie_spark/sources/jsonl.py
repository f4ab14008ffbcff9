"""JSONL corpus source: the lingua franca of public text corpora
(C4, The Pile, RedPajama, Dolma all ship as [gzipped] JSON-Lines).

The engine's internal contract is the documents-table shape
(doc_id, url, text, …); this module bridges arbitrary JSONL layouts
onto it the same way sources/warc.py bridges crawl archives:

- **No schema inference.** The whole engine runs on fixed registered
  schemas (SURVEY §1.1 — the reference compiles its relations in);
  `spark.read.json` without a schema does an extra full pass over
  100 TB just to guess types and silently widens on dirty rows.
  Callers pass the fields they want; everything else is never parsed.
- **Synth ids.** Corpora routinely lack a stable id; ``doc_id`` is
  derived as xxhash64 over caller-named identity fields (url, or the
  text itself as a last resort) — deterministic across reruns and
  engines, unlike monotonically_increasing_id (partition-layout-
  dependent, forbidden here for the same reason Date.now is banned in
  fixtures).
- **Corrupt-line policy is explicit.** PERMISSIVE mode + a corrupt
  record column: a 100 TB crawl dump always has broken lines, and a
  FAILFAST die-on-first-bad-byte is not an option mid-job. Bad lines
  are counted, not silently dropped (``_corrupt`` kept on request).

gzip is transparent (Spark's text codecs); .jsonl.gz files are
non-splittable like WARC members — one task per archive, the unit
crawl dumps ship in anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pixie_spark.materialize import materialize

CORRUPT_COL = "_corrupt_record"


def read_jsonl(
    spark: SparkSession,
    path: str,
    fields: dict[str, str],
    keep_corrupt: bool = False,
) -> DataFrame:
    """Read JSONL with an EXPLICIT schema: ``fields`` maps json key →
    Spark type DDL (e.g. {"text": "string", "meta_lang": "string"}).
    Unknown keys in the data are never parsed; missing keys are null.
    Adds ``_corrupt_record`` (the raw bad line) when keep_corrupt."""
    struct = T.StructType(
        [T.StructField(k, T._parse_datatype_string(v)) for k, v in fields.items()]
        + [T.StructField(CORRUPT_COL, T.StringType())]
    )
    df = (
        spark.read.schema(struct)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )
    return df if keep_corrupt else df.drop(CORRUPT_COL)


def corrupt_line_count(spark: SparkSession, path: str, fields: dict[str, str]) -> int:
    """How many lines failed to parse under the declared schema — the
    ingestion-QA number to alarm on (one bounded aggregate).

    The lineage cut is REQUIRED, not an optimization: Spark refuses a
    query whose referenced columns are only the internal corrupt-record
    column (the from_json pushdown would have nothing to parse);
    materializing first turns it into ordinary data."""
    df = read_jsonl(spark, path, fields, keep_corrupt=True).transform(materialize)
    return df.where(F.col(CORRUPT_COL).isNotNull()).count()


def jsonl_documents(
    spark: SparkSession,
    path: str,
    text_field: str = "text",
    url_field: str | None = "url",
    extra_fields: dict[str, str] | None = None,
) -> DataFrame:
    """JSONL → the engine's documents-table shape
    (doc_id, url, text [, extras]) ready for every downstream operator
    (quality → dedup → … — the same bridge contract as
    warc.warc_documents).

    doc_id = xxhash64(url) when a url field exists AND the row's url is
    non-null/non-empty (stable under text edits — the identity a crawl
    re-fetch keeps); rows whose url is null or '' fall back to
    xxhash64(text) PER ROW. Without the fallback every no-url row would
    hash the same null to one constant id and downstream doc_id-keyed
    operators (dedup, span rebuild) would silently merge distinct
    documents. Rows with null/empty text are dropped (they carry
    nothing any downstream stage can use, and empty-text rows crash
    nothing but skew the quality-rate denominators)."""
    fields = {text_field: "string"}
    if url_field:
        fields[url_field] = "string"
    fields.update(extra_fields or {})
    df = read_jsonl(spark, path, fields)
    if url_field:
        id_src = F.when(
            F.col(url_field).isNotNull() & (F.col(url_field) != ""),
            F.xxhash64(url_field),
        ).otherwise(F.xxhash64(text_field))
    else:
        id_src = F.xxhash64(text_field)
    out = df.where(
        F.col(text_field).isNotNull() & (F.col(text_field) != "")
    ).select(
        id_src.alias("doc_id"),
        *( [F.col(url_field).alias("url")] if url_field else [F.lit(None).cast("string").alias("url")] ),
        F.col(text_field).alias("text"),
        *[F.col(k) for k in (extra_fields or {})],
    )
    return out


def write_jsonl(
    df: DataFrame,
    path: str,
    docs_per_file: int | None = None,
    gzip: bool = True,
    sort_within_by: str | None = "doc_id",
) -> None:
    """Export a corpus back to [gzipped] JSON-Lines — the release
    format the read side of this module ingests (C4/Pile/RedPajama/
    Dolma interchange).

    - ``docs_per_file`` TARGETS that many rows per file via a
      deterministic repartitionByRange on ``sort_within_by`` (range
      exchange: each task writes one contiguous, sorted slice — the
      same one-task-per-file discipline as sources/shards.py). Range
      partitioning samples key boundaries, so per-file counts are
      approximate (±sampling error), not exact; only the FILE COUNT
      ceil(n/docs_per_file) is exact. None keeps the incoming
      partitioning (one file per partition).
    - ``sort_within_by`` makes reruns byte-stable: rows within a file
      appear in key order, so a re-export of the same frame produces
      identical archives (modulo gzip mtime headers, which Spark's
      codec writes as 0).
    - gzip output is non-splittable by design — same as the archives
      public corpora ship; downstream readers get one task per file.

    Columns are serialized as-is (to_json of the row struct) — null
    fields are emitted explicitly as ``"key": null`` (ignoreNullFields
    is forced off; Spark's default silently drops null struct keys,
    which round-trips internally but makes keys vanish for external
    consumers), key order = column order, so read_jsonl(write_jsonl(
    df)) round-trips every declared field."""
    if docs_per_file is not None and sort_within_by is None:
        raise ValueError(
            "docs_per_file requires sort_within_by: file sizing is a "
            "repartitionByRange on that key (a round-robin split would "
            "not be byte-stable across reruns)"
        )
    out = df
    if docs_per_file is not None:
        n_rows = df.count()
        n_files = max(1, -(-n_rows // docs_per_file))
        out = df.repartitionByRange(n_files, F.col(sort_within_by))
    if sort_within_by is not None:
        out = out.sortWithinPartitions(sort_within_by)
    writer = out.select(
        F.to_json(
            F.struct(*out.columns), {"ignoreNullFields": "false"}
        ).alias("value")
    ).write.mode("overwrite")
    if gzip:
        writer = writer.option("compression", "gzip")
    writer.text(path)
