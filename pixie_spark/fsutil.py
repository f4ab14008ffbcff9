"""Hadoop-FileSystem helpers shared by the managed sinks.

Every directory listing / deletion / rename in the table-sink and
streaming-ingest modules (and the streaming-refresh manifests) goes
through the Hadoop FileSystem API (via
the session JVM) instead of ``glob``/``shutil``/``os`` — so the managed
layouts work against any Spark-supported filesystem whose connector is
on the classpath (file:, hdfs:, and with the matching jars s3a:/gs:/
abfs:), not just the local filesystem. An unsupported scheme raises an
actionable error instead of silently matching nothing the way a glob
over a URI would.

Semantics note for object stores: ``rename`` is atomic on file:/hdfs:
but copy+delete (best-effort) on s3a:-style stores — callers that use
rename as a commit point (streaming/ingest.compact_batches) document
that caveat.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def active_session() -> SparkSession:
    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("no active SparkSession")
    return spark


def fs_for(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path``; actionable error for schemes
    whose connector is not on the classpath."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    try:
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    except Exception as e:  # py4j wraps UnsupportedFileSystemException etc.
        raise RuntimeError(
            f"no Hadoop FileSystem available for '{path}': {e}. Object "
            "stores need their connector jars on the Spark classpath "
            "(e.g. hadoop-aws + aws-sdk for s3a://, gcs-connector for "
            "gs://); local paths and hdfs:// work out of the box."
        ) from None
    return fs, p


def jpath(spark: SparkSession, path: str):
    return spark._jvm.org.apache.hadoop.fs.Path(path)


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = fs_for(spark, path)
    return bool(fs.exists(p))


def partition_dirs(spark: SparkSession, path: str, col: str) -> dict[int, str]:
    """{value: uri} of the ``col=<int>`` partition directories under
    ``path`` ({} if the path does not exist)."""
    fs, p = fs_for(spark, path)
    if not fs.exists(p):
        return {}
    out: dict[int, str] = {}
    prefix = col + "="
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(prefix):
            try:
                out[int(name.split("=", 1)[1])] = str(st.getPath().toString())
            except ValueError:
                pass
    return out


def list_files(spark: SparkSession, path: str, suffix: str = "") -> list[tuple[str, int]]:
    """[(name, bytes)] of the plain files directly under ``path``."""
    fs, p = fs_for(spark, path)
    if not fs.exists(p):
        return []
    return [
        (st.getPath().getName(), int(st.getLen()))
        for st in fs.listStatus(p)
        if st.isFile() and st.getPath().getName().endswith(suffix)
    ]


def child_dirs(spark: SparkSession, path: str, prefix: str = "") -> list[str]:
    """Full URIs of the directories directly under ``path`` whose NAME
    starts with ``prefix`` ([] if the path does not exist). Complements
    partition_dirs for non-partition directories (e.g. the dot-prefixed
    compaction temp dirs a crashed run can strand)."""
    fs, p = fs_for(spark, path)
    if not fs.exists(p):
        return []
    return [
        str(st.getPath().toString())
        for st in fs.listStatus(p)
        if st.isDirectory() and st.getPath().getName().startswith(prefix)
    ]


def delete_dir(spark: SparkSession, path: str) -> None:
    fs, p = fs_for(spark, path)
    fs.delete(p, True)


def rename(spark: SparkSession, src: str, dst: str) -> None:
    fs, jsrc = fs_for(spark, src)
    if not fs.rename(jsrc, jpath(spark, dst)):
        raise RuntimeError(f"filesystem rename failed: {src} -> {dst}")


def commit_text(spark: SparkSession, path: str, text: str) -> None:
    """Write ``text`` to ``path`` once, atomically: the bytes go to a
    hidden temp file beside it that is then renamed onto ``path``, so a
    reader sees all of it or nothing (rename is atomic on file:/hdfs:).
    A ``path`` that already exists is kept as it is — it is an earlier
    attempt's commit of the same record."""
    fs, p = fs_for(spark, path)
    if fs.exists(p):
        return
    tmp = jpath(spark, f"{p.getParent().toString()}/.{p.getName()}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode()))
    finally:
        out.close()
    if not fs.rename(tmp, p):
        raise RuntimeError(f"filesystem rename failed: {tmp.toString()} -> {path}")


def read_text(spark: SparkSession, path: str) -> str:
    fs, p = fs_for(spark, path)
    stream = fs.open(p)
    try:
        return bytes(stream.readAllBytes()).decode()
    finally:
        stream.close()


def touch(spark: SparkSession, path: str) -> None:
    """Create an empty marker file (overwriting any stale one). A
    single-object PUT — atomic on every Spark-supported filesystem,
    which is what makes it usable as a commit record where a directory
    rename is only copy+delete (object stores)."""
    fs, p = fs_for(spark, path)
    fs.create(p, True).close()
