"""Hadoop-FileSystem path utilities for the streaming view stores.

The streaming IVM stores (versioned state chains ``v=N``, append-only
``batch_id=N`` partitions) were navigated with driver-local APIs
(``os.path.exists`` / ``glob.glob``) through round 11 — which silently
breaks the moment ``out_dir`` is an HDFS or s3a:// URI: a healthy chain
looks like a missing predecessor and the gate's data-loss refusal fires
on good data (ADVICE round 11). Resolving existence / listing / delete
through Spark's own Hadoop ``FileSystem`` makes the same code work for
``/local/paths``, ``file:``, ``hdfs:`` and ``s3a:`` URIs alike — the
engine's filesystem, not the driver's.

Reference context: the reference resolves every checkpoint/WAL path the
same way (core/src/main/scala/org/apache/spark/deploy/
SparkHadoopUtil.scala; streaming/src/main/scala/org/apache/spark/
streaming/util/HdfsUtils.scala:27-61 — public Spark).

Scale note: these calls are driver-side METADATA operations (one
namenode RPC each), never data movement; the listings they return are
bounded by the chain length / segment count, which retention
(``prune_state_chain`` / ``compact_batch_view``) keeps small.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _jpath(spark: SparkSession, path: str):
    return spark._jvm.org.apache.hadoop.fs.Path(path)


def _fs(spark: SparkSession, path: str):
    return _jpath(spark, path).getFileSystem(spark._jsc.hadoopConfiguration())


def exists(spark: SparkSession, path: str) -> bool:
    return bool(_fs(spark, path).exists(_jpath(spark, path)))


def list_glob(
    spark: SparkSession, pattern: str, dirs_only: bool = False
) -> list[str]:
    """Full path strings matching a Hadoop glob (e.g. ``dir/v=*``).
    Local paths come back as ``file:/...`` URIs — callers that parse
    trailing ``key=value`` components are unaffected."""
    statuses = _fs(spark, pattern).globStatus(_jpath(spark, pattern))
    if statuses is None:
        return []
    return [
        st.getPath().toString()
        for st in statuses
        if not dirs_only or st.isDirectory()
    ]


def parquet_rows(spark: SparkSession, path: str) -> int:
    """Row count of the parquet directory ``path``, summed from its
    files' footers on the driver — a metadata read per file, never a
    Spark job. Files Spark treats as hidden (``_SUCCESS``, ``.crc``)
    are skipped."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    rows = 0
    for st in _fs(spark, path).listStatus(_jpath(spark, path)):
        name = st.getPath().getName()
        if not st.isFile() or name.startswith(("_", ".")):
            continue
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
                st, conf
            )
        )
        try:
            rows += reader.getRecordCount()
        finally:
            reader.close()
    return rows


def delete(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    """Recursive delete; returns False when the path did not exist."""
    fs = _fs(spark, path)
    p = _jpath(spark, path)
    if not fs.exists(p):
        return False
    return bool(fs.delete(p, recursive))


def write_text(spark: SparkSession, path: str, content: str) -> None:
    """Create/overwrite a small text file (layout manifests) through
    the Hadoop FileSystem — one hflush'd stream write, any URI."""
    out = _fs(spark, path).create(_jpath(spark, path), True)
    try:
        out.write(bytearray(content.encode("utf-8")))
        out.hflush()
    finally:
        out.close()


def read_text(spark: SparkSession, path: str) -> str:
    stream = _fs(spark, path).open(_jpath(spark, path))
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()
