"""Source/sink round-trips (SURVEY §2.1): parquet/json/csv/orc/text
read+write, partitioned writes with partition pruning, schema
inference vs declared schema.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from big_data_project_implementation_spark import plans, sources
from tests.conftest import SF_DIR


@pytest.fixture
def tmpdir_():
    d = tempfile.mkdtemp(prefix="io_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _nation(spark):
    return sources.load_table(spark, SF_DIR, "nation")


@pytest.mark.parametrize("fmt", ["parquet", "json", "csv", "orc", "xml"])
def test_roundtrip_formats(spark, tmpdir_, fmt):
    df = _nation(spark)
    path = f"{tmpdir_}/{fmt}"
    opts = {"header": "true"} if fmt == "csv" else {}
    if fmt == "xml":  # rowTag is mandatory for the native Spark 4 source
        opts = {"rowTag": "row"}
    sources.write(df, path, fmt=fmt, mode="overwrite", **opts)
    if fmt == "csv":
        back = sources.read(spark, path, fmt=fmt, header="true", inferSchema="true")
    elif fmt == "xml":
        back = sources.read(spark, path, fmt=fmt, rowTag="row")
    else:
        back = sources.read(spark, path, fmt=fmt)
    assert back.count() == df.count()
    assert sorted(back.columns) == sorted(df.columns)
    got = {r.n_nationkey: r.n_name for r in back.collect()}
    want = {r.n_nationkey: r.n_name for r in df.collect()}
    assert got == want


def test_text_roundtrip(spark, tmpdir_):
    df = _nation(spark).select(F.col("n_name").alias("value"))
    path = f"{tmpdir_}/text"
    sources.write(df, path, fmt="text", mode="overwrite")
    back = sources.read(spark, path, fmt="text")
    assert sorted(r.value for r in back.collect()) == sorted(
        r.value for r in df.collect()
    )


def test_partitioned_write_prunes(spark, tmpdir_):
    df = sources.load_table(spark, SF_DIR, "orders")
    path = f"{tmpdir_}/orders_part"
    sources.write(
        df.withColumn("status", F.col("o_orderstatus")),
        path,
        mode="overwrite",
        partition_by=["status"],
    )
    back = spark.read.parquet(path).filter(F.col("status") == "O")
    plan = plans.formatted_plan(back)
    # partition filter must prune directories, not filter rows post-scan
    assert "PartitionFilters" in plan and "status" in plan
    assert back.count() == df.filter(F.col("o_orderstatus") == "O").count()


def test_json_schema_inference(spark, tmpdir_):
    df = _nation(spark)
    path = f"{tmpdir_}/json_infer"
    sources.write(df, path, fmt="json", mode="overwrite")
    inferred = spark.read.json(path)
    assert set(inferred.columns) == set(df.columns)
    assert dict(inferred.dtypes)["n_nationkey"] == "bigint"  # JSON widens ints


def test_temp_view_catalog(spark):
    sources.register_views(spark, SF_DIR)
    assert spark.sql("SELECT COUNT(*) AS n FROM nation").collect()[0].n == 25
    assert spark.catalog.tableExists("lineitem")


def test_bucketed_join_skips_shuffle(spark):
    """Two tables bucketed on the join key with equal bucket counts must
    sort-merge join with ZERO exchanges — the pre-shuffled layout that
    makes repeated large-large joins affordable at 100 TB (SURVEY §2.6
    Exchange row; reference only had Hive bucketing)."""
    orders = sources.load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    li = sources.load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    sources.write_bucketed_table(orders, "b_orders", ["o_orderkey"], 8)
    sources.write_bucketed_table(li, "b_lineitem", ["l_orderkey"], 8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("b_orders").join(
            spark.table("b_lineitem"), F.col("o_orderkey") == F.col("l_orderkey")
        )
        assert plans.count_shuffles(j) == 0, plans.physical_plan(j)
        # and the join still computes the right thing
        assert j.count() == li.join(orders, F.col("o_orderkey") == F.col("l_orderkey")).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_sql_commands_parity(spark):
    """§2.1 commands row (reference EXE/commands.scala:77-382): SET,
    SHOW TABLES, DESCRIBE, CACHE/UNCACHE TABLE, EXPLAIN as SQL text."""
    sources.register_views(spark, SF_DIR)
    assert spark.sql("SET spark.sql.shuffle.partitions").collect()[0].value
    tables = {r.tableName for r in spark.sql("SHOW TABLES").collect()}
    assert {"nation", "lineitem"} <= tables
    desc = {r.col_name: r.data_type for r in spark.sql("DESCRIBE nation").collect()}
    assert desc["n_nationkey"] == "int"
    spark.sql("CACHE TABLE nation")
    assert spark.catalog.isCached("nation")
    spark.sql("UNCACHE TABLE nation")
    assert not spark.catalog.isCached("nation")
    plan_text = spark.sql("EXPLAIN SELECT count(*) FROM lineitem").collect()[0].plan
    assert "Physical Plan" in plan_text


def test_sql_udf_registration(spark):
    """§2.10 UDFRegistration parity (reference SQLC/UDFRegistration.scala
    + PY/sql/context.py:199): python and pandas UDFs callable from SQL."""
    from pyspark.sql.functions import pandas_udf

    sources.register_views(spark, SF_DIR)
    spark.udf.register("py_double_it", lambda x: x * 2, "bigint")

    def _margin(price, disc):
        return price * (1.0 - disc)

    spark.udf.register("vec_margin", pandas_udf(_margin, "double"))
    row = spark.sql(
        """
        SELECT py_double_it(l_orderkey) AS dbl,
               ROUND(vec_margin(l_extendedprice, l_discount), 2) AS m,
               l_orderkey, ROUND(l_extendedprice * (1 - l_discount), 2) AS want
        FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 1
        """
    ).collect()[0]
    assert row.dbl == 2 * row.l_orderkey
    assert row.m == row.want


def test_ctas_and_insert_into(spark):
    """§2.1 DDL rows (reference EXE/datasources/ddl.scala:55-102,
    InsertIntoHiveTable/CreateTableAsSelect): CREATE TABLE ... USING
    parquet AS SELECT, then INSERT INTO appends."""
    sources.register_views(spark, SF_DIR)
    spark.sql("DROP TABLE IF EXISTS ctas_nation")
    try:
        spark.sql(
            "CREATE TABLE ctas_nation USING parquet AS "
            "SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 10"
        )
        assert spark.table("ctas_nation").count() == 10
        spark.sql(
            "INSERT INTO ctas_nation "
            "SELECT n_nationkey, n_name FROM nation WHERE n_nationkey >= 10"
        )
        assert spark.table("ctas_nation").count() == 25
        got = {r.n_name for r in spark.table("ctas_nation").collect()}
        want = {r.n_name for r in spark.table("nation").collect()}
        assert got == want
    finally:
        spark.sql("DROP TABLE IF EXISTS ctas_nation")


def test_python_datasource_partitioned_read(spark):
    """Spark 4 Python DataSource API: schema, options, and partitioned
    generation (each input partition reads independently — the property
    that scales to 1000 executors)."""
    from big_data_project_implementation_spark.sources import python_datasource

    python_datasource.register(spark)
    df = (
        spark.read.format("synthetic_docs")
        .option("rows", 60)
        .option("partitions", 5)
        .load()
    )
    assert df.schema.simpleString() == (
        "struct<doc_id:bigint,shard:bigint,text:string>"
    )
    assert df.rdd.getNumPartitions() == 5
    rows = df.collect()
    assert len(rows) == 60
    assert {r.doc_id for r in rows} == set(range(60))
    for r in rows:
        assert r.shard == r.doc_id % 5  # striping is deterministic
        assert 3 <= len(r.text.split(" ")) <= 6
    # re-read is bit-identical (pure function of options)
    again = spark.read.format("synthetic_docs").option("rows", 60).option(
        "partitions", 5
    ).load().collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))


def test_dynamic_partition_overwrite_touches_only_written_partitions(spark, tmp_path):
    """overwrite_partitions replaces listed partitions' files and leaves
    every other partition byte-identical (the daily-backfill contract)."""
    import os

    from big_data_project_implementation_spark.sources import writers

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "c", 40)],
        "id long, day string, v long",
    )
    base.write.partitionBy("day").parquet(path)

    def files(day):
        d = f"{path}/day={day}"
        return sorted(
            (f, os.path.getmtime(f"{d}/{f}"), os.path.getsize(f"{d}/{f}"))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    before_a, before_b = files("a"), files("b")
    patch = spark.createDataFrame([(9, "a", 99)], "id long, day string, v long")
    writers.overwrite_partitions(patch, path, ["day"])
    # day=a fully replaced by the patch; day=b/c untouched on disk
    assert files("b") == before_b
    assert files("a") != before_a
    got = {(r.id, r.day, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {(9, "a", 99), (3, "b", 30), (4, "c", 40)}


def test_upsert_partitioned_updates_inserts_and_preserves(spark, tmp_path):
    """Keyed MERGE-equivalent on plain parquet: matched keys replaced,
    new keys inserted, untouched partitions' files byte-identical."""
    import os

    from big_data_project_implementation_spark.sources import writers

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30)],
        "id long, day string, v long",
    )
    base.write.partitionBy("day").parquet(path)
    b_dir = f"{path}/day=b"
    before_b = sorted(
        (f, os.path.getmtime(f"{b_dir}/{f}")) for f in os.listdir(b_dir)
    )

    batch = spark.createDataFrame(
        [(2, "a", 21), (5, "a", 50)], "id long, day string, v long"
    )
    writers.upsert_partitioned(batch, path, keys=["id"], partition_by=["day"])
    got = {(r.id, r.day, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a", 10), (2, "a", 21), (5, "a", 50), (3, "b", 30)}
    after_b = sorted(
        (f, os.path.getmtime(f"{b_dir}/{f}")) for f in os.listdir(b_dir)
    )
    assert after_b == before_b


def test_upsert_partitioned_first_write_bootstraps(spark, tmp_path):
    from big_data_project_implementation_spark.sources import writers

    path = str(tmp_path / "t")
    batch = spark.createDataFrame([(1, "a", 1)], "id long, day string, v long")
    writers.upsert_partitioned(batch, path, keys=["id"], partition_by=["day"])
    assert spark.read.parquet(path).count() == 1


def test_upsert_partitioned_raises_on_unreadable_existing_table(spark, tmp_path):
    """A read failure on an EXISTING table path must propagate — it
    must never be mistaken for 'first write' and trigger a bootstrap
    overwrite that destroys partitions outside the batch (the failure
    mode: corrupt footer / permissions / FS hiccup on a live table)."""
    import pytest

    from big_data_project_implementation_spark.sources import writers

    path = tmp_path / "t"
    path.mkdir()
    # path EXISTS but is unreadable as parquet (garbage footer)
    (path / "part-00000.parquet").write_bytes(b"this is not parquet")
    batch = spark.createDataFrame([(1, "a", 1)], "id long, day string, v long")
    with pytest.raises(Exception):
        writers.upsert_partitioned(
            batch, str(path), keys=["id"], partition_by=["day"]
        )
    # the garbage file is untouched — nothing was overwritten
    assert (path / "part-00000.parquet").read_bytes() == b"this is not parquet"


def test_parquet_schema_merge_reads_evolved_table(spark, tmp_path):
    """Schema evolution: files written before a column existed must
    read as NULL under mergeSchema — the append-only table contract
    (reference ParquetRelation schema merging,
    EXE/datasources/parquet/ParquetRelation.scala)."""
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "id long, s string").write.parquet(
        path + "/p1"
    )
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, s string, score double"
    ).write.parquet(path + "/p2")
    df = spark.read.option("mergeSchema", "true").parquet(path + "/p1", path + "/p2")
    assert set(df.columns) == {"id", "s", "score"}
    rows = {r.id: r.score for r in df.collect()}
    assert rows[1] is None and rows[2] == 9.5


def test_incremental_read_processes_only_new_partitions(spark, tmp_path):
    """Batch CDC: first run reads everything; after commit, a second
    run reads ONLY partitions added since — with the increment filter
    arriving as a partition filter (old partitions' files never open).
    A failed run (no commit) re-reads the same increment."""
    from big_data_project_implementation_spark import plans
    from big_data_project_implementation_spark.sources.readers import (
        incremental_read,
    )

    path = str(tmp_path / "t")
    bm = str(tmp_path / "bookmark")
    spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-02")], "id long, day string"
    ).write.partitionBy("day").parquet(path)

    df1, commit1 = incremental_read(spark, path, bm, "day")
    assert df1.count() == 2  # first run: everything
    commit1()

    # new partition lands
    spark.createDataFrame(
        [(3, "2024-01-03")], "id long, day string"
    ).write.mode("append").partitionBy("day").parquet(path)

    df2, commit2 = incremental_read(spark, path, bm, "day")
    rows = df2.collect()
    # partition dirs type-infer: day reads back as DATE
    assert [(r.id, str(r.day)) for r in rows] == [(3, "2024-01-03")]
    # the increment predicate prunes PARTITIONS, not rows
    plan = plans.formatted_plan(df2)
    assert "PartitionFilters" in plan and "2024-01-02" in str(plan)

    # uncommitted failure: the same increment is re-served
    df2b, _ = incremental_read(spark, path, bm, "day")
    assert df2b.count() == 1
    commit2()
    df3, _ = incremental_read(spark, path, bm, "day")
    assert df3.count() == 0


def test_events_reads_leave_nanos_conf_alone(spark):
    """The legacy TIMESTAMP(NANOS) setting is session policy, set once
    by get_session; reading ``events`` (batch or stream) must not
    change a session's conf as a side effect. The fixtures carry
    ``ts`` as TIMESTAMP(MICROS), so the reads work either way."""
    from big_data_project_implementation_spark.queries.registry import (
        events_stream,
    )

    key = "spark.sql.legacy.parquet.nanosAsLong"
    assert spark.conf.get(key) == "true"
    sub = spark.newSession()
    sub.conf.set(key, "false")
    df = sources.load_table(sub, SF_DIR, "events")
    assert sub.conf.get(key) == "false"
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.count() > 0
    sdf = events_stream(sub, SF_DIR)
    assert sub.conf.get(key) == "false"
    assert sdf.isStreaming and dict(sdf.dtypes)["ts"] == "timestamp"
