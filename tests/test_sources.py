"""Source/sink round-trips and layout-dependent plan properties."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mini_sql_engine_spark.catalog import load_table
from mini_sql_engine_spark.sources import io as src_io


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("fmt", ["parquet", "csv", "json", "orc"])
def test_roundtrip_formats(spark, sf_dir, tmp_path, fmt):
    """customer survives a write/read round-trip in every format."""
    df = load_table(spark, sf_dir, "customer")
    path = str(tmp_path / f"customer_{fmt}")
    src_io.write_any(df, path, fmt)
    # CSV/JSON are text formats: supply the schema for exact types
    schema = df.schema if fmt in ("csv", "json") else None
    back = src_io.read_any(spark, path, fmt, schema=schema)
    assert back.schema == df.schema if fmt != "csv" else True
    assert _canon(back.select(*df.columns)) == _canon(df)


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    """A filter on the partition column must prune at the source (no
    full scan): check PartitionFilters in the physical plan."""
    df = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_by_status")
    src_io.write_partitioned(df, path, ["o_orderstatus"])
    back = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "o_orderstatus" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], plan
    expect = df.filter(F.col("o_orderstatus") == "F").count()
    assert back.count() == expect


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key join without a shuffle.

    (warehouse dir is static config — tables land in ./spark-warehouse,
    dropped in the finally block and gitignored.)"""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    src_io.write_bucketed(
        orders.withColumnRenamed("o_custkey", "custkey"), "orders_b", "custkey", 8
    )
    src_io.write_bucketed(
        customer.withColumnRenamed("c_custkey", "custkey"), "customer_b", "custkey", 8
    )
    # disable broadcast so the planner must choose a non-broadcast join
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("orders_b").join(spark.table("customer_b"), "custkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == orders.join(
            customer, orders.o_custkey == customer.c_custkey
        ).count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    """Predicate + projection push into the parquet scan (PushedFilters
    + pruned ReadSchema) — SURVEY §4.1's anti-pattern check."""
    df = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 30)
        .select("l_orderkey", "l_quantity")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "l_quantity" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" not in read_schema  # column pruning happened


# ---- the reference's native format as a Python DataSource ------------------

MINI_DIR = "tests/fixtures/mini"


def _minisql(spark, table, n_parts=4):
    from mini_sql_engine_spark.sources import datasource

    datasource.register(spark)
    return (
        spark.read.format("minisql")
        .option("path", MINI_DIR)
        .option("table", table)
        .option("numPartitions", str(n_parts))
        .load()
    )


def test_minisql_datasource_matches_csv_loader(spark):
    """format('minisql') returns the same rows/columns as the helper
    CSV loader — the connector and the helper read one format."""
    from mini_sql_engine_spark.sources.metadata_catalog import (
        load_csv_table,
        load_metadata,
    )

    catalog = load_metadata(f"{MINI_DIR}/metadata.txt")
    for table in ("table1", "table2"):
        via_ds = _minisql(spark, table)
        via_helper = load_csv_table(spark, MINI_DIR, table, catalog[table])
        assert via_ds.columns == via_helper.columns
        assert sorted(map(tuple, via_ds.collect())) == sorted(
            map(tuple, via_helper.collect())
        )


def test_minisql_datasource_is_splittable(spark):
    """The byte-range planner honors numPartitions and every split
    parses only whole lines — content is partition-count-invariant."""
    one = sorted(map(tuple, _minisql(spark, "table1", 1).collect()))
    three = _minisql(spark, "table1", 3)
    assert three.rdd.getNumPartitions() == 3
    assert sorted(map(tuple, three.collect())) == one


def test_minisql_datasource_unknown_table_errors(spark):
    from mini_sql_engine_spark.plans.dialect import EngineError

    with pytest.raises(Exception) as exc:
        _minisql(spark, "nope").collect()
    assert "unknown table" in str(exc.value)


def test_compact_files_reduces_count_preserves_rows(spark, sf_dir, tmp_path):
    """20 tiny files → 1 right-sized file, identical content."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    path = str(tmp_path / "small_files")
    li.repartition(20).write.parquet(path)
    import os as _os

    n_before = len([f for f in _os.listdir(path) if f.endswith(".parquet")])
    assert n_before == 20
    expect = sorted(map(tuple, li.collect()))
    n_files = src_io.compact_files(spark, path, target_file_bytes=256 * 1024 * 1024)
    n_after = len([f for f in _os.listdir(path) if f.endswith(".parquet")])
    assert n_after == n_files < n_before
    got = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert got == expect


def test_minisql_writer_roundtrip_and_catalog(spark, tmp_path):
    """df.write.format('minisql') commits task fragments into the
    single-CSV format atomically and registers the table in
    metadata.txt; a fresh read returns the written rows. (Like builtin
    file sources, a DataFrame loaded BEFORE a write keeps its planned
    splits — re-load to see new data.)"""
    import shutil as _sh

    from mini_sql_engine_spark.sources import datasource

    datasource.register(spark)
    d = str(tmp_path / "native")
    _sh.copytree(MINI_DIR, d)

    df = spark.range(0, 10).selectExpr("id AS X", "id * id AS Y")
    (df.write.format("minisql").option("path", d).option("table", "table3")
       .mode("overwrite").save())
    from mini_sql_engine_spark.sources.metadata_catalog import load_metadata

    assert load_metadata(f"{d}/metadata.txt")["table3"] == ["X", "Y"]
    back = (spark.read.format("minisql").option("path", d)
            .option("table", "table3").load())
    assert sorted(map(tuple, back.collect())) == [(i, i * i) for i in range(10)]

    # append mode accumulates; overwrite replaces
    (df.limit(2).write.format("minisql").option("path", d)
       .option("table", "table3").mode("append").save())
    again = (spark.read.format("minisql").option("path", d)
             .option("table", "table3").load())
    assert again.count() == 12
    (df.limit(3).write.format("minisql").option("path", d)
       .option("table", "table3").mode("overwrite").save())
    final = (spark.read.format("minisql").option("path", d)
             .option("table", "table3").load())
    assert final.count() == 3


def test_minisql_writer_schema_mismatch_errors(spark, tmp_path):
    import shutil as _sh

    from mini_sql_engine_spark.sources import datasource

    datasource.register(spark)
    d = str(tmp_path / "native")
    _sh.copytree(MINI_DIR, d)
    df = spark.range(3).selectExpr("id AS WRONG", "id AS COLS")
    with pytest.raises(Exception) as exc:
        (df.write.format("minisql").option("path", d)
           .option("table", "table1").mode("append").save())
    assert "schema mismatch" in str(exc.value)


def test_minisql_stream_reader_tails_appends(spark, tmp_path):
    """readStream.format('minisql') tails the native CSV: rows present
    at start arrive in the first batch, rows appended by a producer
    arrive in later batches, offsets stop at complete lines."""
    import shutil as _sh
    import uuid as _uuid

    from mini_sql_engine_spark.sources import datasource

    datasource.register(spark)
    d = str(tmp_path / "native")
    _sh.copytree(MINI_DIR, d)
    name = f"tail_{_uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.format("minisql")
        .option("path", d)
        .option("table", "table1")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.table(name).count() == 4  # fixture rows
        with open(f"{d}/table1.csv", "a") as fh:
            fh.write("100,200,300\n101,201,301\n")
        q.processAllAvailable()
        got = sorted(map(tuple, spark.table(name).collect()))
    finally:
        q.stop()
    assert len(got) == 6
    assert (100, 200, 300) in got and (101, 201, 301) in got


def test_events_ts_contract(spark, sf_dir, tmp_path):
    """`catalog.load_table` must deliver events.ts as session-zoned
    TimestampType regardless of the physical parquet type — the driver's
    testdata has shipped BOTH TIMESTAMP(NANOS) and timestamp[us] (NTZ)
    across generations, and a silent type drift broke 7 queries in
    round 2. Pins the contract for: (a) the live testdata, (b) a
    synthesized µs/NTZ fixture, (c) a synthesized ns fixture."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mini_sql_engine_spark.catalog import load_table as lt

    # (a) whatever the driver currently generates
    assert dict(lt(spark, sf_dir, "events").dtypes)["ts"] == "timestamp"

    base = pd.DataFrame(
        {
            "event_id": [1, 2],
            "user_id": [10, 11],
            "event_type": ["click", "purchase"],
            "value": [1.5, 2.5],
            "props": ["{}", "{}"],
            "ts": pd.to_datetime(["2024-01-01 10:00:00", "2024-01-01 11:00:00"]),
        }
    )
    expected_us = [t.value // 1000 for t in base["ts"]]

    for unit in ("us", "ns"):
        d = tmp_path / f"events_{unit}"
        d.mkdir()
        tbl = pa.Table.from_pandas(base).set_column(
            5, "ts", pa.Array.from_pandas(base["ts"]).cast(pa.timestamp(unit))
        )
        pq.write_table(
            tbl, str(d / "events.parquet"), use_deprecated_int96_timestamps=False
        )
        df = lt(spark, str(d), "events")
        assert dict(df.dtypes)["ts"] == "timestamp", unit
        got = sorted(
            r[0] for r in df.select(F.unix_micros("ts")).collect()
        )
        assert got == sorted(expected_us), unit


def test_registry_complete_regardless_of_import_order():
    """Importing streaming.windows BEFORE the operators package must not
    drop the stream oracles from ALL_ORACLES (the round-2 circular-import
    regression). Runs in a subprocess so module caching in this pytest
    process can't mask the order dependence."""
    import subprocess
    import sys

    code = (
        "import mini_sql_engine_spark.streaming.windows as W; "
        "from mini_sql_engine_spark.operators import ALL_ORACLES, ALL_QUERIES; "
        "missing = [k for k in W.ORACLES if k not in ALL_ORACLES]; "
        "assert not missing, f'stream oracles lost: {missing}'; "
        "assert len(ALL_QUERIES) >= 160"
    )
    subprocess.run([sys.executable, "-c", code], check=True, cwd="/root/repo")


def _minisql_push(spark, table):
    from mini_sql_engine_spark.sources import datasource

    datasource.register(spark)
    return (
        spark.read.format("minisql")
        .option("path", MINI_DIR)
        .option("table", table)
        .option("pushdown", "true")
        .load()
    )


def test_minisql_filter_pushdown_unit():
    """pushFilters (opted in) absorbs integer comparisons and IsNotNull,
    returns everything else for Spark-side evaluation; default-off
    readers decline every filter."""
    import operator as op_mod

    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        IsNotNull,
        StringStartsWith,
    )

    from mini_sql_engine_spark.sources.datasource import (
        MiniSQLPushdownReader,
        MiniSQLReader,
    )

    eq = EqualTo(("B",), 2)
    gt = GreaterThan(("C",), 10)
    nn = IsNotNull(("A",))
    alien = StringStartsWith(("A",), "x")
    nested = EqualTo(("A", "b"), 1)

    # the BASE reader must not even implement pushFilters — Spark 4.1
    # hard-fails a Python source that implements it while the session
    # conf is off (round 5's only failure class)
    assert "pushFilters" not in MiniSQLReader.__dict__

    off = MiniSQLPushdownReader("/dev/null", 1, ["A", "B", "C"])
    assert list(off.pushFilters([eq, gt, nn])) == [eq, gt, nn]
    assert off._pushed == []

    on = MiniSQLPushdownReader("/dev/null", 1, ["A", "B", "C"], enable_pushdown=True)
    remaining = list(on.pushFilters([eq, gt, nn, alien, nested]))
    assert remaining == [alien, nested]
    assert (1, op_mod.eq, 2) in on._pushed
    assert (2, op_mod.gt, 10) in on._pushed
    assert len(on._pushed) == 2


def test_minisql_filter_pushdown_end_to_end(spark):
    """With pushdown opted in, the filter disappears from the physical
    plan (absorbed by the reader) and the rows equal the default-off
    scan + DataFrame filter."""
    pred = (F.col("B") == 2) & (F.col("A") < 10)
    pushed_df = _minisql_push(spark, "table1").filter(pred)
    via_push = sorted(map(tuple, pushed_df.collect()))
    via_spark = sorted(map(tuple, _minisql(spark, "table1").filter(pred).collect()))
    assert via_push == via_spark and via_push
    plan = pushed_df._jdf.queryExecution().executedPlan().toString()
    assert " Filter (" not in plan, plan  # no Filter node: absorbed by the scan


def test_minisql_default_read_survives_pushdown_disabled(spark):
    """With ``spark.sql.python.filterPushdown.enabled`` explicitly OFF
    (a driver-default session), a DEFAULT read — no ``pushdown``
    option, the shape every engine code path except the explicit
    opt-ins uses — must serve the pushFilters-free base reader and
    answer queries, filtered and unfiltered, instead of tripping
    ``DATA_SOURCE_PUSHDOWN_DISABLED``. Regression test for round 5's
    four driver-red streaming queries."""
    from mini_sql_engine_spark.sources import datasource

    key = "spark.sql.python.filterPushdown.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        spark.dataSource.register(datasource.MiniSQLDataSource)
        base = (
            spark.read.format("minisql")
            .option("path", MINI_DIR)
            .option("table", "table1")
            .load()
        )
        full = sorted(map(tuple, base.collect()))
        filtered = sorted(map(tuple, base.filter(F.col("B") == 2).collect()))
        assert len(full) > len(filtered) > 0
    finally:
        spark.conf.set(key, prev)
    # conf restored: the normal path (register() re-enables) still pushes
    datasource.register(spark)
    assert spark.conf.get(key) == "true"


def test_minisql_pushdown_off_by_default_is_reuse_safe(spark):
    """Spark 4.1 caches the planned Python read on a shared relation; a
    default-off reader never absorbs filters, so reusing one loaded
    DataFrame across filtered and unfiltered queries stays correct."""
    base = _minisql(spark, "table1")
    filtered = sorted(map(tuple, base.filter(F.col("B") == 2).collect()))
    full = sorted(map(tuple, base.collect()))
    assert len(full) > len(filtered) > 0


def test_minisql_time_travel_versions(spark, tmp_path):
    """retain=true archives each committed version; versionAsOf reads
    them back; current read is unaffected; unretained version errors."""
    import pytest as _pytest

    from mini_sql_engine_spark.sources import datasource

    d = str(tmp_path)
    datasource.register(spark)

    def write(rows, mode):
        (
            spark.createDataFrame(rows, "a long, b long")
            .coalesce(1)
            .write.format("minisql")
            .option("path", d)
            .option("table", "tt")
            .option("retain", "true")
            .mode(mode)
            .save()
        )

    def read(version=None):
        r = spark.read.format("minisql").option("path", d).option("table", "tt")
        if version is not None:
            r = r.option("versionAsOf", str(version))
        return sorted(tuple(x) for x in r.load().collect())

    write([(1, 10), (2, 20)], "overwrite")
    write([(3, 30)], "append")
    write([(9, 90)], "overwrite")
    assert read(1) == [(1, 10), (2, 20)]
    assert read(2) == [(1, 10), (2, 20), (3, 30)]
    assert read(3) == [(9, 90)]
    assert read() == [(9, 90)]  # current = latest
    with _pytest.raises(Exception, match="not retained"):
        read(7)


def test_csv_malformed_record_modes(spark, tmp_path):
    """Engine-source robustness on dirty CSV input: PERMISSIVE captures
    the bad line in the corrupt-record column with nulls elsewhere,
    DROPMALFORMED silently drops it, FAILFAST kills the job — the three
    contracts a 100 TB ingest must choose between (PERMISSIVE + a
    quarantine filter being the production default: never lose a batch
    to one bad row)."""
    import pytest
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    p = tmp_path / "dirty.csv"
    p.write_text("1,2\n3,notanumber\n5,6\n")
    schema = StructType(
        [
            StructField("a", LongType()),
            StructField("b", LongType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    perm = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(str(p))
    )
    rows = {tuple(r) for r in perm.collect()}
    assert (1, 2, None) in rows and (5, 6, None) in rows
    assert any(r[2] == "3,notanumber" for r in rows)

    drop = (
        spark.read.schema(
            StructType(
                [StructField("a", LongType()), StructField("b", LongType())]
            )
        )
        .option("mode", "DROPMALFORMED")
        .csv(str(p))
    )
    assert sorted(map(tuple, drop.collect())) == [(1, 2), (5, 6)]

    with pytest.raises(Exception) as exc:
        (
            spark.read.schema(
                StructType(
                    [StructField("a", LongType()), StructField("b", LongType())]
                )
            )
            .option("mode", "FAILFAST")
            .csv(str(p))
            .collect()
        )
    assert "Malformed" in str(exc.value) or "FAILFAST" in str(exc.value)


def test_minisql_writer_ignores_stale_staging(spark, tmp_path):
    """Crash robustness: a staging dir left behind by a dead writer
    (fragments never committed) must not corrupt the table — the
    reader consumes only the committed <table>.csv, and a subsequent
    clean write succeeds alongside the debris."""
    import os
    import shutil as _sh

    from mini_sql_engine_spark.sources import datasource

    datasource.register(spark)
    d = str(tmp_path / "native")
    _sh.copytree(MINI_DIR, d)

    # simulate a crashed job: orphan staging fragments, no commit
    stale = os.path.join(d, ".table3.staging-deadbeef")
    os.makedirs(stale)
    with open(os.path.join(stale, "part-orphan.csv"), "w") as fh:
        fh.write("999,999\n")

    df = spark.range(0, 5).selectExpr("id AS X", "id * 2 AS Y")
    (df.write.format("minisql").option("path", d).option("table", "table3")
       .mode("overwrite").save())
    back = (spark.read.format("minisql").option("path", d)
            .option("table", "table3").load())
    got = sorted(map(tuple, back.collect()))
    assert got == [(i, i * 2) for i in range(5)]  # orphan rows absent


def test_minisql_stream_writer_replay_is_idempotent(tmp_path):
    """The streaming sink's truncation-based commit converges no matter
    where a previous attempt died: (a) full replay of a committed
    batch, (b) crash AFTER the log write but BEFORE the data swap,
    (c) crash AFTER the swap — all end with identical table bytes."""
    import json
    import os

    from mini_sql_engine_spark.sources.datasource import (
        MiniSQLStreamWriter,
        _Fragment,
    )

    d = str(tmp_path)

    def frag(w, rows):
        p = os.path.join(w.staging, f"f{len(os.listdir(w.staging))}.csv")
        with open(p, "w") as fh:
            fh.writelines(f"{a},{b}\n" for a, b in rows)
        return _Fragment(p)

    w = MiniSQLStreamWriter(d, "t", ["a", "b"])
    w.commit([frag(w, [(1, 10), (2, 20)])], 0)
    w.commit([frag(w, [(3, 30)])], 1)
    final = os.path.join(d, "t.csv")
    committed = open(final).read()
    assert committed == "1,10\n2,20\n3,30\n"

    # only the latest batchId can be replayed, so recording batch 1
    # pruned batch 0's entry — the streamlog stays O(1) over the
    # stream's lifetime instead of one entry per micro-batch
    assert set(json.load(open(os.path.join(d, "t.streamlog.json")))) == {"1"}

    # (a) replay batch 1 wholesale (re-executed fragments)
    w.commit([frag(w, [(3, 30)])], 1)
    assert open(final).read() == committed

    # (b) crash window: log has batch 2's size_before but the data
    # swap never happened — the retry must append exactly once
    logp = os.path.join(d, "t.streamlog.json")
    log = json.load(open(logp))
    log["2"] = os.path.getsize(final)
    json.dump(log, open(logp, "w"))
    w.commit([frag(w, [(4, 40)])], 2)
    after2 = open(final).read()
    assert after2 == committed + "4,40\n"

    # (c) crash after the swap: replay batch 2 again — truncate + re-append
    w.commit([frag(w, [(4, 40)])], 2)
    assert open(final).read() == after2

    # metadata registered once
    meta = open(os.path.join(d, "metadata.txt")).read()
    assert meta.count("<begin_table>") == 1


def test_minisql_stream_writer_schema_and_mode_guards(tmp_path):
    """The streaming sink refuses a schema drift against the committed
    catalog (same contract as the batch writer) and refuses non-append
    output modes at the DataSource level."""
    import os

    import pytest as _pytest

    from mini_sql_engine_spark.plans.dialect import EngineError
    from mini_sql_engine_spark.sources.datasource import (
        MiniSQLDataSource,
        MiniSQLStreamWriter,
        _Fragment,
    )

    d = str(tmp_path)
    w = MiniSQLStreamWriter(d, "t", ["a", "b"])
    p = os.path.join(w.staging, "f0.csv")
    with open(p, "w") as fh:
        fh.write("1,10\n")
    w.commit([_Fragment(p)], 0)

    import json as _json

    final = os.path.join(d, "t.csv")
    logp = os.path.join(d, "t.streamlog.json")
    table_before = open(final, "rb").read()
    log_before = _json.load(open(logp))

    w2 = MiniSQLStreamWriter(d, "t", ["a", "c"])  # drifted column name
    p2 = os.path.join(w2.staging, "f0.csv")
    with open(p2, "w") as fh:
        fh.write("2,20\n")
    with _pytest.raises(EngineError, match="schema mismatch"):
        w2.commit([_Fragment(p2)], 1)
    # the guard must fire BEFORE the commit-log write and the data
    # swap: a rejected batch leaves table bytes AND streamlog untouched
    assert open(final, "rb").read() == table_before
    assert _json.load(open(logp)) == log_before

    ds = MiniSQLDataSource(options={"path": d, "table": "t"})
    with _pytest.raises(EngineError, match="append mode only"):
        ds.streamWriter(schema=None, overwrite=True)


def test_avro_codec_roundtrip_blocks_and_sync(tmp_path):
    """From-spec Avro container codec: multi-block files round-trip
    exactly, block boundaries land every BLOCK_RECORDS records, a
    corrupted sync marker is detected, and the null codec works."""
    import os

    from mini_sql_engine_spark.sources import avro_codec as ac

    rows = [
        (i, f"lang{i % 3}", f"src-{i}é\n\"quoted\"", i * 7)
        for i in range(ac.BLOCK_RECORDS * 2 + 17)  # 3 blocks, last partial
    ]
    path = str(tmp_path / "t.avro")
    n = ac.write_container(path, rows)
    assert n == len(rows)

    data = open(path, "rb").read()
    assert data[:4] == ac.MAGIC
    schema, back = ac.read_container(data)
    assert [f["name"] for f in schema["fields"]] == [
        "doc_id", "lang", "source", "n_chars",
    ]
    assert back == rows

    # sync marker appears once after metadata + once per data block
    import hashlib

    sync = hashlib.md5(path.encode()).digest()
    assert data.count(sync) == 1 + 3

    # flip one byte of the LAST sync marker → torn-block detection
    idx = data.rfind(sync)
    torn = data[:idx] + bytes([data[idx] ^ 0xFF]) + data[idx + 1:]
    with pytest.raises(ValueError, match="sync marker"):
        ac.read_container(torn)

    # null codec round-trips too
    p2 = str(tmp_path / "n.avro")
    ac.write_container(p2, rows[:5], codec="null")
    _, back2 = ac.read_container(open(p2, "rb").read())
    assert back2 == rows[:5]

    # zigzag edge values survive (negative longs, int64 extremes)
    for v in (0, -1, 1, -2**63, 2**63 - 1, 12345, -98765):
        buf = ac.zigzag_encode(v)
        got, pos = ac.zigzag_decode(buf, 0)
        assert got == v and pos == len(buf)


def test_read_any_strict_schema_gate(spark, sf_dir, tmp_path):
    """Schema-less CSV/JSON reads raise unless allow_infer=True —
    the 100-TB no-inference rule is self-enforcing."""
    df = load_table(spark, sf_dir, "region")
    for fmt in ("csv", "json"):
        path = str(tmp_path / f"r_{fmt}")
        src_io.write_any(df, path, fmt)
        with pytest.raises(ValueError, match="explicit schema"):
            src_io.read_any(spark, path, fmt)
        back = src_io.read_any(spark, path, fmt, allow_infer=True)
        assert back.count() == df.count()
    # self-describing formats stay schema-optional
    path = str(tmp_path / "r_parquet")
    src_io.write_any(df, path, "parquet")
    assert src_io.read_any(spark, path, "parquet").count() == df.count()


def test_avro_codec_property_roundtrip():
    """Property: ANY (long, string, string, long) row list round-trips
    through the container codec byte-for-byte — unicode, newlines,
    quotes, int64 extremes, empty strings, block-boundary counts."""
    from hypothesis import given, settings, strategies as st

    from mini_sql_engine_spark.sources import avro_codec as ac

    longs = st.integers(min_value=-(2**63), max_value=2**63 - 1)
    texts = st.text(max_size=40)
    rows_strategy = st.lists(
        st.tuples(longs, texts, texts, longs), max_size=30
    )

    @given(rows=rows_strategy)
    @settings(max_examples=150, deadline=None)
    def check(rows):
        import io
        import os
        import tempfile

        fd, path = tempfile.mkstemp(suffix=".avro")
        os.close(fd)
        try:
            n = ac.write_container(path, rows)
            assert n == len(rows)
            _, back = ac.read_container(open(path, "rb").read())
            assert back == rows
        finally:
            os.remove(path)

    check()


def test_read_state_failfast_on_schema_mismatch(tmp_path, spark):
    """A state read whose caller schema has FEWER columns than the
    table must raise (FAILFAST), never silently truncate — the failure
    mode that produced zeroed bitmap counts in round 8 dev."""
    import os

    from mini_sql_engine_spark.streaming.upsert import _read_state

    d = str(tmp_path)
    with open(os.path.join(d, "metadata.txt"), "w") as fh:
        fh.write("<begin_table>\nt\na\nb\nc\n<end_table>\n")
    with open(os.path.join(d, "t.csv"), "w") as fh:
        fh.write("1,2,3\n4,5,6\n")
    ok = _read_state(spark, d, "t", schema="a long, b long, c long")
    assert sorted(map(tuple, ok.collect())) == [(1, 2, 3), (4, 5, 6)]
    bad = _read_state(spark, d, "t", schema="a long, b long")
    with pytest.raises(Exception, match="MALFORMED_RECORD|FAILFAST"):
        bad.collect()


def test_session_memos_rebind_on_reused_session_id(spark, sf_dir):
    """The scan memo and the parity Engine cache key on id(spark), and
    a stopped session's id can be reused by a new one. An entry bound
    to another session under the caller's id must be replaced by a
    fresh object bound to the caller, never handed out."""
    from mini_sql_engine_spark import catalog
    from mini_sql_engine_spark.engine import Engine
    from mini_sql_engine_spark.operators import parity

    other = spark.newSession()
    scan_key = (id(spark), "nation", catalog.content_token(sf_dir, "nation"))
    catalog._SCAN_MEMO[scan_key] = other.read.parquet(f"{sf_dir}/nation.parquet")
    df = load_table(spark, sf_dir, "nation")
    assert df.sparkSession is spark
    assert catalog._SCAN_MEMO[scan_key] is df
    want = pd.read_parquet(f"{sf_dir}/nation.parquet")
    assert df.count() == len(want)

    eng_key = (id(spark), sf_dir)
    parity._ENGINE_CACHE[eng_key] = Engine.from_parquet_dir(other, sf_dir)
    eng = parity.engine_for(spark, sf_dir)
    assert eng.spark is spark
    assert parity._ENGINE_CACHE[eng_key] is eng
    assert eng.sql("SELECT * FROM nation;").count() == len(want)
