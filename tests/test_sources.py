"""Sources layer: schema-enforced file reads, corrupt-record handling,
incremental watermark protocol, JDBC option/SQL construction."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_MED
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from dimagi_data_platform_spark.catalog import load_table
from dimagi_data_platform_spark.sources.files import (
    CORRUPT_COL,
    read_csv,
    read_json,
    split_corrupt,
    write_partitioned_parquet,
)
from dimagi_data_platform_spark.sources.incremental import (
    WatermarkStore,
    advance_watermark,
    incremental_read,
)
from dimagi_data_platform_spark.sources.jdbc import (
    JdbcConfig,
    merge_sql,
    reader_options,
    writer_options,
)

SCHEMA = StructType(
    [StructField("id", IntegerType()), StructField("name", StringType())]
)


def test_read_json_splits_corrupt_records(spark, tmp_path):
    p = tmp_path / "in"
    p.mkdir()
    (p / "a.json").write_text('{"id": 1, "name": "ok"}\n{"id": "notanint"}\nnot json at all\n')
    df = read_json(spark, str(p), SCHEMA)
    clean, bad = split_corrupt(df)
    assert [r.id for r in clean.collect()] == [1]
    assert bad.count() == 2
    assert CORRUPT_COL in bad.columns


def test_read_csv_with_header(spark, tmp_path):
    p = tmp_path / "csv"
    p.mkdir()
    (p / "a.csv").write_text("id,name\n1,alpha\n2,beta\n")
    clean, bad = split_corrupt(read_csv(spark, str(p), SCHEMA))
    assert sorted((r.id, r.name) for r in clean.collect()) == [(1, "alpha"), (2, "beta")]
    assert bad.count() == 0


def test_write_partitioned_parquet_prunes(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", "2024-01"), (2, "b", "2024-02")], "id int, v string, month string"
    )
    out = str(tmp_path / "part")
    write_partitioned_parquet(df, out, ["month"])
    assert os.path.isdir(os.path.join(out, "month=2024-01"))
    back = spark.read.parquet(out).filter(F.col("month") == "2024-01")
    assert back.count() == 1


def test_incremental_watermark_protocol(spark, tmp_path):
    store = WatermarkStore(str(tmp_path / "wm.json"))
    df1 = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, "2024-01-01 01:00:00")], "id int, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))

    first = incremental_read(df1, "ts", store, "events")
    assert first.count() == 2  # no watermark yet → everything
    advance_watermark(first, "ts", store, "events")

    df2 = df1.union(
        spark.createDataFrame([(3, "2024-01-01 02:00:00")], "id int, ts string")
        .withColumn("ts", F.to_timestamp("ts"))
    )
    second = incremental_read(df2, "ts", store, "events")
    assert [r.id for r in second.collect()] == [3]  # only strictly-new rows

    # empty batch must not regress the watermark
    wm_before = store.get("events")
    advance_watermark(second.filter(F.lit(False)), "ts", store, "events")
    assert store.get("events") == wm_before


def test_jdbc_partitioned_reader_options():
    cfg = JdbcConfig(
        url="jdbc:postgresql://db/warehouse",
        table="forms",
        user="u",
        password="p",
        num_partitions=16,
        partition_column="form_id",
        lower_bound="0",
        upper_bound="1000000",
    )
    opts = reader_options(cfg, predicate="received_on > '2024-01-01'")
    assert opts["numPartitions"] == "16"
    assert opts["partitionColumn"] == "form_id"
    assert "received_on > '2024-01-01'" in opts["dbtable"]
    assert opts["fetchsize"] == "10000"


def test_jdbc_partition_options_all_or_nothing():
    cfg = JdbcConfig(url="jdbc:x", table="t", num_partitions=4)
    with pytest.raises(ValueError):
        reader_options(cfg)


def test_jdbc_writer_options():
    cfg = JdbcConfig(url="jdbc:x", table="t", batch_size=500)
    assert writer_options(cfg)["batchsize"] == "500"


def test_merge_sql_upsert_shape():
    sql = merge_sql("monthly_usage", "monthly_usage_staging", ["user_id", "month"],
                    ["user_id", "month", "n_events", "total_value"])
    assert "MERGE INTO monthly_usage t USING monthly_usage_staging s" in sql
    assert "t.user_id = s.user_id AND t.month = s.month" in sql
    assert "UPDATE SET n_events = s.n_events, total_value = s.total_value" in sql
    assert "INSERT (user_id, month, n_events, total_value)" in sql


def test_orc_roundtrip_with_partitioning(spark, tmp_path):
    from dimagi_data_platform_spark.sources.files import read_orc, write_orc

    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "x"), (3, "c", "y")], "id long, v string, pt string"
    )
    path = str(tmp_path / "orc_out")
    write_orc(df, path, partition_by=["pt"])
    back = read_orc(spark, path)
    assert sorted((r.id, r.v, r.pt) for r in back.collect()) == [
        (1, "a", "x"), (2, "b", "x"), (3, "c", "y")]
    # partition pruning: a pt filter must not scan the other partition
    pruned = back.filter(back.pt == "y")
    assert "pt=y" in pruned._jdf.queryExecution().executedPlan().toString() or pruned.count() == 1


def test_write_sorted_parquet_layout_prunes(spark, tmp_path):
    from dimagi_data_platform_spark.sources.files import write_sorted_parquet

    from dimagi_data_platform_spark.catalog import load_table
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events")
    out = str(tmp_path / "sorted_events")
    write_sorted_parquet(ev, out, "ts", n_files=4)
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    # each file covers a disjoint ts range (range partitioning), so the
    # per-file min/max from parquet stats must not overlap
    import pyarrow.parquet as pq
    import glob

    spans = []
    for f in sorted(glob.glob(out + "/*.parquet")):
        md = pq.ParquetFile(f).metadata
        cols = {md.row_group(0).column(c).path_in_schema: c for c in range(md.row_group(0).num_columns)}
        ci = cols["ts"]
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            mins.append(st.min); maxs.append(st.max)
        spans.append((min(mins), max(maxs)))
    spans.sort()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, "file ts ranges must be disjoint for pruning"


# Dialect parameterization: the same JDBC suite runs against a real
# Postgres warehouse when SPARK_GRAFT_PG_URL is set (e.g.
# "jdbc:postgresql://host/db?user=u&password=p"); embedded Derby is the
# in-container default. Everything exercised — round-trip, partitioned
# parallel read, predicate pushdown, MERGE upsert — is dialect-portable
# SQL, so the suite itself is unchanged.
_PG_URL = os.environ.get("SPARK_GRAFT_PG_URL")


def _db_cfg(tmp_path, table):
    from dimagi_data_platform_spark.sources.jdbc import JdbcConfig

    if _PG_URL:
        return JdbcConfig(url=_PG_URL, table=table, driver="org.postgresql.Driver")
    return JdbcConfig(
        url=f"jdbc:derby:{tmp_path}/derbydb;create=true",
        table=table,
        driver="org.apache.derby.iapi.jdbc.AutoloadedDriver",
    )


def test_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """Real JDBC integration: Spark -> embedded Derby -> Spark."""
    from dimagi_data_platform_spark.sources.jdbc import read_jdbc, write_jdbc

    # uppercase identifiers: Spark quotes them on CREATE, and quoted
    # uppercase equals Derby's resolution of unquoted references, so
    # predicates/partition columns can be written naturally
    df = spark.createDataFrame(
        [(i, f"u{i}", float(i) * 1.5) for i in range(100)],
        "ID bigint, NAME string, SCORE double",
    )
    cfg = _db_cfg(tmp_path, "USERS")
    write_jdbc(df, cfg, mode="overwrite")

    back = read_jdbc(spark, cfg)
    assert back.count() == 100
    assert {f.name for f in back.schema.fields} == {"ID", "NAME", "SCORE"}

    # partitioned parallel read: 4 connections, disjoint id ranges
    cfg_p = _db_cfg(tmp_path, "USERS")
    cfg_p.num_partitions = 4
    cfg_p.partition_column = "ID"
    cfg_p.lower_bound = "0"
    cfg_p.upper_bound = "100"
    part = read_jdbc(spark, cfg_p)
    assert part.rdd.getNumPartitions() == 4
    assert part.count() == 100

    # server-side predicate pushdown via dbtable subquery
    filt = read_jdbc(spark, _db_cfg(tmp_path, "USERS"), predicate="ID < 10")
    assert filt.count() == 10


def test_jdbc_merge_upsert_executes_on_derby(spark, tmp_path):
    """merge_sql must be real executable SQL: run it on Derby and
    verify upsert semantics (update matched, insert new)."""
    from dimagi_data_platform_spark.sources.jdbc import merge_sql, write_jdbc

    # Spark's JDBC writer quotes identifiers as given; use uppercase so
    # the generated (unquoted) MERGE references resolve in Derby
    base = spark.createDataFrame([(1, 10.0), (2, 20.0)], "ID bigint, V double")
    stage = spark.createDataFrame([(2, 99.0), (3, 30.0)], "ID bigint, V double")
    cfg_t = _db_cfg(tmp_path, "TGT")
    cfg_s = _db_cfg(tmp_path, "STG")
    write_jdbc(base, cfg_t, mode="overwrite")
    write_jdbc(stage, cfg_s, mode="overwrite")

    sql = merge_sql("TGT", "STG", keys=["ID"], columns=["ID", "V"])
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(cfg_t.url)
    try:
        st = conn.createStatement()
        st.executeUpdate(sql)
        st.close()
    finally:
        conn.close()

    got = {
        r.ID: r.V
        for r in spark.read.format("jdbc")
        .options(url=cfg_t.url, dbtable="TGT", driver=cfg_t.driver)
        .load()
        .collect()
    }
    assert got == {1: 10.0, 2: 99.0, 3: 30.0}


def test_incremental_etl_pipeline_end_to_end(spark, tmp_path):
    """The reference's core loop: incremental pull on a received_on
    watermark -> latest-wins merge into the warehouse -> re-pull only
    new data -> warehouse converges to the true latest state."""
    from dimagi_data_platform_spark.operators.dedup import latest_by_key
    from dimagi_data_platform_spark.sources.incremental import (
        WatermarkStore,
        advance_watermark,
        incremental_read,
    )

    src = str(tmp_path / "landing")
    wh = str(tmp_path / "warehouse")
    store = WatermarkStore(str(tmp_path / "wm.json"))

    def land(rows):
        spark.createDataFrame(
            rows, "form_id long, case_id long, received_on timestamp, v string"
        ).write.mode("append").parquet(src)

    def pull_and_merge():
        batch = incremental_read(
            spark.read.parquet(src), "received_on", store, "forms"
        )
        merged = batch
        if os.path.isdir(wh) and any(f.endswith(".parquet") for f in os.listdir(wh)):
            merged = spark.read.parquet(wh).unionByName(batch)
        latest = latest_by_key(merged, ["form_id"], ["received_on", "v"])
        latest.write.mode("overwrite").parquet(wh + "_next")
        import shutil

        if os.path.isdir(wh):
            shutil.rmtree(wh)
        shutil.move(wh + "_next", wh)
        advance_watermark(batch, "received_on", store, "forms")
        return batch.count()

    t0 = dt.datetime(2024, 1, 1)

    land([(1, 10, t0, "a"), (2, 10, t0 + dt.timedelta(hours=1), "b")])
    assert pull_and_merge() == 2

    # batch 2: resubmission of form 1 (later received_on wins) + new form
    land([(1, 10, t0 + dt.timedelta(hours=2), "a2"),
          (3, 11, t0 + dt.timedelta(hours=3), "c")])
    n2 = pull_and_merge()
    assert n2 == 2, "watermark must exclude already-pulled rows"

    final = {r.form_id: r.v for r in spark.read.parquet(wh).collect()}
    assert final == {1: "a2", 2: "b", 3: "c"}

    # idle pull: nothing new
    assert pull_and_merge() == 0


def test_merge_sql_rejects_unsafe_identifiers():
    import pytest

    with pytest.raises(ValueError, match="unsafe"):
        merge_sql("tgt; DROP TABLE x", "stg", ["id"], ["id", "v"])
    with pytest.raises(ValueError, match="unsafe"):
        merge_sql("tgt", "stg", ["id"], ["id", "v = 0 WHERE 1=1 --"])


def test_upsert_partitioned_latest_wins_and_preserves_untouched(spark, tmp_path):
    from dimagi_data_platform_spark.sources.incremental import upsert_partitioned

    mode_key = "spark.sql.sources.partitionOverwriteMode"
    session_mode = spark.conf.get(mode_key)
    path = str(tmp_path / "upsert_tbl")
    base = spark.createDataFrame(
        [(1, "a", 1, "p1"), (2, "b", 1, "p1"), (3, "c", 1, "p2"), (4, "d", 1, "p3")],
        "id long, v string, version long, part string",
    )
    upsert_partitioned(spark, base, path, ["id"], "version", "part")
    upd = spark.createDataFrame(
        [(2, "b2", 2, "p1"), (5, "e", 2, "p2")],
        "id long, v string, version long, part string",
    )
    upsert_partitioned(spark, upd, path, ["id"], "version", "part")
    got = {(r.id, r.v, r.version, r.part) for r in spark.read.parquet(path).collect()}
    assert got == {
        (1, "a", 1, "p1"),
        (2, "b2", 2, "p1"),   # updated in place
        (3, "c", 1, "p2"),
        (5, "e", 2, "p2"),    # inserted
        (4, "d", 1, "p3"),    # untouched partition preserved
    }
    # the dynamic mode is set per write, never left on the session
    assert spark.conf.get(mode_key) == session_mode


def test_zorder_layout_bounds_both_columns_per_file(spark, tmp_path):
    """Z-ordered files must be tight on BOTH interleaved columns, where
    a single-column sort is tight on one and spans the full domain on
    the other — the multi-column data-skipping property."""
    import glob

    import pyarrow.parquet as pq

    from dimagi_data_platform_spark.operators.layout import write_zordered

    orders = load_table(spark, SF_MED, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    zpath, lpath = str(tmp_path / "zorder"), str(tmp_path / "linear")
    write_zordered(orders, zpath, ["o_custkey", "o_totalprice"], n_files=8)
    (
        orders.repartitionByRange(8, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite")
        .parquet(lpath)
    )

    def per_file_span_fraction(path, col):
        lo = min_v = None
        spans, glo, ghi = [], None, None
        files = [f for f in glob.glob(path + "/*.parquet")]
        for f in files:
            t = pq.read_table(f, columns=[col])[col].to_pylist()
            if not t:
                continue
            spans.append((min(t), max(t)))
            glo = min(t) if glo is None else min(glo, min(t))
            ghi = max(t) if ghi is None else max(ghi, max(t))
        domain = float(ghi - glo)
        return sum((hi - lo) / domain for lo, hi in spans) / len(spans)

    # linear layout: first sort column tight, second spans ~everything
    assert per_file_span_fraction(lpath, "o_custkey") < 0.5
    assert per_file_span_fraction(lpath, "o_totalprice") > 0.9
    # z-order: BOTH columns materially tighter than the full domain
    z_cust = per_file_span_fraction(zpath, "o_custkey")
    z_price = per_file_span_fraction(zpath, "o_totalprice")
    assert z_cust < 0.75, z_cust
    assert z_price < 0.75, z_price


def test_compact_parquet_reduces_file_count_preserving_rows(spark, tmp_path):
    from dimagi_data_platform_spark.sources.files import compact_parquet

    import glob

    src, dst = str(tmp_path / "small"), str(tmp_path / "compacted")
    orders = load_table(spark, SF_MED, "orders")
    orders.repartition(64).write.parquet(src)  # simulate tiny-file ingestion
    assert len(glob.glob(src + "/*.parquet")) == 64
    n = compact_parquet(spark, src, dst, target_file_mb=128)
    got = spark.read.parquet(dst)
    assert len(glob.glob(dst + "/*.parquet")) == n <= 4
    assert got.count() == orders.count()
    # coalesce path must not have shuffled: checksum equality is enough
    assert (
        got.agg(F.sum("o_orderkey")).collect()[0][0]
        == orders.agg(F.sum("o_orderkey")).collect()[0][0]
    )


def test_read_binary_dir_glob_and_content(spark, tmp_path):
    from dimagi_data_platform_spark.sources.files import read_binary_dir

    (tmp_path / "a.png").write_bytes(b"\x89PNG-fake-a")
    (tmp_path / "b.png").write_bytes(b"\x89PNG-fake-bb")
    (tmp_path / "c.txt").write_bytes(b"not an image")
    df = read_binary_dir(spark, str(tmp_path), glob="*.png")
    assert {f.name for f in df.schema.fields} == {
        "path", "modificationTime", "length", "content"
    }
    rows = {r.path.rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == {"a.png", "b.png"}  # listing-time glob pruning
    assert bytes(rows["a.png"].content) == b"\x89PNG-fake-a"
    assert rows["b.png"].length == 12
    sizes = {r.length for r in df.select("length").collect()}
    assert sizes == {11, 12}


def test_read_parquet_evolving_merges_added_columns(spark, tmp_path):
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from dimagi_data_platform_spark.sources.files import read_parquet_evolving

    base = str(tmp_path / "landing")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, a string").write.mode(
        "append"
    ).parquet(base)
    spark.createDataFrame(
        [(3, "c", 30.0)], "id long, a string, b double"
    ).write.mode("append").parquet(base)

    merged = read_parquet_evolving(spark, base)
    assert set(merged.columns) == {"id", "a", "b"}
    rows = {r.id: r for r in merged.collect()}
    assert rows[1].b is None and rows[3].b == 30.0  # old files NULL-fill

    # explicit-schema path: no footer sweep, same NULL-fill semantics
    explicit = StructType(
        [
            StructField("id", LongType()),
            StructField("a", StringType()),
            StructField("b", StringType()),  # type override also allowed
        ]
    )
    got = read_parquet_evolving(spark, base, schema=explicit)
    assert dict(got.dtypes)["b"] == "string"
    assert {r.id for r in got.filter("b IS NULL").collect()} == {1, 2}


def test_read_text_lines_and_whole_files(spark, tmp_path):
    from dimagi_data_platform_spark.sources.files import read_text_lines

    d = tmp_path / "txt"
    d.mkdir()
    (d / "a.txt").write_text("line1\nline2\n")
    (d / "b.txt").write_text("solo\n")
    lines = read_text_lines(spark, str(d), line_col="line")
    got = sorted(r.line for r in lines.collect())
    assert got == ["line1", "line2", "solo"]
    assert all(r.source_file for r in lines.collect())
    whole = read_text_lines(spark, str(d), whole_text=True, line_col="doc")
    docs = {r.source_file.rsplit("/", 1)[-1]: r.doc for r in whole.collect()}
    assert docs == {"a.txt": "line1\nline2\n", "b.txt": "solo\n"}


# ---- config-driven streaming sources (sources/stream.py) ----


def test_open_stream_file_kind_drains(spark, tmp_path):
    import json as _json

    from dimagi_data_platform_spark.sources.stream import (
        StreamSource,
        open_stream,
    )

    d = tmp_path / "stream_in"
    d.mkdir()
    rows = [{"id": 1, "v": "a"}, {"id": 2, "v": "b"}]
    (d / "batch0.json").write_text("\n".join(_json.dumps(r) for r in rows))
    src = StreamSource(kind="file", schema="id long, v string", path=str(d))
    stream = open_stream(spark, src)
    assert stream.isStreaming
    out = tmp_path / "out"
    q = (
        stream.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted((r.id, r.v) for r in spark.read.parquet(str(out)).collect())
    assert got == [(1, "a"), (2, "b")]


def test_kafka_options_mapping_and_validation():
    import pytest as _pytest

    from dimagi_data_platform_spark.sources.stream import (
        StreamSource,
        kafka_options,
    )

    src = StreamSource(
        kind="kafka",
        bootstrap_servers="broker1:9092,broker2:9092",
        topic="events",
        starting_offsets="latest",
        options={"maxOffsetsPerTrigger": 50000},
    )
    opts = kafka_options(src)
    assert opts["kafka.bootstrap.servers"] == "broker1:9092,broker2:9092"
    assert opts["subscribe"] == "events"
    assert opts["startingOffsets"] == "latest"
    assert opts["failOnDataLoss"] == "false"
    assert opts["maxOffsetsPerTrigger"] == "50000"
    with _pytest.raises(ValueError):
        kafka_options(StreamSource(kind="kafka", topic="events"))
    with _pytest.raises(ValueError):
        kafka_options(StreamSource(kind="file", path="/x"))


def test_parse_kafka_value_typed_and_malformed(spark):
    from dimagi_data_platform_spark.sources.stream import parse_kafka_value

    # batch frame with the kafka wire schema (value binary + timestamp)
    raw = spark.createDataFrame(
        [
            (bytearray(b'{"id": 7, "v": "ok"}'), dt.datetime(2024, 1, 1)),
            (bytearray(b"not json at all"), dt.datetime(2024, 1, 2)),
        ],
        "value binary, timestamp timestamp",
    )
    got = parse_kafka_value(raw, "id long, v string").orderBy("kafka_ts").collect()
    assert (got[0].id, got[0].v) == (7, "ok")
    assert got[1].id is None and got[1].v is None  # malformed -> NULL row


# ---- paginated REST ingestion (sources/rest.py) ----


def _fake_api(pages, fail_first=0, fail_status=503):
    """Transport over an in-memory paged resource. ``fail_first``
    makes the first N calls fail with ``fail_status`` (then succeed)
    to exercise retry/backoff."""
    calls = {"n": 0, "urls": []}

    def transport(url, params):
        calls["n"] += 1
        calls["urls"].append((url, dict(params)))
        if calls["n"] <= fail_first:
            return fail_status, {}
        if url.startswith("cursor:"):
            page_no = int(url.split(":")[1])
        else:
            page_no = params.get("offset", 0) // 100 if "offset" in params else 0
        if page_no >= len(pages):
            return 200, {"objects": [], "meta": {"next": None}}
        nxt = f"cursor:{page_no + 1}" if page_no + 1 < len(pages) else None
        return 200, {"objects": pages[page_no], "meta": {"next": nxt}}

    return transport, calls


def test_rest_cursor_pagination_pulls_all_pages():
    from dimagi_data_platform_spark.sources.rest import RestSource, fetch_records

    pages = [[{"id": i} for i in range(100)],
             [{"id": i} for i in range(100, 200)],
             [{"id": 200}]]
    transport, calls = _fake_api(pages)
    cfg = RestSource(base_url="https://api.example/v1/forms")
    got = list(fetch_records(transport, cfg, since="2024-01-01"))
    assert [r["id"] for r in got] == list(range(201))
    # watermark param on the first request only (cursor carries on)
    first_url, first_params = calls["urls"][0]
    assert first_params["server_date_modified_start"] == "2024-01-01"
    assert first_params["limit"] == 100


def test_rest_offset_pagination_stops_on_short_page():
    from dimagi_data_platform_spark.sources.rest import RestSource, fetch_records

    pages = [[{"id": i} for i in range(100)], [{"id": 100}]]
    transport, calls = _fake_api(pages)
    cfg = RestSource(base_url="https://api.example/v1/forms", pagination="offset")
    got = list(fetch_records(transport, cfg))
    assert len(got) == 101
    offsets = [p.get("offset") for _, p in calls["urls"]]
    assert offsets == [0, 100]


def test_rest_retries_transient_then_succeeds_and_backs_off():
    from dimagi_data_platform_spark.sources.rest import RestSource, fetch_records

    pages = [[{"id": 1}]]
    transport, calls = _fake_api(pages, fail_first=3)
    slept = []
    cfg = RestSource(base_url="https://api.example/v1/forms")
    got = list(fetch_records(transport, cfg, sleeper=slept.append))
    assert [r["id"] for r in got] == [1]
    assert slept == [0.5, 1.0, 2.0]  # exponential schedule, deterministic
    assert calls["n"] == 4


def test_rest_gives_up_after_max_retries_and_permanent_4xx():
    import pytest as _pytest

    from dimagi_data_platform_spark.sources.rest import RestSource, fetch_records

    transport, _ = _fake_api([[{"id": 1}]], fail_first=99)
    cfg = RestSource(base_url="https://api.example/v1/forms", max_retries=3)
    with _pytest.raises(RuntimeError, match="giving up"):
        list(fetch_records(transport, cfg, sleeper=lambda s: None))

    def bad_request(url, params):
        return 401, {}

    with _pytest.raises(RuntimeError, match="permanent failure 401"):
        list(fetch_records(bad_request, cfg, sleeper=lambda s: None))


def test_rest_ingest_lands_in_spark_with_declared_schema(spark):
    from dimagi_data_platform_spark.sources.rest import RestSource, ingest

    pages = [[{"id": 1, "name": "a"}, {"id": 2, "name": "b"}]]
    transport, _ = _fake_api(pages)
    cfg = RestSource(base_url="https://api.example/v1/cases")
    df = ingest(spark, transport, cfg, schema="id long, name string")
    assert df.schema.simpleString() == "struct<id:bigint,name:string>"
    assert sorted((r.id, r.name) for r in df.collect()) == [(1, "a"), (2, "b")]


# ---- versioned tables: time travel + MERGE + vacuum (sources/versioned.py) ----


def test_versioned_write_read_timetravel(spark, tmp_path):
    from dimagi_data_platform_spark.sources.versioned import (
        history,
        read_asof,
        read_version,
        write_version,
    )

    p = str(tmp_path / "tbl")
    v1 = write_version(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
        p, commit_ts="2024-01-01T00:00:00",
    )
    v2 = write_version(
        spark.createDataFrame([(1, "a2"), (3, "c")], "id long, v string"),
        p, commit_ts="2024-02-01T00:00:00",
    )
    assert (v1, v2) == (1, 2)
    assert [h["version"] for h in history(p)] == [1, 2]
    assert {r.id for r in read_version(spark, p).collect()} == {1, 3}  # latest
    assert {r.id for r in read_version(spark, p, 1).collect()} == {1, 2}
    assert {r.id for r in read_asof(spark, p, "2024-01-15T00:00:00").collect()} == {1, 2}
    assert {r.id for r in read_asof(spark, p, "2024-03-01T00:00:00").collect()} == {1, 3}
    import pytest as _pytest
    with _pytest.raises(ValueError):
        read_asof(spark, p, "2023-12-31T00:00:00")
    with _pytest.raises(ValueError):
        read_version(spark, p, 99)


def test_versioned_merge_latest_wins_and_tie_update_wins(spark, tmp_path):
    from dimagi_data_platform_spark.sources.versioned import (
        merge_version,
        read_version,
        write_version,
    )

    p = str(tmp_path / "tbl")
    write_version(
        spark.createDataFrame(
            [(1, 10, "base"), (2, 10, "base")], "id long, ver long, who string"
        ),
        p, commit_ts="2024-01-01T00:00:00",
    )
    merge_version(
        spark,
        p,
        spark.createDataFrame(
            [(1, 10, "upd"),    # tie on ver -> update wins
             (2, 5, "upd"),     # older -> base survives
             (3, 1, "upd")],    # new key -> insert
            "id long, ver long, who string",
        ),
        keys=["id"], order_col="ver", commit_ts="2024-02-01T00:00:00",
    )
    got = {r.id: r.who for r in read_version(spark, p).collect()}
    assert got == {1: "upd", 2: "base", 3: "upd"}
    # the pre-merge snapshot is still readable (time travel)
    old = {r.id: r.who for r in read_version(spark, p, 1).collect()}
    assert old == {1: "base", 2: "base"}


def test_versioned_vacuum_keeps_manifest_consistent(spark, tmp_path):
    import os as _os

    from dimagi_data_platform_spark.sources.versioned import (
        history,
        read_version,
        vacuum,
        write_version,
    )

    p = str(tmp_path / "tbl")
    for i in range(1, 5):
        write_version(
            spark.createDataFrame([(i,)], "id long"),
            p, commit_ts=f"2024-0{i}-01T00:00:00",
        )
    dropped = vacuum(p, keep_last=2)
    assert dropped == [1, 2]
    assert [h["version"] for h in history(p)] == [3, 4]
    assert not _os.path.exists(_os.path.join(p, "v=1"))
    assert {r.id for r in read_version(spark, p, 3).collect()} == {3}
    import pytest as _pytest
    with _pytest.raises(ValueError):
        read_version(spark, p, 1)


def test_versioned_vacuum_spares_inflight_stage_dirs(spark, tmp_path):
    """ADVICE r8: an unreferenced stage dir may belong to an IN-FLIGHT
    writer between _stage_write and its commit CAS — vacuum must sweep
    only stage dirs older than the retention window (mtime-based), or
    a concurrent vacuum silently deletes a committing writer's data."""
    import os as _os

    from dimagi_data_platform_spark.sources.versioned import (
        STAGE_PREFIX,
        vacuum,
        write_version,
    )

    p = str(tmp_path / "tbl")
    for i in range(1, 4):
        write_version(
            spark.createDataFrame([(i,)], "id long"),
            p, commit_ts=f"2024-0{i}-01T00:00:00",
        )
    # a fresh unreferenced stage dir = a writer mid-commit
    fresh = _os.path.join(p, f"{STAGE_PREFIX}inflight")
    _os.makedirs(fresh)
    # an old unreferenced stage dir = crashed-writer garbage
    stale = _os.path.join(p, f"{STAGE_PREFIX}crashed")
    _os.makedirs(stale)
    _os.utime(stale, (0, 0))  # epoch mtime, far past any retention
    vacuum(p, keep_last=1)  # default 24 h retention
    assert _os.path.isdir(fresh), "in-flight stage dir must survive vacuum"
    assert not _os.path.exists(stale), "stale stage dir must be swept"
    # retention 0 sweeps everything unreferenced (single-writer mode)
    vacuum(p, keep_last=1, stage_retention_sec=0)
    assert not _os.path.exists(fresh)


def test_versioned_write_recovers_from_crashed_commit(spark, tmp_path):
    """A crash between the parquet write and the manifest commit leaves
    an unreferenced v=N directory; the next write must overwrite it,
    not brick the table."""
    import os as _os

    from dimagi_data_platform_spark.sources.versioned import (
        history,
        read_version,
        write_version,
    )

    p = str(tmp_path / "tbl")
    write_version(
        spark.createDataFrame([(1,)], "id long"), p, commit_ts="2024-01-01"
    )
    # simulate the crashed write: v=2 exists on disk, manifest doesn't know
    spark.createDataFrame([(99,)], "id long").write.parquet(
        _os.path.join(p, "v=2")
    )
    assert [h["version"] for h in history(p)] == [1]
    write_version(
        spark.createDataFrame([(2,)], "id long"), p, commit_ts="2024-02-01"
    )
    assert [h["version"] for h in history(p)] == [1, 2]
    assert {r.id for r in read_version(spark, p).collect()} == {2}  # not 99


def test_versioned_merge_rejects_schema_drift(spark, tmp_path):
    """MERGE with a drifted update schema must fail loudly (unionByName
    without allowMissingColumns), never silently null-fill a column."""
    import pytest as _pytest

    from dimagi_data_platform_spark.sources.versioned import (
        merge_version,
        write_version,
    )

    p = str(tmp_path / "tbl")
    write_version(
        spark.createDataFrame([(1, 1, "a")], "id long, ver long, v string"),
        p, commit_ts="2024-01-01",
    )
    drifted = spark.createDataFrame([(1, 2)], "id long, ver long")  # missing v
    with _pytest.raises(Exception, match="v|column|resolve|UNION"):
        merge_version(
            spark, p, drifted, keys=["id"], order_col="ver",
            commit_ts="2024-02-01",
        )


# ---------------------------------------------------------------------------
# P10b: Avro (connector-gated)
# ---------------------------------------------------------------------------


def test_avro_gate_raises_clear_error_without_connector(spark):
    """This container ships only the core avro serialization jars —
    the 'avro' DataSource needs the external spark-avro module, and
    the gate must say exactly that instead of the raw
    ClassNotFoundException a bare format('avro') read produces."""
    import pytest

    from dimagi_data_platform_spark.sources.files import (
        _avro_available,
        read_avro,
        write_avro,
    )

    if _avro_available(spark):  # pragma: no cover - connector present
        pytest.skip("spark-avro present: the gated path is live")
    df = spark.range(3)
    with pytest.raises(RuntimeError, match="spark-avro"):
        read_avro(spark, "/tmp/nonexistent.avro")
    with pytest.raises(RuntimeError, match="spark.jars.packages"):
        write_avro(df, "/tmp/nonexistent_out.avro")


def test_avro_reader_writer_option_contract(spark):
    """The option maps are pure functions (the kafka_options CONFIG-
    ONLY pattern) so the contract is testable without the connector;
    the configured reader/writer objects build without error. On a
    cluster with spark-avro these exact objects load/save unchanged."""
    from dimagi_data_platform_spark.sources.files import (
        avro_read_options,
        avro_reader,
        avro_write_options,
        avro_writer,
    )

    schema_json = (
        '{"type":"record","name":"ev","fields":'
        '[{"name":"id","type":"long"},'
        '{"name":"v","type":["null","double"],"default":null}]}'
    )
    assert avro_read_options(schema_json) == {"avroSchema": schema_json}
    assert avro_read_options() == {}
    assert avro_write_options("deflate") == {"compression": "deflate"}
    r, path = avro_reader(spark, "/data/events.avro", schema_json)
    assert path == "/data/events.avro"
    df = spark.range(2).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    avro_writer(df, compression="deflate", partition_by=["id"])


def test_avro_round_trip_when_connector_present(spark, tmp_path):
    """Full write→read round trip — runs only where spark-avro is on
    the classpath (gated skip here), pinning the call path end-to-end."""
    import pytest

    from dimagi_data_platform_spark.sources.files import (
        _avro_available,
        read_avro,
        write_avro,
    )

    if not _avro_available(spark):
        pytest.skip("spark-avro absent in this container (gate tested above)")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    out = str(tmp_path / "avro_rt")
    write_avro(df, out)
    back = read_avro(spark, out)
    assert {(r.id, r.s) for r in back.collect()} == {(1, "a"), (2, "b")}
