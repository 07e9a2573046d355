"""Streaming tests: continuous file conversion (checkpoint/exactly-once/
drain — SURVEY §5.5) and event-time window operators in true
``readStream`` mode vs their batch oracles."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from muninn_avro_to_parquet_spark.sources import avro_io
from muninn_avro_to_parquet_spark.streaming import file_stream, windows
from tests.conftest import CDC_SCHEMA
from tests.test_convert import _write_fixture


def _one_file(base, name, ids):
    path = str(base / name)
    recs = [
        {
            "uuid": f"u{i}",
            "read_timestamp": i,
            "sort_keys": [],
            "source_metadata": {
                "schema": "public",
                "table": "customers",
                "is_deleted": False,
                "change_type": "INSERT",
                "tx_id": i,
                "lsn": f"0/{i}",
                "primary_keys": ["id"],
            },
            "payload": {
                "id": i,
                "name": f"n{i}",
                "age": 30,
                "balance": (10**29).to_bytes(16, "big", signed=True),
                "score": 1.0,
                "active": True,
                "created_at": 1_700_000_000_000_000,
                "updated_at": 1_700_000_000_000,
                "birth_date": 8000,
                "tags": [],
                "attrs": {},
            },
        }
        for i in ids
    ]
    avro_io.write_file(path, CDC_SCHEMA, recs)
    return path


def test_stream_exactly_once_and_restart(spark, tmp_path):
    base = tmp_path / "avro" / "customers"
    base.mkdir(parents=True)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pattern = str(tmp_path / "avro" / "**" / "*.avro")

    conv = file_stream.StreamingConverter(
        spark, pattern, out, ckpt, window_duration="1h"
    )
    _one_file(base, "a.avro", [0, 1, 2])
    b0 = conv.poll_once(ingestion_date="2026-01-01")
    assert len(b0.new_files) == 1 and b0.tables == {"customers": 3}

    # nothing new → empty batch, nothing reconverted
    b1 = conv.poll_once(ingestion_date="2026-01-01")
    assert b1.new_files == [] and b1.tables == {}

    # a second file arrives mid-stream → only IT is converted
    _one_file(base, "b.avro", [3, 4])
    b2 = conv.poll_once(ingestion_date="2026-01-01")
    assert len(b2.new_files) == 1 and b2.tables == {"customers": 2}

    # restart: a NEW converter on the same checkpoint resumes, not replays
    conv2 = file_stream.StreamingConverter(
        spark, pattern, out, ckpt, window_duration="1h"
    )
    b3 = conv2.poll_once(ingestion_date="2026-01-01")
    assert b3.new_files == [] and b3.tables == {}

    df = spark.read.parquet(os.path.join(out, "customers"))
    assert sorted(r["id"] for r in df.collect()) == [0, 1, 2, 3, 4]


def test_stream_drain(spark, tmp_path):
    base = tmp_path / "avro" / "customers"
    base.mkdir(parents=True)
    _one_file(base, "a.avro", [0])
    conv = file_stream.StreamingConverter(
        spark,
        str(tmp_path / "avro" / "**" / "*.avro"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        window_duration="1s",
    )
    conv.request_drain()  # drain already requested → exactly one batch runs
    results = conv.run(max_batches=10, ingestion_date="2026-01-01")
    assert len(results) == 1
    assert results[0].tables == {"customers": 1}


def test_duration_grammar():
    p = file_stream.parse_duration_to_seconds
    assert p("30m") == 1800
    assert p("1h") == 3600
    assert p("2d") == 172800
    assert p("45s") == 45


def _events(spark):
    rows = [
        (1, "click", "2026-01-01 00:05:00"),
        (1, "click", "2026-01-01 00:20:00"),
        (1, "view", "2026-01-01 01:10:00"),
        (2, "click", "2026-01-01 00:40:00"),
        (2, "click", "2026-01-01 02:30:00"),
    ]
    return spark.createDataFrame(rows, "user_id int, event_type string, ts_s string").select(
        "user_id", "event_type", F.col("ts_s").cast("timestamp").alias("ts")
    )


def test_tumbling_counts_batch(spark):
    out = {
        (str(r["window_start"]), r["event_type"]): r["n_events"]
        for r in windows.tumbling_counts(_events(spark)).collect()
    }
    assert out[("2026-01-01 00:00:00", "click")] == 3
    assert out[("2026-01-01 01:00:00", "view")] == 1
    assert out[("2026-01-01 02:00:00", "click")] == 1


def test_session_counts_batch(spark):
    out = {
        (r["user_id"], str(r["session_start"])): r["n_events"]
        for r in windows.session_counts(_events(spark), gap="30 minutes").collect()
    }
    # user 1: events at 00:05 + 00:20 merge (gap 15m), 01:10 is separate
    assert out[(1, "2026-01-01 00:05:00")] == 2
    assert out[(1, "2026-01-01 01:10:00")] == 1
    assert out[(2, "2026-01-01 00:40:00")] == 1
    assert out[(2, "2026-01-01 02:30:00")] == 1


def test_tumbling_counts_streaming_matches_batch(spark, tmp_path):
    """True readStream run: same operator, parquet file source, results
    must equal the batch computation."""
    src = str(tmp_path / "events_src")
    _events(spark).write.parquet(src)
    stream = spark.readStream.schema(
        "user_id int, event_type string, ts timestamp"
    ).parquet(src)
    agg = windows.tumbling_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (str(r["window_start"]), r["event_type"]): r["n_events"]
            for r in spark.sql("SELECT * FROM tumbling_test").collect()
        }
    finally:
        q.stop()
    want = {
        (str(r["window_start"]), r["event_type"]): r["n_events"]
        for r in windows.tumbling_counts(_events(spark)).collect()
    }
    assert got == want


def test_dedup_within_watermark_batch(spark):
    df = _events(spark)
    deduped = windows.dedup_within_watermark(df, ["user_id", "event_type"])
    assert deduped.count() == 3  # (1,click),(1,view),(2,click)


def test_running_counts_stateful_streaming(spark, tmp_path):
    src = str(tmp_path / "events_src2")
    _events(spark).write.parquet(src)
    stream = spark.readStream.schema(
        "user_id int, event_type string, ts timestamp"
    ).parquet(src)
    counted = windows.running_counts_stateful(stream)
    q = (
        counted.writeStream.format("memory")
        .queryName("stateful_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["event_type"]: r["n_events"]
            for r in spark.sql("SELECT * FROM stateful_test").collect()
        }
    finally:
        q.stop()
    assert got == {"click": 4, "view": 1}


def test_stateful_counts_survive_restart(spark, tmp_path):
    """applyInPandasWithState state must persist across query restarts via
    the checkpoint: totals keep accumulating, not reset."""
    src = str(tmp_path / "events_src3")
    ckpt = str(tmp_path / "ckpt3")
    _events(spark).write.parquet(src)

    def run_once(qname):
        # foreachBatch (not the memory sink — it can't recover from a
        # checkpoint); keep the latest count per key across batches
        latest: dict[str, int] = {}

        def sink(batch_df, batch_id):
            for r in batch_df.collect():
                latest[r["event_type"]] = r["n_events"]

        stream = spark.readStream.schema(
            "user_id int, event_type string, ts timestamp"
        ).parquet(src)
        q = (
            windows.running_counts_stateful(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return latest

    first = run_once("stateful_restart_a")
    assert first == {"click": 4, "view": 1}

    # new data lands while the query is down; the restart must ADD to the
    # checkpointed counts
    more = [(3, "click", "2026-01-02 00:00:00"), (3, "error", "2026-01-02 00:01:00")]
    spark.createDataFrame(more, "user_id int, event_type string, ts_s string").select(
        "user_id", "event_type", F.col("ts_s").cast("timestamp").alias("ts")
    ).write.mode("append").parquet(src)

    second = run_once("stateful_restart_b")
    assert second.get("click") == 5
    assert second.get("error") == 1


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark in a real stream: duplicate keys
    across micro-batches inside the horizon are emitted once."""
    src = str(tmp_path / "events_src4")
    rows = [
        (1, "click", "2026-01-01 00:00:00"),
        (1, "click", "2026-01-01 00:00:00"),  # exact duplicate
        (2, "view", "2026-01-01 00:01:00"),
    ]
    spark.createDataFrame(rows, "user_id int, event_type string, ts_s string").select(
        "user_id", "event_type", F.col("ts_s").cast("timestamp").alias("ts")
    ).write.parquet(src)
    stream = spark.readStream.schema(
        "user_id int, event_type string, ts timestamp"
    ).parquet(src)
    deduped = windows.dedup_within_watermark(stream, ["user_id", "event_type"], "ts", "1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt4"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT user_id, event_type FROM dedup_stream").collect()
    finally:
        q.stop()
    assert sorted((r["user_id"], r["event_type"]) for r in got) == [(1, "click"), (2, "view")]


def test_stream_quarantines_poison_file(spark, tmp_path):
    """A file that fails even the all-string fallback must not wedge the
    stream: it is quarantined, its healthy neighbour in the SAME table
    still converts (per-file isolation), and other tables keep
    converting."""
    base_ok = tmp_path / "avro" / "good"
    base_bad = tmp_path / "avro" / "bad"
    base_ok.mkdir(parents=True)
    base_bad.mkdir(parents=True)
    _one_file(base_ok, "a.avro", [0, 1])
    neighbour = _one_file(base_bad, "neighbour.avro", [10, 11, 12])
    poison = str(base_bad / "poison.avro")
    (base_bad / "poison.avro").write_bytes(b"Obj\x01garbage-not-avro")
    out = str(tmp_path / "out")
    ckpt = tmp_path / "ckpt"

    conv = file_stream.StreamingConverter(
        spark,
        str(tmp_path / "avro" / "**" / "*.avro"),
        out,
        str(ckpt),
    )
    b0 = conv.poll_once(ingestion_date="2026-01-01")
    assert b0.tables == {"good": 2, "bad": 3}
    assert b0.failed_files == [poison]
    assert (ckpt / "failed_files.log").read_text().splitlines() == [poison]
    acked = (ckpt / "processed_files.log").read_text().splitlines()
    assert neighbour in acked and poison not in acked
    df = spark.read.parquet(os.path.join(out, "bad"))
    assert sorted(r["id"] for r in df.collect()) == [10, 11, 12]

    # next poll: none replayed — good and neighbour acked, poison quarantined
    b1 = conv.poll_once(ingestion_date="2026-01-01")
    assert b1.new_files == [] and b1.failed_files == []
    # restart keeps the quarantine
    conv2 = file_stream.StreamingConverter(
        spark,
        str(tmp_path / "avro" / "**" / "*.avro"),
        out,
        str(ckpt),
    )
    assert conv2.poll_once(ingestion_date="2026-01-01").new_files == []


def test_drain_cleared_on_relaunch(spark, tmp_path):
    """A DRAIN flag stops the run that saw it; a relaunched converter
    resumes streaming instead of inheriting the stale flag."""
    args = (
        spark,
        str(tmp_path / "avro" / "**" / "*.avro"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    conv = file_stream.StreamingConverter(*args)
    conv.request_drain()
    assert conv.drain_requested
    conv2 = file_stream.StreamingConverter(*args)
    assert not conv2.drain_requested


def test_stream_stream_interval_join(spark, tmp_path):
    """Real stream-stream join: purchases attribute to the click that
    preceded them within the interval; state is watermark-bounded."""
    clicks_src = str(tmp_path / "clicks_src")
    buys_src = str(tmp_path / "buys_src")
    clicks = [
        (1, "c1", "2026-01-01 00:00:00"),
        (2, "c2", "2026-01-01 00:05:00"),
        (3, "c3", "2026-01-01 01:00:00"),  # no purchase follows
    ]
    buys = [
        (1, "b1", "2026-01-01 00:04:00"),  # within 10 min of c1
        (2, "b2", "2026-01-01 00:30:00"),  # too late for c2
    ]
    spark.createDataFrame(clicks, "user_id int, cid string, ts_s string").select(
        "user_id", "cid", F.col("ts_s").cast("timestamp").alias("ts")
    ).write.parquet(clicks_src)
    spark.createDataFrame(buys, "user_id int, bid string, ts_s string").select(
        "user_id", "bid", F.col("ts_s").cast("timestamp").alias("ts")
    ).write.parquet(buys_src)

    cs = spark.readStream.schema("user_id int, cid string, ts timestamp").parquet(clicks_src)
    bs = spark.readStream.schema("user_id int, bid string, ts timestamp").parquet(buys_src)
    joined = windows.interval_join(cs, bs, "user_id", upper="10 minutes")
    q = (
        joined.writeStream.format("memory")
        .queryName("attrib_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT user_id, l_cid, r_bid FROM attrib_stream").collect()
    finally:
        q.stop()
    assert sorted((r["user_id"], r["l_cid"], r["r_bid"]) for r in got) == [(1, "c1", "b1")]


def test_interval_join_batch_mirror(spark):
    """The same interval_join expression runs on batch DataFrames — the
    oracle-checkable path (with_watermark no-ops on batch)."""
    clicks = spark.createDataFrame(
        [(1, "c1", "2026-01-01 00:00:00"), (2, "c2", "2026-01-01 00:05:00")],
        "user_id int, cid string, ts_s string",
    ).select("user_id", "cid", F.col("ts_s").cast("timestamp").alias("ts"))
    buys = spark.createDataFrame(
        [(1, "b1", "2026-01-01 00:04:00"), (2, "b2", "2026-01-01 00:30:00")],
        "user_id int, bid string, ts_s string",
    ).select("user_id", "bid", F.col("ts_s").cast("timestamp").alias("ts"))
    got = windows.interval_join(clicks, buys, "user_id", how="leftOuter").collect()
    by_user = {r["user_id"]: r["r_bid"] for r in got}
    assert by_user == {1: "b1", 2: None}


def test_backlog_batch_cap_and_catchup(spark, tmp_path):
    """max_files_per_batch: a pre-existing backlog converts in capped
    batches (small acks — a crash never repeats the whole backlog), the
    run loop drains back-to-back without sleeping between full batches,
    and every file lands exactly once."""
    from tests.test_fs import CDC_SCHEMA, _recs
    from muninn_avro_to_parquet_spark.sources import avro_io
    from muninn_avro_to_parquet_spark.streaming.file_stream import StreamingConverter

    base = tmp_path / "avro" / "customers"
    base.mkdir(parents=True)
    for i in range(7):  # backlog of 7 files, 2 rows each
        avro_io.write_file(str(base / f"f{i}.avro"), CDC_SCHEMA, _recs([i * 2, i * 2 + 1]))

    sleeps = []
    conv = StreamingConverter(
        spark, str(tmp_path / "avro" / "**" / "*.avro"), str(tmp_path / "out"),
        str(tmp_path / "ckpt"), "1h", max_files_per_batch=3,
    )
    conv.request_drain()  # stop once a batch comes back non-full/empty
    results = conv.run(max_batches=5, ingestion_date="2026-01-02",
                       sleep_fn=sleeps.append)
    # drain applies after the first batch; restart-style converters finish
    batches = [len(r.new_files) for r in results]
    assert batches[0] == 3
    total = sum(batches)
    conv2 = file_stream.StreamingConverter(
        spark, str(tmp_path / "avro" / "**" / "*.avro"), str(tmp_path / "out"),
        str(tmp_path / "ckpt"), "1h", max_files_per_batch=3,
    )
    while total < 7:
        r = conv2.poll_once(ingestion_date="2026-01-02")
        assert len(r.new_files) <= 3
        total += len(r.new_files)
    assert conv2.poll_once(ingestion_date="2026-01-02").new_files == []
    got = spark.read.parquet(str(tmp_path / "out" / "customers"))
    assert got.count() == 14 and got.select("id").distinct().count() == 14


def test_backlog_full_batches_skip_sleep(spark, tmp_path):
    """The run loop only sleeps after a NON-full batch — a backlog drains
    at full speed."""
    from tests.test_fs import CDC_SCHEMA, _recs
    from muninn_avro_to_parquet_spark.sources import avro_io
    from muninn_avro_to_parquet_spark.streaming.file_stream import StreamingConverter

    base = tmp_path / "avro" / "customers"
    base.mkdir(parents=True)
    for i in range(4):
        avro_io.write_file(str(base / f"f{i}.avro"), CDC_SCHEMA, _recs([i]))
    sleeps = []
    conv = StreamingConverter(
        spark, str(tmp_path / "avro" / "**" / "*.avro"), str(tmp_path / "out"),
        str(tmp_path / "ckpt"), "1h", max_files_per_batch=2,
    )
    results = conv.run(max_batches=4, ingestion_date="2026-01-02", sleep_fn=sleeps.append)
    assert [len(r.new_files) for r in results] == [2, 2, 0, 0]
    # full batches 1-2 drain back-to-back with NO sleep; the empty batch 3
    # is the only one followed by a window sleep (batch 4 hits max_batches)
    assert len(sleeps) == 1


def test_streaming_snapshot_refresh(spark, tmp_path):
    """snapshot_dir: each acknowledged batch merges into a versioned
    current-state table — updates win by (tx_id, lsn), deletes drop keys,
    and a restart replays nothing (snapshot version stays put)."""
    from tests.conftest import CDC_SCHEMA
    from tests.test_fs import _recs

    from muninn_avro_to_parquet_spark.operators import cdc
    from muninn_avro_to_parquet_spark.sources import avro_io

    avro_dir = tmp_path / "avro" / "customers"
    avro_dir.mkdir(parents=True)
    avro_io.write_file(str(avro_dir / "b1.avro"), CDC_SCHEMA, _recs(range(3)))
    conv = file_stream.StreamingConverter(
        spark,
        f"{tmp_path}/avro/**/*.avro",
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        "1h",
        snapshot_dir=str(tmp_path / "snap"),
        snapshot_keys=["id"],
    )
    r1 = conv.poll_once(ingestion_date="2026-01-01")
    assert r1.tables == {"customers": 3}
    snap_dir = str(tmp_path / "snap" / "customers")
    s1 = cdc.read_snapshot(spark, snap_dir)
    assert sorted(r["id"] for r in s1.collect()) == [0, 1, 2]
    assert cdc.current_version(snap_dir) == 1

    # batch 2: update id=1 (higher tx), delete id=2
    recs = _recs([1, 2])
    recs[0]["source_metadata"]["tx_id"] = 9000
    recs[0]["payload"]["name"] = "updated"
    recs[1]["source_metadata"]["tx_id"] = 9001
    recs[1]["source_metadata"]["is_deleted"] = True
    avro_io.write_file(str(avro_dir / "b2.avro"), CDC_SCHEMA, recs)
    conv.poll_once(ingestion_date="2026-01-01")
    state = {r["id"]: r["name"] for r in cdc.read_snapshot(spark, snap_dir).collect()}
    assert state == {0: "name0", 1: "updated"}
    assert cdc.current_version(snap_dir) == 2

    # restart: nothing new, snapshot untouched
    conv2 = file_stream.StreamingConverter(
        spark,
        f"{tmp_path}/avro/**/*.avro",
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        "1h",
        snapshot_dir=str(tmp_path / "snap"),
        snapshot_keys=["id"],
    )
    r3 = conv2.poll_once(ingestion_date="2026-01-01")
    assert r3.new_files == []
    assert cdc.current_version(snap_dir) == 2


def test_streaming_snapshot_versions_diffable(spark, tmp_path):
    """snapshot_diff composes with the streaming materializer: the two
    versions two micro-batches produce diff into exactly the changed /
    removed keys (envelope excluded, so re-delivered-but-identical
    payloads don't show up as changes)."""
    from tests.conftest import CDC_SCHEMA
    from tests.test_fs import _recs

    from muninn_avro_to_parquet_spark.operators import cdc
    from muninn_avro_to_parquet_spark.sources import avro_io

    avro_dir = tmp_path / "avro" / "customers"
    avro_dir.mkdir(parents=True)
    avro_io.write_file(str(avro_dir / "b1.avro"), CDC_SCHEMA, _recs(range(3)))
    conv = file_stream.StreamingConverter(
        spark,
        f"{tmp_path}/avro/**/*.avro",
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        "1h",
        snapshot_dir=str(tmp_path / "snap"),
        snapshot_keys=["id"],
    )
    conv.poll_once(ingestion_date="2026-01-01")
    recs = _recs([1, 2])
    recs[0]["source_metadata"]["tx_id"] = 9000
    recs[0]["payload"]["name"] = "updated"
    recs[1]["source_metadata"]["tx_id"] = 9001
    recs[1]["source_metadata"]["is_deleted"] = True
    avro_io.write_file(str(avro_dir / "b2.avro"), CDC_SCHEMA, recs)
    conv.poll_once(ingestion_date="2026-01-01")

    snap_dir = str(tmp_path / "snap" / "customers")
    diff = {
        r["id"]: r
        for r in cdc.snapshot_diff(spark, snap_dir, ["id"], v_from=1, v_to=2).collect()
    }
    assert set(diff) == {1, 2}  # id=0 untouched -> absent
    assert diff[1]["change_type"] == "changed"
    assert (diff[1]["old_name"], diff[1]["new_name"]) == ("name1", "updated")
    assert diff[2]["change_type"] == "removed"


def _accounts_schema(qty_type: str) -> dict:
    """A CDC ``accounts`` schema whose payload is (id long, qty <type>)."""
    return {
        **CDC_SCHEMA,
        "fields": [
            *CDC_SCHEMA["fields"][:4],
            {
                "name": "payload",
                "type": [
                    "null",
                    {
                        "type": "record",
                        "name": "account",
                        "fields": [
                            {"name": "id", "type": "long"},
                            {"name": "qty", "type": ["null", qty_type]},
                        ],
                    },
                ],
            },
        ],
    }


def _account_recs(ids, qty):
    return [
        {
            "uuid": f"u{i}",
            "read_timestamp": i,
            "sort_keys": [],
            "source_metadata": {
                "schema": "public",
                "table": "accounts",
                "is_deleted": False,
                "change_type": "INSERT",
                "tx_id": 100 + i,
                "lsn": f"0/{i}",
                "primary_keys": ["id"],
            },
            "payload": {"id": i, "qty": qty(i)},
        }
        for i in ids
    ]


def test_streaming_snapshot_of_a_drifted_batch_writes_each_row_once(spark, tmp_path):
    """One batch of a snapshot-configured table with two writer versions
    (``qty`` int, then string): the snapshot merges the frame the
    conversion wrote (``qty`` stringified by the drift merge), so the
    batch lands once. A second decode of the Avro under the first
    file's typed plans failed on the drift after the write, and the
    per-file retry then wrote both files again (200 rows for 100)."""
    from muninn_avro_to_parquet_spark.operators import cdc

    avro_dir = tmp_path / "avro" / "accounts"
    avro_dir.mkdir(parents=True)
    avro_io.write_file(
        str(avro_dir / "a1.avro"), _accounts_schema("int"), _account_recs(range(50), lambda i: i)
    )
    avro_io.write_file(
        str(avro_dir / "a2.avro"),
        _accounts_schema("string"),
        _account_recs(range(50, 100), str),
    )
    out = str(tmp_path / "out")
    conv = file_stream.StreamingConverter(
        spark,
        f"{tmp_path}/avro/*/*.avro",
        out,
        str(tmp_path / "ckpt"),
        snapshot_dir=str(tmp_path / "snap"),
        snapshot_keys={"accounts": ["id"]},
    )
    r = conv.poll_once(ingestion_date="2026-01-01")
    assert r.tables == {"accounts": 100}
    assert r.failed_files == [] and r.fallback_files == []
    # ``id`` only: a re-converted file's ``qty`` type need not match
    written = spark.read.parquet(os.path.join(out, "accounts", "ingestion_date=2026-01-01"))
    assert sorted(row["id"] for row in written.select("id").collect()) == list(range(100))
    snap = cdc.read_snapshot(spark, str(tmp_path / "snap" / "accounts"))
    got = {row["id"]: row["qty"] for row in snap.collect()}
    assert got == {i: str(i) for i in range(100)}


def test_permissive_stream_snapshot_holds_the_output_types(spark, tmp_path):
    """Under ``permissive=True`` the snapshot merges the all-string frame
    the conversion wrote: its payload columns are strings, as in the
    output, and it carries no ``_source_file``."""
    from tests.test_fs import _recs

    from muninn_avro_to_parquet_spark.operators import cdc

    avro_dir = tmp_path / "avro" / "customers"
    avro_dir.mkdir(parents=True)
    avro_io.write_file(str(avro_dir / "b1.avro"), CDC_SCHEMA, _recs(range(3)))
    out = str(tmp_path / "out")
    conv = file_stream.StreamingConverter(
        spark,
        f"{tmp_path}/avro/*/*.avro",
        out,
        str(tmp_path / "ckpt"),
        permissive=True,
        snapshot_dir=str(tmp_path / "snap"),
        snapshot_keys=["id"],
    )
    assert conv.poll_once(ingestion_date="2026-01-01").tables == {"customers": 3}
    snap = cdc.read_snapshot(spark, str(tmp_path / "snap" / "customers"))
    written = spark.read.parquet(os.path.join(out, "customers", "ingestion_date=2026-01-01"))
    payload = [f for f in snap.schema.fields if f.name != "source_metadata"]
    assert [f.name for f in payload] == [
        f.name for f in written.schema.fields if f.name != "source_metadata"
    ]
    assert {f.dataType.simpleString() for f in payload} == {"string"}
    assert sorted(r["id"] for r in snap.collect()) == ["0", "1", "2"]


def test_session_counts_streaming_matches_batch(spark, tmp_path):
    """True readStream run of the SESSION window operator: the state
    store's incremental window-merge must produce exactly the batch
    result (sessions that span multiple micro-batch arrivals included)."""
    src = str(tmp_path / "sess_src")
    _events(spark).write.parquet(src)
    stream = spark.readStream.schema(
        "user_id int, event_type string, ts timestamp"
    ).parquet(src)
    agg = windows.session_counts(stream, gap="30 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("session_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (str(r["session_start"]), str(r["session_end"]), r["user_id"]): r["n_events"]
            for r in spark.sql("SELECT * FROM session_test").collect()
        }
    finally:
        q.stop()
    want = {
        (str(r["session_start"]), str(r["session_end"]), r["user_id"]): r["n_events"]
        for r in windows.session_counts(_events(spark), gap="30 minutes").collect()
    }
    assert got == want and len(got) >= 3  # user 1: 2 sessions; user 2: 2


def test_stream_jvm_engine_exactly_once_and_parity(spark, tmp_path):
    """Streaming CDC inherits the JVM DSv2 scan.

    ``spark.muninn.avro.engine=jvm`` is FORCED for the whole run, so any
    batch that silently fell back to the Python codec would raise inside
    ``_convert_one_table`` and surface in ``failed_files`` — the CDC
    fixture's bytes-decimal ``balance`` exercises the
    ``muninn.decimalAsBinary`` alignment on the streaming path. Restart
    on the same checkpoint must not replay, and the final parquet must be
    value-identical to a pure-Python-engine conversion of the same files."""
    import pytest

    from muninn_avro_to_parquet_spark import convert as convert_mod
    from tests.test_jvm_avro import _jvm_live

    (tmp_path / "probe").mkdir()
    if not _jvm_live(spark, tmp_path / "probe"):
        pytest.skip("muninn-spark-avro.jar not loaded in this session")
    base = tmp_path / "avro" / "customers"
    base.mkdir(parents=True)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pattern = str(tmp_path / "avro" / "*" / "*.avro")

    spark.conf.set("spark.muninn.avro.engine", "jvm")
    try:
        conv = file_stream.StreamingConverter(spark, pattern, out, ckpt)
        _one_file(base, "a.avro", [0, 1, 2])
        b1 = conv.poll_once(ingestion_date="2026-01-01")
        assert b1.tables == {"customers": 3}
        assert b1.failed_files == [] and b1.fallback_files == []

        # restart mid-stream: new converter, same checkpoint, one new file
        _one_file(base, "b.avro", [3, 4])
        conv2 = file_stream.StreamingConverter(spark, pattern, out, ckpt)
        b2 = conv2.poll_once(ingestion_date="2026-01-01")
        assert len(b2.new_files) == 1 and b2.new_files[0].endswith("b.avro")
        assert b2.tables == {"customers": 2}
        assert b2.failed_files == [] and b2.fallback_files == []
    finally:
        spark.conf.set("spark.muninn.avro.engine", "auto")

    # value parity: the streamed (JVM-scanned) table vs a one-shot
    # python-engine convert of the same two files
    spark.conf.set("spark.muninn.avro.engine", "python")
    try:
        convert_mod.convert(
            spark, pattern, str(tmp_path / "out_py"), ingestion_date="2026-01-01"
        )
    finally:
        spark.conf.set("spark.muninn.avro.engine", "auto")
    got = spark.read.parquet(os.path.join(out, "customers"))
    want = spark.read.parquet(os.path.join(str(tmp_path / "out_py"), "customers"))
    assert got.schema.simpleString() == want.schema.simpleString()
    key = lambda r: r["id"]  # noqa: E731
    assert sorted(got.collect(), key=key) == sorted(want.collect(), key=key)


def test_html_curation_streams(spark, tmp_path):
    """The curation head runs under Structured Streaming: html_extract
    (stateless Arrow map) + the quality gate compose onto a parquet file
    stream; append mode, exactly-once via checkpoint; a second batch of
    files is picked up incrementally and the union equals the batch
    computation."""
    from pyspark.sql import functions as F

    from muninn_avro_to_parquet_spark.operators import html as html_ops
    from muninn_avro_to_parquet_spark.operators import text as text_mod

    def page(i, body):
        return (
            i,
            '<body><nav><a href="/">Home</a> <a href="/a">More</a></nav>'
            f"<p>{body}</p>"
            '<footer><a href="/t">Terms</a></footer></body>',
        )

    prose = (
        "the quick brown fox jumps over the lazy dog and then the dog "
        "chases it back across the field for a while before both rest "
    ) * 3
    batch1 = [page(1, prose), page(2, "too short")]
    batch2 = [page(3, prose + "with a different ending to the story")]
    src = str(tmp_path / "pages_src")
    spark.createDataFrame(batch1, "doc_id long, html string").write.parquet(src)

    def curate(df):
        ext = html_ops.html_extract(df, id_col="doc_id", html_col="html")
        scored = text_mod.quality_features(ext, text_col="main_text")
        return scored.select(
            "doc_id", "n_kept", F.round("quality_score", 6).alias("q")
        )

    stream = spark.readStream.schema("doc_id long, html string").parquet(src)
    q = (
        curate(stream)
        .writeStream.format("memory")
        .queryName("html_curation_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_html"))
        .start()
    )
    try:
        q.processAllAvailable()
        n1 = spark.sql("SELECT COUNT(*) n FROM html_curation_stream").collect()[0]["n"]
        assert n1 == 2
        # incremental pickup: new files only, no replay
        spark.createDataFrame(batch2, "doc_id long, html string").write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        got = {
            r["doc_id"]: (r["n_kept"], r["q"])
            for r in spark.sql("SELECT * FROM html_curation_stream").collect()
        }
    finally:
        q.stop()
    assert len(got) == 3  # exactly-once: 1,2 not re-emitted
    want = {
        r["doc_id"]: (r["n_kept"], r["q"])
        for r in curate(
            spark.createDataFrame(batch1 + batch2, "doc_id long, html string")
        ).collect()
    }
    assert got == want
    assert got[1][0] == 1 and got[2][0] == 0  # gate behaves in-stream
