"""Kafka source (sources/kafka.py, r12 verdict #4): the offline jar
gate, the Confluent wire-format framing, and the broker-less CDC value
decode — the topic-shaped twin of the file converter, held to the same
typed output as ``read_avro`` over the same envelope."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from muninn_avro_to_parquet_spark.sources import kafka
from tests.conftest import CDC_SCHEMA


def _cdc_record(rid: int) -> dict:
    return {
        "uuid": f"u{rid}",
        "read_timestamp": rid,
        "sort_keys": [],
        "source_metadata": {
            "schema": "public",
            "table": "customers",
            "is_deleted": rid % 2 == 0,
            "change_type": "INSERT",
            "tx_id": 100 + rid,
            "lsn": f"0/{rid}",
            "primary_keys": ["id"],
        },
        "payload": {
            "id": rid,
            "name": f"name{rid}",
            "age": 20 + rid,
            "balance": ((rid + 1) * 10**29).to_bytes(16, "big", signed=True),
            "score": rid * 1.5,
            "active": rid % 2 == 0,
            "created_at": 1_700_000_000_000_000 + rid,
            "updated_at": 1_700_000_000_000 + rid,
            "birth_date": 8000 + rid,
            "tags": [f"t{rid}", "x"],
            "attrs": {"z": str(rid), "a": "v"},
        },
    }


def _kafka_df(spark, n=6, schema_id=7, frame_every_other=True):
    """A DataFrame in the Kafka scan shape: (value binary, partition,
    offset) — alternating Confluent-framed and bare-datum values so one
    relation covers both producer styles."""
    rows = []
    for rid in range(n):
        datum = kafka.encode_cdc_datum(_cdc_record(rid), CDC_SCHEMA)
        value = (
            kafka.frame_confluent(datum, schema_id)
            if (frame_every_other and rid % 2 == 0)
            else datum
        )
        rows.append((value, rid % 2, rid))
    return spark.createDataFrame(
        rows, "value binary, partition int, offset long"
    )


def test_read_kafka_offline_gate_raises_with_remediation(spark):
    """No connector jar in this image: the live path must fail loudly
    with the exact --packages remediation, not a ClassNotFound
    stacktrace at action time."""
    assert kafka.kafka_available(spark) is False
    with pytest.raises(kafka.KafkaConnectorUnavailable, match="--packages"):
        kafka.read_kafka(spark, "broker:9092", "cdc.customers")
    with pytest.raises(kafka.KafkaConnectorUnavailable):
        kafka.read_kafka(spark, "broker:9092", "cdc.customers", streaming=True)


def test_confluent_frame_roundtrip():
    datum = b"\x02\x04payload-bytes"
    framed = kafka.frame_confluent(datum, 1234)
    assert framed[0] == 0 and len(framed) == 5 + len(datum)
    sid, out = kafka.unframe_confluent(framed)
    assert (sid, out) == (1234, datum)
    # bare datum (no magic byte) passes through untouched
    bare = b"\x42rest"
    assert kafka.unframe_confluent(bare) == (None, bare)
    with pytest.raises(ValueError, match="uint32"):
        kafka.frame_confluent(datum, -1)


def test_decode_cdc_values_typed_output(spark):
    """End-to-end broker-less decode: framed + bare values through the
    Confluent unframe, the interpreted datum decode, and the SAME cast
    layer as the file path — typed payload columns (bytes-decimal,
    timestamp-micros/millis, epoch-days, stringified containers), the
    coerced source_metadata envelope, and the Kafka partition/offset
    bookkeeping columns carried through."""
    out = kafka.decode_cdc_values(_kafka_df(spark), CDC_SCHEMA)
    rows = {r["offset"]: r for r in out.collect()}
    assert len(rows) == 6
    r3 = rows[3]
    assert r3["source_metadata"]["table"] == "customers"
    assert r3["source_metadata"]["tx_id"] == 103
    assert r3["name"] == "name3" and r3["age"] == 23
    # bytes-decimal scale 30→9 rescale (the reference's §1.4 rule):
    # unscaled (rid+1)*1e29 under scale 30 → 0.4 at rid=3
    from decimal import Decimal

    assert r3["balance"] == Decimal("0.400000000")
    assert r3["birth_date"].isoformat() == "1991-11-30"  # epoch day 8003
    assert r3["partition"] == 1 and r3["offset"] == 3
    # the file converter over the SAME records must produce the same
    # typed payload values (topic ≡ file drop for one envelope)
    import json

    assert json.loads(r3["attrs"]) == {"a": "v", "z": "3"}


def test_decode_cdc_matches_file_path(spark, tmp_path):
    """Topic and file drop of the same envelope are byte-identical
    relations: decode_cdc_values vs read_avro over the same records."""
    from muninn_avro_to_parquet_spark.sources import avro_io, avro_source

    recs = [_cdc_record(i) for i in range(5)]
    p = str(tmp_path / "x.avro")
    avro_io.write_file(p, CDC_SCHEMA, recs)
    via_file = avro_source.read_avro(
        spark, [p], CDC_SCHEMA, engine="python"
    ).drop("_source_file")
    via_topic = kafka.decode_cdc_values(
        _kafka_df(spark, n=5), CDC_SCHEMA
    ).drop("partition", "offset")
    assert via_file.schema == via_topic.schema
    key = lambda r: r["uuid"] if "uuid" in r else r["name"]  # noqa: E731
    a = sorted(via_file.collect(), key=key)
    b = sorted(via_topic.collect(), key=key)
    assert a == b


def test_decode_cdc_error_paths(spark):
    """Tombstones skip silently (no CDC payload); schema-id mismatch
    and corrupt datums fail loudly by default and skip under
    on_error='skip'."""
    good = kafka.frame_confluent(
        kafka.encode_cdc_datum(_cdc_record(0), CDC_SCHEMA), 7
    )
    df = spark.createDataFrame(
        [(good, 0, 0), (None, 0, 1), (b"\x00\x00\x00\x00\x08garbage", 0, 2)],
        "value binary, partition int, offset long",
    )
    strict = kafka.decode_cdc_values(df, CDC_SCHEMA, schema_id=7)
    with pytest.raises(Exception):
        strict.collect()
    lax = kafka.decode_cdc_values(
        df, CDC_SCHEMA, schema_id=7, on_error="skip"
    )
    rows = lax.collect()
    assert [r["offset"] for r in rows] == [0]
    # framed with the WRONG registry id: loud even under skip? no —
    # skip means skip; but under the default it names the mismatch
    wrong = kafka.frame_confluent(
        kafka.encode_cdc_datum(_cdc_record(1), CDC_SCHEMA), 8
    )
    df2 = spark.createDataFrame(
        [(wrong, 0, 0)], "value binary, partition int, offset long"
    )
    with pytest.raises(Exception, match="schema id"):
        kafka.decode_cdc_values(df2, CDC_SCHEMA, schema_id=7).collect()
    assert (
        kafka.decode_cdc_values(
            df2, CDC_SCHEMA, schema_id=7, on_error="skip"
        ).count()
        == 0
    )


def test_decode_cdc_skip_truncates_a_partial_record(spark):
    """A datum with the expected schema id whose envelope decodes but
    whose payload is cut short fails INSIDE the record, after the
    decoder has appended its source_metadata. Under on_error='skip' that
    partial row must go, leaving both neighbours whole and aligned; the
    default must raise."""
    good = [
        kafka.frame_confluent(kafka.encode_cdc_datum(_cdc_record(i), CDC_SCHEMA), 7)
        for i in range(3)
    ]
    cut = good[1][:-6]  # payload's trailing attrs map cut short
    df = spark.createDataFrame(
        [(good[0], 0, 0), (cut, 0, 1), (good[2], 0, 2)],
        "value binary, partition int, offset long",
    )
    with pytest.raises(Exception, match="truncated"):
        kafka.decode_cdc_values(df, CDC_SCHEMA, schema_id=7).collect()
    lax = kafka.decode_cdc_values(df, CDC_SCHEMA, schema_id=7, on_error="skip")
    rows = sorted(lax.collect(), key=lambda r: r["offset"])
    assert [r["offset"] for r in rows] == [0, 2]
    for r in rows:
        i = r["offset"]
        assert r["source_metadata"]["tx_id"] == 100 + i
        assert r["source_metadata"]["lsn"] == f"0/{i}"
        assert (r["id"], r["name"], r["age"]) == (i, f"name{i}", 20 + i)
        assert r["attrs"] == f'{{"a":"v","z":"{i}"}}'


def test_decode_cdc_missing_column_fails_eagerly(spark):
    df = spark.createDataFrame([(b"x",)], "value binary")
    with pytest.raises(ValueError, match="missing columns"):
        kafka.decode_cdc_values(df, CDC_SCHEMA)  # default meta_cols absent
    out = kafka.decode_cdc_values(df, CDC_SCHEMA, meta_cols=())
    assert "partition" not in out.columns


def test_decode_cdc_values_under_structured_streaming(spark, tmp_path):
    """The CDC value decode must compose with readStream — the actual
    deployment shape once the connector jar exists (read_kafka
    streaming=True → decode_cdc_values → writeStream). Stateless
    mapInArrow + the cast select are both streaming-safe; proven here
    over a file-backed stream carrying the same (value, partition,
    offset) relation a Kafka scan produces."""
    src = str(tmp_path / "stream_src")
    _kafka_df(spark, n=6).write.parquet(src)
    stream = spark.readStream.schema(
        "value binary, partition int, offset long"
    ).parquet(src)
    out = kafka.decode_cdc_values(stream, CDC_SCHEMA)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("cdc_stream_decode")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql(
            "select offset, name, age from cdc_stream_decode order by offset"
        ).collect()
    finally:
        q.stop()
    assert [(r["offset"], r["name"], r["age"]) for r in rows] == [
        (i, f"name{i}", 20 + i) for i in range(6)
    ]


def test_read_kafka_builder_contract(spark, monkeypatch):
    """r13 verdict #6: the ~40 lines of reader plumbing past the jar
    gate were the last untested path. Mock at the BUILDER boundary (not
    the broker): with the connector probe forced true and fake
    read/readStream builders recording calls, assert the exact
    format/options/load sequence for both batch and streaming shapes,
    including extra **options threading."""
    from unittest import mock

    from pyspark.sql import SparkSession

    monkeypatch.setattr(kafka, "kafka_available", lambda s: True)

    class FakeReader:
        def __init__(self):
            self.fmt = None
            self.opts = {}
            self.loaded = False

        def format(self, f):
            self.fmt = f
            return self

        def option(self, k, v):
            self.opts[k] = v
            return self

        def load(self):
            self.loaded = True
            return mock.sentinel.df

    batch, stream = FakeReader(), FakeReader()
    with mock.patch.object(
        SparkSession, "read", new_callable=mock.PropertyMock,
        return_value=batch,
    ), mock.patch.object(
        SparkSession, "readStream", new_callable=mock.PropertyMock,
        return_value=stream,
    ):
        out = kafka.read_kafka(
            spark, "broker:9092", "cdc.customers",
            failOnDataLoss="false",
        )
        assert out is mock.sentinel.df
        assert batch.loaded and not stream.loaded
        assert batch.fmt == "kafka"
        assert batch.opts == {
            "kafka.bootstrap.servers": "broker:9092",
            "subscribe": "cdc.customers",
            "startingOffsets": "earliest",
            "failOnDataLoss": "false",
        }
        out2 = kafka.read_kafka(
            spark, "b2:9092", "t2", streaming=True,
            starting_offsets="latest",
        )
        assert out2 is mock.sentinel.df
        assert stream.loaded
        assert stream.fmt == "kafka"
        assert stream.opts == {
            "kafka.bootstrap.servers": "b2:9092",
            "subscribe": "t2",
            "startingOffsets": "latest",
        }
