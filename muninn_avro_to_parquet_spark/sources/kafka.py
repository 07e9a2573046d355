"""Kafka source, offline-gated (r12 verdict #4).

The reference job reads CDC Avro from a file drop; the same envelope is
what a Debezium/Datastream-style pipeline puts on a Kafka topic, so the
engine exposes the topic-shaped entry point too. This image ships no
Kafka connector jar and no broker, so — the spark-avro-jar playbook
(SURVEY §7.0) — the LIVE read path probes for the connector class and
fails loudly with the exact remediation, while everything that is
actually this engine's logic (the Confluent wire-format framing and the
CDC value decode through ``derive_field_plans`` → target-typed values)
is a pure function over a binary column, fully
unit-tested and oracle-checked without a broker
(``q_kafka_cdc_envelope``).

Scale shape: ``decode_cdc_values`` is one Arrow ``mapInArrow`` pass over
the ``value`` column — each datum runs through the file path's fused
decoder (``avro_source.compile_target_decoder``, compiled once per
task), no shuffle, payload bytes never reach the driver. The decoder
emits target-typed values, so the pass's batches already carry the file
converter's ``schema.flat_schema`` with no cast after it, and a topic and
a file drop of the same envelope produce byte-identical relations.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from muninn_avro_to_parquet_spark import schema as S
from muninn_avro_to_parquet_spark.sources import avro_io

KAFKA_PROVIDER = "org.apache.spark.sql.kafka010.KafkaSourceProvider"
_CONFLUENT_MAGIC = 0  # wire format: 1-byte magic 0x00 + 4-byte BE schema id


class KafkaConnectorUnavailable(RuntimeError):
    """The Spark↔Kafka connector jar is not on the classpath."""


def kafka_available(spark: SparkSession) -> bool:
    """True when the spark-sql-kafka connector is loadable in the JVM."""
    try:
        spark._jvm.java.lang.Class.forName(KAFKA_PROVIDER)  # type: ignore[union-attr]
        return True
    except Exception:
        return False


def read_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    streaming: bool = False,
    starting_offsets: str = "earliest",
    **options,
) -> DataFrame:
    """Kafka scan in the standard Spark shape: (key binary, value binary,
    topic, partition, offset, timestamp, timestampType). ``streaming=True``
    returns the ``readStream`` relation for Structured Streaming;
    otherwise a bounded batch read ([startingOffsets, endingOffsets]).

    Offline gate: raises :class:`KafkaConnectorUnavailable` with the
    exact remediation when the connector jar is absent (this image) —
    the capability is built and tested up to the jar boundary, like the
    JVM Avro DataSource before its jar existed (SURVEY §7.0). Feed the
    result to :func:`decode_cdc_values` for the CDC envelope."""
    if not kafka_available(spark):
        raise KafkaConnectorUnavailable(
            "the Spark Kafka connector is not on the classpath; launch with "
            "--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-"
            "version> (needs network/maven, absent in this image). The CDC "
            "value decode itself (decode_cdc_values) needs no broker and "
            "works on any DataFrame with a binary value column."
        )
    reader = (spark.readStream if streaming else spark.read).format("kafka")
    reader = (
        reader.option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def frame_confluent(datum: bytes, schema_id: int) -> bytes:
    """Confluent wire format: 0x00 magic + 4-byte big-endian registry
    schema id + the bare Avro datum."""
    if not 0 <= schema_id < 1 << 32:
        raise ValueError(f"schema_id out of uint32 range: {schema_id}")
    return bytes([_CONFLUENT_MAGIC]) + struct.pack(">I", schema_id) + datum


def unframe_confluent(value: bytes) -> tuple[int | None, bytes]:
    """Split a Kafka value into (schema_id, datum). Values produced by a
    registry-backed serializer carry the 5-byte Confluent header; bare
    datums (no magic byte) pass through as (None, value) so both
    producer styles decode."""
    if len(value) >= 5 and value[0] == _CONFLUENT_MAGIC:
        return struct.unpack(">I", value[1:5])[0], value[5:]
    return None, bytes(value)


def encode_cdc_datum(record: dict, writer_schema: dict) -> bytes:
    """Bare Avro datum bytes for one CDC record under ``writer_schema``
    — the test-fixture/producer-side inverse of the decode path, built
    on the engine's own binary encoder (sources/avro_io.py)."""
    names = avro_io.collect_names(writer_schema)
    out = bytearray()
    avro_io._encode(out, record, writer_schema, names)
    return bytes(out)


def decode_cdc_values(
    df: DataFrame,
    writer_schema: dict,
    value_col: str = "value",
    meta_cols: tuple[str, ...] = ("partition", "offset"),
    schema_id: int | None = None,
    on_error: str = "fail",
) -> DataFrame:
    """Binary Kafka ``value`` column → the typed flat CDC relation —
    the same output schema ``derive_flat_schema`` gives the file
    converter: ``source_metadata`` struct + promoted typed ``payload.*``
    columns, plus the requested Kafka ``meta_cols`` carried through
    (default partition/offset — the exactly-once bookkeeping keys).

    ``schema_id``: when given, a Confluent-framed value whose embedded
    id differs fails loudly (a schema this decode wasn't given); bare
    datums are always accepted. ``on_error="skip"`` drops undecodable
    values instead of failing the task — the poison-pill setting for
    long-running streams; the default fails loudly.

    One Arrow pass (mapInArrow), no shuffle and no Python hop after it:
    the file path's fused decoder emits decimals, timestamps and dates
    in their target types, so topic and file drop of one envelope
    produce byte-identical relations."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from muninn_avro_to_parquet_spark.sources.avro_source import (
        compile_target_decoder,
    )

    if on_error not in ("fail", "skip"):
        raise ValueError(f"on_error must be fail|skip, got {on_error!r}")
    plans = S.derive_field_plans(writer_schema)
    missing = [c for c in (value_col, *meta_cols) if c not in df.columns]
    if missing:
        raise ValueError(f"input is missing columns: {missing}")
    in_fields = {f.name: f for f in df.schema.fields}
    out_schema = T.StructType(
        list(S.flat_schema(plans).fields) + [in_fields[c] for c in meta_cols]
    )
    aschema = to_arrow_schema(out_schema)
    types = [f.type for f in aschema]

    def datum_of(value: bytes) -> bytes:
        sid, datum = unframe_confluent(bytes(value))
        if sid is not None and schema_id is not None and sid != schema_id:
            raise ValueError(
                f"Confluent schema id {sid} != expected {schema_id}; "
                "the topic carries a writer schema this decode was "
                "not given (fetch it from the registry and re-run)"
            )
        return datum

    def gen(batches):
        tdec = compile_target_decoder(writer_schema, plans)
        for rb in batches:
            values = rb.column(value_col).to_pylist()
            sm_buf: list[dict] = []
            cols: list[list] = [[] for _ in plans]
            appends = tuple(c.append for c in cols)
            kept: list[int] = []  # input row of each whole output row
            for i, value in enumerate(values):
                if value is None:
                    continue  # tombstone: no CDC payload
                try:
                    tdec(avro_io._Reader(datum_of(value)), 1, sm_buf.append, appends)
                except Exception:
                    if on_error != "skip":
                        raise
                    # the decoder appends column by column: a datum that
                    # fails mid-record leaves a partial row to cut off
                    n = len(kept)
                    for out in (sm_buf, *cols):
                        del out[n:]
                    continue
                kept.append(i)
            metas = [
                [col[i] for i in kept]
                for col in (rb.column(c).to_pylist() for c in meta_cols)
            ]
            arrays = [
                pa.array(v, type=t) for v, t in zip((sm_buf, *cols, *metas), types)
            ]
            yield pa.RecordBatch.from_arrays(arrays, schema=aschema)

    return df.select(value_col, *meta_cols).mapInArrow(gen, schema=out_schema)
