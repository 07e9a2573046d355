"""End-to-end golden conversion tests (Avro fixtures → typed Parquet)."""

from __future__ import annotations

import datetime as dt
import os
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from muninn_avro_to_parquet_spark import convert
from muninn_avro_to_parquet_spark import schema as S
from muninn_avro_to_parquet_spark.sources import avro_io, avro_source
from tests.conftest import CDC_SCHEMA


def _write_fixture(tmp_path, n_files=2, rows_per_file=3):
    base = tmp_path / "avro" / "customers"
    base.mkdir(parents=True)
    paths = []
    for fi in range(n_files):
        recs = []
        for ri in range(rows_per_file):
            rid = fi * rows_per_file + ri
            recs.append(
                {
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
            )
        p = str(base / f"f{fi}.avro")
        avro_io.write_file(p, CDC_SCHEMA, recs, codec="deflate" if fi % 2 else "null")
        paths.append(p)
    return paths


def test_convert_end_to_end(spark, tmp_path):
    _write_fixture(tmp_path)
    out = str(tmp_path / "out")
    res = convert.convert(
        spark, str(tmp_path / "avro" / "**" / "*.avro"), out, ingestion_date="2026-01-02"
    )
    assert res.tables == {"customers": 6}

    df = spark.read.parquet(os.path.join(out, "customers"))
    rows = {r["id"]: r for r in df.collect()}
    assert len(rows) == 6
    r1 = rows[1]
    assert r1["source_metadata"]["table"] == "customers"
    assert r1["source_metadata"]["tx_id"] == 101
    assert r1["balance"] == Decimal("0.200000000")  # 2e29 / 1e30
    assert r1["created_at"] == dt.datetime(2023, 11, 14, 22, 13, 20, 1)
    assert r1["birth_date"] == dt.date(1970, 1, 1) + dt.timedelta(days=8001)
    assert r1["tags"] == '["t1","x"]'
    assert r1["attrs"] == '{"a":"v","z":"1"}'  # sorted keys
    assert r1["ingestion_date"] == dt.date(2026, 1, 2)
    # hive partition layout on disk
    assert os.path.isdir(os.path.join(out, "customers", "ingestion_date=2026-01-02"))


def test_convert_null_payload(spark, tmp_path):
    base = tmp_path / "avro" / "t1"
    base.mkdir(parents=True)
    recs = [
        {
            "uuid": "u",
            "read_timestamp": 0,
            "sort_keys": [],
            "source_metadata": {"schema": None, "table": "t1", "is_deleted": None,
                                "change_type": "DELETE", "tx_id": None, "lsn": None,
                                "primary_keys": None},
            "payload": None,
        }
    ]
    avro_io.write_file(str(base / "f.avro"), CDC_SCHEMA, recs)
    df = convert.convert_df(spark, str(base / "*.avro"))
    row = df.collect()[0]
    assert row["id"] is None and row["name"] is None
    assert row["source_metadata"]["change_type"] == "DELETE"


def test_permissive_all_string(spark, tmp_path):
    _write_fixture(tmp_path, n_files=1, rows_per_file=2)
    df = convert.convert_df(spark, str(tmp_path / "avro" / "**" / "*.avro"), permissive=True)
    schema = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert schema["id"] == "string" and schema["balance"] == "string"
    assert schema["source_metadata"].startswith("struct<")
    row = {r["id"]: r for r in df.collect()}["0"]
    assert row["age"] == "20"
    assert row["attrs"] == '{"a":"v","z":"0"}'


def test_source_file_column_and_table_grouping(spark, tmp_path):
    paths = _write_fixture(tmp_path, n_files=2, rows_per_file=1)
    df = avro_source.read_avro(spark, paths)
    got = {r[avro_source.SOURCE_FILE_COL] for r in df.collect()}
    assert got == set(paths)
    assert convert.table_folder_of(paths[0]) == "customers"
    assert convert.table_folder_of("/data/avro/orders/x.avro") == "orders"
    assert convert.table_folder_of("/elsewhere/orders/x.avro") == "orders"


def test_deviant_values_lenient_coercion(spark, tmp_path):
    """Values that deviate from their declared type are coerced per-value
    (reference §1.4) rather than poisoning the whole file."""
    schema = {
        "type": "record", "name": "cdc", "fields": [
            {"name": "source_metadata", "type": CDC_SCHEMA["fields"][3]["type"]},
            {"name": "payload", "type": ["null", {"type": "record", "name": "p", "fields": [
                {"name": "ts", "type": ["null", {"type": "long", "logicalType": "timestamp-millis"}]},
                {"name": "d", "type": ["null", {"type": "int", "logicalType": "date"}]},
            ]}]},
        ],
    }
    base = tmp_path / "avro" / "dev"
    base.mkdir(parents=True)
    recs = [{"source_metadata": {"schema": "s", "table": "dev", "is_deleted": False,
                                 "change_type": "I", "tx_id": 1, "lsn": "l", "primary_keys": []},
             "payload": {"ts": 1_700_000_000_000, "d": 10}}]
    avro_io.write_file(str(base / "f.avro"), schema, recs)
    df = convert.convert_df(spark, str(base / "*.avro"))
    row = df.collect()[0]
    assert row["ts"] == dt.datetime(2023, 11, 14, 22, 13, 20)
    assert row["d"] == dt.date(1970, 1, 11)


def test_timestamp_millis_overflow_raises(spark, tmp_path):
    """A timestamp-millis long whose microseconds overflow int64 fails the
    read on every engine, the way Spark's ``timestamp_millis`` fails on
    it (``long overflow``); it never comes back null or wrapped. The
    Python codec raises while building the typed Arrow batch."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    schema = {
        "type": "record", "name": "cdc", "fields": [
            {"name": "source_metadata", "type": CDC_SCHEMA["fields"][3]["type"]},
            {"name": "payload", "type": {"type": "record", "name": "p", "fields": [
                {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-millis"}},
            ]}},
        ],
    }
    meta = {"schema": "s", "table": "t", "is_deleted": False, "change_type": "I",
            "tx_id": 1, "lsn": "l", "primary_keys": []}
    path = str(tmp_path / "ovf.avro")
    avro_io.write_file(path, schema, [
        {"source_metadata": meta, "payload": {"ts": 1}},
        {"source_metadata": meta, "payload": {"ts": 2**62}},
    ])
    engines = ["python"]
    if avro_source.read_avro_jvm(spark, [path], S.derive_field_plans(schema)) is not None:
        engines.append("jvm")
    for engine in engines:
        df = avro_source.read_avro(spark, [path], engine=engine)
        with pytest.raises((Py4JJavaError, PySparkException), match="(?i)overflow"):
            df.collect()


def test_python_codec_struct_member_missing_from_writer_is_null(spark, tmp_path):
    """A file whose nested record lacks a member the reader's plan has
    (here a plain ``long``, NOT NULL in the mapped type) decodes that
    member as null under the Python codec: the codec declares every
    member of a STRUCT_CAST record nullable, so Spark keeps the null
    instead of reading a default in its place."""

    def schema(members):
        inner = {"type": "record", "name": "inner", "fields": members}
        return {"type": "record", "name": "cdc", "fields": [
            {"name": "source_metadata", "type": CDC_SCHEMA["fields"][3]["type"]},
            {"name": "payload", "type": {"type": "record", "name": "p", "fields": [
                {"name": "id", "type": "long"},
                {"name": "nested", "type": inner},
            ]}},
        ]}

    at = {"name": "at", "type": {"type": "long", "logicalType": "timestamp-millis"}}
    reader = schema([at, {"name": "n", "type": "long"}])
    path = str(tmp_path / "old.avro")
    avro_io.write_file(path, schema([at]), [
        {"source_metadata": {"schema": "s", "table": "t", "is_deleted": False,
                             "change_type": "I", "tx_id": 1, "lsn": "l", "primary_keys": []},
         "payload": {"id": 1, "nested": {"at": 1}}},
    ])
    df = avro_source.read_avro(spark, [path], reader, engine="python")
    assert [f.nullable for f in df.schema["nested"].dataType.fields] == [True, True]
    row = df.select("id", "nested.n", F.unix_micros("nested.at").alias("at")).collect()
    assert [r.asDict() for r in row] == [{"id": 1, "n": None, "at": 1000}]


def test_fallback_on_schema_drift(spark, tmp_path):
    """Type-conflicting drift between files degrades ONLY the conflicted
    column to strings (merge-cast), not the whole table to all-string —
    strictly better than the reference's file-level fallback
    (main.py:524-567) while keeping its never-fail-the-run contract."""
    from muninn_avro_to_parquet_spark.sources import avro_io as aio

    base = tmp_path / "avro" / "drifty"
    base.mkdir(parents=True)

    def meta(i):
        return {
            "schema": "public", "table": "drifty", "is_deleted": False,
            "change_type": "INSERT", "tx_id": i, "lsn": f"0/{i}",
            "primary_keys": ["id"],
        }

    schema_long = {
        "type": "record", "name": "rec", "fields": [
            {"name": "source_metadata", "type": CDC_SCHEMA["fields"][3]["type"]},
            {"name": "payload", "type": {"type": "record", "name": "p1", "fields": [
                {"name": "id", "type": "long"}]}},
        ]}
    schema_list = {
        "type": "record", "name": "rec", "fields": [
            {"name": "source_metadata", "type": CDC_SCHEMA["fields"][3]["type"]},
            {"name": "payload", "type": {"type": "record", "name": "p2", "fields": [
                {"name": "id", "type": {"type": "array", "items": "string"}}]}},
        ]}
    aio.write_file(str(base / "a.avro"), schema_long,
                   [{"source_metadata": meta(1), "payload": {"id": 1}}])
    aio.write_file(str(base / "b.avro"), schema_list,
                   [{"source_metadata": meta(2), "payload": {"id": ["x", "y"]}}])

    out = str(tmp_path / "out")
    res = convert.convert(
        spark, str(tmp_path / "avro" / "**" / "*.avro"), out, ingestion_date="2026-01-05"
    )
    assert res.tables == {"drifty": 2}
    assert res.fallback_files == []  # merge-cast: no table-level fallback
    assert res.schema_versions == {"drifty": 2}

    df = spark.read.parquet(os.path.join(out, "drifty"))
    rows = {r["source_metadata"]["tx_id"]: r["id"] for r in df.collect()}
    # the conflicted column is stringified in EVERY version: scalars via
    # str(), containers via sorted-key compact JSON
    assert rows[1] == "1"
    assert rows[2] == '["x","y"]' or rows[2] == "['x', 'y']"


def test_typed_failure_retries_table_all_string(spark, tmp_path, monkeypatch):
    """The typed → all-string retry (reference main.py:524-567): when the
    drift check misses a file (hidden here from ``schema_groups``) whose
    ``id`` is a string while the first file's plan says long, the typed
    read fails and the WHOLE table is rewritten under stringified plans:
    every payload column string, each value rendered by ``stringify_any``,
    and every path of the table reported in ``fallback_files``."""
    from muninn_avro_to_parquet_spark.functions import scalars

    base = tmp_path / "avro" / "hidden"
    base.mkdir(parents=True)
    sm = CDC_SCHEMA["fields"][3]["type"]

    def schema(id_type):
        return {"type": "record", "name": "rec", "fields": [
            {"name": "source_metadata", "type": sm},
            {"name": "payload", "type": {"type": "record", "name": "p", "fields": [
                {"name": "id", "type": id_type},
                {"name": "score", "type": "double"},
                {"name": "ok", "type": "boolean"},
                {"name": "attrs", "type": {"type": "map", "values": "double"}},
            ]}},
        ]}

    def rec(i, rid):
        return {
            "source_metadata": {"schema": "s", "table": "hidden", "is_deleted": False,
                                "change_type": "I", "tx_id": i, "lsn": f"0/{i}",
                                "primary_keys": ["id"]},
            "payload": {"id": rid, "score": 1e-05 * i, "ok": i % 2 == 0,
                        "attrs": {"z": 0.5, "a": float(i)}},
        }

    first, drifted = str(base / "a.avro"), str(base / "b.avro")
    avro_io.write_file(first, schema("long"), [rec(1, 7), rec(2, 8)])
    avro_io.write_file(drifted, schema("string"), [rec(3, "abc")])
    # the drift check sees only the first file's header
    monkeypatch.setattr(
        convert, "schema_groups", lambda paths: [(avro_io.read_schema(first), list(paths))]
    )
    spark.conf.set("spark.muninn.avro.engine", "python")
    try:
        out = str(tmp_path / "out")
        res = convert.convert(
            spark, str(tmp_path / "avro" / "**" / "*.avro"), out,
            ingestion_date="2026-01-06",
        )
    finally:
        spark.conf.set("spark.muninn.avro.engine", "auto")
    assert res.tables == {"hidden": 3}
    assert res.fallback_files == [first, drifted]
    assert res.schema_versions == {"hidden": 1}

    df = spark.read.parquet(os.path.join(out, "hidden"))
    types = dict(df.dtypes)
    assert {types[c] for c in ("id", "score", "ok", "attrs")} == {"string"}
    got = {r["source_metadata"]["tx_id"]: r for r in df.collect()}
    for i, rid in ((1, 7), (2, 8), (3, "abc")):
        want = rec(i, rid)["payload"]
        for c in ("id", "score", "ok", "attrs"):
            assert got[i][c] == scalars.stringify_any(want[c]), (i, c)
    assert (got[1]["id"], got[1]["score"], got[2]["ok"]) == ("7", "1e-05", "True")
    assert got[3]["attrs"] == '{"a":3.0,"z":0.5}'


def test_schema_drift_merges_added_column(spark, tmp_path):
    """A column added mid-stream lands in the unified output schema: old
    files' rows carry NULL, new files' rows carry typed values — neither
    first-file-wins (column dropped) nor whole-table stringification."""
    from muninn_avro_to_parquet_spark.sources import avro_io as aio

    base = tmp_path / "avro" / "evolving"
    base.mkdir(parents=True)

    def meta(i):
        return {
            "schema": "public", "table": "evolving", "is_deleted": False,
            "change_type": "INSERT", "tx_id": i, "lsn": f"0/{i}",
            "primary_keys": ["id"],
        }

    v1 = {
        "type": "record", "name": "rec", "fields": [
            {"name": "source_metadata", "type": CDC_SCHEMA["fields"][3]["type"]},
            {"name": "payload", "type": {"type": "record", "name": "p1", "fields": [
                {"name": "id", "type": "long"},
                {"name": "name", "type": ["null", "string"]}]}},
        ]}
    v2 = {
        "type": "record", "name": "rec", "fields": [
            {"name": "source_metadata", "type": CDC_SCHEMA["fields"][3]["type"]},
            {"name": "payload", "type": {"type": "record", "name": "p2", "fields": [
                {"name": "id", "type": "long"},
                {"name": "name", "type": ["null", "string"]},
                {"name": "age", "type": ["null", "int"]}]}},
        ]}
    aio.write_file(str(base / "a.avro"), v1,
                   [{"source_metadata": meta(1), "payload": {"id": 1, "name": "a"}}])
    aio.write_file(str(base / "b.avro"), v2,
                   [{"source_metadata": meta(2), "payload": {"id": 2, "name": "b", "age": 30}}])

    out = str(tmp_path / "out")
    res = convert.convert(
        spark, str(tmp_path / "avro" / "**" / "*.avro"), out, ingestion_date="2026-01-05"
    )
    assert res.tables == {"evolving": 2}
    assert res.fallback_files == []
    assert res.schema_versions == {"evolving": 2}

    df = spark.read.parquet(os.path.join(out, "evolving"))
    assert "age" in df.columns
    assert dict(df.dtypes)["id"] == "bigint"  # unconflicted columns stay typed
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["age"] is None and rows[1]["name"] == "a"
    assert rows[2]["age"] == 30 and rows[2]["name"] == "b"


def test_schema_drift_detection(spark, tmp_path):
    """convert() reports how many distinct writer schemas each table
    carries (the clean table reports 1, the drifted one >1)."""
    _write_fixture(tmp_path)  # customers: one schema across files
    res = convert.convert(
        spark, str(tmp_path / "avro" / "**" / "*.avro"), str(tmp_path / "o1"),
        ingestion_date="2026-01-07",
    )
    assert res.schema_versions == {"customers": 1}


def test_nested_struct_logicals_typed(spark, tmp_path):
    """A payload record whose nested record carries timestamp-millis /
    date / bytes-decimal members converts to a fully TYPED struct with
    correct values (the raw millis long must never be misread as micros)."""
    from datetime import date, datetime
    from decimal import Decimal

    from muninn_avro_to_parquet_spark.sources import avro_io as aio

    schema = {
        "type": "record", "name": "rec", "fields": [
            {"name": "source_metadata", "type": CDC_SCHEMA["fields"][3]["type"]},
            {"name": "payload", "type": {"type": "record", "name": "p", "fields": [
                {"name": "id", "type": "long"},
                {"name": "meta", "type": {"type": "record", "name": "m", "fields": [
                    {"name": "created", "type": {"type": "long", "logicalType": "timestamp-millis"}},
                    {"name": "born", "type": ["null", {"type": "int", "logicalType": "date"}]},
                    {"name": "bal", "type": ["null", {"type": "bytes", "logicalType": "decimal",
                                                      "precision": 38, "scale": 30}]},
                    {"name": "tag", "type": "string"}]}}]}},
        ]}
    meta = {"schema": "s", "table": "nested_t", "is_deleted": False,
            "change_type": "I", "tx_id": 1, "lsn": "0/1", "primary_keys": ["id"]}
    base = tmp_path / "avro" / "nested_t"
    base.mkdir(parents=True)
    aio.write_file(str(base / "a.avro"), schema, [
        {"source_metadata": meta, "payload": {"id": 1, "meta": {
            "created": 1_700_000_000_000,  # 2023-11-14 22:13:20 UTC in millis
            "born": 8000,                  # 1991-11-27
            "bal": (5 * 10**29).to_bytes(16, "big", signed=True),  # 0.5
            "tag": "x"}}},
        {"source_metadata": meta, "payload": {"id": 2, "meta": {
            "created": 0, "born": None, "bal": None, "tag": "y"}}},
    ])
    res = convert.convert(
        spark, str(tmp_path / "avro" / "**" / "*.avro"), str(tmp_path / "out"),
        ingestion_date="2026-01-09",
    )
    assert res.tables == {"nested_t": 2} and not res.fallback_files

    df = spark.read.parquet(os.path.join(str(tmp_path / "out"), "nested_t"))
    assert df.schema["meta"].dataType.simpleString() == (
        "struct<created:timestamp,born:date,bal:decimal(38,9),tag:string>"
    )
    rows = {r["id"]: r["meta"] for r in df.collect()}
    assert rows[1]["created"] == datetime(2023, 11, 14, 22, 13, 20)
    assert rows[1]["born"] == date(1991, 11, 27)
    assert rows[1]["bal"] == Decimal("0.500000000")
    assert rows[1]["tag"] == "x"
    assert rows[2]["created"] == datetime(1970, 1, 1, 0, 0, 0)
    assert rows[2]["born"] is None and rows[2]["bal"] is None


@pytest.mark.parametrize(
    "drifted, reads, groups",
    [
        # uniform: the 4-file sample, then the first header for the group
        (None, 4 + 1, [list(range(12))]),
        # file 3 is a sample point (step 12/4 = 3): every header is read
        (3, 4 + 12, [[i for i in range(12) if i != 3], [3]]),
        # file 4 sits between sample points: the documented miss
        (4, 4 + 1, [list(range(12))]),
    ],
)
def test_schema_groups_samples_headers_above_the_cap(monkeypatch, drifted, reads, groups):
    """Above ``sample_cap`` files ``schema_groups`` reads an evenly
    spaced sample of headers first, and reads every header only when the
    sample shows drift; a drift entirely between sample points stays one
    group."""
    paths = [f"/data/avro/t/f{i:02d}.avro" for i in range(12)]
    drifted_path = None if drifted is None else paths[drifted]
    calls = []

    def read_schema(path):
        calls.append(path)
        return {"version": 2 if path == drifted_path else 1}

    monkeypatch.setattr(avro_io, "read_schema", read_schema)
    got = convert.schema_groups(paths, sample_cap=4)
    assert len(calls) == reads
    assert [g for _, g in got] == [[paths[i] for i in g] for g in groups]
