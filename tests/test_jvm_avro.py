"""JVM spark-avro ingest seam (SURVEY §7.0 mitigation (1)).

The spark-avro DataSource jar is absent in this image, so:
- the engine gate (`auto` → fallback, `jvm` → clear error) is tested for real;
- the alignment select (`read_avro_jvm`) is tested by monkeypatching
  `try_native_avro` with a DataFrame shaped exactly as spark-avro decodes
  the same records, then comparing against the Python codec's output on
  the same data — value-level parity of the two ingest engines.
"""

from __future__ import annotations

import datetime
import os
from decimal import Decimal

import pytest

from muninn_avro_to_parquet_spark import schema as S
from muninn_avro_to_parquet_spark.sources import avro_io, avro_source

CDC_SCHEMA = {
    "type": "record",
    "name": "rec",
    "fields": [
        {
            "name": "source_metadata",
            "type": {
                "type": "record",
                "name": "sm",
                "fields": [
                    {"name": "schema", "type": "string"},
                    {"name": "table", "type": "string"},
                    {"name": "is_deleted", "type": "boolean"},
                    {"name": "change_type", "type": "string"},
                    {"name": "tx_id", "type": ["null", "long"]},
                    {"name": "lsn", "type": "string"},
                    {"name": "primary_keys", "type": {"type": "array", "items": "string"}},
                ],
            },
        },
        {
            "name": "payload",
            "type": {
                "type": "record",
                "name": "p",
                "fields": [
                    {"name": "id", "type": "long"},
                    {"name": "name", "type": ["null", "string"]},
                    {"name": "qty", "type": ["null", "int"]},
                    {
                        "name": "created",
                        "type": ["null", {"type": "long", "logicalType": "timestamp-micros"}],
                    },
                    {"name": "tags", "type": {"type": "array", "items": "string"}},
                ],
            },
        },
    ],
}

ROWS = [
    {
        "source_metadata": {
            "schema": "public",
            "table": "t",
            "is_deleted": i % 2 == 0,
            "change_type": "INSERT",
            "tx_id": 100 + i,
            "lsn": f"0/{i:x}",
            "primary_keys": ["id"],
        },
        "payload": {
            "id": i,
            "name": f"n{i}" if i % 3 else None,
            "qty": i * 7,
            "created": 1_700_000_000_000_000 + i,
            "tags": [f"t{i}", "x"],
        },
    }
    for i in range(5)
]


def _python_golden(spark, tmp_path):
    path = str(tmp_path / "f.avro")
    avro_io.write_file(path, CDC_SCHEMA, ROWS)
    df = avro_source.read_avro(spark, [path], engine="python")
    return df.drop(avro_source.SOURCE_FILE_COL)


def _simulated_jvm_decode(spark):
    """The DataFrame spark-avro would produce for ROWS: logical types
    materialized (timestamp-micros → TimestampType), nullable unions as
    plain nullable fields."""
    epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)

    def decoded(r):
        p = dict(r["payload"])
        p["created"] = epoch + datetime.timedelta(microseconds=p["created"])
        return {"source_metadata": r["source_metadata"], "payload": p}

    ddl = (
        "source_metadata struct<schema:string,table:string,is_deleted:boolean,"
        "change_type:string,tx_id:bigint,lsn:string,primary_keys:array<string>>,"
        "payload struct<id:bigint,name:string,qty:int,created:timestamp,"
        "tags:array<string>>"
    )
    return spark.createDataFrame([decoded(r) for r in ROWS], ddl)


def test_jvm_alignment_matches_python_codec(spark, tmp_path, monkeypatch):
    plans = S.derive_field_plans(CDC_SCHEMA)
    sim = _simulated_jvm_decode(spark)
    monkeypatch.setattr(avro_source, "try_native_avro", lambda *_, **__: sim)
    jdf = avro_source.read_avro_jvm(spark, ["ignored"], plans)
    assert jdf is not None
    got = jdf.drop(avro_source.SOURCE_FILE_COL)
    want = _python_golden(spark, tmp_path)
    assert got.schema == want.schema
    key = lambda row: row["id"]  # noqa: E731
    assert sorted(got.collect(), key=key) == sorted(want.collect(), key=key)


def test_jvm_bails_on_union_collapse_schema(spark, monkeypatch):
    """A multi-branch union needs sorted-key-JSON collapse — the JVM
    decoder yields a member struct, which must fall back to Python."""
    schema = {
        "type": "record",
        "name": "rec",
        "fields": [
            {"name": "source_metadata", "type": CDC_SCHEMA["fields"][0]["type"]},
            {
                "name": "payload",
                "type": {
                    "type": "record",
                    "name": "p2",
                    "fields": [{"name": "v", "type": ["int", "string"]}],
                },
            },
        ],
    }
    plans = S.derive_field_plans(schema)
    sim = spark.createDataFrame(
        [],
        "source_metadata struct<schema:string,table:string,is_deleted:boolean,"
        "change_type:string,tx_id:bigint,lsn:string,primary_keys:array<string>>,"
        "payload struct<v:struct<member0:int,member1:string>>",
    )
    monkeypatch.setattr(avro_source, "try_native_avro", lambda *_, **__: sim)
    assert avro_source.read_avro_jvm(spark, ["ignored"], plans) is None


def test_engine_gate(spark, tmp_path, monkeypatch):
    """Without the jar: auto falls back to the Python codec, jvm raises a
    clear error naming the engine's own jar and the alignability cause."""
    path = str(tmp_path / "f.avro")
    avro_io.write_file(path, CDC_SCHEMA, ROWS)
    assert avro_source.read_avro(spark, [path], engine="auto").count() == len(ROWS)
    monkeypatch.setattr(avro_source, "try_native_avro", lambda *_, **__: None)
    with pytest.raises(RuntimeError, match="muninn-spark-avro.jar") as err:
        avro_source.read_avro(spark, [path], engine="jvm")
    assert "not JVM-alignable" in str(err.value)
    assert "--packages" not in str(err.value)
    # the generic reader raises the same message
    with pytest.raises(RuntimeError) as err_generic:
        avro_source.read_avro_generic(spark, [path], engine="jvm")
    assert str(err_generic.value) == str(err.value) == avro_source.JVM_UNAVAILABLE


def test_source_file_canon_parity(spark, tmp_path):
    """ADVICE r3: input_file_name() returns a percent-encoded file: URI
    while the Python codec emits the caller's path — both must land on the
    identical canonical value, including paths with spaces and plus signs."""
    from urllib.parse import quote

    from pyspark.sql import functions as F

    d = tmp_path / "a b+c"
    d.mkdir()
    path = str(d / "f.avro")
    avro_io.write_file(path, CDC_SCHEMA, ROWS)

    py = avro_source.read_avro(spark, [path], engine="python")
    py_vals = {r[0] for r in py.select(avro_source.SOURCE_FILE_COL).collect()}
    assert py_vals == {path}

    # what input_file_name() would return for this local file
    jvm_uri = "file://" + quote(path)
    got = (
        spark.range(1)
        .select(avro_source.canon_source_col(F.lit(jvm_uri)).alias("p"))
        .collect()[0]["p"]
    )
    assert got == path
    # python codec fed the URI form also canonicalizes to the plain path
    assert avro_source.canon_source_path(jvm_uri.replace(quote(path), path)) == path
    # non-file schemes pass through untouched
    s3 = "s3://bucket/key+name.avro"
    assert avro_source.canon_source_path(s3) == s3
    got_s3 = (
        spark.range(1)
        .select(avro_source.canon_source_col(F.lit(s3)).alias("p"))
        .collect()[0]["p"]
    )
    assert got_s3 == s3


# --- alignment parity matrix (VERDICT r4 #3) --------------------------------
# Every schema shape the §1.3 mapper can emit, either proven value-parity
# against the Python codec (alignable) or proven to bail to it (None).

_MATRIX_META = {
    "schema": "public", "table": "m", "is_deleted": False,
    "change_type": "INSERT", "tx_id": 1, "lsn": "0/1", "primary_keys": ["id"],
}


def _matrix_file(tmp_path, payload_fields, payload_rows):
    schema = {
        "type": "record",
        "name": "rec",
        "fields": [
            {"name": "source_metadata", "type": CDC_SCHEMA["fields"][0]["type"]},
            {
                "name": "payload",
                "type": {"type": "record", "name": "pm", "fields": payload_fields},
            },
        ],
    }
    rows = [
        {"source_metadata": dict(_MATRIX_META), "payload": p} for p in payload_rows
    ]
    path = str(tmp_path / "m.avro")
    avro_io.write_file(path, schema, rows)
    return schema, path


_SM_DDL = (
    "source_metadata struct<schema:string,table:string,is_deleted:boolean,"
    "change_type:string,tx_id:bigint,lsn:string,primary_keys:array<string>>"
)


def _assert_jvm_parity(spark, monkeypatch, schema, path, sim):
    """Monkeypatched JVM decode must align to EXACTLY the Python codec's
    schema and values."""
    plans = S.derive_field_plans(schema)
    monkeypatch.setattr(avro_source, "try_native_avro", lambda *_, **__: sim)
    jdf = avro_source.read_avro_jvm(spark, ["ignored"], plans)
    assert jdf is not None, "expected alignable schema"
    got = jdf.drop(avro_source.SOURCE_FILE_COL)
    want = avro_source.read_avro(spark, [path], engine="python").drop(
        avro_source.SOURCE_FILE_COL
    )
    # nullability-erased compare: spark-avro carries exact Avro-union
    # nullability, the mapper declares everything nullable — same types
    assert got.schema.simpleString() == want.schema.simpleString(), (
        f"\n{got.schema}\n!=\n{want.schema}"
    )
    key = lambda row: row["id"]  # noqa: E731
    assert sorted(got.collect(), key=key) == sorted(want.collect(), key=key)


def test_jvm_parity_raw_containers(spark, tmp_path, monkeypatch):
    """Bare (non-union) array/map/all-RAW-record columns keep their typed
    shape — the JVM decode is already the target type (identity align)."""
    fields = [
        {"name": "id", "type": "long"},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "counts", "type": {"type": "map", "values": "long"}},
        {
            "name": "point",
            "type": {
                "type": "record", "name": "pt",
                "fields": [{"name": "x", "type": "long"}, {"name": "y", "type": "double"}],
            },
        },
    ]
    rows = [
        {"id": i, "tags": [f"t{i}", "x"], "counts": {"a": i, "b": i * 2},
         "point": {"x": i, "y": i / 2}}
        for i in range(4)
    ]
    schema, path = _matrix_file(tmp_path, fields, rows)
    sim = spark.createDataFrame(
        [{"source_metadata": dict(_MATRIX_META), "payload": p} for p in rows],
        _SM_DDL + ",payload struct<id:bigint,tags:array<string>,"
        "counts:map<string,bigint>,point:struct<x:bigint,y:double>>",
    )
    _assert_jvm_parity(spark, monkeypatch, schema, path, sim)


def test_jvm_parity_nested_record_logicals(spark, tmp_path, monkeypatch):
    """STRUCT_CAST recursion: a nested record mixing union logicals
    (timestamp-micros/millis -> Timestamp, date -> Date) with a DIRECT
    date (reference keeps base int; JVM decodes DateType -> unix_date)."""
    import datetime as dt

    fields = [
        {"name": "id", "type": "long"},
        {
            "name": "evt",
            "type": {
                "type": "record", "name": "evt",
                "fields": [
                    {"name": "at_us", "type": ["null", {"type": "long", "logicalType": "timestamp-micros"}]},
                    {"name": "at_ms", "type": ["null", {"type": "long", "logicalType": "timestamp-millis"}]},
                    {"name": "day", "type": ["null", {"type": "int", "logicalType": "date"}]},
                    {"name": "raw_day", "type": {"type": "int", "logicalType": "date"}},
                ],
            },
        },
    ]
    rows = [
        {"id": i, "evt": {"at_us": 1_700_000_000_000_000 + i,
                          "at_ms": 1_700_000_000_000 + i,
                          "day": 19_000 + i, "raw_day": 19_100 + i}}
        for i in range(3)
    ]
    schema, path = _matrix_file(tmp_path, fields, rows)
    epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    day0 = dt.date(1970, 1, 1)
    sim_rows = [
        {
            "source_metadata": dict(_MATRIX_META),
            "payload": {
                "id": r["id"],
                "evt": {
                    "at_us": epoch + dt.timedelta(microseconds=r["evt"]["at_us"]),
                    "at_ms": epoch + dt.timedelta(milliseconds=r["evt"]["at_ms"]),
                    "day": day0 + dt.timedelta(days=r["evt"]["day"]),
                    "raw_day": day0 + dt.timedelta(days=r["evt"]["raw_day"]),
                },
            },
        }
        for r in rows
    ]
    sim = spark.createDataFrame(
        sim_rows,
        _SM_DDL + ",payload struct<id:bigint,evt:struct<at_us:timestamp,"
        "at_ms:timestamp,day:date,raw_day:date>>",
    )
    _assert_jvm_parity(spark, monkeypatch, schema, path, sim)


def test_jvm_parity_toplevel_direct_date_and_missing_col(spark, tmp_path, monkeypatch):
    """Top-level direct date (target stays int, JVM decodes DateType) and
    a plan column absent from the JVM payload (NULL-filled)."""
    import datetime as dt

    fields = [
        {"name": "id", "type": "long"},
        {"name": "d", "type": {"type": "int", "logicalType": "date"}},
        {"name": "only_python", "type": ["null", "string"]},
    ]
    rows = [{"id": i, "d": 20_000 + i, "only_python": None} for i in range(3)]
    schema, path = _matrix_file(tmp_path, fields, rows)
    day0 = dt.date(1970, 1, 1)
    sim = spark.createDataFrame(
        [
            {"source_metadata": dict(_MATRIX_META),
             "payload": {"id": r["id"], "d": day0 + dt.timedelta(days=r["d"])}}
            for r in rows
        ],
        _SM_DDL + ",payload struct<id:bigint,d:date>",  # only_python missing
    )
    _assert_jvm_parity(spark, monkeypatch, schema, path, sim)


def test_jvm_parity_bytes_decimal_always_bails(spark, monkeypatch):
    """Parity-matrix finding (r5): a DECODED DecimalType is never
    JVM-alignable. The reference reinterprets the unscaled int at ASSUMED
    scale 30 regardless of the writer's declared scale (then quantizes to
    9 HALF_EVEN); UPSTREAM spark-avro honors the DECLARED scale, so e.g.
    a (10,2) column decodes 25 -> 0.25 where the reference mandates
    25e-30 -> 0E-9 — those sessions fall back to the Python codec. (The
    engine's own DSv2 source instead honors muninn.decimalAsBinary and
    delivers raw bytes, the alignable case — see
    test_jvm_path_live_bytes_decimal_alignment.)"""
    fields = [
        {"name": "id", "type": "long"},
        {"name": "amount",
         "type": ["null", {"type": "bytes", "logicalType": "decimal",
                           "precision": 10, "scale": 2}]},
    ]
    schema = {
        "type": "record", "name": "rec",
        "fields": [
            {"name": "source_metadata", "type": CDC_SCHEMA["fields"][0]["type"]},
            {"name": "payload",
             "type": {"type": "record", "name": "pd", "fields": fields}},
        ],
    }
    plans = S.derive_field_plans(schema)
    for ddl_dec in ("decimal(10,2)", "decimal(38,30)", "decimal(38,9)"):
        sim = spark.createDataFrame(
            [], _SM_DDL + f",payload struct<id:bigint,amount:{ddl_dec}>"
        )
        monkeypatch.setattr(avro_source, "try_native_avro", lambda *_, s=sim, **__: s)
        assert avro_source.read_avro_jvm(spark, ["ignored"], plans) is None, ddl_dec


def test_jvm_stringify_container_alignment(spark, monkeypatch):
    """Union-wrapped containers collapse to sorted-key JSON. Since r9
    string/int/bool-leaf containers align JVM-side (``_stringify_catalyst``
    — Jackson output is byte-identical to json.dumps for those leaves,
    proven by test_jvm_path_live_stringify_parity); float-leaf containers
    must still bail (shortest-round-trip float repr has no Catalyst
    equivalent)."""
    def mk(avro_values, ddl_values):
        fields = [
            {"name": "id", "type": "long"},
            {"name": "attrs", "type": ["null", {"type": "map", "values": avro_values}]},
        ]
        schema = {
            "type": "record", "name": "rec",
            "fields": [
                {"name": "source_metadata", "type": CDC_SCHEMA["fields"][0]["type"]},
                {"name": "payload",
                 "type": {"type": "record", "name": "pz", "fields": fields}},
            ],
        }
        plans = S.derive_field_plans(schema)
        sim = spark.createDataFrame(
            [], _SM_DDL + f",payload struct<id:bigint,attrs:map<string,{ddl_values}>>"
        )
        monkeypatch.setattr(avro_source, "try_native_avro", lambda *_, **__: sim)
        return avro_source.read_avro_jvm(spark, ["ignored"], plans)

    aligned = mk("string", "string")
    assert aligned is not None  # safe leaf: stays on the JVM path
    assert dict(aligned.dtypes)["attrs"] == "string"  # collapsed to JSON
    assert mk("double", "double") is None  # unsafe leaf: falls back


def test_upstream_avro_precisionless_decimal_falls_back(spark, tmp_path, monkeypatch):
    """An upstream spark-avro session (no engine jar): the scan carries no
    ``JVM_PATH_COL``, so nothing registers ``JVM_BYTES_DECIMAL_FN``, and
    it reads a bytes decimal without ``precision`` (an invalid logical
    type) as plain binary under a BYTES_DECIMAL plan. That column is not
    alignable: ``auto`` must give the Python codec's rows, and a forced
    ``jvm`` must raise ``JVM_UNAVAILABLE`` — not UNRESOLVED_ROUTINE."""
    schema = {
        "type": "record", "name": "rec",
        "fields": [
            {"name": "source_metadata", "type": CDC_SCHEMA["fields"][0]["type"]},
            {"name": "payload", "type": {"type": "record", "name": "pb", "fields": [
                {"name": "id", "type": "long"},
                {"name": "amt", "type": ["null", {"type": "bytes", "logicalType": "decimal"}]},
            ]}},
        ],
    }
    amts = [(123 * 10**28).to_bytes(16, "big", signed=True), None, b""]
    rows = [
        {"source_metadata": ROWS[i]["source_metadata"], "payload": {"id": i, "amt": a}}
        for i, a in enumerate(amts)
    ]
    path = str(tmp_path / "pd.avro")
    avro_io.write_file(path, schema, rows)
    assert [p.source for p in S.derive_field_plans(schema)] == [S.RAW, S.BYTES_DECIMAL]
    sim = spark.createDataFrame(
        [(r["source_metadata"], r["payload"]) for r in rows],
        _SM_DDL + ",payload struct<id:bigint,amt:binary>",
    )
    assert avro_source.JVM_PATH_COL not in sim.columns
    spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {avro_source.JVM_BYTES_DECIMAL_FN}")
    want = avro_source.read_avro(spark, [path], engine="python")
    monkeypatch.setattr(avro_source, "try_native_avro", lambda *_, **__: sim)
    got = avro_source.read_avro(spark, [path], engine="auto")
    key = lambda r: r["id"]  # noqa: E731
    assert sorted(got.collect(), key=key) == sorted(want.collect(), key=key)
    assert [r["amt"] for r in sorted(got.collect(), key=key)] == [
        Decimal("1.230000000"), None, Decimal("0E-9"),
    ]
    with pytest.raises(RuntimeError) as err:
        avro_source.read_avro(spark, [path], engine="jvm")
    assert str(err.value) == avro_source.JVM_UNAVAILABLE


# --- un-mocked JVM path (round 8) -------------------------------------------
# The engine now ships its own DSv2 Avro source (jvm/src/muninnavro/,
# loaded from jars/muninn-spark-avro.jar by session.get_spark and
# registered under format("avro")), so the JVM ingest gate is exercised
# for REAL: these tests skip only in sessions without the jar.


def _jvm_live(spark, tmp_path) -> bool:
    path = str(tmp_path / "probe.avro")
    avro_io.write_file(path, CDC_SCHEMA, ROWS[:1])
    return avro_source.try_native_avro(spark, path) is not None


def test_jvm_path_live_full_parity(spark, tmp_path):
    """engine='jvm' against the real DSv2 jar must reproduce the Python
    codec's output byte-for-byte — schema, values, AND _source_file
    provenance (the DSv2 source's muninn.pathColumn seam, since
    input_file_name() is empty for DSv2 scans)."""
    import pytest

    if not _jvm_live(spark, tmp_path):
        pytest.skip("muninn-spark-avro.jar not loaded in this session")
    path = str(tmp_path / "f.avro")
    avro_io.write_file(path, CDC_SCHEMA, ROWS)
    jdf = avro_source.read_avro(spark, [path], engine="jvm")
    pdf = avro_source.read_avro(spark, [path], engine="python")
    # full schemas, nullability included: both engines declare every
    # column, element and member nullable (simpleString hides the flags)
    assert jdf.schema == pdf.schema, (jdf.schema, pdf.schema)
    key = lambda r: r["id"]  # noqa: E731
    got = sorted(jdf.collect(), key=key)
    want = sorted(pdf.collect(), key=key)
    assert got == want
    assert {r[avro_source.SOURCE_FILE_COL] for r in got} == {path}


def test_jvm_path_live_split_fanout(spark, tmp_path):
    """A multi-block file read through the DSv2 source with a small
    maxPartitionBytes must fan out across several sync-aligned splits and
    still return every record exactly once."""
    import pytest

    if not _jvm_live(spark, tmp_path):
        pytest.skip("muninn-spark-avro.jar not loaded in this session")
    rows = [
        {
            "source_metadata": dict(ROWS[0]["source_metadata"]),
            "payload": {"id": i, "name": f"n{i}", "qty": i,
                        "created": 1_700_000_000_000_000 + i,
                        "tags": [f"t{i}"]},
        }
        for i in range(20_000)
    ]
    path = str(tmp_path / "big.avro")
    avro_io.write_file(path, CDC_SCHEMA, rows, block_size=500)
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))
    try:
        df = avro_source.read_avro(spark, [path], engine="jvm")
        n_parts = df.rdd.getNumPartitions()
        ids = [r["id"] for r in df.select("id").collect()]
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    assert sorted(ids) == list(range(20_000))  # exactly once across splits
    # a file over the split target keeps one partition per target-sized
    # chunk: packing small files must not change big-file fan-out
    size = os.path.getsize(path)
    assert n_parts == -(-size // (64 * 1024)) >= 2, (n_parts, size)


def _small_file_tree(tmp_path, n_files=32, rows_per_file=40):
    """n_files small CDC files with disjoint id ranges; returns their paths."""
    paths = []
    for f in range(n_files):
        rows = [
            {
                "source_metadata": dict(ROWS[0]["source_metadata"]),
                "payload": {"id": f * 1000 + i, "name": f"f{f}r{i}", "qty": i,
                            "created": 1_700_000_000_000_000 + i,
                            "tags": [f"t{f}"]},
            }
            for i in range(rows_per_file)
        ]
        path = str(tmp_path / f"part-{f:03d}.avro")
        avro_io.write_file(path, CDC_SCHEMA, rows)
        paths.append(path)
    return paths


def test_jvm_path_live_small_files_packed(spark, tmp_path):
    """32 small files share at most defaultParallelism scan partitions,
    every record is read exactly once, and _source_file names each row's
    own file even where one partition spans several files."""
    if not _jvm_live(spark, tmp_path):
        pytest.skip("muninn-spark-avro.jar not loaded in this session")
    paths = _small_file_tree(tmp_path)
    df = avro_source.read_avro(spark, paths, engine="jvm")
    n_parts = df.rdd.getNumPartitions()
    assert n_parts <= spark.sparkContext.defaultParallelism, n_parts
    rows = df.select("id", avro_source.SOURCE_FILE_COL).collect()
    ids = [r["id"] for r in rows]
    assert sorted(ids) == sorted(f * 1000 + i for f in range(32) for i in range(40))
    for r in rows:
        assert r[avro_source.SOURCE_FILE_COL] == paths[r["id"] // 1000], r
    # and the partitions really span several files each
    files_per_part = (
        df.rdd.mapPartitions(
            lambda it: [len({r[avro_source.SOURCE_FILE_COL] for r in it})]
        ).collect()
    )
    assert max(files_per_part) > 1, files_per_part


def test_jvm_path_live_small_files_match_python(spark, tmp_path):
    """The JVM and Python engines return identical rows for a 32-file
    tree whose files the JVM scan packs into shared partitions."""
    if not _jvm_live(spark, tmp_path):
        pytest.skip("muninn-spark-avro.jar not loaded in this session")
    paths = _small_file_tree(tmp_path)
    jdf = avro_source.read_avro(spark, paths, engine="jvm")
    pdf = avro_source.read_avro(spark, paths, engine="python")
    assert jdf.schema.simpleString() == pdf.schema.simpleString()
    key = lambda r: r["id"]  # noqa: E731
    assert sorted(jdf.collect(), key=key) == sorted(pdf.collect(), key=key)


def test_jvm_packed_partition_resolves_each_writer_schema(spark, tmp_path):
    """Files with two writer schemas packed into ONE partition each decode
    under their own schema (here the second writer reorders the fields and
    drops one), and an incompatible file in the same partition fails with
    an error naming that file."""
    if not _jvm_live(spark, tmp_path):
        pytest.skip("muninn-spark-avro.jar not loaded in this session")
    s1 = {"type": "record", "name": "d",
          "fields": [{"name": "id", "type": "long"},
                     {"name": "v", "type": "long"},
                     {"name": "note", "type": ["null", "string"]}]}
    s2 = {"type": "record", "name": "d",
          "fields": [{"name": "v", "type": "long"},
                     {"name": "id", "type": "long"}]}
    avro_io.write_file(str(tmp_path / "a.avro"), s1,
                       [{"id": 1, "v": 10, "note": "x"}, {"id": 2, "v": 20, "note": None}])
    avro_io.write_file(str(tmp_path / "b.avro"), s2,
                       [{"v": 30, "id": 3}, {"v": 40, "id": 4}])
    avro_io.write_file(str(tmp_path / "c.avro"), s1,
                       [{"id": 5, "v": 50, "note": "y"}])
    s3 = {"type": "record", "name": "d",
          "fields": [{"name": "id", "type": "long"}, {"name": "v", "type": "string"}]}
    avro_io.write_file(str(tmp_path / "d.avro"), s3, [{"id": 6, "v": "bad"}])
    # with the default 4 MiB open cost, a few tiny files on a few cores
    # get one partition each; a zero open cost packs them all together
    prev = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try:
        good = [str(tmp_path / f) for f in ("a.avro", "b.avro", "c.avro")]
        df = spark.read.format("avro").option("muninn.pathColumn", "_f").load(good)
        assert df.rdd.getNumPartitions() == 1
        got = sorted((r["id"], r["v"], r["note"], os.path.basename(r["_f"]))
                     for r in df.collect())
        assert got == [(1, 10, "x", "a.avro"), (2, 20, None, "a.avro"),
                       (3, 30, None, "b.avro"), (4, 40, None, "b.avro"),
                       (5, 50, "y", "c.avro")]

        df = spark.read.format("avro").load(str(tmp_path / "*.avro"))
        assert df.rdd.getNumPartitions() == 1
        with pytest.raises(Exception, match=r"schema drift[\s\S]*d\.avro"):
            df.collect()
    finally:
        spark.conf.set("spark.sql.files.openCostInBytes", prev)


def test_jvm_path_live_projection_pushdown(spark, tmp_path):
    """Column pruning must reach the DSv2 scan (reader-schema projection):
    the BatchScan's ReadSchema lists only the required columns."""
    import pytest

    if not _jvm_live(spark, tmp_path):
        pytest.skip("muninn-spark-avro.jar not loaded in this session")
    path = str(tmp_path / "f.avro")
    avro_io.write_file(path, CDC_SCHEMA, ROWS)
    raw = spark.read.format("avro").load(path)
    pruned = raw.select("payload.id")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "muninn-avro" in plan
    assert "source_metadata" not in plan.split("ReadSchema")[-1]
    assert "payload" in plan.split("ReadSchema")[-1]


def test_jvm_generic_scan_parity_with_python(spark, tmp_path):
    """read_avro_generic's JVM fast path (round 8): the engine's own
    avro_sink output re-ingests through the DSv2 scan with byte-identical
    schema and values vs the interpreted Python loop — declared-scale
    decimals, timestamps, containers, provenance included. The schemas
    match in full, nullability too: a bare ``id long`` and an
    ``array<string>`` are nullable on both engines."""
    import pytest

    from muninn_avro_to_parquet_spark.sources import avro_sink
    from muninn_avro_to_parquet_spark.sources.avro_source import read_avro_generic

    if not _jvm_live(spark, tmp_path):
        pytest.skip("muninn-spark-avro.jar not loaded in this session")
    df = spark.range(50).selectExpr(
        "id",
        "concat('v', id) as name",
        "cast(id as double) / 4 as score",
        "id % 2 = 0 as flag",
        "array(concat('t', id)) as tags",
        "timestamp_micros(1700000000000000 + id) as at_us",
        "cast(cast(id as string) || '.25' as decimal(10,2)) as amount",
    )
    out = str(tmp_path / "sink")
    avro_sink.write_avro(df.repartition(3), out)
    import glob as _glob

    paths = sorted(_glob.glob(f"{out}/*.avro"))
    jdf = read_avro_generic(spark, paths, engine="jvm")
    pdf = read_avro_generic(spark, paths, engine="python")
    assert jdf.schema == pdf.schema, (jdf.schema, pdf.schema)
    key = lambda r: r["id"]  # noqa: E731
    assert sorted(jdf.collect(), key=key) == sorted(pdf.collect(), key=key)


def test_jvm_generic_scan_bails_to_python_on_union(spark, tmp_path):
    """A multi-branch union needs the sorted-key-JSON collapse only the
    Python codec implements: auto must transparently fall back and still
    produce the reference stringify."""
    schema = {
        "type": "record", "name": "g",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "v", "type": ["int", "string"]},
        ],
    }
    path = str(tmp_path / "u.avro")
    avro_io.write_file(path, schema, [{"id": 1, "v": 7}, {"id": 2, "v": "x"}])
    from muninn_avro_to_parquet_spark.sources.avro_source import read_avro_generic

    got = {r["id"]: r["v"] for r in read_avro_generic(spark, [path]).collect()}
    assert got == {1: "7", 2: "x"}


def test_jvm_path_live_compressed_codecs(spark, tmp_path):
    """Snappy / deflate / bzip2 / xz block codecs through the LIVE DSv2
    scan: the executor-side DataFileReader resolves each codec from the
    jars Spark ships (snappy-java, commons-compress, xz) and decodes the
    Python-codec-written blocks exactly — the cross-implementation
    contract test_java_avro_conformance pins, now on the query path."""
    import pytest

    if not _jvm_live(spark, tmp_path):
        pytest.skip("muninn-spark-avro.jar not loaded in this session")
    want = sorted((r["payload"]["id"], r["payload"]["name"]) for r in ROWS)
    for codec in ("snappy", "deflate", "bzip2", "xz"):
        path = str(tmp_path / f"c_{codec}.avro")
        avro_io.write_file(path, CDC_SCHEMA, ROWS, codec=codec)
        df = avro_source.read_avro(spark, [path], engine="jvm")
        got = sorted((r["id"], r["name"]) for r in df.collect())
        assert got == want, codec


def test_jvm_write_path_round_trip(spark, tmp_path):
    """df.write.format('avro') (round 8, AvroWriteSupport): one OCF per
    task, inverse schema mapping (nullable -> union-with-null,
    timestamp -> timestamp-micros, date -> date, decimal(p,s) -> bytes
    decimal), codec option honored — and the files read back equal both
    through the DSv2 scan AND the pure-Python codec (cross-engine write/
    read interop in all four directions now)."""
    import pytest

    if not _jvm_live(spark, tmp_path):
        pytest.skip("muninn-spark-avro.jar not loaded in this session")
    import glob as _glob

    from muninn_avro_to_parquet_spark.sources.avro_source import read_avro_generic

    df = spark.range(200).selectExpr(
        "id",
        "concat('v', id) as name",
        "cast(id as double) / 4 as score",
        "id % 2 = 0 as flag",
        "array(concat('t', id)) as tags",
        "map('k', id) as attrs",
        "timestamp_micros(1700000000000000 + id) as at_us",
        "cast(cast(id as string) || '.25' as decimal(10,2)) as amount",
        "named_struct('x', id, 'y', concat('s', id)) as pt",
        "date_from_unix_date(cast(19000 + id as int)) as day",
    )
    for codec in ("null", "snappy", "deflate", "bzip2", "xz", "zstandard"):
        out = str(tmp_path / f"w_{codec}")
        df.repartition(3).write.format("avro").option(
            "muninn.codec", codec
        ).mode("append").save(out)
        files = sorted(_glob.glob(f"{out}/*.avro"))
        assert len(files) == 3  # one OCF per task
        back = spark.read.format("avro").load(f"{out}/*.avro")
        key = lambda r: r["id"]  # noqa: E731
        assert sorted(back.collect(), key=key) == sorted(df.collect(), key=key), codec
        if codec != "zstandard":
            # the Python codec decodes the JVM-written blocks identically
            # (its zstandard support needs the optional module, absent here
            # — the JVM path is how the engine gets zstd at rest)
            py = read_avro_generic(spark, files, engine="python")
            assert py.count() == 200, codec


def test_jvm_scan_drift_fails_loudly(spark, tmp_path):
    """Two files with drifted writer schemas in ONE load: the reader must
    refuse (clear 'schema drift' error) rather than emit mis-typed values
    silently — the engine's convert layer groups files by writer schema,
    so this guards only raw format('avro') use over mixed directories."""
    import pytest

    if not _jvm_live(spark, tmp_path):
        pytest.skip("muninn-spark-avro.jar not loaded in this session")
    s1 = {"type": "record", "name": "d",
          "fields": [{"name": "id", "type": "long"}, {"name": "v", "type": "long"}]}
    s2 = {"type": "record", "name": "d",
          "fields": [{"name": "id", "type": "long"}, {"name": "v", "type": "string"}]}
    avro_io.write_file(str(tmp_path / "a.avro"), s1, [{"id": 1, "v": 10}])
    avro_io.write_file(str(tmp_path / "b.avro"), s2, [{"id": 2, "v": "x"}])
    df = spark.read.format("avro").load(str(tmp_path / "*.avro"))
    with pytest.raises(Exception, match="schema drift"):
        df.collect()


def test_jvm_nested_pruning_non_prefix_field(spark, tmp_path):
    """Nested column pruning with a NON-PREFIX subfield: selecting only
    payload.qty must return qty values — positional emission of the full
    record where Catalyst expects the pruned struct would silently hand
    back payload.id instead (regression: caught by the round-8 drift
    guard, fixed by name-projected converters)."""
    import pytest

    if not _jvm_live(spark, tmp_path):
        pytest.skip("muninn-spark-avro.jar not loaded in this session")
    path = str(tmp_path / "f.avro")
    avro_io.write_file(path, CDC_SCHEMA, ROWS)
    raw = spark.read.format("avro").load(path)
    got = sorted(r["qty"] for r in raw.select("payload.qty").collect())
    assert got == sorted(r["payload"]["qty"] for r in ROWS)
    # and a two-field non-prefix projection keeps name alignment
    both = {
        r["qty"]: r["created"] is not None
        for r in raw.select("payload.qty", "payload.created").collect()
    }
    assert set(both) == {r["payload"]["qty"] for r in ROWS}


def test_jvm_scan_random_projection_differential(spark, tmp_path):
    """Deterministic fuzz of the name-projected converter tree: random
    nested field subsets (including non-prefix, reordered paths) selected
    through the LIVE DSv2 scan must equal the same selection applied to
    the Python codec's full decode — 20 random projections over a
    deep schema with every alignable shape."""
    import random

    import pytest

    if not _jvm_live(spark, tmp_path):
        pytest.skip("muninn-spark-avro.jar not loaded in this session")
    schema = {
        "type": "record", "name": "deep",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "meta", "type": {
                "type": "record", "name": "meta",
                "fields": [
                    {"name": "a", "type": ["null", "string"]},
                    {"name": "b", "type": "int"},
                    {"name": "c", "type": ["null", {"type": "long", "logicalType": "timestamp-micros"}]},
                    {"name": "inner", "type": {
                        "type": "record", "name": "inner",
                        "fields": [
                            {"name": "x", "type": "double"},
                            {"name": "y", "type": ["null", "boolean"]},
                            {"name": "z", "type": {"type": "array", "items": "long"}},
                        ],
                    }},
                ],
            }},
            {"name": "tags", "type": {"type": "array", "items": "string"}},
            {"name": "counts", "type": {"type": "map", "values": "long"}},
            {"name": "day", "type": ["null", {"type": "int", "logicalType": "date"}]},
        ],
    }
    rows = [
        {
            "id": i,
            "meta": {
                "a": f"a{i}" if i % 3 else None,
                "b": i * 3,
                "c": 1_700_000_000_000_000 + i if i % 2 else None,
                "inner": {"x": i / 8, "y": i % 2 == 0 if i % 4 else None,
                          "z": [i, i + 1]},
            },
            "tags": [f"t{i}", "u"],
            "counts": {"k": i},
            "day": 19_000 + i,
        }
        for i in range(25)
    ]
    path = str(tmp_path / "deep.avro")
    avro_io.write_file(path, schema, rows)
    jdf = spark.read.format("avro").load(path)
    pdf = avro_source.read_avro_generic(spark, [path], engine="python").drop(
        avro_source.SOURCE_FILE_COL
    )
    leaf_paths = [
        "id", "meta.a", "meta.b", "meta.c", "meta.inner.x", "meta.inner.y",
        "meta.inner.z", "tags", "counts", "day",
    ]
    rng = random.Random(8)
    key = lambda r: tuple(str(v) for v in r)  # noqa: E731
    for trial in range(20):
        sel = rng.sample(leaf_paths, rng.randint(1, len(leaf_paths)))
        cols = [f"`{p}`" if "." not in p else p for p in sel]
        got = sorted((tuple(r) for r in jdf.selectExpr(*cols).collect()), key=key)
        want = sorted((tuple(r) for r in pdf.selectExpr(*cols).collect()), key=key)
        assert got == want, (trial, sel)


def test_jvm_write_random_schema_differential(spark, tmp_path):
    """Seeded random-schema fuzz of the write path: 8 random Catalyst
    schemas (leaves, arrays, maps, nested structs, mixed nullability)
    write through format('avro') and must read back value-identical via
    BOTH the DSv2 scan and the pure-Python codec."""
    import datetime as dt
    import glob as _glob
    import random
    from decimal import Decimal

    import pytest

    from pyspark.sql import types as T

    from muninn_avro_to_parquet_spark.sources.avro_source import read_avro_generic

    if not _jvm_live(spark, tmp_path):
        pytest.skip("muninn-spark-avro.jar not loaded in this session")

    rng = random.Random(88)
    LEAVES = [
        (T.LongType(), lambda: rng.randint(-2**40, 2**40)),
        (T.IntegerType(), lambda: rng.randint(-2**30, 2**30)),
        (T.DoubleType(), lambda: rng.randint(-10**6, 10**6) / 64.0),
        (T.BooleanType(), lambda: rng.random() < 0.5),
        (T.StringType(), lambda: "s" + str(rng.randint(0, 10**9))),
        (T.BinaryType(), lambda: bytes([rng.randint(0, 255) for _ in range(rng.randint(0, 6))])),
        (T.DecimalType(10, 2), lambda: Decimal(rng.randint(-10**7, 10**7)) / 100),
        (T.TimestampType(), lambda: dt.datetime(2024, 1, 1) + dt.timedelta(
            microseconds=rng.randint(0, 10**12))),
        (T.DateType(), lambda: dt.date(2020, 1, 1) + dt.timedelta(days=rng.randint(0, 3000))),
    ]

    def rand_field(name, depth):
        roll = rng.random()
        if depth < 2 and roll < 0.18:
            sub = [rand_field(f"{name}_s{i}", depth + 1) for i in range(rng.randint(1, 3))]
            typ = T.StructType([f for f, _ in sub])
            gens = [g for _, g in sub]
            def gen_struct(gs=gens):
                return tuple(g() for g in gs)
            return T.StructField(name, typ, rng.random() < 0.5), gen_struct
        if depth < 2 and roll < 0.30:
            lt, lg = LEAVES[rng.randrange(len(LEAVES))]
            return (
                T.StructField(name, T.ArrayType(lt, False), rng.random() < 0.5),
                lambda g=lg: [g() for _ in range(rng.randint(0, 3))],
            )
        if depth < 2 and roll < 0.40:
            lt, lg = LEAVES[rng.randrange(len(LEAVES))]
            return (
                T.StructField(name, T.MapType(T.StringType(), lt, False), rng.random() < 0.5),
                lambda g=lg: {f"k{i}": g() for i in range(rng.randint(0, 3))},
            )
        lt, lg = LEAVES[rng.randrange(len(LEAVES))]
        nullable = rng.random() < 0.5
        def gen_leaf(g=lg, n=nullable):
            if n and rng.random() < 0.2:
                return None
            return g()
        return T.StructField(name, lt, nullable), gen_leaf

    def norm(v):
        if isinstance(v, (bytes, bytearray)):
            return bytes(v)
        if isinstance(v, list):
            return tuple(norm(x) for x in v)
        if isinstance(v, dict):
            return tuple(sorted((k, norm(x)) for k, x in v.items()))
        if hasattr(v, "__fields__") or isinstance(v, tuple):
            return tuple(norm(x) for x in v)
        return v

    for trial in range(8):
        fields = [T.StructField("id", T.LongType(), False)] + [
            rand_field(f"c{i}", 0)[0] for i in range(0)
        ]
        gens = []
        for i in range(rng.randint(2, 5)):
            f, g = rand_field(f"c{i}", 0)
            fields.append(f)
            gens.append(g)
        schema = T.StructType(fields)
        rows = [tuple([rid] + [g() for g in gens]) for rid in range(30)]
        df = spark.createDataFrame(rows, schema)
        out = str(tmp_path / f"fz{trial}")
        df.write.format("avro").mode("append").save(out)
        files = sorted(_glob.glob(f"{out}/*.avro"))
        want = sorted((norm(r) for r in df.collect()), key=lambda t: t[0])
        back_jvm = spark.read.format("avro").load(f"{out}/*.avro")
        got_jvm = sorted((norm(r) for r in back_jvm.collect()), key=lambda t: t[0])
        assert got_jvm == want, (trial, schema.simpleString())
        # the Python generic reader applies the reference's §1.3 mapping
        # (direct dates stay int, union containers stringify), so its
        # VALUES legitimately differ from the original frame — assert it
        # can decode every record the JVM writer produced
        back_py = read_avro_generic(spark, files, engine="python")
        assert back_py.count() == 30, (trial, "python", schema.simpleString())


def test_jvm_path_live_bytes_decimal_alignment(spark, tmp_path):
    """Bytes-decimal payloads (the reference's core CDC shape,
    main.py:172-191) are JVM-alignable with no Python worker. The
    engine's DSv2 source scans them as raw unscaled bytes
    (muninn.decimalAsBinary) and the jar's Java port of
    scalars.bytes_to_decimal coerces them in the scan's stage. Value
    parity with the Python codec must hold bit-for-bit: the
    assumed-scale-30 reinterpretation of a mis-declared writer scale,
    the HALF_EVEN quantize to 9 places, fixed decimals in a nullable
    union, empty bytes, the 28-digit double rounding, the silent zero
    for values of 10^19 or more, and a decimal inside a nested record
    (the STRUCT_CAST recursion)."""
    if not _jvm_live(spark, tmp_path):
        pytest.skip("muninn-spark-avro.jar not loaded in this session")
    fields = [
        {"name": "id", "type": "long"},
        {"name": "amount",
         "type": ["null", {"type": "bytes", "logicalType": "decimal",
                           "precision": 38, "scale": 30}]},
        # declared scale 2: the reference IGNORES it (assumed 30) — both
        # engines must agree on the reinterpretation
        {"name": "price",
         "type": {"type": "bytes", "logicalType": "decimal",
                  "precision": 10, "scale": 2}},
        {"name": "note", "type": ["null", "string"]},
        {"name": "fx",
         "type": ["null", {"type": "fixed", "name": "fx16", "size": 16,
                           "logicalType": "decimal", "precision": 38,
                           "scale": 30}]},
        # a bare nested record keeps its struct (STRUCT_CAST); inside a
        # nullable union it would collapse to JSON instead
        {"name": "inner",
         "type": {"type": "record", "name": "inner_t", "fields": [
             {"name": "amt",
              "type": ["null", {"type": "bytes", "logicalType": "decimal",
                                "precision": 38, "scale": 30}]},
             {"name": "tag", "type": ["null", "string"]},
         ]}},
    ]
    schema = {
        "type": "record", "name": "rec",
        "fields": [
            CDC_SCHEMA["fields"][0],
            {"name": "payload",
             "type": {"type": "record", "name": "pdec", "fields": fields}},
        ],
    }

    def be(n: int, width: int | None = None) -> bytes:
        length = width or max(1, (n.bit_length() + 8) // 8)
        return n.to_bytes(length, byteorder="big", signed=True)

    half = 10 ** 21  # exactly x.5 at the 9th place: HALF_EVEN ties
    # 29 digits: scaleb rounds it up to ...5000 at 28 digits, then the
    # quantize tie rounds to even -> 0.012345678 (exact: 0.012345677)
    double = 12345677 * half + half // 2 - 1
    gate = 10 ** 49  # value 10^19: needs 29 digits at 9 places -> 0E-9
    rows = []
    vals = [
        # amount, price, fx (fixed, 16 bytes), inner.amt
        (10 ** 30, be(123 * 10 ** 28), 10 ** 30, -(10 ** 30)),   # 1e30 -> 1.0
        (None, be(-(7 * 10 ** 29)), None, None),                 # negative, nulls
        (25, be(half * 3), 5 * half, 25),                        # 25e-30 -> 0E-9; 3.5 -> tie
        (5 * half, be(5 * half), -5 * half, 5 * half),           # 2.5 ties to even
        (-3 * 10 ** 35, be(1, 40), -double, double),             # >16-byte width
        (b"", b"", double, -double),                             # empty bytes -> 0
        (gate, be(gate), 2 ** 127 - 1, gate - 1),                # silent zero gate
        (-gate, be(-double), -(2 ** 127), gate - half),          # largest survivor
    ]
    for i, (a, p, fx, inner) in enumerate(vals):
        rows.append({
            "source_metadata": ROWS[0]["source_metadata"],
            "payload": {
                "id": i,
                "amount": a if a is None or isinstance(a, bytes) else be(a),
                "price": p,
                "note": f"r{i}",
                "fx": None if fx is None else be(fx, 16),
                "inner": {
                    "amt": None if inner is None else be(inner),
                    "tag": f"t{i}",
                },
            },
        })
    path = str(tmp_path / "dec.avro")
    avro_io.write_file(path, schema, rows)
    jdf = avro_source.read_avro(spark, [path], engine="jvm")
    pdf = avro_source.read_avro(spark, [path], engine="python")
    assert jdf.schema.simpleString() == pdf.schema.simpleString()
    key = lambda r: r["id"]  # noqa: E731
    got = sorted(jdf.collect(), key=key)
    want = sorted(pdf.collect(), key=key)
    assert got == want
    # the edge rows really hit the edges (parity alone would also pass
    # if both engines skipped them)
    assert got[5]["amount"] == Decimal(0) and got[6]["amount"] == Decimal(0)
    assert got[5]["fx"] == Decimal("0.012345678")
    assert got[5]["inner"]["amt"] == Decimal("-0.012345678")
    assert got[0]["fx"] == Decimal(1) and got[6]["inner"]["amt"] == Decimal(0)
    # the coercion is a Java UDF: no Python UDF node anywhere in the plan,
    # and the scan is still the DSv2 source
    plan = jdf._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 0, plan
    assert plan.count("BatchEvalPython") == 0, plan
    assert "BatchScan" in plan, plan


def test_jvm_generic_precisionless_decimal_registers_java_udf(spark, tmp_path):
    """A bytes decimal without ``precision`` is an invalid Avro logical
    type: the JVM scan reads it as plain bytes while the generic reader's
    plan still says BYTES_DECIMAL, so ``read_avro_generic`` must register
    the Java coercion itself, even in a session where no CDC read has."""
    if not _jvm_live(spark, tmp_path):
        pytest.skip("muninn-spark-avro.jar not loaded in this session")
    from muninn_avro_to_parquet_spark.sources.avro_source import read_avro_generic

    schema = {
        "type": "record", "name": "g",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "amt",
             "type": ["null", {"type": "bytes", "logicalType": "decimal"}]},
        ],
    }
    rows = [
        {"id": 1, "amt": (123 * 10**28).to_bytes(16, "big", signed=True)},
        {"id": 2, "amt": None},
        {"id": 3, "amt": b""},
    ]
    path = str(tmp_path / "g.avro")
    avro_io.write_file(path, schema, rows)
    spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {avro_source.JVM_BYTES_DECIMAL_FN}")
    jdf = read_avro_generic(spark, [path], engine="jvm")
    pdf = read_avro_generic(spark, [path], engine="python")
    got = sorted(jdf.collect(), key=lambda r: r["id"])
    assert got == sorted(pdf.collect(), key=lambda r: r["id"])
    assert [r["amt"] for r in got] == [Decimal("1.23"), None, Decimal(0)]
    plan = jdf._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "BatchScan" in plan, plan


def test_register_jvm_functions_registers_once_across_threads(
    spark, tmp_path, monkeypatch
):
    """``convert()`` reads its tables from concurrent threads, and each
    JVM read calls ``register_jvm_functions``: eight threads at once on a
    session without the function must register it exactly once (a second
    registration replaces the first and logs a WARN)."""
    import threading
    import time

    from pyspark.sql.udf import UDFRegistration

    if not _jvm_live(spark, tmp_path):
        pytest.skip("muninn-spark-avro.jar not loaded in this session")
    calls = []
    original = UDFRegistration.registerJavaFunction

    def counting(self, *args, **kwargs):
        calls.append(args[0])
        time.sleep(0.2)  # widen the check-then-register window
        return original(self, *args, **kwargs)

    monkeypatch.setattr(UDFRegistration, "registerJavaFunction", counting)
    spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {avro_source.JVM_BYTES_DECIMAL_FN}")
    start = threading.Barrier(8)
    errors = []

    def register():
        try:
            start.wait()
            avro_source.register_jvm_functions(spark)
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=register) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    assert calls == [avro_source.JVM_BYTES_DECIMAL_FN]
    assert spark.catalog.functionExists(avro_source.JVM_BYTES_DECIMAL_FN)


def test_jvm_forced_all_string_follows_engine_rule(spark, tmp_path):
    """An all-string read is ``read_avro`` under stringified plans, so it
    takes the same engine rule as any read. Under a forced ``jvm`` a
    table whose columns all align as strings stays on the JVM and equals
    the Python codec's rows; a non-string scalar column (``id`` long,
    ``qty`` int) has no JVM rendering of ``str()`` and raises
    ``JVM_UNAVAILABLE`` instead of silently running Python."""
    if not _jvm_live(spark, tmp_path):
        pytest.skip("muninn-spark-avro.jar not loaded in this session")
    from muninn_avro_to_parquet_spark import convert

    strings = {
        **CDC_SCHEMA,
        "fields": [
            CDC_SCHEMA["fields"][0],
            {"name": "payload", "type": {"type": "record", "name": "ps", "fields": [
                f for f in CDC_SCHEMA["fields"][1]["type"]["fields"]
                if f["name"] in ("name", "tags")
            ]}},
        ],
    }
    base = tmp_path / "avro"
    (base / "mixed").mkdir(parents=True)
    (base / "strs").mkdir()
    avro_io.write_file(str(base / "mixed" / "f.avro"), CDC_SCHEMA, ROWS)
    avro_io.write_file(
        str(base / "strs" / "f.avro"), strings,
        [{**r, "payload": {k: r["payload"][k] for k in ("name", "tags")}} for r in ROWS],
    )
    spark.conf.set("spark.muninn.avro.engine", "jvm")
    try:
        with pytest.raises(RuntimeError) as err:
            convert.convert_df(spark, str(base / "mixed" / "*.avro"), permissive=True)
        assert str(err.value) == avro_source.JVM_UNAVAILABLE
        jdf = convert.convert_df(spark, str(base / "strs" / "*.avro"), permissive=True)
        plan = jdf._jdf.queryExecution().executedPlan().toString()
        assert "BatchScan" in plan and "MapInArrow" not in plan, plan
        got = jdf.collect()
    finally:
        spark.conf.set("spark.muninn.avro.engine", "auto")
    spark.conf.set("spark.muninn.avro.engine", "python")
    try:
        want = convert.convert_df(spark, str(base / "strs" / "*.avro"), permissive=True)
        assert jdf.schema.simpleString() == want.schema.simpleString()
        key = lambda r: r["source_metadata"]["tx_id"]  # noqa: E731
        assert sorted(got, key=key) == sorted(want.collect(), key=key)
    finally:
        spark.conf.set("spark.muninn.avro.engine", "auto")


def test_jvm_retry_of_hidden_drift_runs_python_codec(spark, tmp_path, monkeypatch):
    """A table whose columns all align as strings (``name`` string,
    ``tags`` array<string>) reads on the JVM under ``auto``, typed or
    stringified. A drifted file the drift check missed (``name`` long,
    hidden here from ``schema_groups``) fails that JVM scan — it reads the
    group under one scan schema. The typed → all-string retry must run on
    the Python codec, which decodes each file under its own writer
    schema: the table converts, every path lands in ``fallback_files``,
    and each value is its ``stringify_any`` rendering. ``permissive``
    under ``auto`` recovers the same way; a forced ``jvm`` cannot."""
    if not _jvm_live(spark, tmp_path):
        pytest.skip("muninn-spark-avro.jar not loaded in this session")
    from muninn_avro_to_parquet_spark import convert
    from muninn_avro_to_parquet_spark.functions import scalars

    def schema(name_type):
        return {
            **CDC_SCHEMA,
            "fields": [
                CDC_SCHEMA["fields"][0],
                {"name": "payload", "type": {"type": "record", "name": "ps", "fields": [
                    {"name": "name", "type": name_type},
                    {"name": "tags", "type": {"type": "array", "items": "string"}},
                ]}},
            ],
        }

    def rec(i, name):
        sm = {**ROWS[0]["source_metadata"], "tx_id": i}
        return {"source_metadata": sm, "payload": {"name": name, "tags": [f"t{i}", "x"]}}

    base = tmp_path / "avro" / "strs"
    base.mkdir(parents=True)
    first, drifted = str(base / "a.avro"), str(base / "b.avro")
    avro_io.write_file(first, schema(["null", "string"]), [rec(1, "n1"), rec(2, None)])
    avro_io.write_file(drifted, schema("long"), [rec(3, 42)])
    monkeypatch.setattr(
        convert, "schema_groups", lambda paths: [(avro_io.read_schema(first), list(paths))]
    )
    glob = str(tmp_path / "avro" / "**" / "*.avro")
    want = {1: ("n1", ["t1", "x"]), 2: (None, ["t2", "x"]), 3: (42, ["t3", "x"])}

    def check(out):
        df = spark.read.parquet(os.path.join(out, "strs"))
        assert dict(df.dtypes)["name"] == dict(df.dtypes)["tags"] == "string"
        got = {r["source_metadata"]["tx_id"]: (r["name"], r["tags"]) for r in df.collect()}
        assert got == {
            i: tuple(scalars.stringify_any(v) for v in vals) for i, vals in want.items()
        }

    res = convert.convert(spark, glob, str(tmp_path / "typed"), ingestion_date="2026-01-07")
    assert res.tables == {"strs": 3}
    assert res.fallback_files == [first, drifted]
    check(str(tmp_path / "typed"))

    res = convert.convert(
        spark, glob, str(tmp_path / "perm"), ingestion_date="2026-01-07", permissive=True
    )
    assert res.tables == {"strs": 3} and res.fallback_files == []
    check(str(tmp_path / "perm"))

    # the drifted file really does fail the JVM scan: a forced jvm keeps
    # the retry there, so the run fails
    spark.conf.set("spark.muninn.avro.engine", "jvm")
    try:
        with pytest.raises(Exception):
            convert.convert(spark, glob, str(tmp_path / "jvm"), ingestion_date="2026-01-07")
    finally:
        spark.conf.set("spark.muninn.avro.engine", "auto")


def test_write_avro_engine_routing(spark, tmp_path):
    """Round-8 verdict #5: avro_sink.write_avro routes through the JVM
    writer under engine=auto for local targets (encode never enters
    Python), falls back to the Python writer for fs-seam URIs, and the
    two engines' outputs read back value-identical through BOTH scan
    engines."""
    if not _jvm_live(spark, tmp_path):
        pytest.skip("muninn-spark-avro.jar not loaded in this session")
    from muninn_avro_to_parquet_spark.sources import avro_sink
    from muninn_avro_to_parquet_spark.sources.avro_source import read_avro_generic

    df = spark.range(500).selectExpr(
        "id",
        "concat('v', id) as name",
        "cast(id as double) / 4 as score",
        "timestamp_micros(1700000000000000 + id) as at_us",
        "cast(cast(id as string) || '.25' as decimal(10,2)) as amount",
        "array(concat('t', id)) as tags",
    ).repartition(3)
    outs = {}
    for eng in ("jvm", "python"):
        out = str(tmp_path / f"sink_{eng}")
        manifest = avro_sink.write_avro(df, out, codec="deflate", engine=eng)
        assert sum(n for _, n in manifest) == 500, eng
        assert len(manifest) == 3, eng  # one OCF per partition, none empty
        outs[eng] = [p for p, _ in manifest]
    key = lambda r: r["id"]  # noqa: E731
    want = sorted(df.collect(), key=key)
    for eng, files in outs.items():
        for scan in ("jvm", "python"):
            back = read_avro_generic(spark, files, engine=scan).drop(
                avro_source.SOURCE_FILE_COL
            )
            assert sorted(back.collect(), key=key) == want, (eng, scan)
    # auto on a local path takes the JVM writer (its task files carry a
    # uuid suffix; the python writer's are bare part-NNNNN.avro)
    import os as _os

    out = str(tmp_path / "sink_auto")
    manifest = avro_sink.write_avro(df, out, codec="null", engine="auto")
    names = [_os.path.basename(p) for p, _ in manifest]
    assert all(len(n) > len("part-00000.avro") for n in names), names
    # empty dataframe: no files, empty manifest (python-path contract)
    empty = df.filter("id < 0")
    assert avro_sink.write_avro(empty, str(tmp_path / "sink_empty"), engine="auto") == []


def test_jvm_path_live_stringify_parity(spark, tmp_path):
    """r9: union-wrapped string-leaf containers (the CDC tags/attrs shape)
    now ride the JVM scan — _stringify_catalyst's Jackson JSON must be
    BYTE-identical to the Python codec's json.dumps(sort_keys,
    separators=(',',':'), ensure_ascii=False) across escapes, unicode,
    empties, nulls, and map-key ordering."""
    if not _jvm_live(spark, tmp_path):
        pytest.skip("muninn-spark-avro.jar not loaded in this session")
    schema = {
        "type": "record", "name": "rec",
        "fields": [
            {"name": "source_metadata", "type": CDC_SCHEMA["fields"][0]["type"]},
            {"name": "payload", "type": {"type": "record", "name": "ps", "fields": [
                {"name": "id", "type": "long"},
                {"name": "tags", "type": ["null", {"type": "array", "items": "string"}]},
                {"name": "attrs", "type": ["null", {"type": "map", "values": "string"}]},
                {"name": "nums", "type": ["null", {"type": "array", "items": "long"}]},
                {"name": "flags", "type": ["null", {"type": "map", "values": "boolean"}]},
            ]}},
        ],
    }
    cases = [
        ([], {}),
        (["a", "b"], {"z": "1", "a": "2"}),
        (["q\"x", "b\\s", "n\nx", "t\tx", "c\x01x"], {"k\"y": "v\\w"}),
        (["héllo", "日本語", "emoji🎉"], {"日本": "語", "é": "ü"}),
        (["", " "], {"": "ek", " ": ""}),
        (["/s", "<html>"], {"a/b": "<tag>"}),
        (None, None),
        (["dup", "dup"], {"10": "x", "2": "y", "A": "z", "a": "w", "Z~": "q"}),
    ]
    rows = [
        {
            "source_metadata": ROWS[0]["source_metadata"],
            "payload": {
                "id": i, "tags": tags, "attrs": attrs,
                "nums": [0, -1, 2**62] if i % 2 else None,
                "flags": {"t": True, "f": False} if i % 3 else {},
            },
        }
        for i, (tags, attrs) in enumerate(cases)
    ]
    path = str(tmp_path / "strfy.avro")
    avro_io.write_file(path, schema, rows)
    jdf = avro_source.read_avro(spark, [path], engine="jvm")
    pdf = avro_source.read_avro(spark, [path], engine="python")
    assert jdf.schema.simpleString() == pdf.schema.simpleString()
    key = lambda r: r["id"]  # noqa: E731
    assert sorted(jdf.collect(), key=key) == sorted(pdf.collect(), key=key)


def test_declared_decimal_38_digits_exact_on_every_route(spark, tmp_path):
    """A decimal(38,4) column of 38-digit values round-trips exactly
    through both writers and both generic readers. The default 28-digit
    ``decimal`` context must round nowhere: not in the Python writer's
    unscaled int, not in the Python codec's rescale at the declared
    scale."""
    if not _jvm_live(spark, tmp_path):
        pytest.skip("muninn-spark-avro.jar not loaded in this session")
    from pyspark.sql import types as T

    from muninn_avro_to_parquet_spark.sources import avro_sink
    from muninn_avro_to_parquet_spark.sources.avro_source import read_avro_generic

    want = [
        (1, Decimal("1234567890123456789012345678901234.5678")),
        (2, Decimal("-9999999999999999999999999999999999.9999")),
        (3, Decimal("1000000000000000000000000000000000.0001")),
        (4, Decimal("-0.0001")),
        (5, None),
    ]
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.DecimalType(38, 4))]
    )
    df = spark.createDataFrame(want, schema).repartition(2)
    for writer in ("python", "jvm"):
        files = [p for p, _ in avro_sink.write_avro(df, str(tmp_path / writer), engine=writer)]
        for reader in ("python", "jvm"):
            back = read_avro_generic(spark, files, engine=reader)
            assert back.schema["v"].dataType == T.DecimalType(38, 4), (writer, reader)
            got = sorted((r["id"], r["v"]) for r in back.collect())
            assert got == want, (writer, reader)
