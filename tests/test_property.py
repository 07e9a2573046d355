"""Property-based spot checks (SURVEY §5.6): random Avro schemas and rows
through codec → schema mapper → distributed read; invariants, not goldens.

Invariants:
- the pure-Python Avro codec round-trips every value it wrote;
- the schema mapper never crashes on any union/logical/complex shape and
  always yields a Spark-valid type;
- CDC conversion of random payloads always produces a DataFrame matching
  the derived schema (or lands in the permissive fallback) — never a
  crash.
"""

from __future__ import annotations

import datetime
import math
from decimal import Decimal

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from muninn_avro_to_parquet_spark import schema as S
from muninn_avro_to_parquet_spark.sources import avro_io

# --- strategies -------------------------------------------------------------

PRIMITIVES = ["null", "boolean", "int", "long", "float", "double", "bytes", "string"]

primitive_node = st.sampled_from(PRIMITIVES)

logical_node = st.sampled_from(
    [
        {"type": "long", "logicalType": "timestamp-millis"},
        {"type": "long", "logicalType": "timestamp-micros"},
        {"type": "int", "logicalType": "date"},
        {"type": "bytes", "logicalType": "decimal", "precision": 38, "scale": 30},
        {"type": "long", "logicalType": "time-millis"},
    ]
)


def _record_node(children):
    return st.builds(
        lambda fields: {
            "type": "record",
            "name": "r",
            "fields": [{"name": f"f{i}", "type": t} for i, t in enumerate(fields)],
        },
        st.lists(children, min_size=1, max_size=4),
    )


# the Avro spec forbids unions immediately inside unions, so build
# non-union shapes first and let unions only wrap those
non_union_type = st.recursive(
    primitive_node | logical_node,
    lambda children: st.one_of(
        st.builds(lambda t: {"type": "array", "items": t}, children),
        st.builds(lambda t: {"type": "map", "values": t}, children),
        _record_node(children),
    ),
    max_leaves=6,
)

avro_type = st.one_of(
    non_union_type,
    st.builds(lambda t: ["null", t], non_union_type),
    # duplicate members in a union are illegal too
    st.builds(lambda a, b: [a, b], primitive_node, primitive_node).filter(
        lambda u: u[0] != u[1]
    ),
)


def _value_for(node, draw):
    """A value valid for an Avro type node (None only where unions allow)."""
    if isinstance(node, list):
        member = node[0] if node[0] != "null" else (node[1] if len(node) > 1 else "null")
        if member == "null":
            return None
        return _value_for(member, draw)
    if isinstance(node, dict):
        t = node["type"]
        if t == "array":
            return [_value_for(node["items"], draw) for _ in range(draw(st.integers(0, 3)))]
        if t == "map":
            return {
                f"k{i}": _value_for(node["values"], draw)
                for i in range(draw(st.integers(0, 3)))
            }
        if t == "record":
            return {f["name"]: _value_for(f["type"], draw) for f in node["fields"]}
        node = t  # logical dict → base primitive
    return draw(
        {
            "null": st.none(),
            "boolean": st.booleans(),
            "int": st.integers(-(2**31), 2**31 - 1),
            "long": st.integers(-(2**63), 2**63 - 1),
            "float": st.floats(width=32, allow_nan=False, allow_infinity=False),
            "double": st.floats(allow_nan=False, allow_infinity=False),
            "bytes": st.binary(max_size=16),
            "string": st.text(max_size=16),
        }[node]
    )


# --- schema-mapper properties ----------------------------------------------


@given(avro_type)
@settings(max_examples=200, deadline=None)
def test_mapper_total_and_spark_valid(node):
    """map_avro_node is total: any generated node yields a Spark DataType
    and a bool, and the type serializes to valid JSON."""
    dt, nullable, src = S.map_avro_node(node)
    assert isinstance(dt, T.DataType)
    assert isinstance(nullable, bool)
    assert isinstance(src, str)
    T.StructType([T.StructField("x", dt, nullable)]).json()


@given(st.lists(primitive_node | logical_node, min_size=1, max_size=5))
@settings(max_examples=100, deadline=None)
def test_mapper_union_rules(members):
    """Union collapse invariants: non-null-first unions become string;
    null-first unions take exactly the second member; all unions nullable."""
    dt, nullable, _ = S.map_avro_node(members)
    assert nullable is True or members[0] not in ("null",)
    if members[0] != "null":
        assert dt == T.StringType()
    elif len(members) >= 2:
        expected, _, _ = S.map_avro_node(["null", members[1]])
        assert dt == expected


# --- codec round-trip properties -------------------------------------------


@st.composite
def schema_and_rows(draw):
    n_fields = draw(st.integers(1, 4))
    fields = [draw(avro_type) for _ in range(n_fields)]
    schema = {
        "type": "record",
        "name": "row",
        "fields": [{"name": f"c{i}", "type": t} for i, t in enumerate(fields)],
    }
    n_rows = draw(st.integers(0, 5))
    rows = [
        {f"c{i}": _value_for(t, draw) for i, t in enumerate(fields)}
        for _ in range(n_rows)
    ]
    return schema, rows


def _approx_eq(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-6) or (math.isnan(a) and math.isnan(b))
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_approx_eq(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_approx_eq(a[k], b[k]) for k in a)
    return a == b


@given(schema_and_rows())
@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.data_too_large])
def test_avro_codec_roundtrip(tmp_path_factory, sr):
    """write_file → read_file preserves every value (floats to fp32
    precision where the schema says float)."""
    schema, rows = sr
    path = str(tmp_path_factory.mktemp("avro") / "t.avro")
    avro_io.write_file(path, schema, rows)
    got_schema, got_rows = avro_io.read_file(path)
    assert got_schema == schema
    assert len(got_rows) == len(rows)
    for w, g in zip(rows, got_rows):
        for k, wv in w.items():
            gv = g[k]
            if isinstance(wv, float) and isinstance(gv, float) and not _approx_eq(wv, gv):
                # fp32 truncation for "float" fields
                assert math.isclose(wv, gv, rel_tol=1e-6, abs_tol=1e-30)
            else:
                assert _approx_eq(wv, gv), (k, wv, gv)


@given(schema_and_rows())
@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.data_too_large])
def test_avro_snappy_roundtrip(tmp_path_factory, sr):
    """Snappy-codec OCF files (Datastream's common shape) round-trip through
    the pure-Python codec: compress on write, decompress + CRC check on read."""
    schema, rows = sr
    path = str(tmp_path_factory.mktemp("avro") / "t.avro")
    avro_io.write_file(path, schema, rows, codec="snappy")
    got_schema, got_rows = avro_io.read_file(path)
    assert got_schema == schema
    assert len(got_rows) == len(rows)
    for w, g in zip(rows, got_rows):
        for k, wv in w.items():
            assert _approx_eq(wv, g[k]) or (
                isinstance(wv, float) and math.isclose(wv, g[k], rel_tol=1e-6, abs_tol=1e-30)
            ), (k, wv, g[k])


def test_snappy_decompress_back_references():
    """The Avro snappy block decoder must handle the full snappy format —
    including copy elements (1/2-byte offsets) and overlapping run-length
    copies — and reject corrupt blocks with ValueError."""
    import zlib

    def block(stream, payload):
        return stream + (zlib.crc32(payload) & 0xFFFFFFFF).to_bytes(4, "big")

    # literal "abcd", then copy1 len=4 offset=4 → "abcdabcd"
    stream = bytes([8]) + bytes([3 << 2]) + b"abcd" + bytes([(0 << 5) | (0 << 2) | 1, 4])
    assert avro_io._avro_snappy_decode(block(stream, b"abcdabcd")) == b"abcdabcd"
    # literal "ab", then overlapping copy2 len=6 offset=2 → "ab" * 4
    stream = bytes([8]) + bytes([1 << 2]) + b"ab" + bytes([(5 << 2) | 2, 2, 0])
    assert avro_io._avro_snappy_decode(block(stream, b"abababab")) == b"abababab"
    # corrupt CRC must be rejected
    good = avro_io._avro_snappy_encode(b"payload")
    bad = good[:-1] + bytes([good[-1] ^ 0xFF])
    with pytest.raises(ValueError, match="CRC"):
        avro_io._avro_snappy_decode(bad)
    # so must a copy reaching back before the output, and a bad preamble
    stream = bytes([8]) + bytes([3 << 2]) + b"abcd" + bytes([1, 9])
    with pytest.raises(ValueError):
        avro_io._avro_snappy_decode(block(stream, b"abcdabcd"))
    with pytest.raises(ValueError, match="preamble"):
        avro_io._avro_snappy_decode(bytes([0x80]) + bytes(4))


# --- end-to-end conversion robustness ---------------------------------------


@st.composite
def cdc_payload_schema_and_rows(draw):
    """A CDC-shaped Avro schema (envelope + random payload record) and
    matching rows. Besides the random columns, the payload always has one
    bytes decimal and one numeric decimal column: their plans (BYTES_DECIMAL,
    NUMERIC_DECIMAL) come only from a ``["null", {decimal}]`` union, which
    the random columns seldom draw."""
    n_fields = draw(st.integers(1, 3))
    field_types = [draw(avro_type) for _ in range(n_fields)] + [
        ["null", {"type": "bytes", "logicalType": "decimal", "precision": 38, "scale": 30}],
        [
            "null",
            {
                "type": draw(st.sampled_from(["int", "long", "float", "double"])),
                "logicalType": "decimal",
                "precision": 38,
                "scale": 9,
            },
        ],
    ]
    payload = {
        "type": "record",
        "name": "p",
        "fields": [{"name": f"c{i}", "type": t} for i, t in enumerate(field_types)],
    }
    schema = {
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
            {"name": "payload", "type": payload},
        ],
    }
    n_rows = draw(st.integers(1, 4))
    rows = [
        {
            "source_metadata": {
                "schema": "s",
                "table": "prop",
                "is_deleted": False,
                "change_type": "INSERT",
                "tx_id": i,
                "lsn": f"0/{i}",
                "primary_keys": ["c0"],
            },
            "payload": {f"c{j}": _value_for(t, draw) for j, t in enumerate(field_types)},
        }
        for i in range(n_rows)
    ]
    return schema, rows


@given(cdc_payload_schema_and_rows())
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.data_too_large])
def test_convert_never_crashes(spark, tmp_path_factory, sr):
    """Invariant (SURVEY §5.6): ANY valid CDC Avro input converts — typed
    or via the all-string fallback — with every row accounted for."""
    from muninn_avro_to_parquet_spark import convert

    schema, rows = sr
    base = tmp_path_factory.mktemp("prop")
    avro_dir = base / "avro" / "prop"
    avro_dir.mkdir(parents=True)
    avro_io.write_file(str(avro_dir / "f.avro"), schema, rows)
    res = convert.convert(
        spark, str(base / "avro" / "**" / "*.avro"), str(base / "out"),
        ingestion_date="2026-01-08",
    )
    assert res.tables == {"prop": len(rows)}
    back = spark.read.parquet(str(base / "out" / "prop"))
    assert back.count() == len(rows)


def test_large_header_schema(tmp_path_factory):
    """A writer schema bigger than the 64 KiB initial header read must
    parse (varints landing on the buffer boundary included)."""
    fields = [
        {"name": f"col_{i}", "type": "string", "doc": "d" * 64}
        for i in range(1200)
    ]
    schema = {"type": "record", "name": "wide", "fields": fields}
    import json

    assert len(json.dumps(schema)) > (1 << 16)
    path = str(tmp_path_factory.mktemp("hdr") / "wide.avro")
    rows = [{f["name"]: "" for f in fields}]
    avro_io.write_file(path, schema, rows)
    got = avro_io.read_schema(path)
    assert got == schema
    assert len(list(avro_io.iter_records(path))) == 1


def test_named_type_reuse_roundtrip(tmp_path_factory):
    """Valid Avro named-type reuse (bare and fullname refs) decodes even
    when the defining branch was never taken first."""
    schema = {
        "type": "record", "name": "rec", "namespace": "com.x", "fields": [
            {"name": "a", "type": ["null", {"type": "record", "name": "Addr",
                "fields": [{"name": "city", "type": "string"}]}]},
            {"name": "b", "type": ["null", "Addr"]},
            {"name": "c", "type": ["null", "com.x.Addr"]},
        ]}
    rows = [
        {"a": None, "b": {"city": "rio"}, "c": None},
        {"a": {"city": "sp"}, "b": None, "c": {"city": "bh"}},
    ]
    path = str(tmp_path_factory.mktemp("named") / "n.avro")
    avro_io.write_file(path, schema, rows)
    _, got = avro_io.read_file(path)
    assert got == rows


def test_split_ranges_partition_records(tmp_path_factory):
    """Disjoint byte splits must decode every record exactly once, for
    any split size — the contract behind huge-file fan-out."""
    schema = {"type": "record", "name": "r", "fields": [{"name": "x", "type": "long"}]}
    rows = [{"x": i} for i in range(10_000)]
    path = str(tmp_path_factory.mktemp("split") / "big.avro")
    avro_io.write_file(path, schema, rows, block_size=100)  # many sync points
    import os

    size = os.path.getsize(path)
    for n_splits in (1, 2, 3, 7, 16):
        step = -(-size // n_splits)
        got = []
        for i in range(n_splits):
            got.extend(
                r["x"]
                for r in avro_io.iter_records_range(
                    path, i * step, min((i + 1) * step, size)
                )
            )
        assert sorted(got) == list(range(10_000)), f"n_splits={n_splits}: {len(got)}"


def test_distributed_read_with_small_split_threshold(spark, tmp_path_factory, monkeypatch):
    """End-to-end conversion with a tiny split threshold: one file fans
    out over many splits and still yields every row once."""
    from muninn_avro_to_parquet_spark.sources import avro_source

    monkeypatch.setattr(avro_source, "SPLIT_BYTES", 2048)
    schema = {
        "type": "record", "name": "rec", "fields": [
            {"name": "source_metadata", "type": {"type": "record", "name": "sm", "fields": [
                {"name": "schema", "type": "string"}, {"name": "table", "type": "string"},
                {"name": "is_deleted", "type": "boolean"}, {"name": "change_type", "type": "string"},
                {"name": "tx_id", "type": ["null", "long"]}, {"name": "lsn", "type": "string"},
                {"name": "primary_keys", "type": {"type": "array", "items": "string"}}]}},
            {"name": "payload", "type": {"type": "record", "name": "p", "fields": [
                {"name": "id", "type": "long"}]}},
        ]}
    rows = [
        {"source_metadata": {"schema": "s", "table": "t", "is_deleted": False,
                             "change_type": "I", "tx_id": i, "lsn": "0/1",
                             "primary_keys": ["id"]},
         "payload": {"id": i}}
        for i in range(5000)
    ]
    path = str(tmp_path_factory.mktemp("bigavro") / "one.avro")
    avro_io.write_file(path, schema, rows, block_size=50)
    splits = avro_source.plan_splits([path], split_bytes=2048)
    assert len(splits) > 4  # the single file genuinely fans out
    df = avro_source.read_avro(spark, [path])
    ids = [r["id"] for r in df.select("id").collect()]
    assert sorted(ids) == list(range(5000))


def test_union_branch_index_out_of_range_raises():
    """A corrupt varint must not decode the wrong branch via Python
    negative indexing, nor leak a bare IndexError."""
    union = ["null", "long"]
    # zigzag(5)=10 → branch index 5 of a 2-branch union
    r = avro_io._Reader(bytes([10]))
    with pytest.raises(ValueError, match="union branch"):
        avro_io._decode(r, union, {})
    # zigzag(-1)=1 → would have silently decoded node[-1] before the fix
    r = avro_io._Reader(bytes([1, 0x02]))
    with pytest.raises(ValueError, match="union branch"):
        avro_io._decode(r, union, {})


def test_per_file_sync_markers_differ(tmp_path_factory):
    """Sync markers are derived per (schema, path) — two files must not
    share one predictable constant (payload-collision hazard on splits)."""
    schema = {"type": "record", "name": "r", "fields": [{"name": "x", "type": "long"}]}
    d = tmp_path_factory.mktemp("syncs")
    pa, pb = str(d / "a.avro"), str(d / "b.avro")
    avro_io.write_file(pa, schema, [{"x": 1}])
    avro_io.write_file(pb, schema, [{"x": 1}])
    syncs = []
    for p in (pa, pb):
        with open(p, "rb") as f:
            header = f.read(1 << 16)
            _, sync, _ = avro_io._parse_header(header, f)
        syncs.append(sync)
    assert syncs[0] != syncs[1]
    _, rows = avro_io.read_file(pa)
    assert [r["x"] for r in rows] == [1]


def test_split_boundary_inside_header_sync_window(tmp_path_factory):
    """A split starting inside the 16 bytes before data_start must NOT
    double-decode the first block."""
    schema = {"type": "record", "name": "r", "fields": [{"name": "x", "type": "long"}]}
    rows = [{"x": i} for i in range(50)]
    path = str(tmp_path_factory.mktemp("hdrsplit") / "t.avro")
    avro_io.write_file(path, schema, rows, block_size=10)
    import os

    size = os.path.getsize(path)
    with open(path, "rb") as f:
        header = f.read(1 << 16)
    _, _, data_start = avro_io._parse_header(header, open(path, "rb"))
    # boundary chosen INSIDE the synthetic header-sync window
    for boundary in range(max(1, data_start - 15), data_start + 1):
        got = [r["x"] for r in avro_io.iter_records_range(path, 0, boundary)]
        got += [r["x"] for r in avro_io.iter_records_range(path, boundary, size)]
        assert sorted(got) == list(range(50)), boundary


def test_compiled_decoder_matches_interpretive():
    """compile_source_decoder is the runtime decoder; _decode is the
    executable spec. Both must produce identical values over a schema
    exercising every branch: nested record, enum, fixed, map, array,
    multi-member union, ["null", T], and a RECURSIVE named type."""
    schema = {
        "type": "record",
        "name": "Node",
        "fields": [
            {"name": "val", "type": "int"},
            {"name": "tag", "type": {"type": "enum", "name": "Tag", "symbols": ["A", "B"]}},
            {"name": "fp", "type": {"type": "fixed", "name": "FP", "size": 4}},
            {"name": "m", "type": {"type": "map", "values": "long"}},
            {"name": "arr", "type": {"type": "array", "items": ["null", "string"]}},
            {"name": "u3", "type": ["boolean", "long", "string"]},
            {"name": "next", "type": ["null", "Node"]},
        ],
    }
    rec = {
        "val": 7,
        "tag": "B",
        "fp": b"\x01\x02\x03\x04",
        "m": {"x": 1, "y": -2},
        "arr": ["a", None, "b"],
        "u3": "deep",
        "next": {
            "val": -1,
            "tag": "A",
            "fp": b"\xff\xff\xff\xff",
            "m": {},
            "arr": [],
            "u3": True,
            "next": None,
        },
    }
    names = avro_io.collect_names(schema)
    buf = bytearray()
    avro_io._encode(buf, rec, schema, names)
    interp = avro_io._decode(avro_io._Reader(bytes(buf)), schema, dict(names))
    compiled = avro_io.compile_source_decoder(schema, names)(avro_io._Reader(bytes(buf)))
    assert interp == compiled == rec


def test_projected_decode_equals_filtered_full_decode():
    """Projected decode (compile_source_decoder's ``keep``): materialized
    fields match the full decoder exactly and skipped fields advance the
    reader correctly — for every codec and a nested envelope with
    strings/arrays/unions."""
    import tempfile

    from muninn_avro_to_parquet_spark.sources import avro_io
    from tests.conftest import CDC_SCHEMA

    recs = [
        {
            "uuid": f"u-{i:036d}",
            "read_timestamp": i * 1_000_003,
            "sort_keys": [f"k{j}" for j in range(i % 4)],
            "source_metadata": {
                "schema": "s",
                "table": "t",
                "is_deleted": i % 2 == 0,
                "change_type": "INSERT",
                "tx_id": i,
                "lsn": f"0/{i:x}",
                "primary_keys": ["id"],
            },
            "payload": {
                "id": i,
                "name": f"n{i}" * (i % 5),
                "age": i,
                "balance": (i * 10**29).to_bytes(16, "big", signed=True),
                "score": i * 0.5,
                "active": True,
                "created_at": i,
                "updated_at": i,
                "birth_date": i,
                "tags": [f"t{i}"],
                "attrs": {"a": str(i)},
            },
        }
        for i in range(50)
    ]
    for codec in ("null", "deflate", "snappy"):
        with tempfile.TemporaryDirectory() as d:
            path = f"{d}/f.avro"
            avro_io.write_file(path, CDC_SCHEMA, recs, codec=codec)
            full = [
                {k: r[k] for k in ("source_metadata", "payload")}
                for r in avro_io.iter_records(path)
            ]
            proj = list(
                avro_io.iter_records(path, project=("source_metadata", "payload"))
            )
            assert proj == full, codec


@given(schema_and_rows())
@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.data_too_large])
def test_source_codegen_decoder_matches_interpreter(sr):
    """The generated-source decoder (compile_source_decoder, the only
    runtime decoder) must agree with the executable spec ``_decode`` on
    every random schema, consuming exactly the same bytes — and must
    COMPILE for every schema the generator can draw."""
    schema, rows = sr
    names = avro_io.collect_names(schema)
    buf = bytearray()
    for r in rows:
        avro_io._encode(buf, r, schema, names)
    data = bytes(buf)
    src_dec = avro_io.compile_source_decoder(schema, names)  # must not raise
    ra, rb = avro_io._Reader(data), avro_io._Reader(data)
    for _ in rows:
        assert src_dec(ra) == avro_io._decode(rb, schema, dict(names))
        assert ra.pos == rb.pos  # consumed exactly the same bytes
    assert ra.at_end()


def test_source_codegen_recursive_and_projection():
    """Named-type recursion and top-level projection through the generated
    decoder: same values and reader advance as the spec ``_decode``."""
    schema = {
        "type": "record",
        "name": "Node",
        "fields": [
            {"name": "val", "type": "int"},
            {"name": "tag", "type": {"type": "enum", "name": "Tag", "symbols": ["A", "B"]}},
            {"name": "fp", "type": {"type": "fixed", "name": "FP", "size": 4}},
            {"name": "m", "type": {"type": "map", "values": "long"}},
            {"name": "arr", "type": {"type": "array", "items": ["null", "string"]}},
            {"name": "u3", "type": ["boolean", "long", "string"]},
            {"name": "next", "type": ["null", "Node"]},
        ],
    }
    rec = {
        "val": 7, "tag": "B", "fp": b"\x01\x02\x03\x04",
        "m": {"x": 1, "y": -2}, "arr": ["a", None, "b"], "u3": "deep",
        "next": {"val": -1, "tag": "A", "fp": b"\xff\xff\xff\xff",
                 "m": {}, "arr": [], "u3": True, "next": None},
    }
    names = avro_io.collect_names(schema)
    buf = bytearray()
    avro_io._encode(buf, rec, schema, names)
    data = bytes(buf)
    assert avro_io.compile_source_decoder(schema, names)(avro_io._Reader(data)) == rec
    # projection: keep val+next, skip enum/fixed/map/array/union
    keep = {"val", "next"}
    r_src, r_spec = avro_io._Reader(data), avro_io._Reader(data)
    src = avro_io.compile_source_decoder(schema, names, keep)(r_src)
    spec = avro_io._decode(r_spec, schema, dict(names))
    assert src == {k: spec[k] for k in keep} == {"val": 7, "next": rec["next"]}
    assert r_src.pos == r_spec.pos == len(data)


def test_source_codegen_rejects_bad_union_index():
    import pytest

    dec = avro_io.compile_source_decoder(["null", "long"], {})
    with pytest.raises(ValueError, match="invalid union branch index"):
        dec(avro_io._Reader(b"\x0a"))
    with pytest.raises(EOFError):
        dec(avro_io._Reader(b""))  # truncated varint -> EOFError, not IndexError


def _spec_rows(path, plans):
    """Executable spec of the fused decode path: ``_decode`` per record →
    ``coerce_source_metadata`` → ``_target_value`` per plan
    (``stringify_any`` for a STRINGIFY plan, as every column of an
    all-string read is), built into the typed Arrow schema the decode
    tasks emit. Returns the rows as a ``pyarrow.Table`` (compared in
    Arrow, so timestamps past Python's year 9999 compare too), or the
    exception type when the composition raises."""
    from muninn_avro_to_parquet_spark.functions import scalars
    from muninn_avro_to_parquet_spark.sources import avro_source

    try:
        meta, cols = [], [[] for _ in plans]
        with avro_io.SplitBlockReader(path, 0, None) as sbr:
            names = avro_io.collect_names(sbr.schema)
            for br, count in sbr.blocks():
                for _ in range(count):
                    rec = avro_io._decode(br, sbr.schema, names)
                    meta.append(scalars.coerce_source_metadata(rec.get("source_metadata")))
                    payload = rec.get("payload")
                    payload = payload if isinstance(payload, dict) else {}
                    for col, plan in zip(cols, plans):
                        v = payload.get(plan.name)
                        col.append(
                            scalars.stringify_any(v)
                            if plan.source == S.STRINGIFY
                            else avro_source._target_value(v, plan)
                        )
        aschema = avro_source._arrow_schema(plans)
        values = [meta, *cols, [path] * len(meta)]
        arrays = [pa.array(v, type=f.type) for v, f in zip(values, aschema)]
        return pa.Table.from_arrays(arrays, schema=aschema)
    except Exception as e:  # the fused path must raise the same way
        return type(e)


def _fused_rows(path, plans):
    """Rows from the fused decode (``_batches_for_splits``) over the whole
    file as a ``pyarrow.Table``, or the exception type when it raises."""
    import os

    from muninn_avro_to_parquet_spark.sources import avro_source

    split = [(path, 0, os.path.getsize(path))]
    try:
        batches = list(avro_source._batches_for_splits(split, plans))
        return pa.Table.from_batches(batches, schema=avro_source._arrow_schema(plans))
    except Exception as e:
        return type(e)


def _typed_and_all_string(plans):
    """The two reads the converter makes of one plan list: typed, and
    all-string (every plan stringified)."""
    return {"typed": plans, "all_string": [S.stringified(p) for p in plans]}


@given(cdc_payload_schema_and_rows(), cdc_payload_schema_and_rows())
@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.data_too_large])
def test_fused_transport_decoder_matches_interpreted(tmp_path_factory, sr, other):
    """The fused typed-decode codegen (compile_target_decoder) must
    produce the same rows as the spec composition (``_spec_rows``) for
    random CDC schemas, under BOTH typed and stringified (all-string)
    plans — the file's own plans, and under schema drift: the plans of another drawn
    schema (shared column names, different types, columns on one side
    only), where the fused path must also raise wherever the spec does.
    Under its own plans a file decodes, unless a timestamp-millis value's
    µs overflow int64: that raises OverflowError, as Spark's
    ``timestamp_millis`` raises on it."""
    schema, rows = sr
    path = str(tmp_path_factory.mktemp("fused") / "t.avro")
    avro_io.write_file(path, schema, rows)
    own = _typed_and_all_string(S.derive_field_plans(schema))
    drifted = _typed_and_all_string(S.derive_field_plans(other[0]))
    for mode in own:
        fused = _fused_rows(path, own[mode])
        assert isinstance(fused, pa.Table) or fused is OverflowError, fused
        assert fused == _spec_rows(path, own[mode]), mode
        assert _fused_rows(path, drifted[mode]) == _spec_rows(
            path, drifted[mode]
        ), mode


_SM_RECORD = {
    "type": "record",
    "name": "sm",
    "fields": [
        {"name": "schema", "type": "string"},
        {"name": "table", "type": "string"},
        {"name": "is_deleted", "type": "string"},
        {"name": "change_type", "type": "string"},
        {"name": "tx_id", "type": ["null", "string"]},
        {"name": "lsn", "type": "long"},
        {"name": "primary_keys", "type": "string"},
    ],
}


def _odd_shape_file(tmp_path_factory, id_type="long", id_value=1):
    """A file whose payload is a 3-branch union with a string branch and
    whose source_metadata is ``["null", "string", record]``; the payload
    record's ``ts`` is a plain string and it carries a field no reader
    plan names."""
    payload = {
        "type": "record",
        "name": "p",
        "fields": [
            {"name": "id", "type": id_type},
            {"name": "ts", "type": "string"},
            {"name": "dropped", "type": {"type": "array", "items": "string"}},
            {
                "name": "nested",
                "type": {
                    "type": "record",
                    "name": "n",
                    "fields": [
                        {"name": "at", "type": {"type": "long", "logicalType": "timestamp-micros"}},
                        {"name": "amt", "type": ["null", "double"]},
                    ],
                },
            },
        ],
    }
    schema = {
        "type": "record",
        "name": "rec",
        "fields": [
            {"name": "uuid", "type": "string"},
            {"name": "source_metadata", "type": ["null", "string", _SM_RECORD]},
            {"name": "payload", "type": ["null", "string", payload]},
        ],
    }
    sm = {"schema": "s", "table": "t", "is_deleted": "yes", "change_type": "I",
          "tx_id": "+7", "lsn": 12, "primary_keys": "id"}
    body = {"id": id_value, "ts": "1700000000000", "dropped": ["x"],
            "nested": {"at": 5, "amt": 2.5}}
    rows = [
        {"uuid": "a", "source_metadata": sm, "payload": body},
        {"uuid": "b", "source_metadata": None, "payload": None},
        {"uuid": "c", "source_metadata": "not a record", "payload": "not a record"},
        {"uuid": "d", "source_metadata": sm, "payload": dict(body, ts="junk")},
    ]
    path = str(tmp_path_factory.mktemp("odd") / "t.avro")
    avro_io.write_file(path, schema, rows)
    return path


# the reader's version of the odd-shape payload: ts and nested.at are
# timestamps (retyped against the writer), nested.amt a decimal, and
# ``extra`` a column the writer lacks
_READER_PAYLOAD = {
    "type": "record",
    "name": "p",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-millis"}},
        {
            "name": "nested",
            "type": {
                "type": "record",
                "name": "n",
                "fields": [
                    {"name": "at", "type": {"type": "long", "logicalType": "timestamp-millis"}},
                    {"name": "amt", "type": ["null", {"type": "double", "logicalType": "decimal"}]},
                ],
            },
        },
        {"name": "extra", "type": ["null", "double"]},
    ],
}


def test_fused_transport_decoder_odd_shapes(tmp_path_factory):
    """Fixed odd shapes the fused decoder once declined: a 3-branch
    payload union with a string branch, a ``["null", "string", record]``
    source_metadata, a retyped timestamp, a writer field without a plan
    and a plan the writer lacks — equal to the spec composition in both
    modes, with the coercions visible in the typed rows: a millis long
    becomes a UTC timestamp, a double under a decimal plan a
    DECIMAL(38,9). A retyped RAW
    column whose values the planned Arrow type cannot hold (a string id
    under a long plan) fails the typed batch on both paths."""
    path = _odd_shape_file(tmp_path_factory)
    plans = S.derive_field_plans(
        {"type": "record", "name": "rec",
         "fields": [{"name": "payload", "type": ["null", _READER_PAYLOAD]}]}
    )
    assert [p.name for p in plans] == ["id", "ts", "nested", "extra"]
    modes = _typed_and_all_string(plans)
    for mode, mode_plans in modes.items():
        fused = _fused_rows(path, mode_plans)
        assert isinstance(fused, pa.Table), fused
        assert fused == _spec_rows(path, mode_plans), mode
    typed = _fused_rows(path, plans).to_pylist()
    utc = datetime.timezone.utc
    assert [r["ts"] for r in typed] == [
        datetime.datetime(2023, 11, 14, 22, 13, 20, tzinfo=utc), None, None, None,
    ]
    assert typed[0]["nested"] == {
        "at": datetime.datetime(1970, 1, 1, 0, 0, 0, 5000, tzinfo=utc),
        "amt": Decimal("2.500000000"),
    }
    assert {r["extra"] for r in typed} == {None}
    assert typed[2]["id"] is None  # the string payload branch fills nothing
    assert typed[0]["source_metadata"] == {
        "schema": "s", "table": "t", "is_deleted": True, "change_type": "I",
        "tx_id": 7, "lsn": "12", "primary_keys": ["id"],
    }
    assert set(typed[2]["source_metadata"].values()) == {None}

    bad = _odd_shape_file(tmp_path_factory, id_type="string", id_value="abc")
    spec = _spec_rows(bad, plans)
    assert isinstance(spec, type) and issubclass(spec, Exception)
    assert _fused_rows(bad, plans) == spec
    all_string = modes["all_string"]
    assert _fused_rows(bad, all_string) == _spec_rows(bad, all_string)


def _deep_node(depth):
    """``depth`` nested map/array levels, each inside a ["null", ...] union."""
    node = ["null", "long"]
    for d in range(depth):
        inner = {"type": "array", "items": node} if d % 2 else {"type": "map", "values": node}
        node = ["null", inner]
    return node


def _deep_value(node, i):
    if node == ["null", "long"]:
        return i
    inner = node[1]
    if inner["type"] == "array":
        return [_deep_value(inner["items"], i), None]
    return {"k": _deep_value(inner["values"], i + 1), "z": None}


def test_deep_nesting_decoders_match_spec(tmp_path_factory):
    """Values nesting 14 array/map levels inside unions (deeper than one
    generated function can hold: CPython caps static block nesting at 20)
    decode through every generated path exactly as ``_decode`` does:
    full and projected ``compile_source_decoder``, ``iter_records`` and
    the fused ``_batches_for_splits`` (typed and stringified plans)."""
    deep = _deep_node(14)
    payload = {
        "type": "record",
        "name": "p",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "deep", "type": deep},
            {"name": "unplanned", "type": deep},
        ],
    }
    schema = {
        "type": "record",
        "name": "rec",
        "fields": [
            {"name": "sort_keys", "type": deep},
            {"name": "source_metadata", "type": ["null", _SM_RECORD]},
            {"name": "payload", "type": ["null", payload]},
        ],
    }
    rows = [
        {"sort_keys": _deep_value(deep, i), "source_metadata": None,
         "payload": {"id": i, "deep": None if i == 2 else _deep_value(deep, -i),
                     "unplanned": _deep_value(deep, i)}}
        for i in range(4)
    ]
    names = avro_io.collect_names(schema)
    buf = bytearray()
    for r in rows:
        avro_io._encode(buf, r, schema, names)
    data = bytes(buf)
    full = avro_io.compile_source_decoder(schema, names)
    keep = {"source_metadata", "payload"}
    proj = avro_io.compile_source_decoder(schema, names, keep)
    r_full, r_proj, r_spec = (avro_io._Reader(data) for _ in range(3))
    for row in rows:
        spec = avro_io._decode(r_spec, schema, dict(names))
        assert full(r_full) == spec == row
        assert proj(r_proj) == {k: spec[k] for k in keep}
    assert r_full.pos == r_proj.pos == r_spec.pos == len(data)

    path = str(tmp_path_factory.mktemp("deep") / "t.avro")
    avro_io.write_file(path, schema, rows)
    assert list(avro_io.iter_records(path)) == rows
    assert list(avro_io.iter_records(path, project=("payload",))) == [
        {"payload": r["payload"]} for r in rows
    ]
    plans = [
        p for p in S.derive_field_plans(schema) if p.name != "unplanned"
    ]
    for mode, mode_plans in _typed_and_all_string(plans).items():
        fused = _fused_rows(path, mode_plans)
        assert isinstance(fused, pa.Table), fused
        assert fused == _spec_rows(path, mode_plans), mode


@pytest.mark.parametrize("codec", ["bzip2", "xz"])
def test_avro_stdlib_codec_roundtrip(tmp_path_factory, codec):
    """The Avro spec's optional bzip2/xz block codecs round-trip through
    the stdlib-backed registry (and the codec name survives in the
    header so any spec-compliant reader accepts the file)."""
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "s", "type": ["null", "string"]},
        ],
    }
    rows = [{"id": i, "s": None if i % 3 == 0 else f"v{i}" * 20} for i in range(500)]
    path = str(tmp_path_factory.mktemp("avro") / f"t_{codec}.avro")
    avro_io.write_file(path, schema, rows, codec=codec, block_size=128)
    got_schema, got_rows = avro_io.read_file(path)
    assert got_schema == schema
    assert got_rows == rows
    # compression actually happened (repetitive payload must shrink)
    import os as _os

    raw = sum(len((r["s"] or "")) + 8 for r in rows)
    assert _os.path.getsize(path) < raw


def test_avro_unknown_codec_rejected(tmp_path_factory):
    with pytest.raises(ValueError, match="unsupported Avro codec"):
        avro_io.write_file(
            str(tmp_path_factory.mktemp("avro") / "x.avro"),
            {"type": "record", "name": "r", "fields": [{"name": "id", "type": "long"}]},
            [{"id": 1}],
            codec="lz4",
        )


@st.composite
def spark_schema_and_rows(draw):
    """Random Spark schemas + matching rows for the Avro sink round-trip."""
    import datetime
    import decimal

    from pyspark.sql import types as T

    scalar_pool = [
        (T.LongType(), st.integers(-(2**53), 2**53)),
        (T.IntegerType(), st.integers(-(2**31), 2**31 - 1)),
        (T.DoubleType(), st.floats(allow_nan=False, allow_infinity=False, width=64)),
        (T.BooleanType(), st.booleans()),
        (T.StringType(), st.text(max_size=20)),
        (T.BinaryType(), st.binary(max_size=16)),
        (
            T.TimestampType(),
            st.datetimes(
                min_value=datetime.datetime(1970, 1, 2),
                max_value=datetime.datetime(2100, 1, 1),
            ),
        ),
        (
            T.DateType(),
            st.dates(datetime.date(1970, 1, 1), datetime.date(2100, 1, 1)),
        ),
        (
            T.DecimalType(12, 3),
            st.integers(-(10**9), 10**9).map(
                lambda n: decimal.Decimal(n).scaleb(-3)
            ),
        ),
        (
            # up to 38 digits: past the default 28-digit decimal context
            T.DecimalType(38, 10),
            st.integers(-(10**38) + 1, 10**38 - 1).map(
                lambda n: decimal.Decimal(f"{n}E-10")
            ),
        ),
    ]
    n_cols = draw(st.integers(1, 5))
    picks = [draw(st.sampled_from(scalar_pool)) for _ in range(n_cols)]
    fields = [
        T.StructField(f"c{i}", dt, True) for i, (dt, _) in enumerate(picks)
    ]
    n_rows = draw(st.integers(1, 8))
    rows = [
        tuple(
            None if draw(st.booleans()) and draw(st.booleans()) else draw(strat)
            for _, strat in picks
        )
        for _ in range(n_rows)
    ]
    return T.StructType(fields), rows


@given(spark_schema_and_rows())
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.data_too_large])
def test_avro_sink_generic_roundtrip_property(spark, tmp_path_factory, sr):
    """Invariant: ANY scalar-typed DataFrame survives
    write_avro → read_avro_generic with identical values (nulls included)."""
    from muninn_avro_to_parquet_spark.sources import avro_sink, avro_source

    schema, rows = sr
    df = spark.createDataFrame(rows, schema)
    out = str(tmp_path_factory.mktemp("sinkprop") / "out")
    manifest = avro_sink.write_avro(df, out, codec="deflate")
    assert sum(n for _, n in manifest) == len(rows)
    back = avro_source.read_avro_generic(spark, [p for p, _ in manifest])
    got = sorted(
        (tuple(r[f.name] for f in schema.fields) for r in back.collect()),
        key=repr,
    )
    want = sorted(rows, key=repr)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        for gv, wv in zip(g, w):
            if isinstance(wv, float) and wv is not None and gv is not None:
                assert gv == wv or math.isclose(gv, wv, rel_tol=1e-12), (gv, wv)
            else:
                assert gv == wv, (gv, wv)


@st.composite
def generic_schema_and_rows(draw):
    """``schema_and_rows`` plus a nullable declared ``decimal(38, s)``
    column of up to 38 digits (more than the default 28-digit context)."""
    schema, rows = draw(schema_and_rows())
    scale = draw(st.integers(0, 38))
    dec = {"type": "bytes", "logicalType": "decimal", "precision": 38, "scale": scale}
    schema["fields"].append({"name": "dec", "type": ["null", dec]})
    unscaled = st.integers(-(10**38) + 1, 10**38 - 1)
    for row in rows:
        n = draw(st.none() | unscaled)
        row["dec"] = None if n is None else n.to_bytes(17, "big", signed=True)
    return schema, rows


@given(generic_schema_and_rows())
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.data_too_large])
def test_generic_read_engines_agree(spark, tmp_path_factory, sr):
    """``read_avro_generic`` returns the same rows under ``engine="jvm"``
    and ``engine="python"``, or both raise (a value its type cannot
    hold). A schema the JVM scan does not align raises
    ``JVM_UNAVAILABLE`` under ``jvm`` and leaves nothing to compare, so
    the declared decimal column is also read from a file of its own,
    which the JVM always aligns."""
    from muninn_avro_to_parquet_spark.sources import avro_source

    schema, rows = sr
    tmp = tmp_path_factory.mktemp("generic")
    probe = str(tmp / "probe.avro")
    avro_io.write_file(probe, {"type": "record", "name": "p", "fields": []}, [{}])
    if avro_source.try_native_avro(spark, probe) is None:
        pytest.skip("muninn-spark-avro.jar not loaded in this session")
    dec_schema = {"type": "record", "name": "d", "fields": schema["fields"][-1:]}
    dec_rows = [{"dec": r["dec"]} for r in rows]

    def outcome(path, engine):
        try:
            df = avro_source.read_avro_generic(spark, [path], engine=engine)
            return "rows", sorted(map(repr, df.collect()))
        except Exception as e:  # noqa: BLE001 - the outcome under test
            if avro_source.JVM_UNAVAILABLE in str(e):
                return "unaligned", None
            return "raised", None

    for name, sch, rws in (("g", schema, rows), ("dec", dec_schema, dec_rows)):
        path = str(tmp / f"{name}.avro")
        avro_io.write_file(path, sch, rws)
        jvm = outcome(path, "jvm")
        assert name == "g" or jvm[0] != "unaligned"
        if jvm[0] != "unaligned":
            assert jvm == outcome(path, "python"), name


# ---------------------------------------------------------------------------
# image resize kernel (operators/multimodal.py) — pure-function properties
# ---------------------------------------------------------------------------


_pixel = st.tuples(
    st.integers(0, 255), st.integers(0, 255), st.integers(0, 255)
)


@given(
    w=st.integers(1, 12),
    h=st.integers(1, 12),
    box=st.tuples(st.integers(1, 8), st.integers(1, 8)),
    data=st.data(),
)
@settings(max_examples=150, deadline=None)
def test_resize_kernel_properties(w, h, box, data):
    """For any image and any fit box: output dims respect the box and
    never upscale, every output pixel is an exact source pixel (nearest
    neighbor never invents colors), and the canonical P6 re-encoding
    round-trips through the independent PPM decoder."""
    from muninn_avro_to_parquet_spark.operators.multimodal import (
        _decode_ppm_pixels,
        _encode_ppm,
        _resize_nn,
        fit_within,
    )

    pixels = data.draw(
        st.lists(_pixel, min_size=w * h, max_size=w * h), label="pixels"
    )
    max_w, max_h = box
    ow, oh = fit_within(w, h, max_w, max_h)
    assert ow >= 1 and oh >= 1  # dims bounded below by 1
    assert ow <= max(max_w, w) and oh <= max(max_h, h)
    if w <= max_w and h <= max_h:
        assert (ow, oh) == (w, h)  # no upscale
    else:
        assert ow <= max_w and oh <= max_h
    out = _resize_nn(w, h, pixels, ow, oh)
    assert len(out) == ow * oh
    src = set(pixels)
    assert all(px in src for px in out)
    # corners map to corners under floor mapping: top-left always survives
    assert out[0] == pixels[0]
    rt_w, rt_h, rt_px = _decode_ppm_pixels(_encode_ppm(ow, oh, out))
    assert (rt_w, rt_h, rt_px) == (ow, oh, out)
