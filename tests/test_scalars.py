"""Value-coercion parity tests (SURVEY §1.4) for the scalar helpers."""

from __future__ import annotations

from decimal import Decimal

import pytest

from muninn_avro_to_parquet_spark.functions import scalars


@pytest.mark.parametrize(
    "value,expected",
    [
        ("true", True), ("T", True), ("1", True), ("YES", True), ("y", True),
        ("false", False), ("F", False), ("0", False), ("no", False), ("N", False),
        ("2", True),  # bool(int("2")) branch
        ("-3", True),
        ("garbage", None),
        ("", None),
        (None, None),
        (True, True), (False, False),
        (1, True), (0, False), (0.0, False), (2.5, True),
    ],
)
def test_to_bool(value, expected):
    assert scalars.to_bool(value) is expected


@pytest.mark.parametrize(
    "value,expected",
    [
        ("+42", 42), ("42", 42), ("-7", -7), (3.9, 3), (-3.9, -3),
        (True, 1), (False, 0), ("abc", None), (None, None), ("3.7", 3),
    ],
)
def test_to_int(value, expected):
    assert scalars.to_int(value) == expected


def test_to_list_of_str():
    assert scalars.to_list_of_str(None) is None
    assert scalars.to_list_of_str("x") == ["x"]
    assert scalars.to_list_of_str([1, None, "a"]) == ["1", None, "a"]


def test_stringify_sorted_compact_json():
    assert scalars.stringify_any({"z": 1, "a": [2, {"c": None}]}) == '{"a":[2,{"c":null}],"z":1}'
    assert scalars.stringify_any([1, 2]) == "[1,2]"
    assert scalars.stringify_any("héllo") == "héllo"
    assert scalars.stringify_any(5) == "5"
    assert scalars.stringify_any(None) is None
    assert scalars.stringify_any(b"\xff") == "b'\\xff'"  # str() on bytes, reference parity


class TestBytesDecimal:
    def test_positive_scale30(self):
        raw = (123456789 * 10**22).to_bytes(16, "big", signed=True)
        assert scalars.bytes_to_decimal(raw) == Decimal("1.234567890")

    def test_negative_twos_complement(self):
        raw = (-5 * 10**30).to_bytes(16, "big", signed=True)
        assert scalars.bytes_to_decimal(raw) == Decimal("-5.000000000")

    def test_bankers_rounding(self):
        # x.xxxxxxxxx5 exactly at the boundary → HALF_EVEN
        raw = (15 * 10**20).to_bytes(16, "big", signed=True)  # 0.0000000015
        assert scalars.bytes_to_decimal(raw) == Decimal("0.000000002")
        raw = (25 * 10**20).to_bytes(16, "big", signed=True)  # 0.0000000025
        assert scalars.bytes_to_decimal(raw) == Decimal("0.000000002")

    def test_numeric_passthrough(self):
        assert scalars.bytes_to_decimal(3) == Decimal("3.000000000")
        assert scalars.bytes_to_decimal(2.5) == Decimal("2.500000000")

    def test_error_silent_zero(self):
        assert scalars.bytes_to_decimal("not a number") == Decimal("0.000000000")
        assert scalars.bytes_to_decimal("nan", strict=True) is None

    def test_none(self):
        assert scalars.bytes_to_decimal(None) is None


def test_bytes_to_float():
    raw = (25 * 10**29).to_bytes(16, "big", signed=True)
    assert scalars.bytes_to_float(raw) == 2.5
    assert scalars.bytes_to_float("7.5") == 7.5
    assert scalars.bytes_to_float("x") is None
    assert scalars.bytes_to_float(None) is None


@pytest.mark.parametrize("text,secs", [("30m", 1800), ("1h", 3600), ("2d", 172800), ("45s", 45)])
def test_duration(text, secs):
    assert scalars.parse_duration_to_seconds(text) == secs


def test_duration_invalid():
    with pytest.raises(ValueError):
        scalars.parse_duration_to_seconds("1x")


def test_coerce_source_metadata():
    out = scalars.coerce_source_metadata(
        {"schema": 1, "table": "t", "is_deleted": "yes", "change_type": None,
         "tx_id": "+7", "lsn": 9, "primary_keys": "pk"}
    )
    assert out == {
        "schema": "1", "table": "t", "is_deleted": True, "change_type": None,
        "tx_id": 7, "lsn": "9", "primary_keys": ["pk"],
    }
    assert scalars.coerce_source_metadata(None)["table"] is None


def _unscaled_bytes_route(value):
    """Spec of the earlier Python-codec route for a bytes-decimal column:
    a numeric value was re-encoded as unscaled big-endian bytes at the
    assumed scale, then decoded by ``bytes_to_decimal``."""
    if value is None:
        return None
    if not isinstance(value, (bytes, bytearray)):
        d = scalars.numeric_to_decimal(value)
        unscaled = int(d.scaleb(scalars.ASSUMED_BYTES_SCALE))
        nbytes = max(1, (unscaled.bit_length() + 8) // 8)
        value = unscaled.to_bytes(nbytes, byteorder="big", signed=True)
    return scalars.bytes_to_decimal(bytes(value))


def _drawn_decimal_inputs(n: int) -> list:
    """``n`` values of every kind a decimal column meets: ints (huge ones
    too), floats (±0.0, NaN, ±inf, subnormals), Decimals past 28 digits,
    numeric and junk strings, bools, and bytes of length 0-40."""
    import math
    import random
    import sys

    rng = random.Random(20261018)
    fixed = [
        None, 0, -0.0, 0.0, math.nan, math.inf, -math.inf, 5e-324, -5e-324,
        sys.float_info.min / 3, sys.float_info.max, True, False, b"", b"\x00",
        b"\xff", Decimal("1" * 40), Decimal("-" + "9" * 29 + ".5"),
        Decimal("0.0000000005"), Decimal("0.0000000015"), Decimal("NaN"),
        Decimal("-Infinity"), "1e30", "-0", " 12.5 ", "abc", "", 10**28, -(10**38),
    ]

    def draw():
        kind = rng.randrange(7)
        if kind == 0:
            return rng.randint(-(10**40), 10**40) // 10 ** rng.randrange(40)
        if kind == 1:
            return rng.choice([1.0, -1.0]) * rng.random() * 10.0 ** rng.randint(-320, 308)
        if kind == 2:
            digits = "".join(rng.choice("0123456789") for _ in range(rng.randint(1, 45)))
            return Decimal(f"{rng.choice('+-')}{digits}E-{rng.randint(0, 40)}")  # exact
        if kind == 3:
            return str(rng.uniform(-1e12, 1e12))
        if kind == 4:
            return rng.choice([True, False])
        if kind == 5:
            return rng.randbytes(rng.randint(0, 40))
        return str(rng.randint(-(10**30), 10**30))

    return fixed + [draw() for _ in range(n - len(fixed))]


def test_decimal_target_values_match_the_unscaled_bytes_route():
    """The Python codec emits a decimal column's target value directly:
    ``bytes_to_decimal(v)`` for a bytes decimal, ``numeric_to_decimal(v)``
    for a numeric one. On 2,000 drawn values of every kind they must equal,
    as DECIMAL(38,9) Arrow values and as Python values, the route they
    replace: the numeric → unscaled-bytes encode then ``bytes_to_decimal``,
    and ``numeric_to_decimal(str(v))``."""
    import pyarrow as pa

    from muninn_avro_to_parquet_spark import schema as S
    from muninn_avro_to_parquet_spark.sources import avro_source

    values = _drawn_decimal_inputs(2000)
    dec = pa.decimal128(38, 9)
    for source, spec in (
        (S.BYTES_DECIMAL, _unscaled_bytes_route),
        (S.NUMERIC_DECIMAL, lambda v: None if v is None else scalars.numeric_to_decimal(str(v))),
    ):
        plan = S.FieldPlan("c", S.DECIMAL_38_9, True, source)
        got = [avro_source._target_value(v, plan) for v in values]
        want = [spec(v) for v in values]
        assert got == want, source
        assert pa.array(got, type=dec).equals(pa.array(want, type=dec)), source


def test_bytes_decimal_java_udf_matches_python_reference(spark):
    """The jar's ``muninnavro.CdcBytesDecimal`` (the JVM scan path's
    bytes-decimal coercion) must reproduce scalars.bytes_to_decimal
    EXACTLY: nulls, empty bytes, both signs, HALF_EVEN ties, lengths
    0-40, non-minimal sign-fill padding, the 16-byte two's-complement
    extremes, the 28-digit double rounding (``scaleb`` rounds an unscaled
    int of 29+ digits before ``quantize`` rounds again) and the silent
    zero for values of 10^19 or more.

    The jar is committed, so when it exists this test asserts the class
    loads instead of skipping: a jar that fails to load must not remove
    the Java port from the suite quietly."""
    import os
    import random

    from pyspark.sql import functions as F

    from muninn_avro_to_parquet_spark import session
    from muninn_avro_to_parquet_spark.functions import scalars
    from muninn_avro_to_parquet_spark.sources import avro_source

    if not os.path.exists(session.JVM_AVRO_JAR):
        pytest.skip("engine jar not built")
    avro_source.register_jvm_functions(spark)

    def be(n: int, width: int) -> bytes:
        return n.to_bytes(width, "big", signed=True)

    rng = random.Random(7)
    vals = [b"", b"\x00", b"\xff", be(10**29, 16)]
    for n in range(1, 41):
        for _ in range(30):
            vals.append(bytes(rng.randrange(256) for _ in range(n)))
    for q in (2, 3, 7, 8):  # x.5 ties at the 9th place, both signs
        vals.append(be(q * 10**21 + 5 * 10**20, 12))
        vals.append(be(-(q * 10**21 + 5 * 10**20), 12))
    # double rounding: 29+ digits round to 28 (up, to ...5000) in scaleb,
    # then the new tie rounds to even — exact division would round down
    for q in (10**7 + 1, 12345677, 99999999, 10**17 + 3, 10**18 - 1):
        u = q * 10**21 + 5 * 10**20 - 1
        vals.append(be(u, 21))
        vals.append(be(-u, 21))
    vals += [
        be((10**28 - 1) * 10**21 + 5 * 10**20, 21),
        be(10**28 * 10**21, 21),  # value 10^19: coefficient gate -> 0
        be(10**19 * 10**21, 21),
        be(10**19 * 10**30, 21),  # value 10^19 -> 0
        be(10**49 - 1, 21),  # rounds up into the gate in scaleb -> 0
        be(-(10**49 - 1), 21),
        be(10**49 - 10**21, 21),  # the largest value that survives
        be(2**127 - 1, 16),
        be(-(2**127), 16),
        b"\x00" * 10 + be(25 * 10**28, 13),
        None,
    ]
    for u in (1, 123456789 * 10**21, 10**48, 2**255):  # 40-byte sign fill
        vals.append(be(u, 40))
        vals.append(be(-u, 40))
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i long, b binary"
    )
    got = {
        r["i"]: r["d"]
        for r in df.select(
            "i",
            F.call_function(avro_source.JVM_BYTES_DECIMAL_FN, F.col("b")).alias("d"),
        ).collect()
    }
    assert len(got) == len(vals)
    for i, v in enumerate(vals):
        want = scalars.bytes_to_decimal(v)
        assert got[i] == want, (
            i,
            v.hex() if v else v,
            got[i],
            want,
        )