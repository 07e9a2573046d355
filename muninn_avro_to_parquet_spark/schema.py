"""Avro writer-schema → Spark ``StructType`` derivation.

Re-implements, on Spark's type system, the exact (and deliberately quirky)
mapping the reference pipeline applies (reference parity cites into
/root/reference/main.py):

- primitive map incl. the non-standard bare ``"decimal"`` → DOUBLE quirk
  (main.py:344) and unknown-name → STRING fallback (main.py:348)
- union rules (main.py:310-334): a union whose FIRST member is not "null"
  collapses to STRING; ``["null", X, ...]`` consults only the SECOND member;
  ``["null", <dict>]`` goes through the logicalType-aware path
- logicalType asymmetry: timestamp-millis/micros honored both directly and
  in unions (main.py:281-284, 357-360); ``date`` and ``decimal`` honored
  ONLY inside ``["null", ·]`` unions (main.py:287-293 vs 356-369) — a direct
  ``{"type":"int","logicalType":"date"}`` stays INT
- decimal inside a union is FORCED to DECIMAL(38, 9) regardless of declared
  precision/scale (BigQuery NUMERIC shape, main.py:290-293)
- ``derive_flat_schema`` (main.py:55-108): output = fixed ``source_metadata``
  struct + every ``payload.*`` field promoted to top level; all other
  top-level CDC fields (uuid, read_timestamp, sort_keys, ...) dropped.
  ``flat_schema`` builds it from a plan list; the Python codec's Arrow
  batches and the Kafka decode carry exactly that schema, so neither
  needs a cast after the decode.
- ``record_field_plans``: the plans of a bare, non-CDC record's
  top-level fields (``avro_source.read_avro_generic``), where a declared
  bytes/fixed decimal keeps its declared type.

Pure Python, no SparkSession required — runs on the driver once per
table/file and is therefore free at any data scale.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import types as T

# What kind of source encoding feeds a field — both decoders key off this.
RAW = "raw"  # value already has the target type
TS_MILLIS = "ts_millis"  # long epoch millis → TimestampType
TS_MICROS = "ts_micros"  # long epoch micros → TimestampType
EPOCH_DAYS = "epoch_days"  # int days since epoch → DateType
BYTES_DECIMAL = "bytes_decimal"  # big-endian unscaled int, assumed scale 30 → DECIMAL(38,9)
NUMERIC_DECIMAL = "num_decimal"  # int/float/decimal → DECIMAL(38,9)
STRINGIFY = "stringify"  # any value → compact sorted-key JSON / str()
STRUCT_CAST = "struct_cast"  # record with members needing per-leaf coercion
# bytes/fixed unscaled int at its DECLARED scale → DecimalType(p, s); only
# ``record_field_plans`` (non-CDC files) produces it, never a CDC plan
DECLARED_DECIMAL = "declared_decimal"


@dataclass(frozen=True)
class FieldPlan:
    """One payload column: its Spark type plus how to coerce raw Avro values.

    ``children`` is populated only for ``STRUCT_CAST`` sources — the
    per-member plans the decoders apply inside the struct."""

    name: str
    dtype: T.DataType
    nullable: bool
    source: str  # one of the markers above
    children: tuple["FieldPlan", ...] = ()


_PRIMITIVE_SPARK: dict[str, T.DataType] = {
    "string": T.StringType(),
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "bytes": T.BinaryType(),
    # non-standard primitive name seen in the wild; reference maps it to
    # float64 (main.py:344) — preserved verbatim
    "decimal": T.DoubleType(),
}

DECIMAL_38_9 = T.DecimalType(38, 9)

# Fixed CDC envelope struct (main.py:66-74).
SOURCE_METADATA_TYPE = T.StructType(
    [
        T.StructField("schema", T.StringType(), True),
        T.StructField("table", T.StringType(), True),
        T.StructField("is_deleted", T.BooleanType(), True),
        T.StructField("change_type", T.StringType(), True),
        T.StructField("tx_id", T.LongType(), True),
        T.StructField("lsn", T.StringType(), True),
        T.StructField("primary_keys", T.ArrayType(T.StringType(), True), True),
    ]
)


def _primitive(name: str) -> tuple[T.DataType, bool]:
    """Primitive-name lookup. "null" and unknown names degrade to a nullable
    string (main.py:262-273, 347-348)."""
    if name == "null":
        return T.StringType(), True
    if name in _PRIMITIVE_SPARK:
        # plain primitives are non-nullable in the reference (main.py:339-346)
        return _PRIMITIVE_SPARK[name], False
    return T.StringType(), True


def _logical_dict(node: dict) -> tuple[T.DataType, bool, str]:
    """The logicalType-aware path used for the second member of a
    ``["null", <dict>]`` union (main.py:275-296). Returns (type, nullable,
    source-kind)."""
    logical = node.get("logicalType")
    base_t = node.get("type")
    # base-type restrictions mirror the reference exactly (main.py:280-288):
    # timestamps need long/int bases, date needs int; a string-base
    # "timestamp-millis" falls through to plain string, values preserved
    if logical == "timestamp-millis" and base_t in ("long", "int"):
        return T.TimestampType(), True, TS_MILLIS
    if logical == "timestamp-micros" and base_t in ("long", "int"):
        return T.TimestampType(), True, TS_MICROS
    if logical == "date" and base_t == "int":
        return T.DateType(), True, EPOCH_DAYS
    if logical == "decimal":
        # any declared precision/scale is overridden (main.py:290-293)
        base = node.get("type")
        src = BYTES_DECIMAL if base in ("bytes", "fixed") else NUMERIC_DECIMAL
        return DECIMAL_38_9, True, src
    # other logicalTypes (time-millis, uuid, ...) fall through to the base
    # primitive lookup; a complex base ("array", "record", ...) is not a
    # primitive name and therefore degrades to string (main.py:296 → 262-273)
    base = node.get("type")
    if isinstance(base, str):
        # reached only from a ["null", ·] union → always nullable
        dt, _ = _primitive(base)
        src = STRINGIFY if isinstance(dt, T.StringType) and base not in ("string", "null") else RAW
        return dt, True, src
    return T.StringType(), True, STRINGIFY


def map_avro_node(node: Any) -> tuple[T.DataType, bool, str]:
    """Full Avro-JSON type node → (Spark type, nullable, source-kind).

    Mirrors the reference's node mapper (main.py:299-396) including every
    union edge case in SURVEY §1.3.
    """
    # --- union ---
    if isinstance(node, list):
        if not node or node[0] != "null":
            # first member not "null" → conservative collapse to string
            return T.StringType(), True, STRINGIFY
        if len(node) < 2:
            return T.StringType(), True, STRINGIFY
        second = node[1]  # third+ members are ignored (main.py:322)
        if isinstance(second, str):
            dt, _ = _primitive(second)
            src = STRINGIFY if isinstance(dt, T.StringType) and second not in ("string", "null") else RAW
            return dt, True, src
        if isinstance(second, dict):
            return _logical_dict(second)
        return T.StringType(), True, STRINGIFY

    # --- primitive name ---
    if isinstance(node, str):
        dt, nullable = _primitive(node)
        src = STRINGIFY if isinstance(dt, T.StringType) and node not in ("string", "null") else RAW
        return dt, nullable, src

    # --- dict node ---
    if isinstance(node, dict):
        t = node.get("type")
        logical = node.get("logicalType")
        if isinstance(t, str) and t in _PRIMITIVE_SPARK or t == "null":
            # direct (non-union) path: ONLY timestamp logicals on int/long
            # bases are honored (main.py:356-363); date/decimal fall to base
            if t in ("long", "int"):
                if logical == "timestamp-millis":
                    return T.TimestampType(), True, TS_MILLIS
                if logical == "timestamp-micros":
                    return T.TimestampType(), True, TS_MICROS
            dt, nullable = _primitive(t)
            return dt, nullable, RAW
        if t == "array":
            idt, _, isrc = map_avro_node(node.get("items", "string"))
            # containers keep their typed shape only when every nested
            # member is RAW (value == target encoding). A nested member
            # needing coercion (logical timestamp, decimal, ...) degrades
            # the WHOLE column to sorted-key JSON — the declared dtype
            # must then be StringType, matching what actually lands in
            # the output (documented difference from the reference, which
            # types nested logicals; a mistyped nested value is silent
            # corruption, a JSON string is not)
            if isrc == RAW:
                return T.ArrayType(idt, True), True, RAW
            return T.StringType(), True, STRINGIFY
        if t == "map":
            vdt, _, vsrc = map_avro_node(node.get("values", "string"))
            if vsrc == RAW:
                return T.MapType(T.StringType(), vdt, True), True, RAW
            return T.StringType(), True, STRINGIFY
        if t in ("record", "error"):
            children = tuple(
                plan_node(f["name"], f["type"]) for f in node.get("fields", [])
            )
            fields = [T.StructField(c.name, c.dtype, c.nullable) for c in children]
            if all(c.source == RAW for c in children):
                return T.StructType(fields), False, RAW
            # members needing coercion (nested logical timestamps,
            # decimals, collapsed unions) keep the TYPED struct — the
            # decoders coerce it per leaf (STRUCT_CAST), so e.g. a
            # nested timestamp-millis long is never misread as micros
            return T.StructType(fields), False, STRUCT_CAST
        if t == "enum":
            return T.StringType(), False, RAW
        if t == "fixed":
            return T.BinaryType(), False, RAW
        if isinstance(t, (dict, list)):  # {"type": {...}} wrapper
            return map_avro_node(t)
        return T.StringType(), True, STRINGIFY

    return T.StringType(), True, STRINGIFY


def stringified(plan: FieldPlan) -> FieldPlan:
    """``plan`` read as a nullable string: every value through
    ``scalars.stringify_any`` (str() of scalars, sorted-key compact JSON
    for containers). A list of these is the all-string read — the
    reference's fallback shape (main.py:524-567) — and the drift merge
    uses it for a column whose versions disagree."""
    return FieldPlan(plan.name, T.StringType(), True, STRINGIFY)


def plan_node(name: str, node: Any) -> FieldPlan:
    """Field plan for one Avro type node, carrying per-member child plans
    when the node is a record needing per-leaf coercion."""
    dtype, nullable, source = map_avro_node(node)
    children: tuple[FieldPlan, ...] = ()
    if source == STRUCT_CAST and isinstance(node, dict):
        inner = node.get("type") if isinstance(node.get("type"), dict) else node
        children = tuple(
            plan_node(f["name"], f["type"]) for f in inner.get("fields", [])
        )
    return FieldPlan(name, dtype, nullable, source, children)


def payload_record(avro_schema: dict) -> dict | None:
    """Locate the ``payload`` record inside the top-level CDC schema.

    Handles both a bare record and the common ``["null", record]`` wrapping
    (main.py:76-94). Returns the record node or None.
    """
    for field in avro_schema.get("fields", []):
        if field.get("name") != "payload":
            continue
        node = field.get("type")
        if isinstance(node, list):
            for member in node:
                if isinstance(member, dict) and member.get("type") == "record":
                    return member
            return None
        if isinstance(node, dict) and node.get("type") == "record":
            return node
        return None
    return None


def derive_field_plans(avro_schema: dict) -> list[FieldPlan]:
    """Per-payload-column plans (type + coercion kind), in schema order."""
    record = payload_record(avro_schema)
    if record is None:
        return []
    return [plan_node(f["name"], f["type"]) for f in record.get("fields", [])]


def _declared_decimal(node: Any) -> tuple[int, int] | None:
    """(precision, scale) of a bytes/fixed decimal that declares its
    precision, bare or as the one non-null member of a union; else None."""
    if isinstance(node, list):
        non_null = [m for m in node if m != "null"]
        node = non_null[0] if len(non_null) == 1 else None
    if (
        isinstance(node, dict)
        and node.get("logicalType") == "decimal"
        and node.get("type") in ("bytes", "fixed")
        and "precision" in node
    ):
        return int(node["precision"]), int(node.get("scale", 0))
    return None


def record_field_plans(avro_schema: dict) -> list[FieldPlan]:
    """Plans for the top-level fields of a bare (non-CDC) record: a
    declared bytes/fixed decimal keeps the writer's precision and scale
    (``DECLARED_DECIMAL``; generic files mean the writer's scale, not the
    CDC contract's assumed-scale-30 → DECIMAL(38,9)), every other field
    plans through ``plan_node``."""
    plans = []
    for f in avro_schema.get("fields", []):
        spec = _declared_decimal(f["type"])
        if spec is None:
            plans.append(plan_node(f["name"], f["type"]))
        else:
            plans.append(FieldPlan(f["name"], T.DecimalType(*spec), True, DECLARED_DECIMAL))
    return plans


def column_type(plan: FieldPlan) -> T.DataType:
    """The Spark type a decoded ``plan`` column carries: ``plan.dtype``,
    except that a ``STRUCT_CAST`` record's members are nullable at every
    ``STRUCT_CAST`` level, since a file of another schema version may
    lack one."""
    if plan.source != STRUCT_CAST:
        return plan.dtype
    return T.StructType(
        [T.StructField(c.name, column_type(c), True) for c in plan.children]
    )


def flat_schema(plans: list[FieldPlan]) -> T.StructType:
    """Flat output schema of a plan list: the fixed ``source_metadata``
    struct, then one nullable ``column_type`` column per plan. Every
    column is nullable because a null payload, or a file of another
    schema version that lacks the field, yields a null in it."""
    fields = [T.StructField("source_metadata", SOURCE_METADATA_TYPE, True)]
    fields.extend(T.StructField(p.name, column_type(p), True) for p in plans)
    return T.StructType(fields)


def derive_flat_schema(avro_schema: dict) -> T.StructType:
    """Flat output schema: fixed ``source_metadata`` struct + promoted
    ``payload.*`` columns (main.py:55-108). Every other top-level CDC field
    (uuid, read_timestamp, sort_keys, ...) is dropped (main.py:61)."""
    return flat_schema(derive_field_plans(avro_schema))
