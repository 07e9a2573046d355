"""Scalar coercion helpers with reference-parity semantics.

These are the lenient, row-level coercers of the reference pipeline
(/root/reference/main.py:16-52, 147-240), re-implemented from their observed
behavior. They run in exactly two places:

1. in the Python codec's decode tasks, which build each value in its
   target type (``avro_source._target_value``: envelope coercion,
   decimals, collapse-to-string JSON) straight into typed Arrow batches;
2. behind the SQL functions of ``functions.register``.

The JVM scan path has its own ports: Catalyst expressions in
``avro_source._align_value`` and the jar's ``muninnavro.CdcBytesDecimal``
for ``bytes_to_decimal``.
"""

from __future__ import annotations

import decimal
import json
import re
from decimal import Decimal
from typing import Any

_TRUE_SET = {"true", "t", "1", "yes", "y"}
_FALSE_SET = {"false", "f", "0", "no", "n"}

NINE_PLACES = Decimal("0.000000001")
DECIMAL_ZERO = Decimal("0.000000000")
ASSUMED_BYTES_SCALE = 30  # reference assumes scale 30 on bytes decimals (main.py:176-191)
# scaleb under this context only moves the exponent: it never rounds to
# the default context's 28 digits
EXACT = decimal.Context(prec=decimal.MAX_PREC)

_DURATION_UNITS = {"s": 1, "m": 60, "h": 3600, "d": 86400}
_DURATION_RE = re.compile(r"^\s*(\d+)\s*([smhd])\s*$", re.IGNORECASE)


def stringify_any(value: Any) -> str | None:
    """Stringification used for collapse-to-string columns: containers become
    compact JSON with sorted keys and no ASCII escaping; scalars become
    ``str()`` (main.py:16-24). ``None`` stays null."""
    if value is None:
        return None
    if isinstance(value, (dict, list, tuple)):
        return json.dumps(
            _jsonable(value), sort_keys=True, separators=(",", ":"), ensure_ascii=False
        )
    # scalars (incl. bytes) go through str() — reference parity: bytes render
    # as their Python repr, e.g. "b'\\xff'" (main.py:16-24)
    return str(value)


def _jsonable(value: Any) -> Any:
    if isinstance(value, dict):
        return {str(k): _jsonable(v) for k, v in value.items()}
    if isinstance(value, (list, tuple)):
        return [_jsonable(v) for v in value]
    if isinstance(value, bytes):
        return value.decode("utf-8", errors="replace")
    if isinstance(value, Decimal):
        return str(value)
    return value


def to_bool(value: Any) -> bool | None:
    """Truth table of main.py:26-37: case-insensitive true/t/1/yes/y and
    false/f/0/no/n; otherwise ``bool(int(s))`` (so "2" → True); anything
    unparsable → None."""
    if value is None:
        return None
    if isinstance(value, bool):
        return value
    if isinstance(value, float) and value != value:
        # NaN is how Arrow/pandas spells NULL in a float column — it must
        # come back NULL, not bool(nan) == True
        return None
    if isinstance(value, (int, float)):
        return bool(value)
    s = str(value).strip().lower()
    if s in _TRUE_SET:
        return True
    if s in _FALSE_SET:
        return False
    try:
        return bool(int(s))
    except (ValueError, TypeError):
        return None


def to_int(value: Any) -> int | None:
    """Lenient int parse (main.py:39-46): leading '+' stripped, floats
    truncated, bools become 0/1, failures → None."""
    if value is None:
        return None
    if isinstance(value, bool):
        return int(value)
    if isinstance(value, int):
        return value
    if isinstance(value, float):
        try:
            return int(value)  # NaN/Inf (pandas NULL spelling) → None
        except (ValueError, OverflowError):
            return None
    s = str(value).strip()
    if s.startswith("+"):
        s = s[1:]
    try:
        return int(s)
    except ValueError:
        try:
            return int(float(s))
        except (ValueError, OverflowError):
            return None


def to_list_of_str(value: Any) -> list[str | None] | None:
    """Lift to a list of strings; scalars become one-element lists; None
    elements preserved (main.py:48-52)."""
    if value is None:
        return None
    if isinstance(value, (list, tuple)):
        return [None if v is None else str(v) for v in value]
    return [str(value)]


def bytes_to_decimal(value: Any, strict: bool = False) -> Decimal | None:
    """Big-endian two's-complement unscaled int, ASSUMED scale 30, rescaled
    to 9 places with banker's rounding; any failure → literal 0.000000000
    (main.py:172-191 — the silent-zero branch is reproduced deliberately;
    pass ``strict=True`` to surface errors as None instead)."""
    if value is None:
        return None
    try:
        if isinstance(value, (bytes, bytearray)):
            unscaled = int.from_bytes(bytes(value), byteorder="big", signed=True)
            return (Decimal(unscaled).scaleb(-ASSUMED_BYTES_SCALE)).quantize(
                NINE_PLACES, rounding=decimal.ROUND_HALF_EVEN
            )
        return numeric_to_decimal(value, strict=strict)
    except (decimal.InvalidOperation, ValueError, TypeError, OverflowError):
        return None if strict else DECIMAL_ZERO


def declared_decimal(value: bytes, scale: int) -> Decimal:
    """Big-endian two's-complement unscaled int at the writer's DECLARED
    ``scale``, exactly (a non-CDC Avro decimal; the JVM scan's decode)."""
    return Decimal(int.from_bytes(value, "big", signed=True)).scaleb(-scale, EXACT)


def numeric_to_decimal(value: Any, strict: bool = False) -> Decimal | None:
    """int/float/Decimal/str → Decimal(38,9) via quantize with banker's
    rounding (main.py:192-199); non-numeric → 0.000000000 (or None if
    strict)."""
    if value is None:
        return None
    try:
        d = value if isinstance(value, Decimal) else Decimal(str(value))
        if not d.is_finite():  # NaN/Inf propagate quietly through quantize
            raise decimal.InvalidOperation("non-finite decimal")
        return d.quantize(NINE_PLACES, rounding=decimal.ROUND_HALF_EVEN)
    except (decimal.InvalidOperation, ValueError, TypeError):
        return None if strict else DECIMAL_ZERO


def bytes_to_float(value: Any) -> float | None:
    """bytes → big-endian int / 10^30 → float; other values via float();
    failure → None (main.py:216-229)."""
    if value is None:
        return None
    try:
        if isinstance(value, (bytes, bytearray)):
            return float(int.from_bytes(bytes(value), byteorder="big", signed=True)) / 10**30
        return float(value)
    except (ValueError, TypeError, OverflowError):
        return None


def parse_duration_to_seconds(text: str) -> int:
    """'30m' / '1h' / '2d' → seconds (main.py:242-246 grammar)."""
    m = _DURATION_RE.match(text)
    if not m:
        raise ValueError(f"invalid duration {text!r} (expected e.g. 30m, 1h, 2d)")
    return int(m.group(1)) * _DURATION_UNITS[m.group(2).lower()]


def coerce_source_metadata(meta: Any) -> dict:
    """Build the fixed source_metadata envelope from a raw record
    (main.py:120-128): string fields via str(), is_deleted via to_bool,
    tx_id via to_int, primary_keys via to_list_of_str."""
    meta = meta if isinstance(meta, dict) else {}

    def s(key: str) -> str | None:
        v = meta.get(key)
        return None if v is None else str(v)

    return {
        "schema": s("schema"),
        "table": s("table"),
        "is_deleted": to_bool(meta.get("is_deleted")),
        "change_type": s("change_type"),
        "tx_id": to_int(meta.get("tx_id")),
        "lsn": s("lsn"),
        "primary_keys": to_list_of_str(meta.get("primary_keys")),
    }
