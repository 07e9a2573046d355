"""Minimal pure-Python Avro Object Container File (OCF) reader/writer.

Implements the subset of the public Avro 1.11 specification
(https://avro.apache.org/docs/1.11.1/specification/) that a Datastream-style
CDC pipeline needs: null/boolean/int/long/float/double/bytes/string
primitives, records, arrays, maps, unions, enums, fixed, and the ``null`` /
``deflate`` / ``snappy`` / ``bzip2`` / ``xz`` block codecs (+ ``zstandard``
when the optional library is importable). Logical types are *not* materialized — values come
back as their base-type encoding (e.g. ``timestamp-millis`` stays a raw
``long``); the readers in ``sources/avro_source.py`` map them to their
target types.

This exists because ``fastavro`` is not available in the runtime image.
The module needs only the standard library and, for the snappy codec,
pyarrow (which every Spark Arrow task already has), so it ships to
executors inside the package zip. Records decode to dicts through one
generated decoder per writer schema (:func:`compile_source_decoder`,
behind :func:`iter_records` and :func:`read_file`); :func:`_decode` is the
executable spec it is tested against. The distributed Python read path
(``sources/avro_source.py``) opens byte splits with :class:`SplitBlockReader`
inside ``mapInArrow`` and decodes them on executors through a fused variant
of the same generator that emits typed columns, one Arrow batch at a time.
"""

from __future__ import annotations

import bz2
import json
import lzma
import struct
import zlib
from typing import Any, BinaryIO, Iterator

MAGIC = b"Obj\x01"
_PRIMITIVES = {"null", "boolean", "int", "long", "float", "double", "bytes", "string"}


# ---------------------------------------------------------------------------
# binary decode
# ---------------------------------------------------------------------------


def collect_names(
    node: Any, names: dict[str, Any] | None = None, enclosing_ns: str | None = None
) -> dict[str, Any]:
    """Pre-register every named type (record/error/enum/fixed) in a schema,
    under both its bare name and its namespace-qualified fullname — the
    spec allows later fields to reference earlier definitions by name, and
    lazy registration during decode misses definitions sitting in union
    branches that happen not to be taken first. Nested named types inherit
    the enclosing namespace (spec: 'names' resolution)."""
    if names is None:
        names = {}
    if isinstance(node, list):
        for m in node:
            collect_names(m, names, enclosing_ns)
        return names
    if not isinstance(node, dict):
        return names
    t = node.get("type")
    ns = node.get("namespace", enclosing_ns)
    if t in ("record", "error", "enum", "fixed") and node.get("name"):
        name = node["name"]
        names[name] = node
        if ns and "." not in name:
            names[f"{ns}.{name}"] = node
    for f in node.get("fields", []) or []:
        collect_names(f.get("type"), names, ns)
    for key in ("items", "values"):
        if key in node:
            collect_names(node[key], names, ns)
    if isinstance(t, (dict, list)):
        collect_names(t, names, ns)
    return names


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, data: bytes):
        self.buf = data
        self.pos = 0

    def read(self, n: int) -> bytes:
        out = self.buf[self.pos : self.pos + n]
        if len(out) != n:
            raise EOFError("truncated Avro data")
        self.pos += n
        return out

    def read_long(self) -> int:
        """Zig-zag varint (spec: 'int and long values are written using
        variable-length zig-zag coding').

        Single-byte fast path first: most varints (string lengths, small
        ints, union indexes, block terminators) fit one byte. Used by the
        header parse and by ``_decode``; the generated decoders inline
        the same loop."""
        buf = self.buf
        pos = self.pos
        try:
            b = buf[pos]
        except IndexError:
            # surface buffer exhaustion as the same error as read(),
            # so callers that buffer more on EOFError (header parse)
            # handle a varint landing on the boundary too
            raise EOFError("truncated Avro data") from None
        if b < 0x80:
            self.pos = pos + 1
            return (b >> 1) ^ -(b & 1)
        accum = b & 0x7F
        shift = 7
        pos += 1
        while True:
            try:
                b = buf[pos]
            except IndexError:
                raise EOFError("truncated Avro data") from None
            pos += 1
            accum |= (b & 0x7F) << shift
            if not (b & 0x80):
                break
            shift += 7
        self.pos = pos
        return (accum >> 1) ^ -(accum & 1)

    def at_end(self) -> bool:
        return self.pos >= len(self.buf)


def _decode(r: _Reader, node: Any, names: dict[str, Any]) -> Any:
    if isinstance(node, str):
        if node in _PRIMITIVES:
            t = node
        elif node in names:
            return _decode(r, names[node], names)
        else:
            raise ValueError(f"unknown Avro type name {node!r}")
    elif isinstance(node, list):  # union: long index, then value
        idx = r.read_long()
        # a corrupt varint must not decode the wrong branch via Python
        # negative indexing, nor leak a bare IndexError past the module's
        # corruption-error contract
        if not 0 <= idx < len(node):
            raise ValueError(f"invalid union branch index {idx} (union has {len(node)} branches)")
        return _decode(r, node[idx], names)
    else:
        t = node["type"]

    if t == "null":
        return None
    if t == "boolean":
        return r.read(1) != b"\x00"
    if t in ("int", "long"):
        return r.read_long()
    if t == "float":
        return struct.unpack("<f", r.read(4))[0]
    if t == "double":
        return struct.unpack("<d", r.read(8))[0]
    if t == "bytes":
        return r.read(r.read_long())
    if t == "string":
        return r.read(r.read_long()).decode("utf-8")
    if t == "record" or t == "error":
        if isinstance(node, dict) and node.get("name"):
            names[node["name"]] = node
        return {f["name"]: _decode(r, f["type"], names) for f in node["fields"]}
    if t == "enum":
        if isinstance(node, dict) and node.get("name"):
            names[node["name"]] = node
        return node["symbols"][r.read_long()]
    if t == "fixed":
        if isinstance(node, dict) and node.get("name"):
            names[node["name"]] = node
        return r.read(node["size"])
    if t == "array":
        out = []
        while True:
            n = r.read_long()
            if n == 0:
                break
            if n < 0:
                n = -n
                r.read_long()  # block byte size — unused when decoding eagerly
            for _ in range(n):
                out.append(_decode(r, node["items"], names))
        return out
    if t == "map":
        out_m: dict[str, Any] = {}
        while True:
            n = r.read_long()
            if n == 0:
                break
            if n < 0:
                n = -n
                r.read_long()
            for _ in range(n):
                k = r.read(r.read_long()).decode("utf-8")
                out_m[k] = _decode(r, node["values"], names)
        return out_m
    if isinstance(t, (dict, list)):  # {"type": {...nested...}}
        return _decode(r, t, names)
    raise ValueError(f"unsupported Avro type {t!r}")


# ---------------------------------------------------------------------------
# source-codegen decoder (the runtime decoder)
# ---------------------------------------------------------------------------
#
# The interpretive :func:`_decode` re-dispatches on the schema node for
# EVERY value (isinstance checks, dict lookups, string compares). The
# generator pays that schema walk once per file instead: ``_SourceGen``
# EMITS one Python function per (schema, projection) with every decode
# step inlined on local ``buf``/``pos`` variables — the same technique
# fastavro uses, minus Cython. It is the only runtime decoder. Generation
# fails only for an unknown type name or an unsupported type, which
# ``_decode`` rejects too, so a failure raises; ``_decode`` stays as the
# executable spec the property tests compare the generated code against.

_F32 = struct.Struct("<f")
_F64 = struct.Struct("<d")

# CPython refuses a function with more than 20 statically nested blocks
# (loops, try) and every array/map level opens two. A value whose emit
# indent passes this depth moves into a helper function of its own, where
# the indent (and the block count) restart.
_MAX_INLINE_INDENT = 10


class _SourceGen:
    """Emit an inlined decoder function for one schema."""

    def __init__(self, names: dict[str, Any]):
        self.names = names
        self.lines: list[str] = []
        self.fn_blocks: list[str] = []
        self.consts: dict[str, Any] = {}
        self.named_dec: dict[Any, str] = {}
        self.named_skip: dict[Any, str] = {}
        self._n = 0

    def tmp(self) -> str:
        self._n += 1
        return f"v{self._n}"

    def w(self, ind: int, text: str) -> None:
        self.lines.append("    " * ind + text)

    def const(self, value) -> str:
        name = f"_c{len(self.consts)}"
        self.consts[name] = value
        return name

    # -- shared snippets -----------------------------------------------------

    def varint(self, ind: int, t: str) -> None:
        """Zig-zag long into ``t`` (single-byte fast path first)."""
        b = self.tmp()
        self.w(ind, f"{b} = buf[pos]; pos += 1")
        self.w(ind, f"if {b} < 0x80:")
        self.w(ind + 1, f"{t} = ({b} >> 1) ^ -({b} & 1)")
        self.w(ind, "else:")
        a = self.tmp()
        self.w(ind + 1, f"{a} = {b} & 0x7F; sh_ = 7")
        self.w(ind + 1, "while True:")
        self.w(ind + 2, f"{b} = buf[pos]; pos += 1")
        self.w(ind + 2, f"{a} |= ({b} & 0x7F) << sh_")
        self.w(ind + 2, f"if {b} < 0x80:")
        self.w(ind + 3, "break")
        self.w(ind + 2, "sh_ += 7")
        self.w(ind + 1, f"{t} = ({a} >> 1) ^ -({a} & 1)")

    def bounds(self, ind: int, end_expr: str) -> None:
        self.w(ind, f"if {end_expr} > blen:")
        self.w(ind + 1, "raise EOFError('truncated Avro data')")

    def emit_union(self, ind: int, node: list, emit_member) -> None:
        """Union: the branch index, then ``emit_member(ind + 1, member)``
        under the matching branch; an out-of-range index raises."""
        idx = self.tmp()
        self.varint(ind, idx)
        for i, member in enumerate(node):
            self.w(ind, f"{'if' if i == 0 else 'elif'} {idx} == {i}:")
            mark = len(self.lines)
            emit_member(ind + 1, member)
            if len(self.lines) == mark:  # e.g. skipping "null" emits nothing
                self.w(ind + 1, "pass")
        if node:
            self.w(ind, "else:")
        self.w(
            ind + bool(node),
            f"raise ValueError('invalid union branch index %d (union has "
            f"{len(node)} branches)' % {idx})",
        )

    # -- decode --------------------------------------------------------------

    def emit_prim(self, ind: int, prim: str, t: str) -> None:
        if prim == "null":
            self.w(ind, f"{t} = None")
        elif prim == "boolean":
            self.bounds(ind, "pos + 1")
            self.w(ind, f"{t} = buf[pos] != 0; pos += 1")
        elif prim in ("int", "long"):
            self.varint(ind, t)
        elif prim == "float":
            self.w(ind, f"{t} = _F32U(buf, pos)[0]; pos += 4")
        elif prim == "double":
            self.w(ind, f"{t} = _F64U(buf, pos)[0]; pos += 8")
        elif prim == "bytes":
            n = self.tmp()
            self.varint(ind, n)
            self.bounds(ind, f"pos + {n}")
            self.w(ind, f"{t} = buf[pos:pos + {n}]; pos += {n}")
        elif prim == "string":
            n = self.tmp()
            self.varint(ind, n)
            self.bounds(ind, f"pos + {n}")
            self.w(ind, f"{t} = buf[pos:pos + {n}].decode('utf-8'); pos += {n}")
        else:  # pragma: no cover - callers gate on _PRIMITIVES
            raise ValueError(prim)

    def emit_decode(self, ind: int, node: Any, t: str) -> None:
        names = self.names
        if isinstance(node, str):
            if node in _PRIMITIVES:
                self.emit_prim(ind, node, t)
            elif node in names:
                fn = self.decoder_fn(node, names[node])
                self.w(ind, f"{t}, pos = {fn}(buf, pos, blen)")
            else:
                raise ValueError(f"unknown Avro type name {node!r}")
            return
        if ind > _MAX_INLINE_INDENT:
            fn = self.decoder_fn(id(node), node)
            self.w(ind, f"{t}, pos = {fn}(buf, pos, blen)")
            return
        if isinstance(node, list):  # union: long index, then value
            self.emit_union(ind, node, lambda i, m: self.emit_decode(i, m, t))
            return
        tt = node["type"]
        if isinstance(tt, (dict, list)):  # {"type": {...nested...}}
            self.emit_decode(ind, tt, t)
            return
        if tt in _PRIMITIVES:
            self.emit_prim(ind, tt, t)
            return
        if tt in ("record", "error"):
            # inline definitions compile from THIS node (never memoized by
            # name): two inline records sharing a name each decode by their
            # own shape, as in _decode
            pairs = []
            for f in node["fields"]:
                ft = self.tmp()
                self.emit_decode(ind, f["type"], ft)
                pairs.append((f["name"], ft))
            body = ", ".join(f"{name!r}: {ft}" for name, ft in pairs)
            self.w(ind, f"{t} = {{{body}}}")
            return
        if tt == "enum":
            sym = self.const(list(node["symbols"]))
            idx = self.tmp()
            self.varint(ind, idx)
            self.w(ind, f"{t} = {sym}[{idx}]")
            return
        if tt == "fixed":
            size = int(node["size"])
            self.bounds(ind, f"pos + {size}")
            self.w(ind, f"{t} = buf[pos:pos + {size}]; pos += {size}")
            return
        if tt == "array":
            ap, n = self.tmp(), self.tmp()
            self.w(ind, f"{t} = []")
            self.w(ind, f"{ap} = {t}.append")
            self.w(ind, "while True:")
            self.varint(ind + 1, n)
            self.w(ind + 1, f"if {n} == 0:")
            self.w(ind + 2, "break")
            self.w(ind + 1, f"if {n} < 0:")
            self.w(ind + 2, f"{n} = -{n}")
            self.varint(ind + 2, self.tmp())  # block byte size — unused
            self.w(ind + 1, f"for _ in range({n}):")
            item = self.tmp()
            self.emit_decode(ind + 2, node["items"], item)
            self.w(ind + 2, f"{ap}({item})")
            return
        if tt == "map":
            n = self.tmp()
            self.w(ind, f"{t} = {{}}")
            self.w(ind, "while True:")
            self.varint(ind + 1, n)
            self.w(ind + 1, f"if {n} == 0:")
            self.w(ind + 2, "break")
            self.w(ind + 1, f"if {n} < 0:")
            self.w(ind + 2, f"{n} = -{n}")
            self.varint(ind + 2, self.tmp())
            self.w(ind + 1, f"for _ in range({n}):")
            k = self.tmp()
            self.emit_prim(ind + 2, "string", k)
            v = self.tmp()
            self.emit_decode(ind + 2, node["values"], v)
            self.w(ind + 2, f"{t}[{k}] = {v}")
            return
        raise ValueError(f"unsupported Avro type {tt!r}")

    # -- skip (projection pushdown) ------------------------------------------

    def emit_skip(self, ind: int, node: Any) -> None:
        names = self.names
        if isinstance(node, str):
            if node in _PRIMITIVES:
                self.emit_prim_skip(ind, node)
            elif node in names:
                fn = self.skipper_fn(node, names[node])
                self.w(ind, f"pos = {fn}(buf, pos, blen)")
            else:
                raise ValueError(f"unknown Avro type name {node!r}")
            return
        if ind > _MAX_INLINE_INDENT:
            fn = self.skipper_fn(id(node), node)
            self.w(ind, f"pos = {fn}(buf, pos, blen)")
            return
        if isinstance(node, list):
            self.emit_union(ind, node, self.emit_skip)
            return
        tt = node["type"]
        if isinstance(tt, (dict, list)):
            self.emit_skip(ind, tt)
            return
        if tt in _PRIMITIVES:
            self.emit_prim_skip(ind, tt)
            return
        if tt in ("record", "error"):
            for f in node["fields"]:
                self.emit_skip(ind, f["type"])
            return
        if tt == "enum":
            self.varint(ind, self.tmp())
            return
        if tt == "fixed":
            size = int(node["size"])
            self.w(ind, f"pos += {size}")
            self.bounds(ind, "pos")
            return
        if tt in ("array", "map"):
            n = self.tmp()
            self.w(ind, "while True:")
            self.varint(ind + 1, n)
            self.w(ind + 1, f"if {n} == 0:")
            self.w(ind + 2, "break")
            self.w(ind + 1, f"if {n} < 0:")
            # negative count: the writer supplied the block's byte size —
            # jump the whole block in one hop
            sz = self.tmp()
            self.varint(ind + 2, sz)
            self.w(ind + 2, f"pos += {sz}")
            self.bounds(ind + 2, "pos")
            self.w(ind + 2, "continue")
            self.w(ind + 1, f"for _ in range({n}):")
            mark = len(self.lines)
            if tt == "map":
                self.emit_prim_skip(ind + 2, "string")
            self.emit_skip(
                ind + 2, node["items"] if tt == "array" else node["values"]
            )
            if len(self.lines) == mark:  # items that take no bytes ("null")
                self.w(ind + 2, "pass")
            return
        raise ValueError(f"unsupported Avro type {tt!r}")

    def emit_prim_skip(self, ind: int, prim: str) -> None:
        if prim == "null":
            return
        if prim == "boolean":
            self.w(ind, "pos += 1")
            self.bounds(ind, "pos")
        elif prim in ("int", "long", "enum"):
            self.varint(ind, self.tmp())
        elif prim == "float":
            self.w(ind, "pos += 4")
            self.bounds(ind, "pos")
        elif prim == "double":
            self.w(ind, "pos += 8")
            self.bounds(ind, "pos")
        elif prim in ("bytes", "string"):
            n = self.tmp()
            self.varint(ind, n)
            self.w(ind, f"pos += {n}")
            self.bounds(ind, "pos")
        else:  # pragma: no cover
            raise ValueError(prim)

    # -- helper functions: named types (recursion) and deep values -----------

    def _named_fn(self, key, registry: dict[Any, str], prefix: str, emit) -> str:
        if key in registry:
            return registry[key]
        fn = f"_{prefix}{len(registry)}"
        registry[key] = fn  # register BEFORE the body compiles (recursion)
        saved, self.lines = self.lines, []
        self.w(0, f"def {fn}(buf, pos, blen):")
        result = emit()
        self.w(1, f"return {result}")
        self.fn_blocks.append("\n".join(self.lines))
        self.lines = saved
        return fn

    def decoder_fn(self, key, node: Any) -> str:
        """``fn(buf, pos, blen) -> (value, pos)`` for ``node``, keyed by
        its type name or, for a deeply nested value, by ``id(node)``."""

        def emit():
            t = self.tmp()
            self.emit_decode(1, node, t)
            return f"{t}, pos"

        return self._named_fn(key, self.named_dec, "dn", emit)

    def skipper_fn(self, key, node: Any) -> str:
        """``fn(buf, pos, blen) -> pos`` past one ``node`` value."""

        def emit():
            self.emit_skip(1, node)
            return "pos"

        return self._named_fn(key, self.named_skip, "sn", emit)

    # -- entry function --------------------------------------------------------

    def end_entry_try(self) -> None:
        """Close the entry function's ``try:``: reading past the buffer
        surfaces as the module's truncation error."""
        self.w(1, "except (IndexError, _struct_error):")
        self.w(2, "raise EOFError('truncated Avro data') from None")

    def build(self, entry: str, **extra):
        """Exec the emitted source and return the ``entry`` function, the
        generated source attached as ``fn.__avro_codegen_source__``."""
        src = "\n".join(self.fn_blocks + ["", "\n".join(self.lines)])
        ns: dict[str, Any] = {
            "_F32U": _F32.unpack_from,
            "_F64U": _F64.unpack_from,
            "_struct_error": struct.error,
            **extra,
            **self.consts,
        }
        exec(compile(src, "<avro-codegen>", "exec"), ns)  # noqa: S102 - own generated source
        fn = ns[entry]
        fn.__avro_codegen_source__ = src  # debuggability: inspectable artifact
        return fn


def compile_source_decoder(schema: Any, names: dict[str, Any], keep: set[str] | None = None):
    """Schema → generated ``fn(_Reader) -> value`` with every decode step
    inlined (see the section comment). ``keep`` projects a top-level
    record: only those fields are materialized, the rest are skipped
    without decoding. Raises ValueError for an unknown type name or an
    unsupported type."""
    g = _SourceGen(names)
    project = (
        keep is not None
        and isinstance(schema, dict)
        and schema.get("type") in ("record", "error")
        and not all(f["name"] in keep for f in schema.get("fields", []))
    )
    g.w(0, "def _entry(r):")
    g.w(1, "buf = r.buf; blen = len(buf); pos = r.pos")
    g.w(1, "try:")
    if project:
        pairs = []
        for f in schema["fields"]:
            if f["name"] in keep:
                ft = g.tmp()
                g.emit_decode(2, f["type"], ft)
                pairs.append((f["name"], ft))
            else:
                g.emit_skip(2, f["type"])
        body = ", ".join(f"{name!r}: {ft}" for name, ft in pairs)
        g.w(2, f"out = {{{body}}}")
    else:
        out = g.tmp()
        g.emit_decode(2, schema, out)
        g.w(2, f"out = {out}")
    g.end_entry_try()
    g.w(1, "r.pos = pos")
    g.w(1, "return out")
    return g.build("_entry")


# ---------------------------------------------------------------------------
# binary encode
# ---------------------------------------------------------------------------


def _zigzag(n: int) -> bytes:
    n = (n << 1) ^ (n >> 63) if n >= 0 else (((-n - 1) << 1) | 1)
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _union_branch(value: Any, members: list[Any], names: dict[str, Any] | None = None) -> int:
    """Pick the union branch whose type matches ``value`` (named-type
    references resolve through ``names``)."""
    names = names or {}

    def matches(v: Any, m: Any) -> bool:
        if isinstance(m, str) and m in names:
            m = names[m]
        t = m if isinstance(m, str) else (m.get("type") if isinstance(m, dict) else None)
        if v is None:
            return t == "null"
        if isinstance(v, bool):
            return t == "boolean"
        if isinstance(v, int):
            return t in ("int", "long")
        if isinstance(v, float):
            return t in ("float", "double")
        if isinstance(v, str):
            return t in ("string", "enum")
        if isinstance(v, (bytes, bytearray)):
            return t in ("bytes", "fixed")
        if isinstance(v, list):
            return t == "array"
        if isinstance(v, dict):
            return t in ("record", "map", "error")
        return False

    for i, m in enumerate(members):
        if matches(value, m):
            return i
    raise ValueError(f"no union branch in {members!r} for {value!r}")


def _encode(out: bytearray, value: Any, node: Any, names: dict[str, Any]) -> None:
    if isinstance(node, str):
        if node in _PRIMITIVES:
            t = node
        elif node in names:
            _encode(out, value, names[node], names)
            return
        else:
            raise ValueError(f"unknown Avro type name {node!r}")
    elif isinstance(node, list):
        idx = _union_branch(value, node, names)
        out += _zigzag(idx)
        _encode(out, value, node[idx], names)
        return
    else:
        t = node["type"]

    if t == "null":
        return
    if t == "boolean":
        out.append(1 if value else 0)
    elif t in ("int", "long"):
        out += _zigzag(int(value))
    elif t == "float":
        out += struct.pack("<f", float(value))
    elif t == "double":
        out += struct.pack("<d", float(value))
    elif t == "bytes":
        b = bytes(value)
        out += _zigzag(len(b))
        out += b
    elif t == "string":
        b = str(value).encode("utf-8")
        out += _zigzag(len(b))
        out += b
    elif t in ("record", "error"):
        if isinstance(node, dict) and node.get("name"):
            names[node["name"]] = node
        for f in node["fields"]:
            _encode(out, value.get(f["name"]), f["type"], names)
    elif t == "enum":
        out += _zigzag(node["symbols"].index(value))
    elif t == "fixed":
        out += bytes(value)
    elif t == "array":
        if value:
            out += _zigzag(len(value))
            for item in value:
                _encode(out, item, node["items"], names)
        out += _zigzag(0)
    elif t == "map":
        if value:
            out += _zigzag(len(value))
            for k, v in value.items():
                kb = str(k).encode("utf-8")
                out += _zigzag(len(kb))
                out += kb
                _encode(out, v, node["values"], names)
        out += _zigzag(0)
    elif isinstance(t, (dict, list)):
        _encode(out, value, t, names)
    else:
        raise ValueError(f"unsupported Avro type {t!r}")


# ---------------------------------------------------------------------------
# container file (OCF) layer
# ---------------------------------------------------------------------------


def _open_read(path: str) -> BinaryIO:
    """Seekable reader for a local path or an object-store URI — the seam
    that lets executor-side block decode stream straight from s3/gs
    (fs.open_input; plain local paths keep builtin ``open``)."""
    from muninn_avro_to_parquet_spark import fs

    return fs.open_input(path)


def read_schema(path_or_file: str | BinaryIO) -> dict:
    """Read only the writer schema from an OCF header (cheap driver-side op —
    unlike the reference, which re-opens and fully re-reads each file:
    /root/reference/main.py:492-494 then 517-519)."""
    f = _open_read(path_or_file) if isinstance(path_or_file, str) else path_or_file
    try:
        header = f.read(1 << 16)
        meta, _, _ = _parse_header(header, f)
        return json.loads(meta["avro.schema"].decode("utf-8"))
    finally:
        if isinstance(path_or_file, str):
            f.close()


def count_rows(path: str) -> int:
    """Row count from block headers alone: read each block's (count,
    size) varints and seek past the payload + sync — O(blocks) with no
    decode, so a GiB-scale OCF counts in milliseconds. Used to build the
    (path, rows) manifest for files the JVM writer produced."""
    f = _open_read(path)
    try:
        header = f.read(1 << 16)
        _, _, data_start = _parse_header(header, f)
        f.seek(data_start)
        total = 0
        offset = data_start
        while True:
            n = _file_varint(f)
            if n is None:
                return total
            size = _file_varint(f)
            if size is None:
                raise EOFError("truncated Avro block header")
            total += n
            # absolute seek: varints advanced the handle by their encoded
            # widths, which _file_varint doesn't report — recompute from
            # the values instead of trusting relative position
            offset += _varint_width(n) + _varint_width(size) + size + 16
            f.seek(offset)
    finally:
        f.close()


def _varint_width(value: int) -> int:
    """Encoded byte width of a zig-zag varint (inverse of _file_varint)."""
    zz = (value << 1) ^ (value >> 63) if value < 0 else value << 1
    width = 1
    while zz > 0x7F:
        zz >>= 7
        width += 1
    return width


def _parse_header(header: bytes, f: BinaryIO) -> tuple[dict[str, bytes], bytes, int]:
    while True:  # make sure the whole header (metadata map + sync) is buffered
        r = _Reader(header)
        if r.read(4) != MAGIC:
            raise ValueError("not an Avro object container file")
        try:
            meta: dict[str, bytes] = {}
            while True:
                n = r.read_long()
                if n == 0:
                    break
                if n < 0:
                    n = -n
                    r.read_long()
                for _ in range(n):
                    k = r.read(r.read_long()).decode("utf-8")
                    meta[k] = r.read(r.read_long())
            sync = r.read(16)
            return meta, sync, r.pos
        except EOFError:
            more = f.read(1 << 20)
            if not more:
                raise
            header += more


def _file_varint(f: BinaryIO) -> int | None:
    """Zig-zag varint read directly from a file handle; None at EOF."""
    shift = 0
    accum = 0
    first = True
    while True:
        byte = f.read(1)
        if not byte:
            if first:
                return None
            raise EOFError("truncated Avro data")
        first = False
        b = byte[0]
        accum |= (b & 0x7F) << shift
        if not (b & 0x80):
            break
        shift += 7
    return (accum >> 1) ^ -(accum & 1)


# --- snappy block codec ------------------------------------------------------
# Datastream (and many Avro writers) emit snappy-compressed OCF blocks; the
# reference reads them via fastavro. Raw snappy (public spec: google/snappy
# format_description.txt) goes through pyarrow's bundled codec, imported on
# first use. Avro's snappy codec frames each block as
# ``snappy(payload) + 4-byte big-endian CRC32(payload)``.


def _avro_snappy_decode(block: bytes) -> bytes:
    import pyarrow as pa

    if len(block) < 4:
        raise ValueError("snappy Avro block shorter than its CRC trailer")
    data = block[:-4]
    # preamble: uncompressed length, little-endian base-128 varint; it is
    # the exact output size (pyarrow zero-pads a larger one)
    ulen = shift = i = 0
    while True:
        if i >= len(data):
            raise ValueError("truncated snappy preamble")
        b = data[i]
        i += 1
        ulen |= (b & 0x7F) << shift
        if not (b & 0x80):
            break
        shift += 7
    try:
        payload = pa.Codec("snappy").decompress(data, decompressed_size=ulen, asbytes=True)
    except OSError as e:  # pyarrow reports corrupt input as an IOError
        raise ValueError(f"corrupt snappy data: {e}") from None
    crc = int.from_bytes(block[-4:], "big")
    if zlib.crc32(payload) & 0xFFFFFFFF != crc:
        raise ValueError("snappy Avro block CRC mismatch — corrupt data")
    return payload


def _avro_snappy_encode(payload: bytes) -> bytes:
    import pyarrow as pa

    compressed = pa.Codec("snappy").compress(payload, asbytes=True)
    return compressed + (zlib.crc32(payload) & 0xFFFFFFFF).to_bytes(4, "big")


# --- block codec registry ----------------------------------------------------
# Avro spec codecs (spec §"Required Codecs" / "Optional Codecs"): null,
# deflate (raw zlib, -15 window), snappy (+CRC32 trailer), bzip2, xz,
# zstandard. bzip2/xz ride the stdlib; zstandard registers only when the
# optional library imports (the runtime image does not ship it — the
# try-import keeps the codec table honest either way).

_BLOCK_DECODERS: dict[str, Any] = {
    "null": lambda b: b,
    "deflate": lambda b: zlib.decompress(b, -15),
    "snappy": _avro_snappy_decode,
    "bzip2": bz2.decompress,
    "xz": lzma.decompress,
}


def _deflate_compress(payload: bytes) -> bytes:
    co = zlib.compressobj(wbits=-15)
    return co.compress(payload) + co.flush()


_BLOCK_ENCODERS: dict[str, Any] = {
    "null": lambda b: b,
    "deflate": _deflate_compress,
    "snappy": _avro_snappy_encode,
    "bzip2": bz2.compress,
    "xz": lzma.compress,
}

try:  # optional: python-zstandard is not in the runtime image
    import zstandard as _zstd

    _BLOCK_DECODERS["zstandard"] = lambda b: _zstd.ZstdDecompressor().decompress(b)
    _BLOCK_ENCODERS["zstandard"] = lambda b: _zstd.ZstdCompressor().compress(b)
except ImportError:
    pass


def _block_decoder(codec: str):
    try:
        return _BLOCK_DECODERS[codec]
    except KeyError:
        raise ValueError(f"unsupported Avro codec {codec!r}") from None


def _block_encoder(codec: str):
    try:
        return _BLOCK_ENCODERS[codec]
    except KeyError:
        raise ValueError(f"unsupported Avro codec {codec!r}") from None


def iter_records(path: str, project: tuple[str, ...] | None = None) -> Iterator[dict]:
    """Stream records from an OCF file block by block — memory is bounded
    by one (compressed + decoded) block, never the whole file, so a
    multi-GB input doesn't inflate the executor task that decodes it.

    ``project``: top-level record fields to materialize; everything else
    is skipped inside the generated decoder (``compile_source_decoder``'s
    ``keep``)."""
    yield from iter_records_range(path, 0, None, project=project)


def _seek_past_sync(f: BinaryIO, sync: bytes, start: int) -> int | None:
    """Position ``f`` just after the first sync marker at or beyond byte
    ``start``; returns the new offset or None if no marker follows. This
    is the Hadoop input-split convention: a split starts at the first
    block boundary at-or-after its range start."""
    f.seek(start)
    overlap = b""
    pos = start
    while True:
        chunk = f.read(1 << 20)
        if not chunk:
            return None
        buf = overlap + chunk
        idx = buf.find(sync)
        if idx != -1:
            offset = pos - len(overlap) + idx + len(sync)
            f.seek(offset)
            return offset
        overlap = buf[-(len(sync) - 1):]
        pos += len(chunk)


class SplitBlockReader:
    """Open one byte split of an OCF file and iterate its decompressed
    blocks, Avro ``DataFileReader`` semantics: the split owns every block
    whose preceding sync marker begins at a byte in [start, end) (plus the
    header-adjacent first block for the split containing the header).
    Disjoint ranges covering the file therefore decode every record
    exactly once — the contract that lets one huge Avro file fan out
    across many tasks. Exposes the writer ``schema`` so callers compile
    their decoder once per split."""

    def __init__(self, path: str, start: int, end: int | None):
        self._f = _open_read(path)
        try:
            header = self._f.read(1 << 16)
            meta, self._sync, data_start = _parse_header(header, self._f)
            self.schema = json.loads(meta["avro.schema"].decode("utf-8"))
            self.codec = meta.get("avro.codec", b"null").decode("utf-8")
            self._end = end
            # the first block's "marker position" is data_start - 16 (there
            # is no real marker before it, but ownership must follow the
            # same rule): a split starting INSIDE that 16-byte window does
            # NOT own the first block — the earlier split does
            if start <= data_start - len(self._sync):
                self._f.seek(data_start)
                self._empty = False
            else:
                self._empty = _seek_past_sync(self._f, self._sync, start) is None
        except BaseException:
            self._f.close()
            raise

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self._f.close()

    def blocks(self) -> Iterator[tuple[_Reader, int]]:
        """Yield (reader over one decompressed block, record count)."""
        if self._empty:
            return
        f, sync, end = self._f, self._sync, self._end
        decode = _block_decoder(self.codec)
        while True:
            block_start = f.tell()
            # pastSync: a block at offset B follows a marker at B-16, so
            # stop once B >= end+16 (the marker lies at or past `end` and
            # belongs to the next split)
            if end is not None and block_start >= end + len(sync):
                return
            count = _file_varint(f)
            if count is None:
                return
            size = _file_varint(f)
            block = f.read(size)
            if len(block) != size:
                raise EOFError("truncated Avro data")
            yield _Reader(decode(block)), count
            if f.read(16) != sync:
                raise ValueError("sync marker mismatch — corrupt Avro block")


def iter_records_range(
    path: str, start: int, end: int | None, project: tuple[str, ...] | None = None
) -> Iterator[dict]:
    """Stream records from the byte split [start, end) — see
    ``SplitBlockReader`` for the block-ownership contract."""
    with SplitBlockReader(path, start, end) as sbr:
        keep = None if project is None else set(project)
        decode = compile_source_decoder(sbr.schema, collect_names(sbr.schema), keep)
        for br, count in sbr.blocks():
            for _ in range(count):
                yield decode(br)


def read_file(path: str) -> tuple[dict, list[dict]]:
    """Read an entire OCF file: (writer schema, records)."""
    schema = read_schema(path)
    return schema, list(iter_records(path))


def _file_sync(schema: dict, path: str) -> bytes:
    # per-file sync marker, like real Avro writers: a fixed marker can
    # legitimately occur inside a record payload and false-match in
    # _seek_past_sync on a split read. Derive it from the schema + path
    # (deterministic — fixtures must be reproducible without Date/random)
    # rather than a process-wide constant.
    import hashlib

    return hashlib.sha256(
        json.dumps(schema, sort_keys=True).encode() + path.encode()
    ).digest()[:16]


def _encode_blocks(
    schema: dict, records: list[dict], codec: str, block_size: int, sync: bytes
) -> list[bytes]:
    """Encode ``records`` into complete OCF block frames
    (count + size + payload + sync), ``block_size`` records per block."""
    names = collect_names(schema)
    encode_block = _block_encoder(codec)
    blocks = []
    for i in range(0, max(len(records), 1), block_size):
        chunk = records[i : i + block_size]
        if not chunk:
            break
        body = bytearray()
        for rec in chunk:
            _encode(body, rec, schema, names)
        payload = encode_block(bytes(body))
        blocks.append(
            _zigzag(len(chunk)) + _zigzag(len(payload)) + payload + sync
        )
    return blocks


def _write_header(f, schema: dict, codec: str, sync: bytes) -> None:
    f.write(MAGIC)
    meta = {
        "avro.schema": json.dumps(schema).encode("utf-8"),
        "avro.codec": codec.encode("utf-8"),
    }
    hdr = bytearray()
    hdr += _zigzag(len(meta))
    for k, v in meta.items():
        kb = k.encode("utf-8")
        hdr += _zigzag(len(kb))
        hdr += kb
        hdr += _zigzag(len(v))
        hdr += v
    hdr += _zigzag(0)
    f.write(hdr)
    f.write(sync)


def write_file(
    path: str,
    schema: dict,
    records: list[dict],
    codec: str = "null",
    block_size: int = 1000,
) -> None:
    """Write an OCF file (used by tests/fixtures and the demo generator)."""
    from muninn_avro_to_parquet_spark import fs as _fs

    sync = _file_sync(schema, path)
    with _fs.open_output(path) as f:
        _write_header(f, schema, codec, sync)
        for block in _encode_blocks(schema, records, codec, block_size, sync):
            f.write(block)


def write_file_repeated(
    path: str,
    schema: dict,
    records: list[dict],
    repeats: int,
    codec: str = "null",
    block_size: int = 1000,
) -> int:
    """Write one OCF whose block sequence is ``records`` (chunked into
    blocks) repeated ``repeats`` times, returning the total record count.

    The multi-gigabyte-single-file fixture generator: the Python record
    encode runs ONCE over ``records``; every repeat after that is a raw
    byte write, so producing a 1 GiB file costs seconds, not the minutes
    a 10M-row per-record encode would. Block frames are self-contained
    (count + size + payload + sync), so repetition yields a fully valid
    OCF — split readers see ordinary independent blocks."""
    from muninn_avro_to_parquet_spark import fs as _fs

    sync = _file_sync(schema, path)
    blocks = _encode_blocks(schema, records, codec, block_size, sync)
    with _fs.open_output(path) as f:
        _write_header(f, schema, codec, sync)
        for _ in range(repeats):
            for block in blocks:
                f.write(block)
    return len(records) * repeats
